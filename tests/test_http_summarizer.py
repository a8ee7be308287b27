"""Mock-HTTP summarizer integration: the production summarize_fn seam
driven end to end through ``build_level`` against an in-process
OpenAI-style chat-completions server implementing the reference's LLM
summarizer contract — prompt shape + max_tokens passthrough
(SummarizationModels.py:28-40), get_text context construction
(utils.py:181-196), response parsing (SummarizationModels.py:42), and
retry behavior (the tenacity stop_after_attempt(6) analog,
SummarizationModels.py:22). Mirrors tests/test_http_embedder.py for
the S5 embedding seam."""

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from raptor_rag_spark.config import EngineConfig
from raptor_rag_spark.operators.tree import build_level, http_summarize_fn

CFG = EngineConfig(embedding_dim=32, summary_max_tokens=100)

USER_PREFIX = (
    "Write a summary of the following, including as many key details as possible: "
)


def _mock_summary(context: str) -> str:
    """Deterministic stand-in LLM: first 8 whitespace tokens of the
    context, uppercased — checkable from the member texts alone."""
    return " ".join(context.split()[:8]).upper()


class _MockChat(BaseHTTPRequestHandler):
    """Reference-contract chat-completions service: accepts the exact
    payload GPT3TurboSummarizationModel sends, answers the exact shape
    it reads."""

    state = {"requests": [], "fail_next": 0, "delay": 0.0, "inflight": 0, "max_inflight": 0}
    lock = threading.Lock()

    def do_POST(self):  # noqa: N802
        st = _MockChat.state
        with _MockChat.lock:
            st["inflight"] += 1
            st["max_inflight"] = max(st["max_inflight"], st["inflight"])
        try:
            time.sleep(st["delay"])
            self._answer()
        finally:
            with _MockChat.lock:
                st["inflight"] -= 1

    def _answer(self):
        n = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(n))
        if _MockChat.state["fail_next"] > 0:
            _MockChat.state["fail_next"] -= 1
            self._reply(500, b"transient backend error")
            return
        if self.path != "/v1/chat/completions":
            self._reply(404, b"unknown endpoint")
            return
        msgs = payload.get("messages")
        if (
            not isinstance(msgs, list)
            or len(msgs) != 2
            or msgs[0] != {"role": "system", "content": "You are a helpful assistant."}
            or msgs[1].get("role") != "user"
            or not msgs[1].get("content", "").startswith(USER_PREFIX)
            or not isinstance(payload.get("max_tokens"), int)
        ):
            self._reply(422, b"payload does not match the reference prompt shape")
            return
        _MockChat.state["requests"].append(payload)
        context = msgs[1]["content"][len(USER_PREFIX) : -1]  # strip trailing ':'
        body = json.dumps(
            {"choices": [{"message": {"role": "assistant", "content": _mock_summary(context)}}]}
        ).encode()
        self._reply(200, body, "application/json")

    def _reply(self, code: int, body: bytes, ctype: str = "text/plain"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def mock_service():
    _MockChat.state.update(requests=[], fail_next=0, delay=0.0, inflight=0, max_inflight=0)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _MockChat)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _nodes(spark):
    """8 leaves in 2 tight spatial clusters -> 2 cells at resolution 2.
    Multi-line texts exercise the get_text splitlines quirk."""
    rows = [
        (i, f"cluster a doc {i} line one\nline two of {i}", 10, 0.10 + i * 0.001, 0.10)
        for i in range(4)
    ] + [
        (i, f"cluster b doc {i} alpha\nbeta {i}", 10, 0.90 + (i - 4) * 0.001, 0.90)
        for i in range(4, 8)
    ]
    return spark.createDataFrame(
        rows, "node_id long, text string, n_tokens int, x double, y double"
    ).coalesce(2)


def test_http_summarizer_build_level_end_to_end(spark, mock_service):
    """build_level(summarize_fn=http) against the mock service: parent
    texts are the service's deterministic summaries of the reference
    get_text context (node_id order, lines space-joined, no separator
    between members), and every request carried the reference prompt
    shape + the engine's summary token budget."""
    parents = build_level(
        _nodes(spark), layer=1, resolution=2, cfg=CFG,
        summarize_fn=http_summarize_fn(mock_service),
    ).collect()
    assert len(parents) == 2, parents
    by_children = {tuple(sorted(p["children"])): p["text"] for p in parents}
    ctx_a = "".join(
        " ".join(f"cluster a doc {i} line one\nline two of {i}".splitlines())
        for i in range(4)
    )
    ctx_b = "".join(
        " ".join(f"cluster b doc {i} alpha\nbeta {i}".splitlines())
        for i in range(4, 8)
    )
    assert by_children[(0, 1, 2, 3)] == _mock_summary(ctx_a)
    assert by_children[(4, 5, 6, 7)] == _mock_summary(ctx_b)
    reqs = _MockChat.state["requests"]
    assert len(reqs) == 2
    for r in reqs:
        assert r["max_tokens"] == CFG.summary_max_tokens
        assert r["messages"][1]["content"].endswith(":")


def test_http_summarizer_retries_transient_5xx(mock_service):
    _MockChat.state["fail_next"] = 2
    fn = http_summarize_fn(mock_service, max_retries=4)
    out = fn(["only doc here"], 50)
    assert out == _mock_summary("only doc here")
    assert len(_MockChat.state["requests"]) == 1  # the success, post-retries


def test_http_summarizer_4xx_fails_immediately(mock_service):
    """A rejected payload must raise without burning the retry budget
    (deliberate deviation from the reference's return-the-exception)."""
    fn = http_summarize_fn(mock_service + "/nowhere", max_retries=6)
    with pytest.raises(RuntimeError, match="rejected"):
        fn(["doc"], 50)
    assert _MockChat.state["requests"] == []  # 404 path, no accepted request


def test_http_summarizer_exhausted_retries_fail_loudly(mock_service):
    _MockChat.state["fail_next"] = 99
    fn = http_summarize_fn(mock_service, max_retries=2)
    with pytest.raises(RuntimeError, match="failed after 2 attempts"):
        fn(["doc"], 50)


def test_cfg_summarizer_threads_through_incremental_recompute(
    spark, mock_service, tmp_path_factory
):
    """A tree must never mix summarizer dialects across appends: with
    ``EngineConfig.summarize_fn`` set, BOTH the initial build_tree and
    the parents recomputed by incremental_update carry the service's
    summaries (the synthetic corpus is lowercase, the mock uppercases —
    any extractive fallback would show as lowercase parent text)."""
    from pyspark.sql import functions as F

    from raptor_rag_spark.datagen import synthetic_pages
    from raptor_rag_spark.operators.chunk import chunk_documents
    from raptor_rag_spark.operators.embed import embed_texts
    from raptor_rag_spark.operators.tile import reduce_2d
    from raptor_rag_spark.streaming.incremental import incremental_update

    cfg = EngineConfig(
        embedding_dim=32, min_level_nodes=4,
        summarize_fn=http_summarize_fn(mock_service),
    )
    pages = synthetic_pages(spark, n=60, seed=7)
    docs = pages.select(F.col("page_id").alias("doc_id"), "text")
    leaves = (
        embed_texts(chunk_documents(docs, max_tokens=60), dim=32)
        .withColumnRenamed("chunk_id", "node_id")
        .select("node_id", "text", "n_tokens", "embedding")
        .cache()
    )
    base = str(tmp_path_factory.mktemp("tree_http"))
    old = leaves.filter(F.col("node_id") % 5 != 0)
    new = leaves.filter(F.col("node_id") % 5 == 0)

    from raptor_rag_spark.operators.tree import build_tree

    built = build_tree(spark, old, base, cfg, start_resolution=3, embed_dim=32)
    parents = built.filter("layer > 0").select("text").collect()
    assert parents and all(r["text"] == r["text"].upper() for r in parents)

    calls_before = len(_MockChat.state["requests"])
    got = incremental_update(
        spark, base, reduce_2d(new, dim=32, seed=cfg.seed), cfg, embed_dim=32
    )
    re_parents = got.filter("layer > 0").select("text").collect()
    assert re_parents and all(r["text"] == r["text"].upper() for r in re_parents)
    assert len(_MockChat.state["requests"]) > calls_before  # recompute hit the service


def test_http_summarizer_driver_level_steps_match_spark(
    spark, mock_service, tmp_path, monkeypatch
):
    """A build and an eager append with ``EngineConfig.summarize_fn`` set
    to the live service write the same levels whether every level step
    runs on the driver (the default bound, for this small tree) or in
    Spark (bound 0), and the driver steps keep several requests in
    flight at once."""
    from pyspark.sql import functions as F

    from raptor_rag_spark.datagen import synthetic_pages
    from raptor_rag_spark.functions import planutil
    from raptor_rag_spark.operators.tree import build_tree, last_complete_level, read_level
    from raptor_rag_spark.streaming.incremental import incremental_level0, incremental_update

    cfg = EngineConfig(
        embedding_dim=32, min_level_nodes=4, summarize_fn=http_summarize_fn(mock_service)
    )
    leaves = incremental_level0(synthetic_pages(spark, n=40, seed=7), cfg).localCheckpoint(
        eager=True
    )
    old = leaves.filter(F.col("node_id") % 5 != 0)
    new = leaves.filter(F.col("node_id") % 5 == 0)
    _MockChat.state["delay"] = 0.02

    def tree(name):
        base = str(tmp_path / name)
        build_tree(spark, old, base, cfg, start_resolution=3, embed_dim=32)
        incremental_update(spark, base, new, cfg, embed_dim=32)
        return [
            sorted(
                (r["node_id"], r["cell_id"], r["text"], tuple(r["children"]), tuple(r["embedding"]))
                for r in read_level(spark, base, k).collect()
            )
            for k in range(last_complete_level(base) + 1)
        ]

    on_driver = tree("driver")
    assert _MockChat.state["max_inflight"] > 1
    monkeypatch.setattr(planutil, "DRIVER_MAX_ROWS", 0)
    in_spark = tree("spark")
    assert len(on_driver) >= 2 and on_driver == in_spark
    assert all(r[2] == r[2].upper() for level in on_driver[1:] for r in level)


def test_http_summarizer_rejects_zero_retries():
    """range(0) would fall through to an AssertionError('unreachable')
    per summarized cell — config error instead."""
    from raptor_rag_spark.operators.tree import http_summarize_fn

    with pytest.raises(ValueError, match="max_retries"):
        http_summarize_fn("http://localhost:1", max_retries=0)
