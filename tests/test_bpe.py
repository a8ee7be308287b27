"""From-scratch BPE tokenizer (functions/bpe.py).

Parity target: tiktoken cl100k_base (reference raptor/utils.py:43,62).
The real vocab file is not in this image, so the evidence here is
(a) the merge algorithm pinned against hand-computed merges and an
independently-written reference implementation, (b) the published
cl100k pre-tokenizer pattern pinned on its publicly-documented
behaviors, (c) roundtrip + Spark plumbing over a toy vocabulary that
covers all 256 single bytes like the real one does."""

import base64

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raptor_rag_spark.functions.bpe import (
    CL100K_SPLIT_PATTERN,
    BPETokenizer,
    bpe_tokenizer_factory,
    byte_pair_merge,
    load_tiktoken_bpe,
    make_bpe_token_count_udf,
)

regex = pytest.importorskip("regex")


# ------------------------------------------------------------- helpers
def toy_ranks() -> dict[bytes, int]:
    """All 256 single bytes (ranks 0-255, like cl100k's byte fallback)
    plus a few merges whose order exercises lowest-rank-first."""
    ranks = {bytes([b]): b for b in range(256)}
    nxt = 256
    for merged in [b"th", b"he", b"the", b" t", b"in", b"ing", b"lo", b"llo"]:
        ranks[merged] = nxt
        nxt += 1
    return ranks


def brute_force_merge(piece: bytes, ranks: dict[bytes, int]) -> list[bytes]:
    """Independent re-implementation: recompute ALL candidate pairs
    each round with min() over (rank, index) tuples."""
    parts = [piece[i : i + 1] for i in range(len(piece))]
    while True:
        cands = [
            (ranks[parts[i] + parts[i + 1]], i)
            for i in range(len(parts) - 1)
            if parts[i] + parts[i + 1] in ranks
        ]
        if not cands:
            return parts
        _, i = min(cands)
        parts = parts[:i] + [parts[i] + parts[i + 1]] + parts[i + 2 :]


# ------------------------------------------------------- merge algorithm
def test_merge_lowest_rank_first():
    # "the": 't'+'h' -> 'th' (rank 256) beats 'h'+'e' -> 'he' (257);
    # then 'th'+'e' -> 'the' (258)
    assert byte_pair_merge(b"the", toy_ranks()) == [b"the"]
    # reversed preference: give 'he' the lower rank -> merge he first,
    # and 't'+'he' is NOT in the table, so the piece stays split
    ranks = {bytes([b]): b for b in range(256)}
    ranks[b"he"] = 256
    ranks[b"th"] = 257
    assert byte_pair_merge(b"the", ranks) == [b"t", b"he"]


def test_merge_no_mergeable_pairs():
    ranks = {bytes([b]): b for b in range(256)}
    assert byte_pair_merge(b"abc", ranks) == [b"a", b"b", b"c"]


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=24))
def test_merge_matches_independent_implementation(piece):
    ranks = toy_ranks()
    assert byte_pair_merge(piece, ranks) == brute_force_merge(piece, ranks)


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=120))
def test_encode_roundtrips_utf8(text):
    tok = BPETokenizer(toy_ranks())
    assert tok.decode_bytes(tok.encode(text)) == text.encode("utf-8")


# ------------------------------------------------ cl100k split pattern
@pytest.mark.parametrize(
    ("text", "pieces"),
    [
        ("Hello world!", ["Hello", " world", "!"]),
        ("don't", ["don", "'t"]),  # contraction alternative
        ("12345", ["123", "45"]),  # digit runs cap at 3
        ("  leading", [" ", " leading"]),  # last space joins the word
        ("tail   ", ["tail", "   "]),  # trailing whitespace one piece
        ("x += 42", ["x", " +=", " ", "42"]),  # punct run + space prefix
        ("a\nb", ["a", "\n", "b"]),
        ("C'est l'été", ["C", "'est", " l", "'été"]),  # unicode letters
    ],
)
def test_cl100k_pattern_published_behaviors(text, pieces):
    assert regex.compile(CL100K_SPLIT_PATTERN).findall(text) == pieces


def test_pattern_pieces_cover_input_exactly():
    r = regex.compile(CL100K_SPLIT_PATTERN)
    for text in ["Hello,   world!\n\nNew para 12345.", "  a  b  ", "naïve café #42"]:
        assert "".join(r.findall(text)) == text


# ------------------------------------------------------- file + plumbing
def test_tiktoken_file_roundtrip(tmp_path):
    ranks = toy_ranks()
    p = tmp_path / "toy.tiktoken"
    p.write_bytes(
        b"\n".join(
            base64.b64encode(tok) + b" " + str(rank).encode()
            for tok, rank in ranks.items()
        )
    )
    assert load_tiktoken_bpe(str(p)) == ranks
    tok = BPETokenizer.from_tiktoken_file(str(p))
    assert tok.encode("the") == [ranks[b"the"]]


def test_empty_rank_table_rejected():
    with pytest.raises(ValueError, match="empty"):
        BPETokenizer({})


@pytest.fixture(scope="module")
def toy_vocab_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("bpe") / "toy.tiktoken"
    p.write_bytes(
        b"\n".join(
            base64.b64encode(tok) + b" " + str(rank).encode()
            for tok, rank in toy_ranks().items()
        )
    )
    return str(p)


def test_count_udf_matches_local(spark, toy_vocab_file):
    texts = ["the thing", "don't stop", "12345", "", "héllo the in ing"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r["id"]: r["n"]
        for r in df.select(
            "id", make_bpe_token_count_udf(toy_vocab_file)("text").alias("n")
        ).collect()
    }
    tok = BPETokenizer(toy_ranks())
    assert got == {i: len(tok.encode(t)) for i, t in enumerate(texts)}


def test_chunker_accepts_bpe_factory(spark, toy_vocab_file):
    """chunk_documents(tokenizer_factory=bpe_tokenizer_factory(p)):
    the n_tokens column must equal the BPE count of ' ' + sentence the
    reference chunker uses (utils.py:43 counts with a leading space)."""
    from raptor_rag_spark.operators.chunk import chunk_documents

    docs = spark.createDataFrame(
        [(1, "The thing sings. Another thing rings. Short."),
         (2, "One sentence only here.")],
        "doc_id long, text string",
    )
    out = chunk_documents(
        docs, max_tokens=8, tokenizer_factory=bpe_tokenizer_factory(toy_vocab_file)
    ).collect()
    assert out  # produced chunks
    tok = BPETokenizer(toy_ranks())
    for row in out:
        assert row["n_tokens"] >= 1
        # every chunk respects the cap or is a single long sentence
        assert row["n_tokens"] <= 8 or len(tok.encode(row["text"])) > 8


def test_engine_tokenizer_seam_end_to_end(spark, toy_vocab_file, tmp_path):
    """EngineConfig.tokenizer_factory threads through BOTH chunking and
    parent summarization: every node's n_tokens (leaves AND parents)
    must be the BPE count of its text — no dialect mixing."""
    from raptor_rag_spark.api import RaptorEngine
    from raptor_rag_spark.config import EngineConfig

    cfg = EngineConfig(
        embedding_dim=16,
        max_tokens=30,
        tokenizer_factory=bpe_tokenizer_factory(toy_vocab_file),
    )
    eng = RaptorEngine(spark, str(tmp_path / "tree"), cfg, embed_dim=16)
    docs = spark.createDataFrame(
        [(i, f"The thing number {i} sings loudly. Another thing rings here. "
              f"Something else entirely happens in the end {i}.")
         for i in range(8)],
        "doc_id long, text string",
    )
    eng.add_documents(docs)
    rows = eng.nodes.collect()
    assert rows and any(r["layer"] > 0 for r in rows)  # built parents too
    tok = BPETokenizer(toy_ranks())
    for r in rows:
        assert r["n_tokens"] == len(tok.encode(r["text"])), (
            f"layer {r['layer']} node counts in the wrong tokenizer dialect"
        )

    # the page-ingest leaves (incremental appends, stream_pages) chunk
    # and count in the same dialect
    from raptor_rag_spark.datagen import synthetic_pages
    from raptor_rag_spark.operators.chunk import split_text
    from raptor_rag_spark.operators.extract import extract_pages
    from raptor_rag_spark.streaming import incremental_level0

    pages = synthetic_pages(spark, n=4, seed=3)
    leaves = incremental_level0(pages, cfg).collect()
    want = sorted(
        c for p in extract_pages(pages).collect()
        for c in split_text(p["text"], tok, max_tokens=cfg.max_tokens)
    )
    assert sorted(r["text"] for r in leaves) == want
    for r in leaves:
        assert r["n_tokens"] == len(tok.encode(r["text"]))


# --------------------------------------------------- heap-merge (large pieces)
def test_heap_merge_matches_naive_scan():
    """The heap + linked-list merge (pieces > 64 bytes) must produce
    exactly the naive lowest-rank-leftmost result — cross-checked on
    inputs that straddle the dispatch threshold."""
    import random

    from raptor_rag_spark.functions.bpe import _byte_pair_merge_heap

    ranks = toy_ranks()
    rng = random.Random(99)
    corpus = [
        b"the" * 40,
        b"hello there in the thing " * 8,
        bytes(rng.randrange(97, 123) for _ in range(300)),
        b"in" * 100 + b"g",
        b"\xf0\x9f\x98\x80" * 50,  # multi-byte utf-8 run
    ]
    for piece in corpus:
        assert _byte_pair_merge_heap(piece, ranks) == brute_force_merge(piece, ranks)


@settings(deadline=None, max_examples=50)
@given(st.binary(min_size=65, max_size=200))
def test_heap_merge_matches_independent_implementation(piece):
    from raptor_rag_spark.functions.bpe import _byte_pair_merge_heap

    assert _byte_pair_merge_heap(piece, toy_ranks()) == brute_force_merge(
        piece, toy_ranks()
    )


def test_pathological_run_does_not_hang():
    """Real crawl text carries 100 KB+ unbroken letter/punct runs
    (base64 blobs, minified JS, '!!!…' spam); the cl100k pre-tokenizer
    yields each as ONE piece. The merge must stay O(n log n): a 200 KB
    run completes in seconds, not the hours the quadratic scan needs."""
    import time

    ranks = toy_ranks()
    tok = BPETokenizer(ranks)
    text = "hellothe" * 25_000  # one 200 KB \p{L}+ piece
    t0 = time.time()
    ids = tok.encode(text)
    took = time.time() - t0
    assert took < 20, f"200 KB single-piece encode took {took:.1f}s"
    assert tok.decode_bytes(ids) == text.encode("utf-8")
