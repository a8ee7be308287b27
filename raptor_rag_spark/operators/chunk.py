"""Chunking: greedy sentence packing into <=max_tokens chunks.

Semantics match the reference ``split_text``
(/root/reference/raptor/utils.py:22-100) exactly, including its
quirks, which parity tests assert against the reference function
itself:

- sentence split on ``. ! ? \\n`` (P1, utils.py:38-40)
- token counts computed on ``" " + sentence`` (P2, utils.py:43)
- whitespace-only sentences skipped (utils.py:50-52)
- oversize sentences re-split on ``, ; :`` and packed separately,
  emitted IN PLACE while the running chunk stays open (utils.py:55-81)
- the overlap-reset recomputes lengths by position-in-chunk indexing
  into the ORIGINAL token-count list (a reference bug, utils.py:75,:87)
  — replicated verbatim for parity
- chunks joined with a single space (utils.py:73,:81,:85,:98)

This is a stateful per-document scan (running total resets at cut
points), NOT expressible as a window function — so it runs in a
``mapInPandas`` over whole-document rows (:func:`chunk_source`), one
Python call per document; memory per call is bounded by document
length (web pages), and there is no shuffle and no skew beyond the
largest single document.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raptor_rag_spark.tokenizer import DEFAULT_TOKENIZER

_SENTENCE_RE = re.compile(r"\.|!|\?|\n")
_SUB_RE = re.compile(r"[,;:]")


def split_text(
    text: str,
    tokenizer=DEFAULT_TOKENIZER,
    max_tokens: int = 100,
    overlap: int = 0,
) -> list[str]:
    """Reference-parity chunker (see module docstring)."""
    sentences = _SENTENCE_RE.split(text)
    n_tokens = [len(tokenizer.encode(" " + s)) for s in sentences]

    chunks: list[str] = []
    current_chunk: list[str] = []
    current_length = 0

    for sentence, count in zip(sentences, n_tokens):
        if not sentence.strip():
            continue

        if count > max_tokens:
            subs = [s.strip() for s in _SUB_RE.split(sentence) if s.strip() != ""]
            sub_counts = [len(tokenizer.encode(" " + s)) for s in subs]
            sub_chunk: list[str] = []
            sub_length = 0
            for sub, sub_count in zip(subs, sub_counts):
                if sub_length + sub_count > max_tokens:
                    if sub_chunk:
                        chunks.append(" ".join(sub_chunk))
                        sub_chunk = sub_chunk[-overlap:] if overlap > 0 else []
                        # reference's positional re-index (utils.py:75)
                        sub_length = sum(
                            sub_counts[max(0, len(sub_chunk) - overlap) : len(sub_chunk)]
                        )
                sub_chunk.append(sub)
                sub_length += sub_count
            if sub_chunk:
                chunks.append(" ".join(sub_chunk))

        elif current_length + count > max_tokens:
            chunks.append(" ".join(current_chunk))
            current_chunk = current_chunk[-overlap:] if overlap > 0 else []
            # reference's positional re-index (utils.py:87)
            current_length = sum(
                n_tokens[max(0, len(current_chunk) - overlap) : len(current_chunk)]
            )
            current_chunk.append(sentence)
            current_length += count
        else:
            current_chunk.append(sentence)
            current_length += count

    if current_chunk:
        chunks.append(" ".join(current_chunk))
    return chunks


CHUNK_SCHEMA = "doc_id long, chunk_idx int, text string, n_tokens int"
CHUNK_COLUMNS = ["doc_id", "chunk_idx", "text", "n_tokens"]


def chunk_rows(doc_ids, texts, tokenizer, max_tokens: int, overlap: int = 0) -> pd.DataFrame:
    """The per-document chunk loop of every chunking kernel: one
    (doc_id, chunk_idx, text, n_tokens) row per :func:`split_text` chunk
    of each non-null text, in document then chunk order."""
    out: list[tuple[int, int, str, int]] = []
    for doc_id, text in zip(doc_ids, texts):
        if text is None:
            continue
        for idx, chunk in enumerate(
            split_text(text, tokenizer, max_tokens=max_tokens, overlap=overlap)
        ):
            out.append((int(doc_id), idx, chunk, len(tokenizer.encode(chunk))))
    return pd.DataFrame(out, columns=CHUNK_COLUMNS)


def chunk_id_col(id_scheme: str = "arith") -> Column:
    """The global chunk id of a (doc_id, chunk_idx) row, computed in the
    JVM: see :func:`chunk_documents` for the two schemes."""
    if id_scheme == "hash":
        return F.xxhash64(F.col("doc_id"), F.col("chunk_idx"))
    if id_scheme == "arith":
        bound = 1 << 43
        return F.when(
            (F.col("doc_id") > F.lit(-bound)) & (F.col("doc_id") < F.lit(bound)),
            (F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx")).cast("long"),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "chunk_id arith scheme needs |doc_id| < 2^43; "
                    "use id_scheme='hash' for hashed doc ids"
                )
            ).cast("long")
        )
    raise ValueError(f"unknown id_scheme {id_scheme!r} (use 'arith' or 'hash')")


def chunk_source(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The (long id, text) input of a chunking kernel. A document is ONE
    row (text is the whole doc), so the stateful packing never crosses
    rows: the kernel is a mapInPandas, zero shuffle (a groupBy +
    applyInPandas costs a shuffle AND lets AQE coalesce the CPU-bound
    stage to a handful of partitions — measured 4x loss). A source with
    fewer partitions than cores is repartitioned to one per core."""
    src = df.select(F.col(id_col).cast("long").alias(id_col), text_col)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    return src


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 100,
    overlap: int = 0,
    tokenizer_factory: Callable | None = None,
    id_scheme: str = "arith",
) -> DataFrame:
    """documents(id, text) -> chunks(doc_id, chunk_idx, text, n_tokens).

    A global ``chunk_id`` is a deterministic function of (doc_id,
    chunk_idx) — never monotonically_increasing_id (not stable) or a
    global row_number (single-partition sort at 10^12 scale). Two
    schemes:

    - ``id_scheme='arith'`` (default): chunk_id = doc_id * 2^20 +
      chunk_idx — DENSE and ORDER-PRESERVING, but only valid for
      |doc_id| < 2^43 (the multiply overflows a long otherwise; under
      ANSI mode that's an ARITHMETIC_OVERFLOW crash, without ANSI a
      silent wrap that costs ~50% id-collision odds at ~4M docs). The
      bound is validated per row with raise_error, not assumed.
    - ``id_scheme='hash'``: chunk_id = xxhash64(doc_id, chunk_idx) —
      full 64-bit mixing, safe for ANY doc_id (e.g. doc_id itself a
      64-bit url hash, streaming/incremental ingest). Not dense.
    """
    factory = tokenizer_factory or (lambda: DEFAULT_TOKENIZER)
    cid = chunk_id_col(id_scheme)

    def chunk_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = factory()
        for pdf in it:
            yield chunk_rows(pdf[id_col], pdf[text_col], tok, max_tokens, overlap)

    chunks = chunk_source(df, id_col, text_col).mapInPandas(chunk_batches, schema=CHUNK_SCHEMA)
    return chunks.withColumn("chunk_id", cid)


# ------------------------------------------------- sequence packing

def pack_sequences(
    chunks: DataFrame,
    max_tokens: int,
    seed: int = 0,
    shards: int | None = None,
    id_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Pack chunks into fixed-token-budget training sequences (sample
    packing, public practice — concatenate shuffled samples and cut at
    the context length so padding waste vanishes).

    Global greedy packing is inherently sequential, so the scale
    recipe shards first: each chunk is routed to one of ``shards``
    groups by a seeded hash of its id (same permutation idea as
    training_export — deterministic, layout-independent), then ONE
    pandas group per shard walks its chunks in hash order and cuts a
    new sequence whenever the running token sum would exceed
    ``max_tokens``. Sequences never cross shards; a chunk longer than
    the budget becomes its own SINGLETON sequence — isolated, never
    dropped or truncated (detect must-truncate samples as sequences
    whose single row exceeds the budget).

    Returns the input columns plus (seq_id, seq_pos, _shard):
    seq_id = shard * 2^40 + index-within-shard (collision-free while
    a shard packs < 2^40 sequences), seq_pos = position within the
    sequence. Plan: one hash exchange on the shard id; each pandas
    group holds ~|corpus|/shards rows — size ``shards`` so a group
    fits an executor (default: 32 x defaultParallelism).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    # _shard / seq_id / seq_pos are output-contract names and _key is
    # the working column — refuse inputs that already carry them
    # (silent clobber or a duplicate-field schema otherwise; e.g.
    # re-packing packer output or shuffled_export_plan rows)
    reserved = {"_key", "_shard", "seq_id", "seq_pos"} & set(chunks.columns)
    if reserved:
        raise ValueError(
            f"input already has reserved column(s) {sorted(reserved)} — "
            "drop or rename them before pack_sequences"
        )
    spark = chunks.sparkSession
    if shards is None:
        shards = 32 * spark.sparkContext.defaultParallelism
    key = F.xxhash64(F.col(id_col), F.lit(seed))
    df = chunks.withColumn("_key", key).withColumn(
        "_shard", F.pmod(F.col("_key"), F.lit(shards)).cast("int")
    )

    out_schema = df.drop("_key").schema
    from pyspark.sql import types as T

    fields = list(out_schema.fields)  # copy: StructType.add mutates
    out_schema = T.StructType(
        fields
        + [T.StructField("seq_id", T.LongType()), T.StructField("seq_pos", T.IntegerType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_key", id_col], kind="mergesort").reset_index(drop=True)
        shard = int(pdf["_shard"].iloc[0])
        seq_base = shard << 40
        seq_idx, pos, budget = 0, 0, 0
        seq_ids, seq_positions = [], []
        for t in pdf[tokens_col].astype("int64"):
            t = int(t)
            if pos > 0 and budget + t > max_tokens:
                seq_idx += 1
                pos, budget = 0, 0
            seq_ids.append(seq_base + seq_idx)
            seq_positions.append(pos)
            pos += 1
            budget += t
            if budget >= max_tokens:  # full (or oversized single) — cut
                seq_idx += 1
                pos, budget = 0, 0
        pdf = pdf.drop(columns=["_key"])
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["seq_pos"] = pd.Series(seq_positions, dtype="int32")
        return pdf

    return df.groupBy("_shard").applyInPandas(pack, out_schema)
