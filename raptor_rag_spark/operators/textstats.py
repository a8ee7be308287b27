"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All metrics are pure JVM column expressions (codegen'd, no Python)
except the rolling-hash fingerprint kernel. Every ratio is ROUNDed
where it feeds the DuckDB oracle so cross-engine float hashing is
stable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raptor_rag_spark.tokenizer import spark_token_count

# tiny per-language stopword lists (deterministic heuristic lang-id —
# a real pipeline swaps in fastText; the Spark plumbing is identical)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "que", "pour"],
    "tr": ["bir", "ve", "bu", "da", "de", "ne", "için", "ile", "mi", "çok"],
}


# explicit class: Java \s includes \x0B, RE2 (DuckDB) \s does not
WS_SPLIT = r"[ \t\n\r\f\x0B]+"


def words_col(col: Column) -> Column:
    """lowercased whitespace words, empties dropped — identical
    semantics expressible in DuckDB (whitespace class spelled out so
    both regex engines agree on \\x0B)."""
    return F.filter(F.split(F.lower(col), WS_SPLIT), lambda w: w != "")


def stopword_hits(col: Column, lang: str) -> Column:
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words_col(col), lambda w: F.array_contains(stops, w)))


def lang_id(col: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when all
    zero. Deterministic tie-break: lexicographically smallest lang."""
    best = None
    best_score = None
    for lang in sorted(STOPWORDS):
        s = stopword_hits(col, lang)
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def quality_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra: list[Column] | None = None,
) -> DataFrame:
    """Per-doc quality features: lengths, ratios, token stats, score.

    Score formula (deterministic, documented): starts at 1, penalized
    for extreme length, low alpha ratio, high digit/punct ratio, low
    mean word length — the usual web-text quality heuristics
    (Gopher/C4-style rules, public).

    ``extra`` columns are appended to the output projection — the hook
    that lets api.quality_signals compute these metrics AND the
    repetition kernel in ONE scan/projection (no second pass, no
    join)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = words_col(t)
    n_words = F.size(words)
    n_tokens = spark_token_count(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(t, "[^.,;:!?]", ""))
    spaces = F.length(F.regexp_replace(t, "[^ ]", ""))
    mean_word_len = F.when(n_words > 0, (n_chars - spaces) / n_words).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    score = (
        F.lit(1.0)
        - F.when(n_words < 5, 0.5).otherwise(0.0)
        - F.when(digit_ratio > 0.3, 0.3).otherwise(0.0)
        - F.when(punct_ratio > 0.2, 0.2).otherwise(0.0)
        - F.when(alpha_ratio < 0.5, 0.2).otherwise(0.0)
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        # a NULL text must not outscore an empty one: the penalty
        # conditions evaluate NULL (never true) on NULL input, leaving
        # only the alpha_ratio penalty -> 0.8, which would pass a
        # quality filter; pin NULL text to 0.0 (oracle mirrors this)
        F.round(
            F.when(t.isNull(), F.lit(0.0)).otherwise(F.greatest(score, F.lit(0.0))),
            6,
        ).alias("quality_score"),
        *(extra or []),
    )


def md5_prefix60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long — the one 64-bit-ish
    hash computable bit-identically in Spark (conv) AND DuckDB
    (CAST('0x'||substr(md5,1,15) AS BIGINT)), which is what lets
    fingerprint/simhash participate in the oracle gate. xxhash64 exists
    only in Spark; FNV only as a Python kernel."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint_col(col: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint, pure JVM: min md5-prefix
    hash over all ``window``-word shingles of the normalized text
    (docs shorter than the window hash the whole text; empty -> 0).
    Same contract as make_fingerprint_udf with the portable hash."""
    words = words_col(col)
    k = F.greatest(F.size(words) - F.lit(window - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(
            " ", *[F.get(words, (i + j).cast("int")) for j in range(window)]
        ),
    )
    # explicit NULL propagation: without the isNotNull guard, NULL text
    # flows through get->concat_ws (which SKIPS nulls) into md5("") — a
    # value the DuckDB oracle (NULL-propagating list ops) can't produce
    return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(
        F.when(F.size(words) == 0, F.lit(0).cast("long")).otherwise(
            F.array_min(F.transform(shingles, md5_prefix60))
        )
    )


SIMHASH_BITS = 48


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash) — pure JVM simhash: tokens explode -> per-bit
    +/-1 sums in ONE hash aggregate (map-side combine; the shuffle
    carries ``bits`` partial sums per doc, not tokens) -> sign bits
    packed to a long. 48 bits = the md5 prefix budget minus headroom;
    block pigeonhole search works the same as the 64-bit UDF variant.
    Exactly mirrorable in DuckDB SQL (see driver_queries), unlike the
    FNV Python kernel in make_simhash_udf."""
    from raptor_rag_spark.tokenizer import TOKEN_PATTERN

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("_tok"),
    ).withColumn("_h", md5_prefix60(F.col("_tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    acc = toks.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    acc = acc.select(F.col(id_col), sig.alias("simhash"))
    # docs with zero tokens have no exploded rows: join back, simhash 0
    return df.select(id_col).join(acc, id_col, "left").fillna({"simhash": 0})


def make_md5_fingerprint_udf(window: int = 8):
    """Arrow twin of :func:`fingerprint_col` — same output bytes
    (md5-prefix60 winnowing), ~10x faster: the Catalyst transform/F.get
    expression is INTERPRETED (measured ~28 s for 5000 docs at sf0.1;
    hashlib's C md5 does the same in ~2 s). Mirrors words_col exactly:
    lower, split on the explicit whitespace class, drop empties."""
    import hashlib
    import re

    ws_run = re.compile(WS_SPLIT)

    @F.pandas_udf(T.LongType())
    def fp(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            out: list = []
            for t in series:
                if t is None:
                    out.append(None)
                    continue
                ws = [w for w in ws_run.split(t.lower()) if w != ""]
                if not ws:
                    out.append(0)
                    continue
                k = max(len(ws) - (window - 1), 1)
                out.append(
                    min(
                        int(
                            hashlib.md5(
                                " ".join(ws[i : i + window]).encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        for i in range(k)
                    )
                )
            yield pd.Series(out, dtype="Int64")

    return fp


def make_fingerprint_udf(window: int = 8):
    """Rolling-hash document fingerprint: min FNV hash over all
    ``window``-word windows of the normalized text (winnowing-style,
    public technique). Arrow-batched; ~like minhash with one hash."""

    from raptor_rag_spark.functions.hashing import fnv1a_64_batch

    @F.pandas_udf(T.LongType())
    def fingerprint(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            texts = series.tolist()
            gram_lists: list = []
            for text in texts:
                if text is None:
                    gram_lists.append(None)
                    continue
                ws = [w for w in text.lower().split() if w]
                if not ws:
                    gram_lists.append([])
                    continue
                gram_lists.append(
                    [" ".join(ws)]
                    if len(ws) < window
                    else [" ".join(ws[i : i + window]) for i in range(len(ws) - window + 1)]
                )
            flat = [g for lst in gram_lists if lst for g in lst]
            out: list = [None] * len(texts)
            mins = None
            if flat:
                h = fnv1a_64_batch(flat)
                counts = [len(lst) for lst in gram_lists if lst]
                offs = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(counts[:-1], out=offs[1:])
                mins = np.minimum.reduceat(h, offs)
            k = 0
            for i, lst in enumerate(gram_lists):
                if lst is None:
                    continue
                if not lst:
                    out[i] = 0
                    continue
                v = int(mins[k])
                k += 1
                out[i] = v - (1 << 64) if v >= 1 << 63 else v
            yield pd.Series(out, dtype="Int64")

    return fingerprint


def top_terms(
    df: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(stratum, term, tf, rnk) — the k most frequent tokens per
    stratum (term-frequency corpus profile, the first diagnostic a
    training-data pipeline runs per language/source shard). Pure JVM:
    tokens explode -> hash aggregate (map-side partial) -> per-stratum
    WindowGroupLimit top-k; ties break on the term so the output is
    deterministic and oracle-hashable."""
    from pyspark.sql.window import Window

    from raptor_rag_spark.tokenizer import TOKEN_PATTERN

    toks = df.select(
        F.col(stratum_col).alias("stratum"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("term"),
    )
    tf = toks.groupBy("stratum", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("stratum").orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("stratum", "term", F.col("tf").cast("long").alias("tf"),
                F.col("rnk").cast("int").alias("rnk"))
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    rates_pct: dict[str, int] | None = None,
    default_pct: int = 20,
) -> DataFrame:
    """Deterministic stratified Bernoulli sample: keep a row iff
    md5_prefix60(id) % 100 < the stratum's percentage. Reproducible
    across runs/engines (no RNG state), embarrassingly parallel (a
    per-row filter, pushes below shuffles), and portable to the DuckDB
    oracle via the md5-prefix hash — the properties df.sample() lacks
    (seeded per-partition RNG changes membership when partitioning
    changes, which a 100 TB re-layout always does)."""
    h = md5_prefix60(F.col(id_col).cast("string")) % 100
    rate = None
    for stratum, pct in (rates_pct or {}).items():
        cond = F.col(stratum_col) == stratum
        rate = F.when(cond, pct) if rate is None else rate.when(cond, pct)
    rate_col = rate.otherwise(default_pct) if rate is not None else F.lit(default_pct)
    return df.filter(h < rate_col)


def make_lang_id_udf():
    """Arrow twin of :func:`lang_id` — identical output (argmax
    stopword hits, lexicographic tie-break, 'und' on zero/NULL; pure
    integer logic, so no float-order risk), ~6x faster than the
    interpreted filter/array_contains HOF chain (5.7 s -> <1 s for
    5000 docs at sf0.1)."""
    import re

    ws_run = re.compile(WS_SPLIT)
    stop = {lang: frozenset(ws) for lang, ws in STOPWORDS.items()}
    langs = sorted(STOPWORDS)

    @F.pandas_udf(T.StringType())
    def lid(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            out: list = []
            for t in series:
                if t is None:
                    out.append("und")
                    continue
                ws = [w for w in ws_run.split(t.lower()) if w != ""]
                best, best_score = None, 0
                for lang in langs:
                    s = stop[lang]
                    hits = sum(1 for w in ws if w in s)
                    if best is None or hits > best_score:
                        best, best_score = lang, hits
                out.append(best if best_score > 0 else "und")
            yield pd.Series(out)

    return lid


REPETITION_FRAC_COLS = (
    "dup_line_frac",
    "dup_para_frac",
    "top_word_frac",
    "top_bigram_frac",
)

REPETITION_SCHEMA = T.StructType(
    [
        T.StructField("n_lines", T.IntegerType()),
        T.StructField("dup_line_frac", T.DoubleType()),
        T.StructField("n_paras", T.IntegerType()),
        T.StructField("dup_para_frac", T.DoubleType()),
        T.StructField("top_word_frac", T.DoubleType()),
        T.StructField("top_bigram_frac", T.DoubleType()),
    ]
)


def make_repetition_udf():
    """Arrow kernel computing Gopher-style repetition signals (public:
    Rae et al. 2021, "Scaling Language Models" App. A1.1 repetition
    filters) per document in ONE map-side pass:

    - dup_line_frac / dup_para_frac: fraction of non-empty lines
      (split '\\n') / paragraphs (split '\\n\\n') that are duplicates
      of an earlier one (1 - distinct/total; 0 when none).
    - top_word_frac / top_bigram_frac: share of the most frequent
      word / word-2gram among all words / 2grams (words = the corpus
      normalization: lowercase, whitespace-class split, '' dropped).

    All counts are integers and the fractions are single IEEE
    divisions, so the DuckDB oracle reproduces them bit-exactly.
    NULL text -> NULL metrics (mirrors SQL NULL propagation).
    """
    import re
    from collections import Counter

    ws_run = re.compile(WS_SPLIT)

    def _row(t):
        if t is None:
            return (None, None, None, None, None, None)
        lines = [l for l in t.split("\n") if l != ""]
        paras = [p for p in t.split("\n\n") if p != ""]
        words = [w for w in ws_run.split(t.lower()) if w != ""]
        bigrams = [words[i] + " " + words[i + 1] for i in range(len(words) - 1)]
        # raw IEEE divisions only — rounding happens JVM-side
        # (F.round) so Spark and the DuckDB oracle share ROUND
        # semantics; Python round() is a third dialect
        dl = 0.0 if not lines else 1.0 - len(set(lines)) / len(lines)
        dp = 0.0 if not paras else 1.0 - len(set(paras)) / len(paras)
        tw = 0.0 if not words else Counter(words).most_common(1)[0][1] / len(words)
        tb = (
            0.0
            if not bigrams
            else Counter(bigrams).most_common(1)[0][1] / len(bigrams)
        )
        return (len(lines), dl, len(paras), dp, tw, tb)

    @F.pandas_udf(REPETITION_SCHEMA)
    def rep(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in REPETITION_SCHEMA.fields]
        for series in batches:
            rows = [_row(t) for t in series]
            yield pd.DataFrame(rows, columns=cols).astype(
                {"n_lines": "Int32", "n_paras": "Int32"}
            )

    return rep


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc repetition quality signals (see make_repetition_udf).

    Scale shape: one Arrow-batched map-only pass — no explode, no
    shuffle (the naive SQL formulation explodes lines/words and
    re-aggregates: 2 shuffles of the full token stream). At 100 TB
    the kernel streams parquet batches through Python workers and the
    output is one short row per doc.
    """
    rep = make_repetition_udf()
    m = df.select(F.col(id_col), rep(F.col(text_col)).alias("_m"))
    m = m.select(id_col, "_m.*")
    for c in REPETITION_FRAC_COLS:
        m = m.withColumn(c, F.round(F.col(c), 6))
    return m


def cap_per_stratum(
    df: DataFrame,
    cap: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Cap each stratum (domain/source/lang) at ``cap`` rows by a
    deterministic seeded-hash rank — domain balancing, the standard
    web-corpus guard against one hot domain dominating the training
    mix (public practice in Common-Crawl pipeline writeups).

    Deterministic: the kept set is a pure function of (ids, seed) —
    repartition-invariant, and stable under appends of OTHER strata.
    Plan: one shuffle on the stratum + WindowGroupLimit (Spark pushes
    rank<=cap map-side, so the shuffle carries at most cap rows per
    (stratum, input partition), never the hot domain's full history —
    the same top-k shape as keep_latest/topk_per_group).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    rank_key = F.xxhash64(F.col(id_col), F.lit(seed))
    w = Window.partitionBy(stratum_col).orderBy(rank_key.asc(), F.col(id_col).asc())
    rn = "_cap_rn"
    while rn in df.columns:
        rn += "_"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= cap).drop(rn)


def sample_mixture(
    df: DataFrame,
    rates_pct: dict[str, int] | None = None,
    default_pct: int = 100,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic dataset-mixture sampling with up-sampling epochs —
    the weighted data-mixing step of published LM training recipes
    (the per-source sampling-proportion/epoch tables in the GPT-3 and
    LLaMA papers): a stratum with rate 250 (%) emits every row at
    epochs 0 and 1 plus a deterministic 50 % subset at epoch 2; a
    stratum with rate 40 emits a 40 % subset at epoch 0; rate 0 drops
    the stratum entirely.

    Output = input columns + ``epoch_col`` (int). Membership of the
    fractional copy is the md5-prefix Bernoulli on the id (same hash as
    stratified_hash_sample), so the mixture is repartition-invariant,
    reproducible across runs/engines, and DuckDB-oracle-expressible —
    none of which holds for df.sample(). Scale: a per-row projection +
    explode (map-only, no shuffle); up-sampling multiplies rows by at
    most ceil(rate/100) with no data movement, and the epoch column
    lets the training exporter shard copies independently.
    """
    if default_pct < 0 or any(p < 0 for p in (rates_pct or {}).values()):
        raise ValueError("mixture rates must be >= 0 (percent; >100 up-samples)")
    if epoch_col in df.columns:
        raise ValueError(f"input already has a {epoch_col!r} column")
    rate = None
    for stratum, pct in (rates_pct or {}).items():
        cond = F.col(stratum_col) == stratum
        rate = F.when(cond, pct) if rate is None else rate.when(cond, pct)
    rate_col = rate.otherwise(default_pct) if rate is not None else F.lit(default_pct)
    # salted draw: the unsalted md5_prefix60(id) % 100 is the SAME
    # Bernoulli variable stratified_hash_sample filters on, so composing
    # the two ops would correlate them (a 40% stratified sample followed
    # by mixture rate 150 gives the fractional epoch to 100% of
    # survivors, not an independent 50%). The "mix|" salt decorrelates
    # while staying deterministic and oracle-expressible.
    h = md5_prefix60(F.concat(F.lit("mix|"), F.col(id_col).cast("string"))) % 100
    n_copies = (rate_col / 100).cast("int") + F.when(h < rate_col % 100, 1).otherwise(0)
    # sequence(0, -1) is a DESCENDING two-element array in Spark, so the
    # zero-copy case must be an explicit empty array (explode drops it).
    epochs = F.when(n_copies >= 1, F.sequence(F.lit(0), n_copies - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(epoch_col, F.explode(epochs))


def select_to_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "quality_score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
) -> DataFrame:
    """Exact global data selection under a token budget: keep rows in
    (score desc, id asc) order while the running token total stays
    within ``budget`` — semantically ``SUM(tokens) OVER (ORDER BY score
    DESC, id ASC ROWS UNBOUNDED PRECEDING) <= budget``, the
    select-the-best-docs-until-the-compute-budget step of quality-
    filtered pretraining-data pipelines. Prefix semantics: once the
    running total exceeds the budget, every later row is excluded
    (the cumsum is monotone for non-negative token counts).

    The naive window is a single-partition global sort — unusable at
    crawl scale. Two-phase exact equivalent:

      1. histogram: bucket = monotone coarsening of the score
         (``num_buckets`` fixed-width bins over [min, max]); one
         partial-agg groupBy gives per-bucket token sums; the driver
         sorts the <= num_buckets rows desc and finds the boundary
         bucket b* where the running sum first exceeds the budget.
      2. every row in a bucket above b* is kept outright (their total
         fits, and all of them precede any boundary row in the global
         order); rows below b* drop at the scan; ONLY boundary-bucket
         rows run the exact windowed cumsum, offset by the full
         buckets' total.

    Exact because the bucket function is monotone in the score (equal
    scores share a bucket, so the (score, id) order restricted to the
    boundary bucket matches the global order there). The boundary
    cumsum itself is a distributed two-phase prefix sum (range
    partition on the order key -> per-partition windowed cumsum +
    per-partition-total offsets), so NO single-partition exchange
    exists anywhere in the plan. Driver state is three bounded
    collects: min/max, <= num_buckets histogram rows, and the
    per-range-partition totals (<= shuffle parallelism rows). Rows
    with NULL score or NULL tokens are excluded (coalesce upstream to
    override).

    The input plan is evaluated up to four times (min/max scan,
    histogram, kept-bucket filter, boundary bucket) — pass a cached /
    checkpointed DataFrame when the scoring upstream is expensive;
    the operator deliberately does not pin a (potentially corpus-
    sized) 3-column projection itself.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    from pyspark.sql import Window

    s = F.col(score_col).cast("double")
    t = F.col(tokens_col).cast("long")
    # t >= 0 enforces the monotone-cumsum precondition the histogram
    # boundary and prefix filter rely on; a negative count would
    # silently produce a non-prefix kept set
    base = df.filter(s.isNotNull() & t.isNotNull() & (t >= 0))
    mm = base.agg(F.min(s).alias("lo"), F.max(s).alias("hi")).collect()[0]
    if mm["lo"] is None:
        return base.limit(0)
    lo, hi = float(mm["lo"]), float(mm["hi"])
    width = (hi - lo) / num_buckets or 1.0
    bucket = F.least(
        F.floor((s - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(num_buckets - 1)
    )
    hist = base.groupBy(bucket.alias("_b")).agg(F.sum(t).alias("_toks")).collect()
    hist.sort(key=lambda r: -r["_b"])
    running, boundary = 0, None
    for r in hist:
        if running + r["_toks"] <= budget:
            running += r["_toks"]
        else:
            boundary = r["_b"]
            break
    if boundary is None:  # everything fits
        return base
    bcol = "_budget_b"
    while bcol in df.columns:
        bcol += "_"
    wb = base.withColumn(bcol, bucket)
    full = wb.filter(F.col(bcol) > boundary).drop(bcol)

    # Distributed exact prefix sum over the boundary bucket: range
    # partition on the order key (pid order == key order), windowed
    # cumsum WITHIN each pid, plus the cumulative total of all earlier
    # pids as an offset. localCheckpoint pins ONE range partitioning so
    # the totals collect and the window read see identical pids
    # (repartitionByRange re-samples boundaries per execution).
    pcol, ccol = bcol + "pid", bcol + "cum"
    parts = max(2, wb.sparkSession.sparkContext.defaultParallelism)
    bdf = (
        wb.filter(F.col(bcol) == boundary)
        .repartitionByRange(parts, s.desc(), F.col(id_col).asc())
        .withColumn(pcol, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = {
        r[pcol]: r["_toks"]
        for r in bdf.groupBy(pcol).agg(F.sum(t).alias("_toks")).collect()
    }
    if not totals:
        return full
    acc, offsets = running, []
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    ocol = bcol + "off"
    from raptor_rag_spark.functions.localtab import local_df

    off_df = local_df(wb.sparkSession, offsets, f"{pcol} int, {ocol} long")
    w = (
        Window.partitionBy(pcol)
        .orderBy(s.desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_boundary = (
        bdf.join(F.broadcast(off_df), pcol)
        .withColumn(ccol, F.sum(t).over(w) + F.col(ocol))
        .filter(F.col(ccol) <= budget)
        .drop(bcol, pcol, ccol, ocol)
    )
    return full.unionByName(kept_boundary)


def c4_line_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020, public spec):
    keep only lines that end in a terminal punctuation mark (. ! ? ")
    AND contain >= ``min_words_per_line`` words; drop the whole page
    when fewer than ``min_lines`` lines survive, when it contains
    "lorem ipsum" (any case), or when it contains a curly brace
    (code). Output: (id, n_lines, n_kept, kept, text) — ``text`` is
    the kept lines rejoined (NULL when the page drops).

    Entirely map-side array HOFs (split -> filter -> array_join): the
    text never shuffles and no Python runs — unlike the DF-based
    paragraph ops (corpus-wide aggregation), C4's rules are per-page,
    so the scale cost is one projection. Trailing whitespace before
    the terminal mark is tolerated ([.!?"]\\s*$), matching both
    engines' regex semantics."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    words = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(ln, r"\s+"), lambda w: w != "")
    )
    keep_line = lambda ln: ln.rlike('[.!?"]\\s*$') & (  # noqa: E731
        words(ln) >= min_words_per_line
    )
    kept_lines = F.filter(lines, keep_line)
    n_kept = F.size(kept_lines)
    page_ok = (
        (n_kept >= min_lines)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    return df.select(
        F.col(id_col),
        F.coalesce(F.size(lines), F.lit(0)).alias("n_lines"),
        F.coalesce(n_kept, F.lit(0)).alias("n_kept"),
        F.coalesce(page_ok, F.lit(False)).alias("kept"),
        F.when(page_ok, F.array_join(kept_lines, "\n")).alias(text_col),
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (incremental corpus accounting)
# ---------------------------------------------------------------------------


def distinct_sketches(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group mergeable HLL sketches of ``value_col`` (Apache
    DataSketches binary via Spark's built-in `hll_sketch_agg`) plus the
    exact NON-NULL value count (`n_rows` — same null semantics as the
    sketch itself, which also skips NULLs; count rows separately if
    NULL values must be ledgered). The crawl-accounting primitive: persist
    one sketch row per (crawl day, stratum) and answer "distinct urls
    this month/against all history" by UNIONING sketches
    (`merge_sketches`) — never by re-scanning raw data. Register-wise
    max makes union-of-sketches identical to sketch-of-union at equal
    lg_k (pytest-asserted), so daily sketches compose associatively
    across any partitioning of history; ~2^lg_k bytes each, standard
    error ~1.04/sqrt(2^lg_k) (~1.6% at the default). One partial-agg
    shuffle of sketch registers, never of values."""
    keys = [F.col(k) for k in (key_cols or [])]
    out = df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value_col).cast("string"), F.lit(int(lg_k))).alias(
            "sketch"
        ),
        F.count(value_col).alias("n_rows"),
    )
    return out


def merge_sketches(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Union sketch rows (register-wise max) per ``key_cols`` —
    `n_rows` sums exactly alongside. Merging is O(sketch bytes), not
    O(history)."""
    keys = [F.col(k) for k in (key_cols or [])]
    return df.groupBy(*keys).agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )


def estimate_distinct(df: DataFrame) -> DataFrame:
    """Materialize the long estimate next to each sketch row."""
    return df.withColumn("distinct_est", F.hll_sketch_estimate("sketch"))


# ---------------------------------------------------------------------------
# Unigram LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

# ASCII alnum tokenization — the subset java.util.regex and RE2
# (DuckDB oracle) split identically.
LM_TOKEN_SPLIT = "[^a-z0-9]+"


def lm_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token) stream: lowercased ASCII-alnum tokens, empties
    dropped. Pure JVM split + explode — no Python."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), LM_TOKEN_SPLIT), lambda t: t != ""
    )
    return df.select(F.col(id_col), F.explode(toks).alias("token"))


def unigram_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus unigram model: (token, n). One shuffle with map-side
    partial aggregation — each executor emits at most one row per
    distinct token per partition, so the exchange carries vocabulary,
    not the token stream (Zipf: vocab grows ~sublinearly in corpus
    size; at 100 TB the shuffled bytes are MBs per partition)."""
    return lm_tokens(df, text_col, id_col).groupBy("token").agg(
        F.count("*").alias("n")
    )


def lm_doc_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_v: int | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document unigram negative-log-likelihood — the public
    CCNet/Gopher-style "perplexity under a reference LM" quality
    filter, with the corpus itself as the LM (swap `counts` for a
    counts table trained on a held-out reference corpus, e.g.
    Wikipedia, to reproduce CCNet exactly).

    Model: add-one smoothing over the FULL corpus vocabulary —
    p(tok) = (c_tok + 1) / (N + V + 1) with N = total corpus tokens,
    V = distinct corpus tokens; any token outside the scoring vocab
    (possible when `top_v` caps it, or scoring unseen docs) falls out
    of the same formula as c = 0, i.e. the unseen-token probability
    1 / (N + V + 1).

    Output: (id_col, n_tok bigint, nll_avg double) — nll_avg = mean
    -ln p over the doc's tokens, ROUNDed to 6 (cross-engine float
    hashing), NULL for token-less docs. High nll_avg = far from the
    reference distribution (gibberish / boilerplate / wrong language);
    the standard keep rule is a percentile band, composable with
    `quality_metrics`.

    Scale shape: token-count agg shuffles vocabulary only (see
    unigram_counts); N/V is a 1-row broadcast (no driver collect);
    the token->count join is BROADCAST when `top_v` is set (the 100 TB
    path: top_v ~ 1M rows ≈ 30 MB, eliminating both the join shuffle
    and hot-token skew — 'the' alone is ~5% of English tokens), else a
    shuffle join left to AQE's skew handling (fine at test SFs, not
    the cluster default). Final per-doc agg is one partial-agg shuffle
    on id_col.
    """
    if counts is not None and not {"token", "n"}.issubset(counts.columns):
        raise ValueError(
            f"counts must have (token, n) columns, got {counts.columns}"
        )
    full = counts if counts is not None else unigram_counts(df, text_col, id_col)
    # N and V always come from the FULL model, not the capped vocab —
    # capping changes which tokens are "known", never the denominator.
    tot = full.agg(
        F.sum("n").cast("double").alias("_lm_n"),
        F.count("*").cast("double").alias("_lm_v"),
    )
    vocab = full
    if top_v is not None:
        if top_v < 1:
            raise ValueError(f"top_v must be >= 1, got {top_v}")
        vocab = F.broadcast(
            full.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_v)
        )
    toks = lm_tokens(df, text_col, id_col)
    denom = F.col("_lm_n") + F.col("_lm_v") + F.lit(1.0)
    nll = -F.log((F.coalesce(F.col("n"), F.lit(0)) + F.lit(1.0)) / denom)
    scored = (
        toks.join(vocab, "token", "left")
        .join(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.avg(nll), 6).alias("nll_avg"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tok"),
            "nll_avg",
        )
    )


def lm_perplexity_buckets(
    scores: DataFrame,
    score_col: str = "nll_avg",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    rel_err: float = 0.001,
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket documents by corpus
    percentile of their LM score (low nll = close to the reference
    distribution = 'head'). CCNet trains on head+middle and drops or
    down-weights tail; the bucket column makes that a plain filter.

    `scores` is lm_doc_scores output (or anything with score_col).
    Thresholds come from ONE approx-percentile aggregate
    (`percentile_approx`, a single partial-agg pass — never a global
    sort) broadcast back as a 1-row join; rel_err trades threshold
    precision for sketch size (both engine-side only — bucketing is a
    banding heuristic, CCNet itself uses sampled thresholds).

    NULL scores (token-less docs) bucket as 'tail' — an empty doc is
    maximally uninformative, and CASE WHEN NULL would otherwise leak a
    NULL bucket into downstream group-bys.

    Scale: one partial-agg exchange for the sketch + one broadcast;
    the labeling itself is map-only.
    """
    lo, hi = cuts
    if not (0.0 < lo < hi < 1.0):
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")
    acc = max(2, int(1.0 / rel_err))
    thr = scores.agg(
        F.percentile_approx(score_col, F.lit(lo), F.lit(acc)).alias("_lm_lo"),
        F.percentile_approx(score_col, F.lit(hi), F.lit(acc)).alias("_lm_hi"),
    )
    s = F.col(score_col)
    bucket = (
        F.when(s.isNull(), F.lit("tail"))
        .when(s <= F.col("_lm_lo"), F.lit("head"))
        .when(s <= F.col("_lm_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scores.join(F.broadcast(thr))
        .withColumn("lm_bucket", bucket)
        .drop("_lm_lo", "_lm_hi")
    )
