"""User-facing engine facade — the reference's RetrievalAugmentation
surface (/root/reference/raptor/RetrievalAugmentation.py: add_documents
:195-211, retrieve :213-299, retrieve_batch :301-335, save :337-342,
load-from-path :166-180, answer_question via QA model) re-expressed
DataFrame-native. A reference user switches by swapping:

    RA = RetrievalAugmentation(); RA.add_documents(text)
    RA.retrieve(question, top_k=5, collapse_tree=True)

for:

    eng = RaptorEngine(spark, checkpoint_base=path)
    eng.add_documents(docs_df_or_text)
    eng.retrieve(["question", ...], top_k=5, collapse_tree=True)

Batch is the native shape (queries are rows); a single string is the
degenerate 1-row case. ``save`` is implicit: every tree level is
already checkpointed; a new RaptorEngine over the same base resumes
(reference pickle save/load ≡ checkpoint dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from raptor_rag_spark.functions.localtab import local_df
from raptor_rag_spark.operators.knn import BROADCAST_MAX_QUERIES
from raptor_rag_spark.operators.tree import build_tree, last_complete_level, leaves_from_docs
from raptor_rag_spark.operators.retrieve import (
    embed_queries,
    embed_query_texts,
    retrieve_collapsed,
    retrieve_traversal,
)


class RaptorEngine:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_base: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
        embed_dim: int | None = None,
        start_resolution: int = 4,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.base = checkpoint_base
        self.dim = embed_dim or cfg.embedding_dim
        self.start_resolution = start_resolution
        self.nodes: DataFrame | None = None
        if last_complete_level(checkpoint_base) >= 0:
            self._load()

    # ---------------------------------------------------------- build

    def add_documents(self, docs, text_col: str = "text", id_col: str = "doc_id") -> None:
        """docs: a DataFrame(doc_id, text) or a single string (the
        reference's whole-corpus-as-one-string shape). Rebuilding over
        an existing checkpoint resumes from the last complete level
        (reference add_documents overwrites after a prompt; the engine
        is resumable instead)."""
        if isinstance(docs, str):
            docs = local_df(self.spark, [(0, docs)], f"{id_col} long, {text_col} string")
        self._set_nodes(build_tree(
            self.spark,
            leaves_from_docs(docs, self.cfg, self.dim, id_col=id_col, text_col=text_col),
            self.base,
            self.cfg,
            start_resolution=self.start_resolution,
            embed_dim=self.dim,
        ))

    def append_documents(
        self,
        docs,
        text_col: str = "text",
        id_col: str = "doc_id",
        deferred: bool = False,
        min_pending_per_cell: int = 4,
        min_pending_frac: float = 0.1,
    ) -> None:
        """Incremental ingest: append new documents to an EXISTING tree
        and re-run only the affected cells of each level (SURVEY §2.10;
        streaming/incremental.py:incremental_update — result equals a
        from-scratch build over the merged corpus, pytest-asserted).
        doc_ids must not collide with already-ingested ones; chunk ids
        use the full-width hash scheme so any 64-bit doc_id is safe.
        A plain-string append derives its doc_id from the TEXT CONTENT
        (xxhash64) — a fixed id would make chunk_id = f(0, chunk_idx)
        collide across different appended strings, silently corrupting
        level 0 with duplicate node_ids.

        ``deferred=True`` routes through the append planner
        (incremental_update_planned): leaves land immediately, but a
        base cell's parents recompute only once its pending share
        crosses the debt threshold — the amortized ingest path for
        scattered daily crawl batches (recompute fraction ~0.15 vs
        0.62 eager at a uniform 1%/day drip). Call flush_appends() to
        force exactness before an evaluation/export."""
        from raptor_rag_spark.streaming.incremental import (
            incremental_update,
            incremental_update_planned,
        )

        if self.nodes is None:
            raise ValueError("no tree built — call add_documents first; "
                             "append_documents only updates an existing tree")
        if isinstance(docs, str):
            docs = local_df(
                self.spark, [(docs,)], f"{text_col} string"
            ).select(F.xxhash64(F.col(text_col)).alias(id_col), text_col)
        leaves = leaves_from_docs(
            docs, self.cfg, self.dim, id_col=id_col, text_col=text_col, id_scheme="hash"
        )
        if deferred:
            self._set_nodes(incremental_update_planned(
                self.spark, self.base, leaves, self.cfg, embed_dim=self.dim,
                min_pending_per_cell=min_pending_per_cell,
                min_pending_frac=min_pending_frac,
            ))
        else:
            # on a tree that has ever deferred, incremental_update
            # itself settles the pending ledger (routes through the
            # planner with force_flush) — the invariant lives in the
            # streaming module, not at call sites
            self._set_nodes(incremental_update(
                self.spark, self.base, leaves, self.cfg, embed_dim=self.dim
            ))

    def flush_appends(self) -> None:
        """Force-flush every deferred append (see append_documents
        ``deferred=True``): recompute all pending cells' parents so the
        tree equals a from-scratch build over the merged corpus."""
        from raptor_rag_spark.streaming.incremental import (
            incremental_update_planned,
        )

        if self.nodes is None:
            raise ValueError("no tree built")
        self._set_nodes(incremental_update_planned(
            self.spark, self.base, None, self.cfg, embed_dim=self.dim,
            force_flush=True,
        ))

    def _load(self) -> None:
        self._set_nodes(build_tree(
            self.spark,
            None,
            self.base,
            self.cfg,
            start_resolution=self.start_resolution,
            embed_dim=self.dim,
        ))

    def _set_nodes(self, nodes: DataFrame) -> None:
        """Cache ``nodes`` as the engine's node table. Every build,
        append, flush and reload makes a new table: the one it replaces
        is unpersisted (non-blocking) instead of staying cached."""
        if self.nodes is not None:
            self.nodes.unpersist(blocking=False)
        self.nodes = nodes.cache()

    # -------------------------------------------------------- retrieve

    def _query_df(self, questions) -> DataFrame:
        """Embedded questions. A str/list is embedded on the driver
        (embed_query_texts: the same functions, no Python task); a
        DataFrame stays distributed."""
        if isinstance(questions, str):
            questions = [questions]
        if isinstance(questions, list):
            return embed_query_texts(self.spark, questions, self.dim, seed=self.cfg.seed)
        return embed_queries(questions, dim=self.dim, seed=self.cfg.seed)

    def retrieve(
        self,
        questions,
        top_k: int | None = None,
        max_tokens: int | None = None,
        collapse_tree: bool = True,
        method: str = "brute",
        return_layer_information: bool = False,
        allowed: DataFrame | None = None,
    ):
        """str/list questions -> {query_id: context_string} (+ selected-
        node rows when return_layer_information, mirroring the reference
        flag). A DataFrame of questions -> the contexts DataFrame
        (query_id, context), NOT collected: a 10^6-query batch stays
        distributed end-to-end — write it to a table, don't dict it.

        ``allowed``: node_id allowlist for filtered retrieval (collapsed
        mode) — see retrieve_collapsed."""
        if self.nodes is None:
            raise ValueError("no tree built — call add_documents first "
                             "(reference raises the same way, RetrievalAugmentation.py:254)")
        as_dataframe = isinstance(questions, DataFrame)
        q = self._query_df(questions)
        if collapse_tree:
            # a str/list batch has a known size: no strategy count() job
            small = not as_dataframe and (
                isinstance(questions, str) or len(questions) <= BROADCAST_MAX_QUERIES
            )
            scoring = "broadcast" if small else "auto"
            sel, ctx = retrieve_collapsed(
                q, self.nodes, self.cfg, method=method, k=top_k,
                max_tokens=max_tokens, scoring=scoring, allowed=allowed,
            )
        else:
            if allowed is not None:
                raise ValueError(
                    "allowed= filtering applies to collapsed retrieval; "
                    "traversal descends the full tree by construction"
                )
            sel, ctx = retrieve_traversal(
                q, self.nodes, self.cfg, k=top_k, start_layer=last_complete_level(self.base)
            )
        if as_dataframe:
            return (ctx, sel) if return_layer_information else ctx
        contexts = {r["query_id"]: r["context"] for r in ctx.collect()}
        if return_layer_information:
            return contexts, sel
        return contexts

    def answer_question(self, question: str, qa_fn=None, **kw) -> str:
        """Reference answer_question with the QA model pluggable (the
        deterministic default returns the leading context sentences —
        no LLM in this environment)."""
        ctx = self.retrieve(question, **kw)[0]
        if qa_fn is not None:
            return qa_fn(ctx, question)
        return " ".join(ctx.split("\n\n")[0].split(". ")[:2])

    # ------------------------------------------- pipeline utilities

    def dedup_documents(self, docs: DataFrame, method: str = "exact", **kw) -> DataFrame:
        """Training-data dedup over a documents DataFrame — one entry
        point for every engine dedup strategy. ``method``:

        - 'exact'     -> surviving rows (hash-keyed normalized text)
        - 'ngram'     -> near-dup PAIRS by word-n-gram Jaccard
        - 'minhash'   -> LSH candidate pairs, exact-Jaccard verified
        - 'simhash'   -> hamming-ball pairs (block pigeonhole)
        - 'embedding' -> exact cosine pairs (blocked all-pairs)
        """
        from raptor_rag_spark.operators import dedup as D

        fns = {
            "exact": D.exact_dedup,
            "ngram": D.ngram_jaccard_pairs,
            "minhash": D.minhash_dedup_pairs,
            "simhash": D.simhash_pairs,
            "embedding": D.embedding_neardup_pairs,
        }
        if method not in fns:
            raise ValueError(f"unknown dedup method {method!r} (have {sorted(fns)})")
        return fns[method](docs, **kw)

    def cluster_duplicates(
        self,
        docs: DataFrame,
        pairs: DataFrame | None = None,
        method: str = "simhash",
        id_col: str = "doc_id",
        **kw,
    ) -> DataFrame:
        """The complete dedup story: near-dup PAIRS -> distributed
        connected components -> (doc_id, cluster_id, keep), where
        ``keep`` marks the cluster's canonical (min-id) survivor.

        ``pairs`` defaults to ``dedup_documents(docs, method, **kw)``
        (any pair method: 'ngram' / 'minhash' / 'simhash' /
        'embedding'); pass a precomputed (id_a, id_b, ...) DataFrame to
        reuse candidates. Clustering is alternating large-star/
        small-star (operators/graph.py) — O(log n) rounds regardless of
        chain length, so transitive near-dup chains (A~B~C~...) don't
        serialize the driver at corpus scale."""
        from raptor_rag_spark.operators.graph import connected_components

        if pairs is None:
            if method == "exact":
                raise ValueError(
                    "method='exact' already returns survivors — use "
                    "dedup_documents(docs, 'exact'); cluster_duplicates is "
                    "for pair-producing methods"
                )
            pairs = self.dedup_documents(docs, method=method, **kw)
        labels = connected_components(
            pairs.select("id_a", "id_b"),
            vertices=docs.select(id_col),
            src="id_a",
            dst="id_b",
            id_col=id_col,
        )
        return labels.withColumn("keep", F.col("cluster_id") == F.col(id_col))

    def ann_index(self, nodes: DataFrame | None = None, **kw):
        """Multi-projection adaptive-quadtree ANN index over the built
        tree's nodes (or any (node_id, embedding) DataFrame)."""
        from raptor_rag_spark.operators.similarity import TileAnnIndex

        src = nodes if nodes is not None else self.nodes
        if src is None:
            raise ValueError("no tree built and no nodes given")
        return TileAnnIndex(src.select("node_id", "embedding"), dim=self.dim, **kw)

    def ivf_index(self, nodes: DataFrame | None = None, **kw):
        """IVF (k-means coarse-quantizer) ANN index over the built
        tree's nodes (or any (node_id, embedding) DataFrame) — the
        inverted-list twin of ann_index(); see operators/ivf.py."""
        from raptor_rag_spark.operators.ivf import IvfIndex

        src = nodes if nodes is not None else self.nodes
        if src is None:
            raise ValueError("no tree built and no nodes given")
        return IvfIndex(src.select("node_id", "embedding"), dim=self.dim, **kw)

    def sample_documents(
        self,
        docs: DataFrame,
        rates_pct: dict[str, int] | None = None,
        default_pct: int = 20,
        stratum_col: str = "lang",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Deterministic stratified hash sample (per-stratum percentages)
        — reproducible across runs, engines, and re-partitionings; see
        textstats.stratified_hash_sample."""
        from raptor_rag_spark.operators.textstats import stratified_hash_sample

        return stratified_hash_sample(
            docs, id_col=id_col, stratum_col=stratum_col,
            rates_pct=rates_pct, default_pct=default_pct,
        )

    def sample_mixture(
        self,
        docs: DataFrame,
        rates_pct: dict[str, int] | None = None,
        default_pct: int = 100,
        stratum_col: str = "lang",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Weighted dataset-mixture sampling with deterministic
        up-sampling epochs (rates > 100% repeat rows with an `epoch`
        column) — see textstats.sample_mixture."""
        from raptor_rag_spark.operators.textstats import sample_mixture

        return sample_mixture(
            docs, rates_pct=rates_pct, default_pct=default_pct,
            stratum_col=stratum_col, id_col=id_col,
        )

    def distinct_sketches(
        self, docs: DataFrame, value_col: str = "doc_id", **kw
    ) -> DataFrame:
        """Mergeable HLL distinct-count sketches (per crawl day /
        stratum; union with textstats.merge_sketches, read with
        estimate_distinct) — incremental corpus accounting without
        re-scanning history."""
        from raptor_rag_spark.operators.textstats import distinct_sketches

        return distinct_sketches(docs, value_col, **kw)

    def select_to_token_budget(self, scored: DataFrame, budget: int, **kw) -> DataFrame:
        """Exact best-docs-first selection under a global token budget
        (two-phase distributed prefix sum) — see
        textstats.select_to_token_budget."""
        from raptor_rag_spark.operators.textstats import select_to_token_budget

        return select_to_token_budget(scored, budget, **kw)

    def decontaminate(
        self, docs: DataFrame, benchmark: DataFrame, n: int = 8,
        threshold: float = 0.5, **kw,
    ) -> DataFrame:
        """Flag training docs overlapping a benchmark/eval set by word
        n-grams (train/test decontamination) — see dedup.decontaminate
        for the broadcast-benchmark scale shape."""
        from raptor_rag_spark.operators.dedup import decontaminate

        return decontaminate(docs, benchmark, n=n, threshold=threshold, **kw)

    def quality_signals(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """Per-doc quality features: the length/ratio heuristics
        (textstats.quality_metrics) plus the Gopher repetition signals
        (textstats.repetition_metrics) — the standard web-text filter
        inputs, computed in ONE scan/projection (the repetition kernel
        rides along as an extra column of the quality select; no second
        pass over the corpus, no join)."""
        from raptor_rag_spark.operators.textstats import (
            REPETITION_FRAC_COLS,
            make_repetition_udf,
            quality_metrics,
        )

        rep = make_repetition_udf()
        m = quality_metrics(
            docs, text_col=text_col, id_col=id_col,
            extra=[rep(F.col(text_col)).alias("_m")],
        )
        m = m.select("*", "_m.*").drop("_m")
        for c in REPETITION_FRAC_COLS:
            m = m.withColumn(c, F.round(F.col(c), 6))
        return m

    def scrub_pii(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Redact emails / IPv4s / phone numbers and add per-kind
        counts (operators/pii.py) — pure JVM regexp, map-only, runs at
        scan speed; the standard pre-training PII scrub."""
        from raptor_rag_spark.operators.pii import scrub_pii

        return scrub_pii(docs, text_col=text_col)

    def lm_quality_scores(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        top_v: int | None = None,
        counts: DataFrame | None = None,
    ) -> DataFrame:
        """CCNet-style unigram-LM negative-log-likelihood per doc
        (textstats.lm_doc_scores): high = far from the reference
        distribution. Pass `counts` trained on a held-out reference
        corpus to reproduce CCNet exactly; set `top_v` on large
        corpora for the broadcast-vocab scale path."""
        from raptor_rag_spark.operators.textstats import lm_doc_scores

        return lm_doc_scores(
            docs, text_col=text_col, id_col=id_col, top_v=top_v, counts=counts
        )

    def lm_perplexity_buckets(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
        **kw,
    ) -> DataFrame:
        """Score docs with the unigram LM and label each with CCNet's
        head/middle/tail corpus-percentile bucket (`lm_bucket`) — the
        standard 'train on head+middle' web-corpus filter becomes
        `filter(lm_bucket != 'tail')`."""
        from raptor_rag_spark.operators.textstats import (
            lm_doc_scores,
            lm_perplexity_buckets,
        )

        scores = lm_doc_scores(docs, text_col=text_col, id_col=id_col, **kw)
        return lm_perplexity_buckets(scores, cuts=cuts)

    def dedup_paragraphs(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", **kw
    ) -> DataFrame:
        """C4-style corpus-wide exact line dedup: every non-blank line
        kept only at its first (id, line_idx) occurrence — see
        dedup.dedup_paragraphs for the three-partial-agg scale shape."""
        from raptor_rag_spark.operators.dedup import dedup_paragraphs

        return dedup_paragraphs(docs, id_col=id_col, text_col=text_col, **kw)

    def drop_boilerplate_lines(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", **kw
    ) -> DataFrame:
        """RefinedWeb/Dolma-style boilerplate removal: lines appearing
        in >= min_doc_frac of docs (or min_docs) dropped from EVERY
        doc — see dedup.drop_boilerplate_lines."""
        from raptor_rag_spark.operators.dedup import drop_boilerplate_lines

        return drop_boilerplate_lines(docs, id_col=id_col, text_col=text_col, **kw)

    def remove_duplicate_spans(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", **kw
    ) -> DataFrame:
        """ExactSubstr dedup (Lee et al. 2021): drop every token inside
        a >=k-token span occurring >= min_count times corpus-wide (all
        copies) — see dedup.remove_duplicate_spans; dedup.
        duplicate_spans returns the spans themselves."""
        from raptor_rag_spark.operators.dedup import remove_duplicate_spans

        return remove_duplicate_spans(docs, id_col=id_col, text_col=text_col, **kw)

    def build_span_store(self, docs: DataFrame, path: str, **kw):
        """Persist the corpus's span-fingerprint counts for INCREMENTAL
        ExactSubstr dedup: `store.ingest(batch)` scrubs each new crawl
        batch against everything seen so far in O(new) append +
        shuffle-free store scan (first-seen copy kept) — see
        operators/span_store.SpanFingerprintStore; reload with
        `SpanFingerprintStore.load(spark, path)`."""
        from raptor_rag_spark.operators.span_store import SpanFingerprintStore

        return SpanFingerprintStore.build(self.spark, docs, path, **kw)

    def build_minhash_store(self, docs: DataFrame, path: str, **kw):
        """Persist the corpus's minhash signatures + LSH band keys for
        INCREMENTAL fuzzy dedup: `store.ingest(batch)` drops each new
        crawl batch's near-duplicates of everything seen so far in
        O(batch) (bucketed, shuffle-free store side; est-Jaccard
        verify; first-seen copy kept) — see
        operators/minhash_store.MinHashSignatureStore; reload with
        `MinHashSignatureStore.load(spark, path)`."""
        from raptor_rag_spark.operators.minhash_store import MinHashSignatureStore

        return MinHashSignatureStore.build(self.spark, docs, path, **kw)

    def collapse_recrawls(
        self, pages: DataFrame, key_cols: list[str] | None = None,
        ts_col: str = "warc_ts", tie_cols: list[str] | None = None,
        canonicalize_urls: bool = False,
    ) -> DataFrame:
        """Keep the newest fetch per url (crawl-ingest dedup, before
        content dedup) — see dedup.keep_latest. With
        ``canonicalize_urls`` the key is the canonical URL
        (extract.canonical_url: case/port/fragment/tracking-param
        normalization), so trivially-varying fetches of one page
        collapse too; the original lands in ``raw_url``."""
        from raptor_rag_spark.operators.dedup import keep_latest

        if canonicalize_urls:
            from raptor_rag_spark.operators.extract import canonicalize_pages

            pages = canonicalize_pages(pages, url_col=(key_cols or ["url"])[0])
        return keep_latest(pages, key_cols or ["url"], ts_col, tie_cols=tie_cols)

    def prepare_training_corpus(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        url_col: str | None = None,
        ts_col: str = "warc_ts",
        scrub: bool = True,
        c4_rules: bool = False,
        boilerplate_min_doc_frac: float | None = None,
        min_quality: float | None = 0.5,
        languages: list[str] | None = None,
        drop_lm_tail: bool = False,
        dedup: str | None = "exact",
        dedup_spans_k: int | None = None,
        benchmark: DataFrame | None = None,
        decontam_n: int = 8,
        decontam_threshold: float = 0.5,
        max_per_stratum: int | None = None,
        stratum_col: str = "source",
        token_budget: int | None = None,
        mixture_rates_pct: dict[str, int] | None = None,
        mixture_default_pct: int = 100,
        mixture_stratum_col: str = "lang",
    ) -> DataFrame:
        """The full webtext training-corpus pipeline as ONE call — the
        composition a user of this engine actually runs, in the
        standard published order (CCNet / C4 / Gopher / RefinedWeb /
        Dolma practice). Every stage is an engine operator documented
        and evidenced on its own; this facade only sequences them. All
        stages except the optional LM pass (stage 6) and token-budget
        selection (stage 11) compose into a single lazy plan — those
        two run bounded jobs at CALL time (the LM trains on the corpus;
        the selection's histogram/offset collects execute the upstream
        pipeline), so set them only when the inputs are ready to scan.

        Stages (each optional via its parameter):

        1. recrawl collapse (`url_col` set): canonical-URL keep-latest.
        2. PII scrub (`scrub`): map-only redaction; downstream signals
           and dedup see the scrubbed text (placeholders are stable, so
           dedup keys are unaffected by WHERE a redaction happened).
        3. C4 rule set (`c4_rules`): terminal-punctuation + min-words
           line filter, >=3-surviving-lines / lorem-ipsum / brace page
           drops — map-only, text rebuilt in place; pages failing the
           rules drop entirely.
        3b. boilerplate strip (`boilerplate_min_doc_frac`): DF-based
           line removal, text rebuilt in place. NULL-text docs do not
           survive this stage (they produce no lines to rebuild) —
           consistent with stage 4, which scores NULL text 0.0.
        4. quality floor (`min_quality`): Gopher/C4-style score filter.
        5. language filter (`languages`).
        6. CCNet tail drop (`drop_lm_tail`): unigram-LM percentile
           buckets; drops 'tail'. The ONLY stage that trains on the
           corpus itself (two extra passes).
        7. content dedup (`dedup`): 'exact' keeps hash survivors;
           'minhash' / 'simhash' / 'ngram' cluster near-dups via
           connected components and keep each cluster's canonical doc.
        8. duplicate-span removal (`dedup_spans_k`): ExactSubstr —
           every token inside a >=k-token span occurring twice
           corpus-wide drops, text rebuilt in place (whitespace runs
           collapse — remove_duplicate_spans' stated contract); docs
           left with NO tokens (fully duplicated) drop entirely.
           RefinedWeb runs exactly this after fuzzy doc dedup.
        9. benchmark decontamination (`benchmark`): n-gram-overlap
           flagged docs anti-joined out.
        10. domain cap (`max_per_stratum`): seeded-hash rank cap per
           `stratum_col`.
        11. token-budget selection (`token_budget`): exact
           best-quality-first prefix under a global token budget —
           the select-to-compute-budget step; scores/token counts come
           from the same quality_metrics expressions as stage 4. This
           stage materializes the scored projection once (bounded
           driver collects — see select_to_token_budget).
        12. mixture sampling (`mixture_rates_pct`): weighted per-source
           up/down-sampling with an `epoch` column appended — the
           LAST stage, after every filter, so epochs multiply only
           surviving docs.

        Returns the cleaned docs DataFrame with the original columns
        (text scrubbed/rebuilt; plus `epoch` when stage 12 ran).
        Chunk/pack/export the result with pack_training_sequences /
        export_training_order.
        """
        from raptor_rag_spark.operators.textstats import (
            lang_id,
            lm_doc_scores,
            lm_perplexity_buckets,
            quality_metrics,
        )

        out = docs
        if url_col is not None:
            out = self.collapse_recrawls(
                out, key_cols=[url_col], ts_col=ts_col,
                tie_cols=[id_col], canonicalize_urls=True,
            )
        if scrub:
            out = self.scrub_pii(out, text_col=text_col).drop(
                "n_email", "n_ipv4", "n_phone", "n_pii"
            )
        if c4_rules:
            from raptor_rag_spark.operators.textstats import c4_line_filters

            rebuilt = (
                c4_line_filters(out, text_col=text_col, id_col=id_col)
                .filter("kept")
                .select(id_col, text_col)
            )
            out = out.drop(text_col).join(rebuilt, id_col)
        if boilerplate_min_doc_frac is not None:
            rebuilt = self.drop_boilerplate_lines(
                out, id_col=id_col, text_col=text_col,
                min_doc_frac=boilerplate_min_doc_frac, return_text=True,
            ).select(id_col, text_col)
            out = out.drop(text_col).join(rebuilt, id_col)
        if min_quality is not None:
            q = quality_metrics(out, text_col=text_col, id_col=id_col)
            keep = q.filter(F.col("quality_score") >= min_quality).select(id_col)
            out = out.join(keep, id_col, "left_semi")
        if languages is not None:
            out = out.filter(lang_id(F.col(text_col)).isin(list(languages)))
        if drop_lm_tail:
            scores = lm_doc_scores(out, text_col=text_col, id_col=id_col)
            keep = (
                lm_perplexity_buckets(scores)
                .filter(F.col("lm_bucket") != "tail")
                .select(id_col)
            )
            out = out.join(keep, id_col, "left_semi")
        if dedup == "exact":
            from raptor_rag_spark.operators.dedup import exact_dedup

            out = exact_dedup(out, id_col=id_col, text_col=text_col)
        elif dedup is not None:
            # pair methods take (doc_id, text) — normalize names in the
            # projection they see, join survivors back by the caller's id
            sub = out.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            labels = self.cluster_duplicates(sub, method=dedup)
            keep_ids = labels.filter("keep").select(F.col("doc_id").alias(id_col))
            out = out.join(keep_ids, id_col, "left_semi")
        if dedup_spans_k is not None:
            rebuilt = self.remove_duplicate_spans(
                out, id_col=id_col, text_col=text_col,
                k=dedup_spans_k, return_text=True,
            ).select(id_col, text_col)
            out = out.drop(text_col).join(rebuilt, id_col).filter(
                F.col(text_col).isNotNull()
            )
        if benchmark is not None:
            flagged = self.decontaminate(
                out, benchmark, n=decontam_n, threshold=decontam_threshold,
                id_col=id_col, text_col=text_col,
            ).select(F.col("doc_id").alias(id_col)).distinct()
            out = out.join(flagged, id_col, "left_anti")
        if max_per_stratum is not None:
            from raptor_rag_spark.operators.textstats import cap_per_stratum

            out = cap_per_stratum(
                out, cap=max_per_stratum, stratum_col=stratum_col, id_col=id_col
            )
        if token_budget is not None:
            from raptor_rag_spark.operators.textstats import select_to_token_budget

            scored = quality_metrics(out, text_col=text_col, id_col=id_col).select(
                id_col,
                "quality_score",
                F.coalesce(F.col("n_tokens").cast("long"), F.lit(0)).alias("n_tokens"),
            ).localCheckpoint(eager=False)
            keep = select_to_token_budget(
                scored, token_budget, id_col=id_col
            ).select(id_col)
            out = out.join(keep, id_col, "left_semi")
        if mixture_rates_pct is not None:
            from raptor_rag_spark.operators.textstats import sample_mixture

            out = sample_mixture(
                out, rates_pct=mixture_rates_pct,
                default_pct=mixture_default_pct,
                stratum_col=mixture_stratum_col, id_col=id_col,
            )
        return out

    def corpus_report(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        stratum_col: str = "lang",
        top_n: int = 10,
    ) -> dict:
        """One-pass-per-section corpus health summary — the first thing
        a data engineer runs on a new crawl drop. Returns a small dict
        (driver-side by design: every aggregate is bounded):

        - n_docs / n_null_text / total_tokens
        - exact-dup rate (normalized-hash groups)
        - distinct-content estimate (HLL sketch over the dedup key)
        - quality score percentiles (p10/p50/p90)
        - per-stratum doc counts (top ``top_n``)

        Heavy diagnostics stay in their own operators (top_terms,
        repetition_metrics, lm_doc_scores, minhash pairs) — this is the
        cheap always-run tier: ONE pass over the text (the quality
        projection carries the dedup key and null flag via the `extra`
        hook, the same trick as quality_signals) + the stratum count;
        every aggregate is bounded and empty input reports zeros."""
        from raptor_rag_spark.operators.dedup import normalized_text
        from raptor_rag_spark.operators.textstats import quality_metrics

        t = F.col(text_col)
        base = quality_metrics(
            docs, text_col=text_col, id_col=id_col,
            extra=[
                t.isNull().cast("int").alias("_isnull"),
                F.md5(normalized_text(t)).alias("_key"),
            ],
        )
        agg = base.agg(
            F.count("*").alias("n_docs"),
            F.sum("_isnull").alias("n_null_text"),
            F.sum(F.coalesce(F.col("n_tokens").cast("long"), F.lit(0))).alias(
                "total_tokens"
            ),
            F.countDistinct("_key").alias("n_distinct"),
            F.hll_sketch_estimate(F.hll_sketch_agg("_key")).alias("distinct_est"),
            F.percentile_approx("quality_score", [0.1, 0.5, 0.9]).alias("pct"),
        ).collect()[0]
        strata = (
            docs.groupBy(stratum_col)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc(stratum_col))
            .limit(top_n)
            .collect()
        )
        n_docs = agg["n_docs"]
        n_null = int(agg["n_null_text"] or 0)
        n_nonnull = n_docs - n_null
        n_distinct = int(agg["n_distinct"] or 0)
        return {
            "n_docs": n_docs,
            "n_null_text": n_null,
            "total_tokens": int(agg["total_tokens"] or 0),
            "exact_dup_rate": round(
                (n_nonnull - n_distinct) / n_nonnull, 6
            ) if n_nonnull else 0.0,
            "distinct_content_est": int(agg["distinct_est"] or 0),
            "quality_p10_p50_p90": [round(v, 6) for v in (agg["pct"] or [])],
            "strata_top": {r[stratum_col]: r["n"] for r in strata},
        }

    def pack_training_sequences(
        self, chunks: DataFrame, max_tokens: int, seed: int = 0, **kw
    ) -> DataFrame:
        """Pack chunk rows into fixed-token-budget training sequences
        (sample packing) — deterministic sharded greedy fill; see
        operators/chunk.pack_sequences."""
        from raptor_rag_spark.operators.chunk import pack_sequences

        return pack_sequences(chunks, max_tokens=max_tokens, seed=seed, **kw)

    def cap_domains(
        self, docs: DataFrame, cap: int, stratum_col: str = "source", **kw
    ) -> DataFrame:
        """Cap any one domain/source/lang at ``cap`` docs by a
        deterministic seeded-hash rank (domain balancing) — see
        textstats.cap_per_stratum."""
        from raptor_rag_spark.operators.textstats import cap_per_stratum

        return cap_per_stratum(docs, cap=cap, stratum_col=stratum_col, **kw)

    def export_training_order(
        self, docs: DataFrame, out_dir: str, seed: int,
        shards: int = 64, id_col: str = "doc_id",
    ) -> None:
        """Write docs in a deterministic pseudo-random global order
        (seeded hash permutation, one shuffle, per-shard sorted files)
        — the reproducible corpus shuffle a training run reads. See
        sources/training_export.py."""
        from raptor_rag_spark.sources.training_export import write_shuffled_export

        write_shuffled_export(docs, out_dir, seed=seed, shards=shards, id_col=id_col)

    def quantize_corpus(self, nodes: DataFrame | None = None) -> DataFrame:
        """Int8-quantize the (node_id, embedding) corpus (4x memory/
        scan for retrieval at scale) — see operators/quantize.py; score
        with quantize.brute_force_knn_quantized."""
        from raptor_rag_spark.operators.quantize import quantize_embeddings

        src = nodes if nodes is not None else self.nodes
        if src is None:
            raise ValueError("no tree built and no nodes given")
        return quantize_embeddings(src, emb_col="embedding")

    def compact(self, target_file_bytes: int | None = None) -> dict:
        """Table maintenance for this tree's checkpoint store: compact
        the append-accumulating level files (streaming / incremental
        ingest leaves one file batch per micro-batch — the classic
        small-files problem at crawl scale). Row-identical, crash-safe,
        ledger-preserving; see operators/maintenance.py. Returns
        per-level reports."""
        from raptor_rag_spark.operators.maintenance import (
            DEFAULT_TARGET_FILE_BYTES,
            compact_level,
        )

        tfb = target_file_bytes or DEFAULT_TARGET_FILE_BYTES
        reports = {}
        for layer in range(last_complete_level(self.base) + 1):
            reports[layer] = compact_level(
                self.spark, self.base, layer, target_file_bytes=tfb
            )
        if any(r.get("compacted") for r in reports.values()):
            self._load()  # re-point at the compacted files
        return reports

    def catalog(self, root: str):
        """Snapshot-table catalog (Iceberg-shaped seam) rooted at
        ``root`` — see raptor_rag_spark.sources.catalog."""
        from raptor_rag_spark.sources.catalog import get_catalog

        return get_catalog(self.spark, root)

    def materialize_node_store(
        self,
        table: str = "raptor_nodes",
        n_buckets: int = 32,
        path: str | None = None,
        nodes: DataFrame | None = None,
    ) -> DataFrame:
        """One-time bucketed write of the collapsed node table
        (bucketBy node_id) so every subsequent retrieval join and
        per-node aggregation is exchange-free on the node side; swaps
        ``self.nodes`` to the bucketed scan. See sources/bucketed.py
        for the 100 TB argument."""
        from raptor_rag_spark.sources.bucketed import write_bucketed

        src = nodes if nodes is not None else self.nodes
        if src is None:
            raise ValueError("no tree built and no nodes given")
        stored = write_bucketed(
            src, table, bucket_cols=("node_id",), n_buckets=n_buckets, path=path
        )
        if nodes is None:
            self.nodes = stored
        return stored
