"""Streaming corpus admission (round 10): the training-data cleaning
pipeline run INCREMENTALLY. Documents arrive as a stream; every
micro-batch is language/quality-gated, PII-scrubbed, and admitted
through streaming exact dedup (first arrival wins on the content
digest), so the curated corpus grows append-only and re-processing a
feed can never re-admit content already accepted.

This is the document-side sibling of the event ingest chain
(streaming/dedup.py + fold.py): same file-replay test harness (a
replay runs ``sizing.drain(corpus_admission_stream(...), chunk_dir,
"append")``; each admitted document emits once, at first arrival), same
dropDuplicates state shape (one row per distinct digest — the
watermark-bounded variant in dedup.dedup_stream_within_watermark is
the unbounded-firehose form), and the same batch-equivalence testing
discipline (tests/test_streaming.py).

Scale notes: every stage before the dedup is a stateless per-row
projection (the column forms of quality/langid/token-count —
equivalence-pinned to the batch aggregation forms by
tests/test_pipeline_ops.test_score_documents_matches_column_forms —
plus functions/text.scrub_pii), so the only streaming state is the
digest store. Admission throughput is the dedup exchange; the
projections pipeline into the file scan. MEASURED batch-size scaling
(round 11, tools/corpus_throughput_probe.py, solo warm, 8-file
chunks): 1,250 / 5,000 / 20,000-doc micro-batches -> 1,030 / 2,966 /
4,684 docs/s — overhead amortizes with batch size as the plan shape
predicts, and input-file parallelism (a source property) is worth ~4x
over single-file micro-batches because the projection front runs on
the scan's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

#: quality floor for ADMISSION — deliberately looser than the batch
#: curation pipeline's CLEAN_MIN_QUALITY = 0.6 (plans/pipeline_queries):
#: admission rejects what no downstream step could rescue; curation
#: applies the stricter editorial floor after dedup/decontamination.
ADMIT_MIN_QUALITY = 0.35


def _gate_and_scrub(
    docs: DataFrame,
    carry: tuple[str, ...] = (),
    patterns: tuple[tuple[str, str, str], ...] = T.PII_PATTERNS,
    scrub_cards_first: bool = False,
    nll_model: tuple[dict, dict, int] | None = None,
    max_unit_nll: float | None = None,
) -> DataFrame:
    """The stateless front of the admission chain: language-consistency
    gate (predicted == labeled) + quality floor, then PII redaction,
    with the content digest attached for the dedup stage downstream.
    The digest is md5 of the REDACTED text, so two documents that
    differ only in their PII collapse to one admission — the curated
    corpus never keeps both copies of otherwise-identical content just
    because the PII varies (and the PII itself never enters dedup
    state). `carry` names extra input columns (e.g. the ingest
    timestamp) to thread through.

    `nll_model` + `max_unit_nll` add a perplexity gate (round 12, the
    CCNet deployment shape): documents score against the TRAINED
    add-one bigram model (plans.pipeline_queries.ngram_model trains
    it; functions.text.ngram_nll_scorer is bit-compatible with the
    batch tx_ngram_nll operator) inside the same stateless projection
    front — the model rides the UDF closure, so the gate adds ZERO
    streaming state — and only documents with per-bigram NLL
    <= max_unit_nll admit (cross-multiplied, no division; n_bigrams=0
    docs pass, the batch operator's convention). The nll rides the
    output for downstream lineage.

    Cost, MEASURED in rounds 13 and 15 (20k replicated sf0.1 docs,
    batch mode, warm, local[32]): no gate 11,180 docs/s, UDF gate 10,601 — within 5% of
    ungated, because the scorer runs on gate survivors only (37.68%
    admission) and exactly once per survivor (the two plan rules
    below). The model rides the task closure to every Python worker, so
    cost grows with model size: at 10^5 bigrams the UDF held 7,390
    docs/s, at 10^6 it fell to 769. A JVM join form (explode bigrams ->
    broadcast model join -> per-doc re-group) was measured against it
    at 5,175 / 4,702 / 2,082 docs/s for the corpus model / 10^5 / 10^6
    bigrams and has since been deleted: it won only past a crossover
    between 10^5 and 10^6 model bigrams, a size no caller trains, and
    on a stream it moved emission to watermark release. A model of that size is the point to bring a
    second scorer back (full table in BASELINE.md round 15).

    The scorer projects in a SECOND select AFTER the lang/quality
    filter (ADVICE r12 low #3): Spark extracts Python UDFs into an
    ArrowEvalPython node evaluated before any filter sharing its
    select, so scoring in the gate projection paid the dominant
    per-doc Python cost for documents the cheap JVM gate rejects.
    Filter first, then score survivors only.

    `scrub_cards_first` applies the Luhn card scrub BEFORE the PII
    table, per micro-batch — the pinned composition order (round 11,
    test_scrub_cards_must_run_before_scrub_pii: PII-first lets the
    greedy intl_phone pattern split a following card run and leave its
    tail in clear text). The digest is then md5 of the cards+PII
    redaction, so copies that differ only in a card number collapse to
    one admission, and card digits never enter dedup state; the output
    gains (n_card_candidates, n_cards) and the PII detection counts
    are taken on the card-redacted text ([CARD] has no digits, so no
    PII pattern can see into a redacted card — same reasoning as the
    batch contract)."""
    t = F.col("text")
    gated = docs.select(
        "doc_id",
        "lang",
        "text",
        *carry,
        T.token_count(t).cast("long").alias("n_tokens"),
        # quality_score already rounds to 6
        T.quality_score(t).alias("quality"),
        T.predict_lang(t).alias("pred_lang"),
    ).filter(
        (F.col("pred_lang") == F.col("lang"))
        & (F.col("quality") >= ADMIT_MIN_QUALITY)
    )
    out_nll_cols = []
    if nll_model is not None:
        # second select AFTER the filter: the ArrowEvalPython node the
        # scorer extracts into now sits above the JVM gate, so only
        # survivors pay the per-doc Python cost (ADVICE r12 low #3).
        # Both struct fields extract in this SAME projection and the
        # NLL filter references the resulting plain attributes — the
        # r12 form referenced the UDF struct from the filter AND the
        # output projection, and ExtractPythonUDFs planted one
        # ArrowEvalPython per referencing node, scoring every
        # SURVIVOR twice (found by plan audit this round; the plan
        # now carries exactly one ArrowEvalPython, pinned in
        # test_nll_udf_scores_survivors_once_after_gate)
        # asNondeterministic is a PLANNING pin, not a semantic claim
        # (the scorer is bit-deterministic, see its docstring): it
        # stops CollapseProject cloning the UDF expression through the
        # NLL filter into the output projection — without it the
        # optimizer plants a second ArrowEvalPython and every survivor
        # scores twice (observed in the executed plan this round)
        scorer = T.ngram_nll_scorer(*nll_model).asNondeterministic()
        scored = gated.select(
            "*", scorer(t).alias("_nll")
        ).select(
            *gated.columns,
            F.col("_nll.nll").alias("nll"),
            F.col("_nll.n_bigrams").alias("_nb"),
        )
        if max_unit_nll is not None:
            scored = scored.filter(
                F.col("nll") <= F.col("_nb").cast("double") * max_unit_nll
            )
        gated = scored.drop("_nb")
        out_nll_cols = ["nll"]
    card_cols = []
    scrub_input = F.col("text")
    if scrub_cards_first:
        carded, n_candidates, n_valid = T.scrub_cards(F.col("text"))
        scrub_input = carded
        card_cols = [
            n_candidates.cast("int").alias("n_card_candidates"),
            n_valid.cast("int").alias("n_cards"),
        ]
    redacted, counts = T.scrub_pii(scrub_input, patterns)
    return gated.select(
        "doc_id",
        "lang",
        *carry,
        "n_tokens",
        "quality",
        *out_nll_cols,
        F.md5(redacted).alias("digest"),
        *card_cols,
        *(counts[kind].cast("int").alias(f"n_{kind}")
          for kind, _, _ in patterns),
        redacted.alias("redacted"),
    )


def corpus_admission_stream(
    docs: DataFrame,
    patterns: tuple[tuple[str, str, str], ...] = T.PII_PATTERNS,
    scrub_cards_first: bool = False,
    nll_model: tuple[dict, dict, int] | None = None,
    max_unit_nll: float | None = None,
) -> DataFrame:
    """Compose the cleaning pipeline over a (possibly streaming)
    documents relation: language-consistency gate (predicted == labeled)
    + quality floor, then PII redaction, then first-arrival-wins exact
    dedup on the REDACTED text's digest (two documents that differ only
    in their PII dedup to one admission; pytest-pinned). Output:
    (doc_id, lang, n_tokens, quality, n_email, n_phone, n_ip,
    redacted); with `nll_model` an `nll` column rides after quality,
    and with `scrub_cards_first` (n_card_candidates, n_cards) precede
    the pattern counts.

    Works identically on a batch DataFrame (dropDuplicates collapses
    within the relation) and a streaming one (state persists across
    micro-batches) — the stream-equals-its-own-batch-form equivalence
    is pytest-pinned on a chunked replay with injected cross-batch
    duplicate content. State grows one row per distinct admitted digest
    FOREVER: the unbounded-firehose deployment uses
    corpus_admission_stream_within_watermark.

    `patterns` selects the PII table (default: the pinned three-pattern
    contract; pass functions.text.PII_PATTERNS_EXTENDED for the widened
    production set — the output then carries one n_{kind} column per
    extended pattern, and the dedup digest is taken over the
    extended-redacted text). `scrub_cards_first` prepends the Luhn card
    scrub in the pinned cards-before-PII order; the digest then covers
    the cards+PII redaction, so card-differing copies dedup away
    (replay-pinned in
    test_corpus_admission_cards_first_dedups_card_variants).

    `nll_model` + `max_unit_nll` add the perplexity gate of
    _gate_and_scrub: a stateless Arrow-batched scorer with the model in
    its closure, so the chain's only state stays the digest store."""
    s = _gate_and_scrub(
        docs, patterns=patterns, scrub_cards_first=scrub_cards_first,
        nll_model=nll_model, max_unit_nll=max_unit_nll,
    )
    return s.dropDuplicates(["digest"]).drop("digest")


def corpus_admission_stream_within_watermark(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    horizon: str = "10 minutes",
    patterns: tuple[tuple[str, str, str], ...] = T.PII_PATTERNS,
    scrub_cards_first: bool = False,
    nll_model: tuple[dict, dict, int] | None = None,
    max_unit_nll: float | None = None,
    neardup: bool = False,
) -> DataFrame:
    """Bounded-state admission for an unbounded document firehose: the
    same gate -> scrub front, with the digest dedup bounded by an
    ingest-time watermark — state for digests older than `horizon` is
    reclaimed by the engine, so a copy of content whose original
    expired IS re-admitted (the explicit freshness trade every
    watermarked dedup makes; the test pins both directions: a live
    digest drops its copy, an expired one re-admits). The ingest
    timestamp rides through the output for downstream lineage.

    `neardup=True` inserts the MinHash/LSH NEAR-duplicate admission
    (streaming/dedup.neardup_admission_within_watermark) between the
    stateless front and the digest dedup, over the REDACTED text —
    the digest rationale extended to near-dups: copies differing only
    in scrubbed PII/cards band identically and collapse. The full
    chain is then THREE engine-native stateful operators sharing one
    event-time watermark (band-bucket dedup -> per-doc re-group ->
    digest dedup, replay-pinned in
    test_corpus_admission_neardup_chain): near-dups of admitted
    content are blocked by the band stage; exact dups of SHORT docs
    (no shingles — they pass the band stage unchecked via per-doc
    sentinel buckets) and same-batch band-split residue still collapse
    at the digest stage, with a cohort-arbitrary representative (the
    batch-dedup caveat — the test asserts collapse, never identity).
    Output gains (n_fresh_bands, neardup_checked) after `redacted`;
    every row inherits the append-mode emission latency (a doc emits
    once the watermark passes its ingest_ts).

    `nll_model` + `max_unit_nll` add the same stateless perplexity
    gate as corpus_admission_stream, scored in the front before the
    watermark, so it adds no state and no emission latency of its own."""
    s = _gate_and_scrub(
        docs, carry=(ts_col,), patterns=patterns,
        scrub_cards_first=scrub_cards_first,
        nll_model=nll_model, max_unit_nll=max_unit_nll,
    )
    s = s.withWatermark(ts_col, horizon)
    if neardup:
        from .dedup import neardup_admission_within_watermark

        s = neardup_admission_within_watermark(
            s, ts_col=ts_col, horizon=horizon, text_col="redacted",
            already_watermarked=True,
        )
    return (
        s.dropDuplicatesWithinWatermark(["digest"])
        .drop("digest")
    )
