"""Structured Streaming validation.

The north_rule is batch-with-checkpoints, but the rule algebra is
plan-agnostic: every rule is a Column expression, so the same rules attach
to a streaming DataFrame unchanged.  This module provides:

* :func:`attach_rules` — add verdict + violation columns to any streaming
  DataFrame (pure select, no state);
* :func:`validate_stream` — route a stream into valid / violation sinks via
  ``foreachBatch`` (each micro-batch reuses the batch engine, so violation
  output is byte-identical to the batch path);
* :func:`windowed_violation_counts` — watermarked per-window violation
  metrics (late data handled by the watermark);
* :func:`drift_report_stream` — every micro-batch scored for KS / PSI /
  chi-square drift against a fixed baseline by the batch
  ``drift_report`` (the one drift mechanism, operators/drift.py).

Scale notes: rule evaluation stays in the stream's narrow stage (no
shuffle); only the windowed metrics aggregate state, bounded by the
watermark.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from valor_spark.functions.rules import Rule
from valor_spark.plans.engine import validate


def drain_query(query, expected_input_rows: int, settle_batches: int = 1,
                timeout_s: float = 240.0) -> None:
    """Run a StreamingQuery until ``expected_input_rows`` source rows have
    been processed plus ``settle_batches`` further (no-data) batches, then
    stop it.

    Why this exists: a stateful query with ``ProcessingTimeTimeout`` NEVER
    self-terminates — the engine schedules no-data batches forever so
    pending state timeouts can fire, which defeats BOTH
    ``trigger(availableNow=True)`` (the query keeps running) AND
    ``processAllAvailable()`` (measured on Spark 4.1: both hang
    indefinitely).  Bounded harnesses (tests, the correctness gate) instead
    poll per-batch progress, deduplicated by batchId (``recentProgress``
    is a rotating window, so input rows are ACCUMULATED across polls, never
    summed from one snapshot), and stop the query once the input is drained
    and at least one further batch has run (letting mid-stream timeouts
    fire).  Long-running production streams don't need this — they never
    stop, which is the configuration the finite-TTL default exists for."""
    import time

    deadline = time.time() + timeout_s
    seen_batches: dict[int, int] = {}
    done_batch: int | None = None
    while time.time() < deadline:
        for p in query.recentProgress:
            seen_batches.setdefault(int(p["batchId"]), int(p["numInputRows"]))
        total = sum(seen_batches.values())
        if total >= expected_input_rows and done_batch is None:
            done_batch = max(seen_batches)
        if done_batch is not None and max(seen_batches) >= done_batch + settle_batches:
            query.stop()
            query.awaitTermination(60)
            return
        time.sleep(0.2)
    query.stop()
    query.awaitTermination(60)
    raise TimeoutError(
        f"drain_query: {sum(seen_batches.values())}/{expected_input_rows} "
        f"input rows after {timeout_s}s"
    )


def _start_foreach_batch(
    stream_df: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool,
):
    """Start ``stream_df`` through ``foreachBatch``, calling
    ``handle(batch_df, batch_id)`` on every non-empty micro-batch, with its
    progress in ``checkpoint_dir``; ``trigger_once`` processes what is
    available and stops.  Returns the started StreamingQuery."""

    def non_empty(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(non_empty).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def attach_rules(stream_df: DataFrame, rules: Mapping[str, Rule]) -> DataFrame:
    """Add one verdict struct per rule + ``__violations`` / ``__wrong``
    columns to a (possibly streaming) DataFrame — a single narrow select.

    Delegates to the batch engine's validate() (a pure select works on
    streaming plans unchanged), so verdict/violation assembly has exactly
    one implementation and batch/stream outputs cannot drift apart."""
    res = validate(stream_df, rules)
    return res.annotated.withColumn("__wrong", res._wrong_any)


def validate_stream(
    stream_df: DataFrame,
    rules: Mapping[str, Rule],
    key_cols: list[str],
    on_batch: Callable[[DataFrame, DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Run the batch engine inside ``foreachBatch``: ``on_batch(valid_df,
    violations_df, batch_id)`` receives exactly what the batch path
    produces.  Returns the started StreamingQuery."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        res = validate(batch_df, rules, key_cols=key_cols)
        # barrier=False: localCheckpoint inside foreachBatch blows the
        # stream-execution thread's (smaller) stack at plan time
        # (StackOverflowError, round 6); micro-batches are small so the
        # lazy plan is fine here
        on_batch(res.valid(), res.violations(barrier=False), batch_id)

    return _start_foreach_batch(stream_df, handle, checkpoint_dir, trigger_once)


def streaming_duplicate_clips(
    stream_df: DataFrame,
    key_col: str = "clip_id",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-micro-batch uniqueness: a custom stateful operator via
    ``applyInPandasWithState`` (the batch engine's groupBy-count can't see
    across triggers).  State per key = occurrences seen so far; every
    occurrence AFTER the first emits a violation row
    ``(clip_id, n_seen, rule, error)``.

    ``ttl_ms`` bounds the state store: a key idle for longer than the TTL
    has its state evicted (ProcessingTimeTimeout), so memory is bounded by
    the dedup *window* rather than all-time key cardinality — at 10^12
    clips, all-time state is not an option.  A key recurring after eviction
    counts as first-seen again (the standard windowed-dedup trade-off).
    ``ttl_ms=None`` keeps state forever (exact all-time uniqueness).

    Scale notes: state is one long per distinct live key, partitioned by the
    grouping key; eviction callbacks fire on triggers where the key has no
    data (GroupStateTimeout semantics)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, n_seen long, rule string, error string"
    state_schema = "n long"

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            # idle past the TTL: evict -> the key's next occurrence is fresh
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
        total = seen + batch
        state.update((total,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        # every occurrence AFTER the first ever emits its own violation row
        # (n_seen = that occurrence's cumulative index) — matching the batch
        # engine's per-duplicate accounting, not one row per (key, batch)
        n_dups = total - max(1, seen)
        if n_dups > 0:
            ns = list(range(total - n_dups + 1, total + 1))
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * n_dups,
                    "n_seen": ns,
                    "rule": ["streaming_uniqueness"] * n_dups,
                    "error": [f"DuplicateKey:n={n}" for n in ns],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream_df.select(key_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def windowed_violation_counts(
    stream_df: DataFrame,
    rules: Mapping[str, Rule],
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked windowed violation metrics over a stream — late rows
    beyond the watermark are dropped by Spark's state eviction."""
    annotated = attach_rules(stream_df, rules)
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("__wrong"), 1).otherwise(0)).alias("invalid_rows"),
            F.sum(F.size("__violations")).alias("violations"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows",
            "invalid_rows",
            "violations",
        )
    )


def profile_stream(
    stream_df: DataFrame,
    on_batch: Callable[[DataFrame, DataFrame, int], None],
    checkpoint_dir: str,
    silence_threshold: int = 512,
    trigger_once: bool = False,
):
    """Audio quality profiling over a STREAM of clips: each micro-batch
    runs the batch operators unchanged (``audio_profile`` mapInArrow pass +
    ``audio_quality_rules`` through the batch engine) inside
    ``foreachBatch``, so ``on_batch(profile_df, violations_df, batch_id)``
    receives output byte-identical to the batch path over the same rows —
    the ingest-time shape of the audio payload gate (profile clips as they
    land, quarantine clipped/silent/undecodable ones).  Returns the started
    StreamingQuery."""
    from valor_spark.operators.audio import audio_profile, audio_quality_rules

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prof = audio_profile(batch_df, silence_threshold=silence_threshold)
        res = validate(prof, audio_quality_rules(), key_cols=["clip_id"])
        # barrier=False: see validate_stream above (foreachBatch stack)
        on_batch(prof, res.violations(barrier=False), batch_id)

    return _start_foreach_batch(stream_df, handle, checkpoint_dir, trigger_once)


def drift_report_stream(
    stream_df: DataFrame,
    baseline_df: DataFrame,
    on_batch: Callable[[list, DataFrame, int], None],
    checkpoint_dir: str,
    numeric: dict | None = None,
    categorical: dict | None = None,
    trigger_once: bool = False,
):
    """Distribution-drift monitoring at INGEST time: ALL drift metrics (KS +
    PSI + chi-square) per micro-batch from ONE scan of the batch.  The batch
    :func:`~valor_spark.operators.drift.drift_report` operator runs
    unchanged inside ``foreachBatch`` against a FIXED baseline histogram
    table, so each arriving batch is read once for every configured metric
    and alerts while the feed lands, not after the next full scan.
    ``on_batch(results, batch_df, batch_id)`` receives the
    ``list[DriftResult]`` plus the batch itself, so callers can key the
    scores by batch content rather than batch id; the baseline is the tiny
    ``(column_name, bin_lo, bin_hi, expected_share, category)`` frame
    ``baseline_from`` builds — stream execution, batch truth."""
    from valor_spark.operators.drift import drift_report

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(
            drift_report(batch_df, baseline_df, numeric=numeric,
                         categorical=categorical),
            batch_df,
            batch_id,
        )

    return _start_foreach_batch(stream_df, handle, checkpoint_dir, trigger_once)


def streaming_near_dup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    max_docs_per_fp: int = 50,
    ttl_ms: int | None = 86_400_000,
) -> DataFrame:
    """Cross-micro-batch NEAR-duplicate detection at ingest: winnowing
    fingerprints are computed by the same vectorized ``_winnow_arrow``
    kernel the batch operators ride (tokenization stays a JVM expression;
    the k-gram md5 stream + window-min selection is one mapInArrow pass
    emitting int64 fingerprint keys — per-doc sets identical to the
    Column chain, and at ingest rates the per-batch gram volume is the
    same scale hazard the batch rewrite measured) BEFORE the stateful
    operator, then ``applyInPandasWithState`` keyed by fingerprint
    remembers which docs hold each hash across triggers.  Every (prior
    doc, new doc) co-occurrence on a fingerprint emits one hit row
    ``(fp, doc_a, doc_b)`` with ``doc_a < doc_b`` — exactly once,
    regardless of arrival order, because a pair is emitted when its
    SECOND member arrives.
    Aggregating hits per pair (>= min_shared) downstream reproduces the
    batch ``winnow_pairs`` answer — stream execution, batch truth.

    State per fingerprint is a doc-id list capped at ``max_docs_per_fp``,
    and pair EMISSION is capped the same way: once a fingerprint has
    ``max_docs_per_fp`` holders, later docs neither join the list nor
    emit pairs — within one micro-batch too (a hot boilerplate hash
    arriving with N docs in a single batch emits at most O(cap^2) pairs,
    not O(N^2)).  CAP SEMANTICS DIVERGE FROM BATCH ``winnow_pairs``:
    batch DROPS a fingerprint entirely when it appears in more than
    ``max_fp_freq`` docs (no pairs at all), while the streaming operator
    has already emitted pairs among the first ``max_docs_per_fp`` holders
    by the time the cap trips and append-mode output cannot be retracted.
    'Stream execution, batch truth' therefore holds exactly when every
    fingerprint's doc frequency stays below BOTH caps.

    ``ttl_ms`` bounds state lifetime like
    :func:`streaming_duplicate_clips` and DEFAULTS TO 24 h: the measured
    hazard (50k docs -> 998k live state keys, mostly singleton
    fingerprints) means all-time fingerprint cardinality grows without
    bound at ingest scale, so the dedup window must size the state store.
    Pass ``ttl_ms=None`` to opt in to unbounded all-time state
    explicitly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from valor_spark.operators.text import _winnow_arrow, tokens

    idt = stream_df.schema[id_col].dataType.simpleString()
    fps = stream_df.select(
        F.col(id_col).alias("__doc"), tokens(F.col(text_col)).alias("__toks")
    ).mapInArrow(_winnow_arrow(k, w, "__doc", "fps"), f"__doc {idt}, fp long")
    out_schema = "fp long, doc_a long, doc_b long"
    state_schema = "ids array<long>"

    def fn(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        stored = list(state.get[0]) if state.exists else []
        batch_ids = sorted({int(v) for pdf in pdfs for v in pdf["__doc"]})
        new_ids = [i for i in batch_ids if i not in stored]
        a_out, b_out = [], []
        for idx, b in enumerate(new_ids):
            if len(stored) + idx >= max_docs_per_fp:
                break  # fp is hot: holder list is full, emission stops too
            for a in stored + new_ids[:idx]:
                a_out.append(min(a, b))
                b_out.append(max(a, b))
        combined = (stored + new_ids)[:max_docs_per_fp]
        state.update((combined,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if a_out:
            yield pd.DataFrame(
                {"fp": [key[0]] * len(a_out), "doc_a": a_out, "doc_b": b_out}
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return fps.groupBy("fp").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
