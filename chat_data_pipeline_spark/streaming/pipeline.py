"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.7: no watermarks, event-time
windows, or stateful ops anywhere) — these are the streaming extensions a
continuous training-data pipeline needs:

- ``read_events_stream``: file-source stream over an events directory (the
  pattern for continuously-landing data at scale: object-store prefixes).
- ``windowed_event_aggregates``: event-time tumbling windows + watermark for
  late data; the streaming twin of the batch ``events_hourly_agg`` query.
- ``streaming_clean_filter``: the cleaner/filter pipeline applied to a
  stream — stateless Column expressions compose identically in batch and
  streaming (the same ``SparkPreprocessor`` stages minus dedup, which is
  stateful and stays batch/periodic).
- ``sessionize``: custom stateful operator via ``applyInPandasWithState`` —
  per-user session windows with an inactivity gap.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# TIMESTAMP(NANOS) parquet is only readable via the nanosAsLong legacy path —
# declare long, convert after load (used when auto-detection sees nanos).
_EVENT_SCHEMA_RAW = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    nanos_ts: bool | None = None,
) -> DataFrame:
    """File-source stream with an explicit schema (streams cannot infer).

    ``nanos_ts=None`` (default) auto-detects the parquet timestamp encoding
    with a one-footer batch read of the same path: bigint → the legacy
    TIMESTAMP(NANOS) path, anything else → a plain TIMESTAMP schema.  The
    detection is a driver-side metadata read, not a data scan.  An empty or
    not-yet-populated source directory (a normal file-stream startup state)
    has no footer to probe — fall back to the plain EVENT_SCHEMA rather
    than failing stream construction.
    """
    if nanos_ts is None:
        try:
            nanos_ts = dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"
        except AnalysisException:
            nanos_ts = False
    if not nanos_ts:
        df = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    df = (
        spark.readStream.schema(_EVENT_SCHEMA_RAW)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def windowed_event_aggregates(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling window counts/sums per event_type with a watermark
    bounding state for late data.  Works on both streaming and batch frames
    (batch ignores the watermark) — tests exploit that equivalence."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_clean_filter(
    events: DataFrame,
    column: str = "props",
    cleaners: list | None = None,
    filters: list | None = None,
) -> DataFrame:
    """Stateless clean+filter stages on a stream — reuses the exact batch
    pipeline executor (cleaners/filters are pure projections/predicates, so
    the logical plan is streaming-compatible as-is)."""
    from chat_data_pipeline_spark.plans import SparkPreprocessor

    pre = SparkPreprocessor(
        column_name=column,
        cleaners=cleaners or ["normalize_whitespace"],
        filters=filters or [],
    )
    return pre.run(events)


def streaming_exact_dedup(
    events: DataFrame,
    keys: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Continuous exact dedup: drop rows whose key was already seen within
    the watermark horizon.  ``dropDuplicatesWithinWatermark`` bounds the
    dedup state by event time — the unbounded-state variant
    (``dropDuplicates``) eventually OOMs a 100 TB stream; near-dup (MinHash)
    stays a periodic batch job over the landed data by design."""
    return events.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach a slowly-changing dimension
    (user profile, domain reputation, per-source quality stats) to every
    micro-batch.

    The static side gets an explicit ``broadcast`` hint: a stream-static
    join re-plans the static side EVERY micro-batch, so letting it default
    to a shuffle join would re-shuffle the dimension per trigger; broadcast
    makes each micro-batch a map-side hash join with zero stream shuffle —
    the only sane shape for a continuous pipeline.  Spark re-reads the
    static source per batch, so an updated dimension file is picked up
    without restarting the query (the documented stream-static contract).

    ``how`` is restricted to the stream-static-supported types (inner /
    left_outer with the stream on the left).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"stream-static join supports inner/left with the stream on the "
            f"left, got {how!r}"
        )
    return stream.join(F.broadcast(dim), on=on, how=how)


def streaming_datacard(
    stream: DataFrame,
    text_col: str = "props",
) -> DataFrame:
    """Continuously-updated one-row corpus datacard over an ingest stream —
    the live twin of the batch ``corpus_datacard`` query: row count, token
    count, mean length, and an APPROXIMATE distinct-content count.

    Exactness boundary, stated explicitly: a streaming COUNT(DISTINCT) needs
    unbounded state, so the distinct-texts figure uses
    ``approx_count_distinct`` (HLL, bounded sketch state, ~2% rsd default) —
    the standard trade; every other figure is exact.  Run with output mode
    ``complete`` (single always-updated row, trivially small state).
    """
    from chat_data_pipeline_spark.functions import text as T

    col = F.col(text_col)
    return stream.agg(
        F.count("*").alias("n_rows"),
        F.sum(T.word_count(col)).alias("n_tokens"),
        F.round(F.avg(F.length(col)), 6).alias("avg_chars"),
        F.approx_count_distinct(F.md5(F.coalesce(col, F.lit("")))).alias(
            "approx_distinct_texts"
        ),
    )


def streaming_cms_table(stream: DataFrame, text_col: str = "props") -> DataFrame:
    """Continuously-maintained Count-Min sketch over an ingest stream — the
    live twin of the batch ``cms_table`` (operators/sketches.py).

    The aggregation state is the sketch itself: depth × width counters,
    BOUNDED whatever the stream's key cardinality — exactly why CMS (not a
    per-token count) is the streaming frequency summary.  Identical md5
    hash family to the batch builder, so a stream sketch and a batch sketch
    over the same rows are cell-for-cell EQUAL (asserted in tests), and
    cell-wise mergeable with historical batch sketches via ``cms_merge``.
    Run with output mode ``complete``.
    """
    from chat_data_pipeline_spark.operators.sketches import cms_table

    return cms_table(stream, text_col)


def streaming_hll_registers(
    stream: DataFrame, text_col: str = "props", ngram_size: int | None = None
) -> DataFrame:
    """Continuously-maintained HyperLogLog register table — the live twin of
    the batch ``hll_registers`` (operators/sketches.py).

    State is the 512 ``(bucket, max rho)`` registers, BOUNDED whatever the
    stream's cardinality (max is monotone and map-side combinable, so
    ``complete`` mode re-emits the exact batch-equal table every trigger);
    merge with historical batch registers via ``hll_merge``.  Same md5
    derivation as batch, so a stream register table and a batch one over
    the same rows are bucket-for-bucket EQUAL (asserted in tests)."""
    from chat_data_pipeline_spark.operators.sketches import hll_registers

    return hll_registers(stream, text_col, ngram_size=ngram_size)


def streaming_decontaminate(
    stream: DataFrame,
    bench: DataFrame,
    column: str,
    ngram_size: int = 8,
) -> DataFrame:
    """Continuous benchmark decontamination — stateless per-row predicate.

    The batch operator's explode → semi-join → anti-join shape would become
    a stream-stream join here (the contaminated-id side derives from the
    stream), which Spark rejects for anti joins; instead the small static
    benchmark is collapsed ONCE to its distinct shingle-hash set and shipped
    in the plan as an array literal, and each doc keeps iff
    ``NOT arrays_overlap(its_shingle_hashes, bench_hashes)`` — pure
    projection + filter, so the stream needs no watermark and no state.
    The bench set must be driver-sized (it is, by the operator's contract —
    benchmarks are ≪ the corpus); re-plan the query to pick up a new set.
    """
    from chat_data_pipeline_spark.operators.decontamination import _shingle_hashes
    from chat_data_pipeline_spark.operators.dedup import word_shingles

    bench_hashes = [
        r.h for r in _shingle_hashes(bench, column, ngram_size).distinct().collect()
    ]
    doc_hashes = F.transform(
        word_shingles(F.col(column), ngram_size), lambda s: F.xxhash64(s)
    )
    if not bench_hashes:
        return stream
    return stream.filter(
        ~F.arrays_overlap(doc_hashes, F.lit(bench_hashes))
    )


def incremental_minhash_dedup(
    batch_df: DataFrame,
    store_path: str,
    column: str,
    id_col: str,
    ngram_size: int = 3,
    num_perm: int = 64,
    threshold: float = 0.7,
    min_ngram_size: int = 3,
    batch_id: int | None = None,
) -> DataFrame:
    """One GREEDY incremental near-dedup step against a persistent band-
    signature store: a doc is dropped iff any of its MinHash band signatures
    matches (a) any earlier-arriving doc recorded in ``store_path`` or
    (b) a lower-id doc in this same batch; then ALL of this batch's
    signatures are recorded in the store.

    Storing every arriving doc's signatures (kept AND dropped) makes the
    greedy pass chain-transitive: if B was dropped against A, a later C
    colliding only with B still drops.  The kept set is exactly what a
    single-pass greedy scan over the whole corpus in arrival order
    produces — order-DEPENDENT, unlike the batch operator's
    connected-components min-id survivor; that is the inherent streaming
    trade (every one-pass dedup makes it), and the differential test pins
    it against a reference greedy scan.

    ``batch_id``: with None, signatures append flat (simple, at-least-once
    — a retried batch would re-probe its own signatures and drop itself).
    With a batch id, the step is IDEMPOTENT: signatures land in a
    ``batch=<id>`` partition via overwrite, and the probe excludes this
    batch's own partition, so a retry reproduces the identical kept set
    and leaves the store byte-identical.  Pick one mode per store — the
    layouts don't mix.

    Scale: signatures are B rows of (band int, 8·R-byte sig) per doc; the
    store-probe is an inner equi-join where the BATCH side is micro-batch
    sized, so AQE broadcasts it and the store is scanned map-side — no
    shuffle of either side grows with history.  In production, bucket the
    store by (band, sig) (sources/io.write_bucketed) to turn the probe
    into a pruned bucket scan.
    """
    from chat_data_pipeline_spark.operators.dedup import minhash_bands

    spark = batch_df.sparkSession
    bands = minhash_bands(
        batch_df,
        column,
        id_col,
        ngram_size=ngram_size,
        num_perm=num_perm,
        threshold=threshold,
        min_ngram_size=min_ngram_size,
    ).localCheckpoint(eager=True)  # reused by probe, window, and append
    w = Window.partitionBy("band", "sig")
    # within-batch greedy: collision with ANY earlier (lower-id) doc in the
    # bucket — i.e. this id is not the bucket min
    dropped = (
        bands.withColumn("__min__", F.min("id").over(w))
        .filter(F.col("id") != F.col("__min__"))
        .select("id")
    )
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:
        store = None  # first batch: store not created yet
    if store is not None:
        if batch_id is not None and "batch" in store.columns:
            # retry safety: never probe this batch's own (overwritten) partition
            store = store.filter(F.col("batch") != batch_id)
        hits = bands.join(store, ["band", "sig"]).select("id")
        dropped = dropped.union(hits)
    dropped = dropped.distinct().withColumnRenamed("id", id_col)
    kept = batch_df.join(dropped, id_col, "left_anti")
    sigs = bands.select("band", "sig")
    if batch_id is None:
        sigs.write.mode("append").parquet(store_path)
    else:
        sigs.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")
    return kept


def streaming_minhash_dedup(
    stream: DataFrame,
    sink_path: str,
    store_path: str,
    checkpoint_path: str,
    column: str,
    id_col: str,
    **minhash_kwargs,
):
    """Continuous near-dedup as a ``foreachBatch`` pipeline: each micro-batch
    runs :func:`incremental_minhash_dedup` against the shared signature
    store and writes survivors to ``sink_path``.

    ``foreachBatch`` is the standard Spark pattern for stateful logic whose
    state (here: every signature ever seen) must outlive watermark horizons
    — ``dropDuplicatesWithinWatermark`` (streaming_exact_dedup) bounds its
    state by event time, but near-dup detection against ALL history needs a
    table, not operator state.  Both writes are IDEMPOTENT per micro-batch:
    signatures and survivors each land in a ``batch=<id>`` partition via
    overwrite, and the store probe excludes the batch's own partition — a
    batch replayed after a mid-commit crash reproduces byte-identical
    output instead of double-appending or dropping itself against its own
    signatures (effectively-once on top of the checkpoint's replay).
    """

    def step(batch_df: DataFrame, batch_id: int) -> None:
        kept = incremental_minhash_dedup(
            batch_df, store_path, column, id_col, batch_id=batch_id, **minhash_kwargs
        )
        kept.write.mode("overwrite").parquet(f"{sink_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int, total_value double"
_STATE_SCHEMA = "start long, end long, n int, total double"


def _session_frame(user_ids, starts, ends, counts, totals):
    """Arrow-safe session rows: microsecond-unit tz-aware timestamps (ns-unit
    frames trip pyspark's safe-cast check on the us-typed schema)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": user_ids,
            "session_start": pd.Series(
                [pd.Timestamp(s, unit="s", tz="UTC") for s in starts],
                dtype="datetime64[us, UTC]",
            ),
            "session_end": pd.Series(
                [pd.Timestamp(e, unit="s", tz="UTC") for e in ends],
                dtype="datetime64[us, UTC]",
            ),
            "n_events": counts,
            "total_value": totals,
        }
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows via ``applyInPandasWithState``: events within
    ``gap_seconds`` of each other extend a session; the EVENT-TIME timeout
    (watermark-driven) flushes idle sessions.  Event-time — not
    processing-time — timeouts are the scale-correct choice: results are
    deterministic under reprocessing/backfill, and the engine goes idle when
    the source does (a processing-time timeout forces empty micro-batches
    forever).  State is one small tuple per user, partitioned by user_id, so
    it scales horizontally with executors."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            start, end, n, total = state.get
            state.remove()
            yield _session_frame([user_id], [start], [end], [n], [total])
            return
        rows_start, rows_end, rows_n, rows_total = None, None, 0, 0.0
        closed = []
        if state.exists:
            rows_start, rows_end, rows_n, rows_total = state.get
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                t = ts.timestamp()
                if rows_start is None:
                    rows_start, rows_end, rows_n, rows_total = t, t, 1, float(value)
                elif t - rows_end <= gap_seconds:
                    rows_end, rows_n, rows_total = t, rows_n + 1, rows_total + float(value)
                else:
                    closed.append((rows_start, rows_end, rows_n, rows_total))
                    rows_start, rows_end, rows_n, rows_total = t, t, 1, float(value)
        if rows_start is not None:
            state.update((int(rows_start), int(rows_end), int(rows_n), float(rows_total)))
            # fire once the watermark passes session_end + gap (must stay
            # strictly ahead of the current watermark or Spark rejects it)
            fire_at = max(
                int(rows_end * 1000) + gap_seconds * 1000,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(fire_at)
        if closed:
            yield _session_frame(
                [user_id] * len(closed),
                [s for s, *_ in closed],
                [e for _, e, *_ in closed],
                [n for *_, n, _t in closed],
                [t for *_, t in closed],
            )

    return events.withWatermark("ts", watermark).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_value_histogram(stream: DataFrame, value_col: str = "value") -> DataFrame:
    """Continuously-maintained log-bucketed value histogram — the live twin
    of the batch ``value_histogram`` (operators/sketches.py).

    State is the ≤ ~8·64 ``(lo, hi, cnt)`` bins, BOUNDED whatever the
    stream's value range (count is map-side combinable; ``complete`` mode
    re-emits the exact batch-equal table every trigger); merge with
    historical batch histograms by (lo, hi)-keyed count addition.  Feed the
    emitted table to the batch rank walk for live p50/p90/p99."""
    from chat_data_pipeline_spark.operators.sketches import value_histogram

    return value_histogram(stream, value_col)


def streaming_quality_report(stream: DataFrame, rules: dict) -> DataFrame:
    """Continuously-maintained ingest quality gate — the live twin of the
    batch ``data_quality_report`` (operators/diagnostics.py): one report row
    per rule with cumulative ``n_rows`` / ``n_violations`` /
    ``violation_nanos`` over everything the stream has ingested.

    State is ONE aggregate row (k conditional sums + a count), BOUNDED
    whatever the stream's volume — the CMS/HLL twin shape applied to data
    quality; ``complete`` mode re-emits the exact batch-equal report every
    trigger (asserted stream≡batch in tests).  This is the monitor a
    continuously-ingesting pipeline points at its raw feed: a deploy that
    starts producing NULL bodies or inconsistent metadata moves
    ``violation_nanos`` on the next trigger instead of surfacing days later
    in a batch audit.  (The ``uniqueness_report`` companion deliberately has
    NO EXACT streaming twin: per-key counts grow with key cardinality —
    unbounded state — exactly what the sketch family exists to avoid; dedup
    a stream with ``dropDuplicatesWithinWatermark`` instead.  Since r12 the
    gate's uniqueness gap closes APPROXIMATELY via
    :func:`streaming_uniqueness_registers` — bounded HLL state, estimated
    duplicate rate per trigger.)"""
    from chat_data_pipeline_spark.operators.diagnostics import data_quality_report

    return data_quality_report(stream, rules)


def streaming_uniqueness_registers(stream: DataFrame, key_col: str) -> DataFrame:
    """Continuously-maintained APPROXIMATE duplicate-rate state — the
    bounded-state answer to the one rule the live quality gate had to
    exclude (exact uniqueness needs per-key counts, unbounded state).

    State is ≤ 512 ``(bucket, r, n)`` rows whatever the key cardinality
    (max and count are both map-side combinable; ``complete`` mode re-emits
    the exact batch-equal register table every trigger — asserted
    stream≡batch in tests).  Feed each trigger's emitted table to the batch
    ``uniqueness_approx_report`` for ``(n_rows, est_distinct,
    est_duplicate_rows, dup_rate_nanos)`` — a deploy that starts
    double-delivering events moves the rate on the next trigger, within
    raw HLL's documented ~1.04/√512 accuracy, at zero state growth."""
    from chat_data_pipeline_spark.operators.sketches import key_hll_registers

    return key_hll_registers(stream, key_col)


FUNNEL_SCHEMA = (
    "user_id long, t_view_epoch long, t_click_epoch long, "
    "t_purchase_epoch long, funnel_depth int"
)
_FUNNEL_STATE = "tv long, tc long, tp long, la long"  # la: last-activity μs


def streaming_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    watermark: str = "2 hours",
    state_ttl_seconds: int = 86400,
) -> DataFrame:
    """Continuous ordered-funnel tracking via ``applyInPandasWithState`` —
    the live counterpart of the batch ``operators/temporal.funnel_steps``.

    State per user is ONE tuple of step timestamps (epoch MICROSECONDS so
    the strict ordering comparisons see full event precision; -1 =
    unreached — emitted rows round down to epoch seconds, matching the
    batch query's unix_timestamp convention); each micro-batch replays its
    events in event-time order and greedily advances the chain (step k
    fires on the first event strictly after step k-1).  A progress row is
    emitted whenever a user's chain ADVANCES (append mode — consumers keep
    the deepest row per user).

    Exactness boundary, stated explicitly: the one-pass greedy is exact
    when events arrive in event-time order across batches (the differential
    test feeds ordered batches and asserts equality with the batch
    operator).  A LATE first-step event — one that precedes an
    already-bound step-1 timestamp — cannot retroactively re-open discarded
    step-2 candidates with finite per-user state; the batch operator over
    the landed data remains the reconciliation path, exactly the
    incremental-minhash trade.  State is 4 longs per user (step
    timestamps + last-activity), horizontal with executors.

    OPERATIONAL BREAKING CHANGE (r10): eviction widened the state tuple
    from 3 to 4 longs (``la`` last-activity joined ``_FUNNEL_STATE``).
    Spark's state store pins the state schema at first checkpoint, so
    RESTARTING an existing streaming_funnel query against a pre-r10
    checkpoint fails the state-schema compatibility check — state cannot
    be migrated across the change.  Upgrading requires a FRESH checkpoint
    location (and, if continuity matters, a batch ``funnel_steps`` run
    over the landed data to re-derive progress before cutting over).

    State EVICTION (the 100 TB posture): per-user state is bounded in
    count, not just size — an ``EventTimeTimeout`` tied to the stream's
    watermark drops users idle for ``state_ttl_seconds`` of EVENT time
    (watermark past last-event + TTL).  Without it, state grows
    monotonically with lifetime user cardinality — a state-store
    scale-killer.  An evicted user's late re-appearance restarts the chain
    from scratch; the batch operator over landed data reconciles, the same
    documented trade as late first-step events.
    """
    if len(steps) != 3:
        raise ValueError("streaming_funnel tracks a 3-step chain")
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s1, s2, s3 = steps

    def update(key, pdf_iter, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            # watermark passed last-event + TTL: every progress row for
            # this user was already emitted when the chain advanced, so
            # eviction is silent
            state.remove()
            return
        # state carries MICROSECONDS: the strict t > prev comparisons must
        # see full event precision — second-truncated state silently missed
        # same-second chains the batch operator converts (self-review r8).
        # la = max event time this user has EVER shown, persisted so the
        # eviction deadline is monotone: a batch of only LATE (older)
        # events can never move it backward and evict early (review
        # finding r10)
        tv, tc, tp, la = state.get if state.exists else (-1, -1, -1, -1)
        before = (tv, tc, tp)
        # one concatenated sort: chunks of pdf_iter arrive in arbitrary
        # order, so sorting each independently replays a >maxRecordsPerBatch
        # user out of event-time order (self-review r8)
        chunks = [pdf for pdf in pdf_iter]
        last_us = -1
        if chunks:
            pdf = pd.concat(chunks).sort_values("ts")
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                t = int(ts.value // 1_000)  # ns -> us
                last_us = max(last_us, t)
                if etype == s1 and tv < 0:
                    tv = t
                elif etype == s2 and tv >= 0 and t > tv and tc < 0:
                    tc = t
                elif etype == s3 and tc >= 0 and t > tc and tp < 0:
                    tp = t
        advanced = (tv, tc, tp) != before
        la = max(la, last_us)
        if advanced:
            depth = (tv >= 0) + (tc >= 0) + (tp >= 0)
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "t_view_epoch": [tv // 1_000_000 if tv >= 0 else None],
                    "t_click_epoch": [tc // 1_000_000 if tc >= 0 else None],
                    "t_purchase_epoch": [tp // 1_000_000 if tp >= 0 else None],
                    "funnel_depth": [depth],
                }
            )
        if advanced or state.exists:
            # persist even without an advance so non-advancing activity
            # still extends la; state is only CREATED once a chain opens
            state.update((tv, tc, tp, la))
            # refresh the eviction deadline from the monotone la; must
            # stay strictly ahead of the current watermark or Spark
            # rejects it
            fire_at = max(
                (la // 1_000) + state_ttl_seconds * 1_000,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(fire_at)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_classifier_eval(
    stream: DataFrame,
    text_col: str,
    label_expr: str,
    weights: list[int],
    threshold: int,
) -> DataFrame:
    """Live twin of the batch classifier evaluation — continuous confusion
    (tp/fp/fn/tn + precision/recall in integer nanos) of the DEPLOYED
    gate's keep rule (``pred >= threshold``, the fixed serving threshold)
    against a labeled seed signal, over everything the stream has ingested.

    State is ONE aggregate row (four conditional sums), bounded at any
    volume; ``complete`` mode re-emits the exact batch-equal report every
    trigger (asserted stream≡batch in tests).  This is the monitor a
    train-then-gate deployment points at its labeled canary feed: a drift
    that starts flipping the gate's decisions moves precision/recall on
    the next trigger instead of surfacing in the next offline eval.
    (The batch ``classifier_eval_report`` thresholds at the CORPUS AVERAGE
    — an agg-of-agg complete-mode streaming forbids; production serves a
    fixed threshold, which is exactly what this evaluates.)"""
    from chat_data_pipeline_spark.functions.scoring import classifier_confusion

    return classifier_confusion(
        stream, text_col, F.expr(label_expr), weights, threshold
    )


def _maybe_auto_compact(
    spark, store_path: str, epoch: int, every: int | None,
    max_batches: int | None, max_tombstone_nanos: int | None,
) -> None:
    """Writer-side maintenance for the delivery streams (r15): every
    ``every`` epochs, run ``compact_if_needed`` against the store this
    stream is delivering into.  Runs INSIDE the calling trigger's writer
    lease (r16, ``operators/lease.py``), so the single-writer requirement
    this carried as a docstring caveat is now enforced at runtime: a
    takedown stream (or any other lease-honoring writer) sharing the root
    serializes against the delivery trigger — compaction included — and
    can never commit between the compactor's ledger snapshot and its base
    rewrite.  The folded-batch manifest independently keeps a
    crash-replay of an already-folded epoch a no-op instead of a
    double-count (see ``store.folded_record``).  Thresholds default
    to the maintenance module's."""
    if not every or (epoch + 1) % int(every):
        return
    from chat_data_pipeline_spark.operators.maintenance import (
        DEFAULT_MAX_BATCHES,
        DEFAULT_MAX_TOMBSTONE_NANOS,
        compact_if_needed,
    )

    compact_if_needed(
        spark,
        store_path,
        # None-safe (not falsy-or): an explicit 0 is a legal threshold —
        # "compact whenever any dead row / any extension batch exists"
        max_batches=int(
            max_batches if max_batches is not None else DEFAULT_MAX_BATCHES
        ),
        max_tombstone_nanos=int(
            max_tombstone_nanos
            if max_tombstone_nanos is not None
            else DEFAULT_MAX_TOMBSTONE_NANOS
        ),
    )


def _step_lease(spark, store_path: str, kind: str, checkpoint_path: str,
                ttl_seconds: int, wait_seconds: float):
    """The per-trigger writer lease every delivery/takedown stream step
    takes around its mutation (r16: the single-writer contract as a
    runtime guard — see ``operators/lease.py``).  Two streams sharing a
    root serialize per micro-batch; a trigger that cannot get the lease
    inside ``wait_seconds`` raises, failing the query LOUDLY instead of
    racing a concurrent compaction.  The owner string names this stream's
    kind + checkpoint so the loser's error says who blocked it."""
    from chat_data_pipeline_spark.operators.lease import writer_lease

    return writer_lease(
        spark, store_path, f"{kind}:{checkpoint_path}",
        ttl_seconds=ttl_seconds, wait_seconds=wait_seconds,
    )


def _leased_foreach_batch(
    stream: DataFrame, store_path: str, checkpoint_path: str, label: str,
    mutate, lease_ttl_seconds: int, lease_wait_seconds: float,
):
    """Start ``stream`` with a foreachBatch step that runs
    ``mutate(batch_df, epoch)`` inside the per-trigger writer lease;
    idle triggers write nothing (no empty ledger entries)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with _step_lease(batch_df.sparkSession, store_path, label,
                         checkpoint_path, lease_ttl_seconds, lease_wait_seconds):
            mutate(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def streaming_store_delivery(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    auto_compact_every: int | None = None,
    max_batches: int | None = None,
    max_tombstone_nanos: int | None = None,
    batch_id_prefix: str = "s",
    lease_ttl_seconds: int = 900,
    lease_wait_seconds: float = 120,
):
    """Live feed → fresh persisted store, for all five store kinds (bm25,
    ivf, ivfpq, dedup, neardup): each micro-batch becomes ONE
    ledger-committed delivery through the kind's ``extend`` verb
    (``maintenance.STORE_KINDS``) with ``batch_id=f"{prefix}{epoch}"``,
    so a long-running ingest keeps the store current without ever
    rebuilding.  The kind is read from the store meta once, before the
    query starts: the base must already exist (the stream only DELIVERS;
    it never owns the meta), and a meta-less root fails here instead of
    inside the first trigger.  The vector and signature kinds take their
    id/vector/text column names from the meta; bm25 reads ``doc_id`` and
    ``text``.  Every kind assigns/fingerprints/encodes with the store's
    OWN meta-pinned arithmetic, so the extended store stays
    probe-compatible by construction.

    Effectively-once on top of the checkpoint's replay, for free, because
    it reuses the batch extension contract end to end: a micro-batch
    replayed after a mid-commit crash overwrites its OWN ``batch=``
    partitions and re-commits its ledger marker, and until that marker
    lands the partial delivery is INVISIBLE to probes, which keep serving
    the committed batches throughout.  Probes over base + streamed
    deliveries are bit-identical to a full build over the union (tested
    for every kind).

    ``auto_compact_every`` runs :func:`_maybe_auto_compact` every N
    epochs, inside the same trigger lease; otherwise compact separately
    and cut serving over with ``swap_index_alias``.

    ``batch_id_prefix`` scopes this checkpoint's epoch-derived batch ids.
    Epoch counters restart at 0 with a FRESH checkpoint, so restarting a
    stream with a new checkpoint against a root whose earlier
    ``s<epoch>`` deliveries were compacted away would collide with SPENT
    ids — the folded manifest treats those as replays and silently skips
    them (data loss, WARN-logged only).  Give every checkpoint generation
    its own prefix (``s2``, ``ingest-b``, ...) and keep it disjoint from
    the takedown stream's."""
    from chat_data_pipeline_spark.operators.maintenance import (
        STORE_KINDS,
        detect_store_kind,
    )

    kind = detect_store_kind(stream.sparkSession, store_path)
    extend = STORE_KINDS[kind].extend

    def deliver(batch_df: DataFrame, epoch: int) -> None:
        extend(batch_df, store_path, batch_id=f"{batch_id_prefix}{epoch}")
        _maybe_auto_compact(
            batch_df.sparkSession, store_path, epoch, auto_compact_every,
            max_batches, max_tombstone_nanos,
        )

    return _leased_foreach_batch(
        stream, store_path, checkpoint_path, f"{kind}-delivery", deliver,
        lease_ttl_seconds, lease_wait_seconds,
    )


def streaming_store_takedown(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    batch_id_prefix: str = "t",
    lease_ttl_seconds: int = 900,
    lease_wait_seconds: float = 120,
):
    """Live takedown feed → tombstone deliveries, the removal twin of
    :func:`streaming_store_delivery` for all five store kinds.  ``stream``
    is the one-column id frame the kind's ``delete`` verb takes; each
    micro-batch becomes ONE ledger-committed tombstone delivery
    (``batch_id=f"{batch_id_prefix}{epoch}"`` — keep the prefix disjoint
    from the delivery stream's, and fresh per checkpoint generation), so
    a compliance feed (user deletion requests, post-hoc contamination
    discoveries) keeps every serving store clean without rebuilds.  The
    column count and the store kind are checked before the query starts.

    Effectively-once rides the same two mechanisms as deliveries: a
    replayed micro-batch RECOMPUTES its own victims (its previous
    tombstones are excluded from the already-deleted set) and overwrites
    its own partitions, and a mid-commit crash leaves the delete invisible
    to probes.  Ids already tombstoned by an earlier epoch are excluded up
    front, so an id reported twice never double-subtracts.  Compact to
    make the removals physical; a delivery containing a
    currently-tombstoned id still fails loudly by design (compact first,
    then re-deliver).

    Coordination contract for both stream kinds: one writer at a time per
    store root, ENFORCED by the per-trigger writer lease
    (``operators/lease.py``).  A takedown stream sharing a root with a
    delivery stream (even a self-compacting one) serializes per
    micro-batch, and a trigger that cannot get the lease inside
    ``lease_wait_seconds`` fails the query loudly instead of racing a
    compaction."""
    from chat_data_pipeline_spark.operators.maintenance import (
        STORE_KINDS,
        detect_store_kind,
    )

    if len(stream.columns) != 1:
        raise ValueError(
            "streaming_store_takedown takes a one-column id stream, got "
            f"columns {stream.columns}"
        )
    kind = detect_store_kind(stream.sparkSession, store_path)
    delete = STORE_KINDS[kind].delete

    def take_down(batch_df: DataFrame, epoch: int) -> None:
        delete(
            batch_df.sparkSession, store_path, batch_df,
            batch_id=f"{batch_id_prefix}{epoch}",
        )

    return _leased_foreach_batch(
        stream, store_path, checkpoint_path, f"{kind}-takedown", take_down,
        lease_ttl_seconds, lease_wait_seconds,
    )


def streaming_query_serving(
    stream: DataFrame,
    serve_spec: dict,
    checkpoint_path: str,
    results_path: str,
):
    """Live RETRIEVAL (r15): a stream of queries — not documents — served
    against fixed persisted index roots, each micro-batch probed with the
    `serve:` block's own engine (``cli.serve_frame``: lexical and/or
    vector arms, single-arm top-k or integer-nano RRF hybrid) and the
    per-trigger results appended to ``results_path``.  The request-log
    shape of serving: queries arrive continuously, the index is the slow
    artifact, and every trigger's output is BIT-IDENTICAL to a batch
    serve of that trigger's rows over the same roots (tested).

    ``serve_spec`` is the `serve:` block minus `queries`/`output_path`
    (e.g. ``{"k": 10, "bm25": {"path": ...}, "ann": {"path": ...}}``).
    Appends are effectively-once per epoch via the checkpoint's replay +
    an epoch column: a replayed trigger rewrites its own ``epoch=`` hive
    partition instead of double-appending (the sketch-store idempotence
    discipline applied to a result log).  Index maintenance stays the
    writers' business — probes here only read ledger-committed state, so
    a delivery landing mid-stream becomes visible atomically at its
    commit marker."""
    from chat_data_pipeline_spark.cli import serve_frame

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = serve_frame(batch_df.sparkSession, batch_df, dict(serve_spec))
        # replay overwrites its OWN epoch dir only (writing through the
        # root with static overwrite would replace the whole result log)
        out.write.mode("overwrite").parquet(f"{results_path}/epoch={batch_id}")

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
