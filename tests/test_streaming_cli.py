"""Streaming operators (file-source → memory sink, batch-equivalence) and the
YAML/CLI lifecycle end-to-end."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import store as ST
from chat_data_pipeline_spark.streaming import (
    read_events_stream,
    sessionize,
    windowed_event_aggregates,
)

SF_DIR = os.environ.get("CDP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def events_dir(tmp_path):
    """File stream sources require a directory; stage the events table."""
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_on_empty_source_dir_constructs(spark, tmp_path):
    """nanos_ts auto-detection must not fail on an empty/not-yet-populated
    source directory (a normal file-stream startup state): the schema probe
    falls back to EVENT_SCHEMA instead of raising 'Unable to infer schema'."""
    d = tmp_path / "empty_in"
    d.mkdir()
    stream = read_events_stream(spark, str(d))
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_windowed_aggregates_stream_equals_batch(spark, tmp_path, events_dir):
    from chat_data_pipeline_spark.queries import _read_events

    batch = _read_events(spark, SF_DIR)
    expected = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in windowed_event_aggregates(batch).collect()
    }

    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    agg = windowed_event_aggregates(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
            for r in spark.sql("select * from win_agg").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_clean_filter(spark, tmp_path, events_dir):
    from chat_data_pipeline_spark.streaming import streaming_clean_filter

    stream = read_events_stream(spark, events_dir)
    cleaned = streaming_clean_filter(
        stream, column="props", filters=[("check_word_number", {"min_word_threshold": 1, "max_word_threshold": 10})]
    )
    q = (
        cleaned.writeStream.format("memory")
        .queryName("clean_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("select count(*) n from clean_stream").first().n
    finally:
        q.stop()
    assert n > 0


def test_streaming_exact_dedup(spark, tmp_path, events_dir):
    from chat_data_pipeline_spark.streaming import streaming_exact_dedup

    stream = read_events_stream(spark, events_dir)
    deduped = streaming_exact_dedup(stream, ["user_id", "event_type"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select count(*) n, count(distinct user_id || '|' || event_type) d from dedup_stream"
        ).first()
    finally:
        q.stop()
    # one survivor per (user_id, event_type) key — all keys arrive in one file
    assert got.n == got.d > 0


def test_sessionize_stream(spark, tmp_path, events_dir):
    stream = read_events_stream(spark, events_dir)
    sessions = sessionize(stream, gap_seconds=600)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from sessions").collect()
    finally:
        q.stop()
    # closed sessions only appear once a newer event arrives or timeout fires;
    # with one file some sessions close in-batch
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


CONFIG = """
datasets:
  - path: {conv_path}
output_path: {out_path}
seed: 42
response:
  cleaners: [normalize_whitespace, normalize_punctuation]
  filters:
    - name: check_word_number
      args:
        min_word_threshold: 1
        max_word_threshold: 100
  deduplication:
    do_deduplication: true
    minhash_config:
      ngram_size: 5
      num_perm: 64
      threshold: 0.7
instruction:
  cleaners: [normalize_whitespace]
  filters: []
  deduplication:
    do_deduplication: false
"""


def test_cli_lifecycle(spark, tmp_path):
    from chat_data_pipeline_spark.cli import load_yaml, run_config

    conv_path = str(tmp_path / "conv.parquet")
    rows = [
        (i, "src", [("hello there", False, "User"),
                    (f"reply num {i % 7} ok!", True, "Assistant")])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows,
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)

    cfg_path = tmp_path / "cfg.yaml"
    out_path = str(tmp_path / "out.parquet")
    cfg_path.write_text(CONFIG.format(conv_path=conv_path, out_path=out_path))

    config = load_yaml(str(cfg_path))
    assert config["response"]["deduplication"]["minhash_config"]["num_perm"] == 64
    assert config["datasets"][0]["path"] == conv_path

    out = run_config(spark, config)
    rows = out.collect()
    # 40 conversations → 40 pairs → dedup on 7 distinct responses → 7 rows
    assert len(rows) == 7
    schema = {f.name for f in out.schema.fields}
    assert {"conversation", "source"} <= schema
    for r in rows:
        assert r.conversation[-1].do_train is True


GATED_CONFIG = """
datasets:
  - path: {conv_path}
seed: 42
quality_gate:
  max_violation_nanos: {limit}
  key: id
  rules:
    response_not_null: "response IS NOT NULL"
    response_nonempty: "length(response) > 0"
response:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
instruction:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
"""


def test_cli_quality_gate_passes_and_fails(spark, tmp_path, caplog):
    """r11: the config-driven ingest gate — report-only logging when under
    the threshold, a loud ValueError naming the failing rules when over."""
    import logging

    import pytest as _pytest

    from chat_data_pipeline_spark.cli import load_yaml, run_config

    conv_path = str(tmp_path / "conv.parquet")
    rows = [
        (i, "src", [("hello", False, "User"), (f"reply {i}" if i % 4 else "", True, "Assistant")])
        for i in range(8)
    ]
    spark.createDataFrame(
        rows,
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)

    # 2 of 8 responses are empty -> response_nonempty rate = 250M nanos.
    # Threshold above it: the gate logs and the lifecycle completes.
    cfg = tmp_path / "ok.yaml"
    cfg.write_text(GATED_CONFIG.format(conv_path=conv_path, limit=300_000_000))
    with caplog.at_level(logging.INFO, logger="chat_data_pipeline_spark"):
        out = run_config(spark, load_yaml(str(cfg)))
        assert out.count() == 8
    gate_lines = [r.getMessage() for r in caplog.records if "quality_gate" in r.getMessage()]
    assert any("response_nonempty" in m and "250000000" in m for m in gate_lines)
    assert any("id_unique" in m for m in gate_lines)

    # Threshold below it: the gate fails fast and names the rule.
    cfg = tmp_path / "bad.yaml"
    cfg.write_text(GATED_CONFIG.format(conv_path=conv_path, limit=100_000_000))
    with _pytest.raises(ValueError, match="response_nonempty"):
        run_config(spark, load_yaml(str(cfg)))


def test_combine_sources_mixed_formats(spark, tmp_path):
    """S1 format dispatch + S3/S4 provenance union across parquet/json/csv."""
    from chat_data_pipeline_spark.sources.io import combine_sources

    pq = str(tmp_path / "a.parquet")
    js = str(tmp_path / "b.json")
    cs = str(tmp_path / "c.csv")
    spark.createDataFrame([(1, "x")], "id long, v string").write.parquet(pq)
    spark.createDataFrame([(2, "y")], "id long, v string").write.json(js)
    spark.createDataFrame([(3, "z")], "id long, v string").write.option(
        "header", True
    ).csv(cs)

    df = combine_sources(spark, [pq, js, cs])
    rows = df.collect()
    assert len(rows) == 3
    assert {r.source for r in rows} == {pq, js, cs}
    # csv reads untyped without a schema — values still land
    assert {str(r.id) for r in rows} == {"1", "2", "3"}


def test_combine_sources_orc_and_text(spark, tmp_path):
    """r11: ORC dispatch plus raw-text corpora (one doc per line under a
    `text` column — the common web-text delivery) union with provenance."""
    from chat_data_pipeline_spark.sources.io import combine_sources, read_table

    orc = str(tmp_path / "a.orc")
    txt = str(tmp_path / "b.txt")
    spark.createDataFrame([(1, "from orc")], "id long, text string").write.orc(orc)
    (tmp_path / "b.txt").write_text("line one doc\nline two doc\n")

    df = combine_sources(spark, [orc, txt])
    rows = df.collect()
    assert len(rows) == 3
    assert {r.source for r in rows} == {orc, txt}
    texts = {r.text for r in rows}
    assert {"from orc", "line one doc", "line two doc"} == texts

    # wholetext: one document per FILE
    whole = read_table(spark, txt, wholetext="true")
    assert whole.count() == 1
    assert "line one doc" in whole.collect()[0].text


def test_mini_yaml_parser():
    from chat_data_pipeline_spark.cli import _mini_yaml

    cfg = _mini_yaml(CONFIG.format(conv_path="/a/b.parquet", out_path="/c"))
    assert cfg["datasets"] == [{"path": "/a/b.parquet"}]
    assert cfg["seed"] == 42
    assert cfg["response"]["cleaners"] == ["normalize_whitespace", "normalize_punctuation"]
    assert cfg["response"]["filters"][0]["args"]["max_word_threshold"] == 100
    assert cfg["instruction"]["deduplication"]["do_deduplication"] is False


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stream-side decontamination drops exactly the docs the batch operator
    drops (stateless predicate ≡ explode/semi/anti shape)."""
    from chat_data_pipeline_spark.operators import decontamination as DC
    from chat_data_pipeline_spark.streaming import streaming_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    src = str(tmp_path / "train_src")
    train.repartition(3).write.parquet(src)

    batch_kept = {
        r.doc_id
        for r in DC.ngram_decontaminate(train, bench, "text", "doc_id", 3).collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_decontaminate(stream, bench, "text", ngram_size=3)
    q = (
        out.writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_decontam"))
        .start()
    )
    try:
        q.processAllAvailable()
        stream_kept = {r.doc_id for r in spark.sql("select doc_id from decontam_stream").collect()}
    finally:
        q.stop()
    assert stream_kept == batch_kept
    assert 0 < len(stream_kept) < train.count()


# --------------------------------------------------------------------------
# Incremental / streaming MinHash near-dedup (round 5)
# --------------------------------------------------------------------------


# params shared by the operator under test and the greedy reference — the
# signature math must be IDENTICAL for the differential to mean anything
_MH_KW = dict(ngram_size=3, num_perm=64, threshold=0.7, min_ngram_size=3)


def _dup_corpus(spark):
    """17 docs; ids 100-104 are exact clones of 0-4 (cross-batch dups when
    split at id 12), id 11 clones id 10 (within-batch dup).  Docs 0-9 use
    distinct word soups (seeded) so they do NOT near-dup each other."""
    import random

    rng = random.Random(3)
    vocab = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray yankee zulu"
    ).split()
    base = [" ".join(rng.sample(vocab, 14)) for _ in range(10)]
    rows = [(i, base[i]) for i in range(10)]
    rows.append((10, "a completely different document about spark window aggregation semantics"))
    rows.append((11, "a completely different document about spark window aggregation semantics"))
    rows += [(100 + i, base[i]) for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _greedy_reference(spark, df, **kw):
    """One-pass greedy scan in id order over collected band signatures —
    the semantics incremental_minhash_dedup must reproduce exactly."""
    from chat_data_pipeline_spark.operators.dedup import minhash_bands

    rows = minhash_bands(df, "text", "doc_id", **(kw or _MH_KW)).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.id, []).append((r.band, bytes(r.sig)))
    seen: set = set()
    kept = []
    for i in sorted(by_id):
        if any(bs in seen for bs in by_id[i]):
            pass  # dropped — but its signatures still record (store-all)
        else:
            kept.append(i)
        seen.update(by_id[i])
    return kept


def test_incremental_minhash_matches_greedy_reference(spark, tmp_path):
    from chat_data_pipeline_spark.streaming.pipeline import incremental_minhash_dedup

    df = _dup_corpus(spark)
    store = str(tmp_path / "sig_store")
    kept = []
    for lo, hi in [(0, 12), (12, 1000)]:  # two arrival batches in id order
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        out = incremental_minhash_dedup(batch, store, "text", "doc_id")
        kept += [r.doc_id for r in out.collect()]
    expected = _greedy_reference(spark, df)
    assert sorted(kept) == expected
    # the dups actually dropped: clones 100-104 (cross-batch) and 11 (in-batch)
    assert set(range(100, 105)).isdisjoint(kept)
    assert 11 not in kept
    assert set(range(10)) <= set(kept)


def test_incremental_store_records_all_arrivals(spark, tmp_path):
    from chat_data_pipeline_spark.operators.dedup import minhash_bands
    from chat_data_pipeline_spark.streaming.pipeline import incremental_minhash_dedup

    df = _dup_corpus(spark)
    store = str(tmp_path / "sig_store")
    incremental_minhash_dedup(df, store, "text", "doc_id")
    n_bands = minhash_bands(df, "text", "doc_id", **_MH_KW).count()
    assert spark.read.parquet(store).count() == n_bands  # kept AND dropped


def test_streaming_minhash_dedup_end_to_end(spark, tmp_path):
    from chat_data_pipeline_spark.streaming.pipeline import streaming_minhash_dedup

    df = _dup_corpus(spark)
    src = tmp_path / "docs_in"
    src.mkdir()
    # two FILES -> two micro-batches (maxFilesPerTrigger=1; the file stream
    # does not recurse into parquet output directories, so stage bare
    # part-files); file order by name matches id order
    import glob as g

    for name, cond in [("a", "doc_id < 12"), ("b", "doc_id >= 12")]:
        tmp = str(tmp_path / f"stage_{name}")
        df.filter(cond).coalesce(1).write.parquet(tmp)
        shutil.copy(g.glob(tmp + "/part-*.parquet")[0], src / f"{name}.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = streaming_minhash_dedup(
        stream,
        sink_path=str(tmp_path / "sink"),
        store_path=str(tmp_path / "store"),
        checkpoint_path=str(tmp_path / "ckpt"),
        column="text",
        id_col="doc_id",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    )
    # same greedy result as the incremental steps — regardless of which file
    # arrived in which micro-batch, because file order here matches id order
    assert kept == _greedy_reference(spark, df)


def test_incremental_minhash_batch_retry_is_idempotent(spark, tmp_path):
    """A batch replayed with the same batch_id (mid-commit crash recovery)
    must reproduce the identical kept set and leave the store byte-identical
    — the partition-overwrite mode's whole contract."""
    from chat_data_pipeline_spark.streaming.pipeline import incremental_minhash_dedup

    df = _dup_corpus(spark)
    store = str(tmp_path / "sig_store")
    b0 = df.filter("doc_id < 12")
    b1 = df.filter("doc_id >= 12")

    kept0 = sorted(r.doc_id for r in incremental_minhash_dedup(b0, store, "text", "doc_id", batch_id=0).collect())
    kept1 = sorted(r.doc_id for r in incremental_minhash_dedup(b1, store, "text", "doc_id", batch_id=1).collect())
    n_store = spark.read.parquet(store).count()

    # replay batch 1: same kept set, store unchanged (own partition excluded
    # from the probe, then overwritten with identical bytes)
    kept1_retry = sorted(r.doc_id for r in incremental_minhash_dedup(b1, store, "text", "doc_id", batch_id=1).collect())
    assert kept1_retry == kept1
    assert spark.read.parquet(store).count() == n_store
    # and the two-batch greedy result still matches the reference scan
    assert sorted(kept0 + kept1) == _greedy_reference(spark, df)


def test_stream_static_enrich_equals_batch(spark, tmp_path, events_dir):
    """Stream-static broadcast enrichment: per-user lifetime stats (computed
    batch-side, the slowly-changing dim) joined onto the live stream must
    produce exactly the batch join's rows; unmatched stream rows survive a
    left join with nulls."""
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        stream_static_enrich,
    )

    batch = _read_events(spark, SF_DIR)
    # dim misses some users on purpose (odd user_ids only) so the left-join
    # null path is exercised
    dim = (
        batch.filter(F.col("user_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.count("*").alias("lifetime_events"))
    )

    expected = {
        (r.event_id, r.lifetime_events)
        for r in batch.join(dim, "user_id", "left")
        .select("event_id", "lifetime_events")
        .collect()
    }

    stream = read_events_stream(spark, events_dir)
    enriched = stream_static_enrich(stream, dim, on="user_id", how="left")
    q = (
        enriched.select("event_id", "lifetime_events")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_id, r.lifetime_events)
            for r in spark.sql("select * from enriched").collect()
        }
    finally:
        q.stop()
    assert got == expected
    assert any(le is None for _, le in got)  # unmatched users survive


def test_stream_static_enrich_rejects_unsupported_join(spark, events_dir):
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        stream_static_enrich,
    )

    stream = read_events_stream(spark, events_dir)
    with pytest.raises(ValueError, match="stream-static"):
        stream_static_enrich(stream, stream.groupBy("user_id").count(), "user_id", how="full")


def test_streaming_datacard_equals_batch(spark, tmp_path, events_dir):
    """The live datacard's exact figures equal the batch aggregation over
    the same data; the distinct figure is the documented HLL approximation
    (bounded state), asserted within its error envelope."""
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_datacard,
    )

    batch = _read_events(spark, SF_DIR)
    want = streaming_datacard(batch).first()  # same agg runs on batch frames

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_datacard(stream)
        .writeStream.format("memory")
        .queryName("datacard")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_card"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from datacard").first()
    finally:
        q.stop()
    assert (got.n_rows, got.n_tokens, got.avg_chars) == (
        want.n_rows,
        want.n_tokens,
        want.avg_chars,
    )
    assert got.approx_distinct_texts == want.approx_distinct_texts  # same HLL


def test_streaming_cms_equals_batch_sketch(spark, tmp_path, events_dir):
    """The live Count-Min sketch is cell-for-cell EQUAL to the batch sketch
    over the same rows (same md5 hash family, integer counters) — and its
    state is bounded at depth x width whatever the stream's cardinality."""
    from chat_data_pipeline_spark.operators.sketches import cms_table
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_cms_table,
    )

    batch = _read_events(spark, SF_DIR)
    want = {(r.d, r.bucket): r.c for r in cms_table(batch, "props").collect()}

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_cms_table(stream, "props")
        .writeStream.format("memory")
        .queryName("cms_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.d, r.bucket): r.c
            for r in spark.sql("select * from cms_live").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_streaming_hll_equals_batch_registers(spark, tmp_path, events_dir):
    """The live HLL register table is bucket-for-bucket EQUAL to the batch
    registers over the same rows (same md5 bucket/rho derivation) — and its
    state is 512 rows whatever the stream's cardinality."""
    from chat_data_pipeline_spark.operators.sketches import hll_registers
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_hll_registers,
    )

    batch = _read_events(spark, SF_DIR)
    want = {r.bucket: r.r for r in hll_registers(batch, "props").collect()}

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_hll_registers(stream, "props")
        .writeStream.format("memory")
        .queryName("hll_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.bucket: r.r for r in spark.sql("select * from hll_live").collect()
        }
    finally:
        q.stop()
    assert got == want
    assert len(got) <= 512


def test_streaming_value_histogram_equals_batch(spark, tmp_path, events_dir):
    """The live value histogram is bin-for-bin EQUAL to the batch histogram
    over the same rows, with bounded (<= ~8*64 bins) state."""
    from chat_data_pipeline_spark.operators.sketches import value_histogram
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_value_histogram,
    )

    batch = _read_events(spark, SF_DIR)
    want = {(r.lo, r.hi): r.cnt for r in value_histogram(batch, "value").collect()}

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_value_histogram(stream, "value")
        .writeStream.format("memory")
        .queryName("hist_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_hist"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.lo, r.hi): r.cnt
            for r in spark.sql("select * from hist_live").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_streaming_funnel_matches_batch_on_ordered_stream(spark, tmp_path, events_dir):
    """Fed in event-time order (single source file), the live funnel's
    deepest row per user equals the batch funnel_steps result exactly —
    the documented exactness regime of the one-pass greedy."""
    from chat_data_pipeline_spark.operators import temporal as TP
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_funnel,
    )

    batch = _read_events(spark, SF_DIR)
    want = {
        r.user_id: (
            r.t_view and int(r.t_view.timestamp()),
            r.t_click and int(r.t_click.timestamp()),
            r.t_purchase and int(r.t_purchase.timestamp()),
            r.funnel_depth,
        )
        for r in TP.funnel_steps(batch).collect()
    }

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_live")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from funnel_live").collect()
    finally:
        q.stop()
    got = {}
    for r in rows:  # keep the deepest progress row per user
        cur = got.get(r.user_id)
        if cur is None or r.funnel_depth > cur[3]:
            got[r.user_id] = (
                r.t_view_epoch, r.t_click_epoch, r.t_purchase_epoch, r.funnel_depth
            )
    assert got == want


def test_streaming_funnel_state_eviction(spark, tmp_path):
    """The EventTimeTimeout actually evicts: once the watermark passes a
    user's last event + state_ttl_seconds, their state row is dropped from
    the store (observed via the state-operator numRowsTotal metric).
    Without eviction, per-user state grows monotonically with lifetime
    user cardinality — the 100 TB scale-killer this guards against."""
    import datetime as dt

    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_funnel,
    )

    d = tmp_path / "funnel_in"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "") for i, (ts, uid, et) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    # batch 1: users 1 and 2 both open a chain at t0
    write_batch("b1", [(t0, 1, "view"), (t0, 2, "view")])
    stream = read_events_stream(spark, str(d) + "/*")
    q = (
        streaming_funnel(stream, watermark="10 seconds", state_ttl_seconds=600)
        .writeStream.format("memory")
        .queryName("funnel_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows_after_b1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # batch 2: only user 2 stays active, 700 s later (> TTL 600 s);
        # this batch ADVANCES the watermark past user 1's deadline
        write_batch("b2", [(t0 + dt.timedelta(seconds=700), 2, "click")])
        q.processAllAvailable()
        # batch 3: one more event so a micro-batch runs AFTER the advanced
        # watermark — timeouts are evaluated per batch
        write_batch("b3", [(t0 + dt.timedelta(seconds=800), 2, "purchase")])
        q.processAllAvailable()
        rows_after_b3 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        emitted = spark.sql("select * from funnel_evict").collect()
    finally:
        q.stop()

    assert rows_after_b1 == 2
    assert rows_after_b3 == 1  # user 1 evicted, user 2 live
    # eviction is silent: user 1's only rows are real progress rows
    u1 = [r for r in emitted if r.user_id == 1]
    assert len(u1) == 1 and u1[0].funnel_depth == 1
    # user 2's chain still advanced to depth 3 across batches
    assert max(r.funnel_depth for r in emitted if r.user_id == 2) == 3


def test_streaming_funnel_late_events_never_shrink_ttl(spark, tmp_path):
    """Review finding (r10): a micro-batch containing only LATE (older)
    events for a user must not move the eviction deadline backward.  The
    deadline derives from the persisted monotone last-activity timestamp,
    so user 1 (active at t0+500) survives a watermark of ~t0+990 even
    though a later batch replayed an old t0+100 event — and is still
    evicted once the watermark passes last-activity + TTL."""
    import datetime as dt

    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_funnel,
    )

    d = tmp_path / "funnel_late_in"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "") for i, (ts, uid, et) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    s = dt.timedelta
    write_batch("b1", [(t0, 1, "view"), (t0, 2, "view")])
    q = (
        streaming_funnel(
            read_events_stream(spark, str(d) + "/*"),
            watermark="10 seconds",
            state_ttl_seconds=600,
        )
        .writeStream.format("memory")
        .queryName("funnel_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        # u1 advances at t0+500 (la=500); u2 keeps the watermark moving
        write_batch("b2", [(t0 + s(seconds=500), 1, "click"),
                           (t0 + s(seconds=550), 2, "click")])
        q.processAllAvailable()
        # the LATE batch: u1's stale t0+100 event (no advance, la stays 500)
        write_batch("b3", [(t0 + s(seconds=100), 1, "view"),
                           (t0 + s(seconds=650), 2, "purchase")])
        q.processAllAvailable()
        # advance the watermark to ~t0+990: past 100+600, NOT past 500+600
        write_batch("b4", [(t0 + s(seconds=1000), 2, "purchase")])
        q.processAllAvailable()
        write_batch("b5", [(t0 + s(seconds=1050), 2, "purchase")])
        q.processAllAvailable()
        alive_mid = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # now push the watermark past u1's true deadline t0+1100
        write_batch("b6", [(t0 + s(seconds=1300), 2, "purchase")])
        q.processAllAvailable()
        write_batch("b7", [(t0 + s(seconds=1350), 2, "purchase")])
        q.processAllAvailable()
        alive_end = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()

    assert alive_mid == 2, "late replay shrank the TTL and evicted early"
    assert alive_end == 1, "eviction from last-activity + TTL must still fire"


def test_streaming_quality_report_equals_batch(spark, tmp_path, events_dir):
    """The live ingest gate re-emits the exact batch-equal rule report every
    trigger — one bounded aggregate row of state however much the stream
    has ingested (the CMS/HLL twin shape applied to data quality)."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators.diagnostics import data_quality_report
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import read_events_stream
    from chat_data_pipeline_spark.streaming.pipeline import streaming_quality_report

    rules = {
        "props_not_null": F.col("props").isNotNull(),
        "value_nonnegative": F.col("value") >= 0,
        "type_known": F.col("event_type").isin("view", "click", "purchase", "error"),
    }
    batch = _read_events(spark, SF_DIR)
    want = sorted(tuple(r) for r in data_quality_report(batch, rules).collect())

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_quality_report(stream, rules)
        .writeStream.format("memory")
        .queryName("quality_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_qg"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("select * from quality_live").collect()
        )
    finally:
        q.stop()
    assert got == want


def test_write_table_roundtrips_by_extension(spark, tmp_path):
    """r11: sink dispatch mirrors read_table — parquet/json/orc round-trip
    through the same extension inference (csv is lossy on nested types and
    covered by the flat case)."""
    from chat_data_pipeline_spark.sources.io import read_table, write_table

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, text string")
    for name in ("o.parquet", "o.json", "o.orc", "o.csv"):
        path = str(tmp_path / name)
        write_table(df, path)
        back = read_table(spark, path)
        got = sorted((str(r.id), r.text) for r in back.collect())
        assert got == [("1", "alpha"), ("2", "beta")], name


def test_write_table_csv_rejects_complex_columns_before_running(spark, tmp_path):
    """r12 ADVICE fix: a CSV sink with array/struct columns must fail at
    write_table CALL time (plan-only schema check) with the offending
    columns named — not as an AnalysisException after the pipeline ran —
    and stringify_complex=True must round-trip them as JSON text."""
    import json

    import pytest

    from chat_data_pipeline_spark.sources.io import read_table, write_table

    df = spark.createDataFrame(
        [(1, ["a", "b"], {"k": "v"})],
        "id long, tags array<string>, meta map<string,string>",
    )
    with pytest.raises(ValueError, match="tags.*meta|'tags', 'meta'"):
        write_table(df, str(tmp_path / "bad.csv"))
    path = str(tmp_path / "ok.csv")
    write_table(df, path, stringify_complex=True)
    row = read_table(spark, path).collect()[0]
    assert json.loads(row.tags) == ["a", "b"]
    assert json.loads(row.meta) == {"k": "v"}


def test_write_table_file_sizing_controls(spark, tmp_path):
    """r12: the 100 TB write path — target_files fixes the output shard
    count, max_records_per_file caps shard size, partition_by produces
    hive dirs whose per-dir file count stays at the repartitioned task
    count (not tasks x partition values)."""
    import glob

    from chat_data_pipeline_spark.sources.io import write_table

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(1000)],
        "id long, parity string",
    ).repartition(16)

    flat = str(tmp_path / "flat.parquet")
    write_table(df, flat, target_files=4)
    files = glob.glob(flat + "/part-*")
    assert len(files) == 4

    capped = str(tmp_path / "capped.parquet")
    write_table(df, capped, target_files=2, max_records_per_file=300)
    files = glob.glob(capped + "/part-*")
    # 2 tasks x 500 rows, split at 300 -> 2 files per task
    assert len(files) == 4

    parts = str(tmp_path / "parts.parquet")
    write_table(df, parts, partition_by="parity", target_files=2)
    for val in ("even", "odd"):
        files = glob.glob(parts + f"/parity={val}/part-*")
        assert 1 <= len(files) <= 2, val
    back = spark.read.parquet(parts)
    assert back.count() == 1000 and set(back.columns) == {"id", "parity"}


def test_streaming_uniqueness_registers_equal_batch(spark, tmp_path, events_dir):
    """The live approximate-uniqueness state is bucket-for-bucket EQUAL to
    the batch key_hll_registers over the same rows (same md5 bucket/rho and
    counts), with bounded (<= 512 rows) state — the r12 closure of the live
    quality gate's deliberately-excluded uniqueness rule."""
    from chat_data_pipeline_spark.operators.sketches import key_hll_registers
    from chat_data_pipeline_spark.queries import _read_events
    from chat_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_uniqueness_registers,
    )

    batch = _read_events(spark, SF_DIR)
    want = {r.bucket: (r.r, r.n) for r in key_hll_registers(batch, "user_id").collect()}

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_uniqueness_registers(stream, "user_id")
        .writeStream.format("memory")
        .queryName("uniq_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_uniq"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.bucket: (r.r, r.n)
            for r in spark.sql("select * from uniq_live").collect()
        }
    finally:
        q.stop()
    assert got == want
    assert len(got) <= 512


def test_uniqueness_approx_tracks_exact_report_within_sketch_error(spark):
    """On a corpus big enough to leave raw HLL's tiny-cardinality regime,
    the approximate report's figures track uniqueness_report's exact ones:
    n_rows exactly, the distinct estimate and duplicate rate within the
    documented ~1.04/sqrt(512) (~4.6%, tested at 3x slack) band."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators.diagnostics import uniqueness_report
    from chat_data_pipeline_spark.operators.sketches import (
        key_hll_registers,
        uniqueness_approx_report,
    )

    # 40k distinct keys; keys divisible by 4 appear twice -> 50k rows,
    # exact duplicate rows (n - distinct) = 10k, dup rate 0.2
    base = spark.range(40_000).select(F.col("id").alias("k"))
    dups = base.filter(F.col("k") % 4 == 0)
    df = base.unionAll(dups)

    approx = uniqueness_approx_report(key_hll_registers(df, "k"), "k").collect()[0]
    exact = uniqueness_report(df, "k").collect()[0]

    n_exact_distinct = 40_000
    assert approx.n_rows == exact.n_rows == 50_000
    rel = abs(approx.est_distinct - n_exact_distinct) / n_exact_distinct
    assert rel < 0.14, rel  # 3x the 4.6% rsd
    # duplicate-rows estimate within the same band of the exact 10k
    assert abs(approx.est_duplicate_rows - 10_000) < 0.14 * n_exact_distinct
    assert 0 < approx.dup_rate_nanos < 1_000_000_000


def test_uniqueness_approx_empty_and_null_keys(spark):
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators.sketches import (
        key_hll_registers,
        uniqueness_approx_report,
    )

    empty = spark.createDataFrame([], "k long")
    r = uniqueness_approx_report(key_hll_registers(empty, "k"), "k").collect()[0]
    assert (r.n_rows, r.est_distinct, r.est_duplicate_rows, r.dup_rate_nanos) == (
        0,
        0.0,
        0,
        0,
    )
    # NULL keys occupy one register and count as rows
    nulls = spark.createDataFrame([(None,), (None,), (1,)], "k int")
    r = uniqueness_approx_report(key_hll_registers(nulls, "k"), "k").collect()[0]
    assert r.n_rows == 3


def test_read_table_dispatches_compressed_extensions(spark, tmp_path):
    """r12: a .jsonl.gz / .csv.gz / .txt.gz delivery (the common gzipped
    web-crawl shard) must dispatch on the INNER extension — previously the
    compression suffix fell through to the parquet default and the read
    exploded on magic bytes."""
    import gzip

    from chat_data_pipeline_spark.sources.io import read_table

    jl = tmp_path / "docs.jsonl.gz"
    with gzip.open(jl, "wt") as fh:
        fh.write('{"id": 1, "text": "alpha"}\n{"id": 2, "text": "beta"}\n')
    got = sorted((int(r.id), r.text) for r in read_table(spark, str(jl)).collect())
    assert got == [(1, "alpha"), (2, "beta")]

    cv = tmp_path / "docs.csv.gz"
    with gzip.open(cv, "wt") as fh:
        fh.write("id,text\n1,alpha\n2,beta\n")
    got = sorted((r.id, r.text) for r in read_table(spark, str(cv)).collect())
    assert got == [("1", "alpha"), ("2", "beta")]

    tx = tmp_path / "docs.txt.gz"
    with gzip.open(tx, "wt") as fh:
        fh.write("line one\nline two\n")
    got = sorted(r.text for r in read_table(spark, str(tx)).collect())
    assert got == ["line one", "line two"]


def test_key_hll_registers_match_pure_python_mirror(spark):
    """Three-way evidence for the approximate-uniqueness sketch: the
    register table (bucket, max-rho, count) must equal a pure-Python md5
    mirror EXACTLY on a seeded random key set with duplicates and NULLs —
    pinning the bucket derivation, the rho rank walk, and the counts
    independently of Spark."""
    import hashlib
    import random

    from chat_data_pipeline_spark.operators.sketches import (
        HLL_M,
        key_hll_registers,
    )

    def py_registers(keys, key_col="k"):
        regs = {}
        for key in keys:
            tok = "\x00<null-key>" if key is None else str(key)
            h = hashlib.md5(f"uniq:{key_col}\x1f{tok}".encode()).hexdigest()
            bucket = int(h[:8], 16) % HLL_M
            hex13 = h[8:21]
            lz = len(hex13) - len(hex13.lstrip("0"))
            if lz >= 13:
                rho = 53
            else:
                d = hex13[lz]
                extra = {"1": 3, "2": 2, "3": 2}.get(d, 1 if d in "4567" else 0)
                rho = lz * 4 + extra + 1
            r, n = regs.get(bucket, (0, 0))
            regs[bucket] = (max(r, rho), n + 1)
        return regs

    rng = random.Random(20260815)
    keys = [rng.randrange(5000) for _ in range(12000)] + [None] * 7
    df = spark.createDataFrame([(k,) for k in keys], "k int")
    got = {r.bucket: (r.r, r.n) for r in key_hll_registers(df, "k").collect()}
    assert got == py_registers(keys)


# min_score_threshold 17000 = the midpoint of the measured class bands
# (junk vocabulary scores exactly 0, trusted >= ~34k after 12 rounds)
TRAIN_GATE_CONFIG = """
datasets:
  - path: {conv_path}
seed: 42
train:
  quality_classifier:
    column: response
    label_expr: "source = 'trusted'"
    weights_path: {weights_path}
    n_buckets: 64
    rounds: 12
response:
  cleaners: []
  filters:
    - name: check_quality_classifier
      args:
        weights_path: {weights_path}
        n_buckets: 64
        min_score_threshold: 17000
  deduplication:
    do_deduplication: false
instruction:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
"""


def test_cli_train_then_gate_one_yaml(spark, tmp_path):
    """r13: the complete train-then-gate curation loop in ONE config — the
    train: block fits the fixed-point classifier on the 'source = trusted'
    seed signal and persists the dense (bucket, weight) table to the exact
    path the check_quality_classifier filter consumes; the gated output
    keeps the trusted vocabulary and drops the junk one."""
    from chat_data_pipeline_spark.cli import load_yaml, run_config

    good = ["quality prose flows here", "thoughtful writing reads well",
            "prose and writing flow together", "reads well and flows"]
    junk = ["zork quux blarg", "blarg zork noise", "quux noise zork blarg",
            "noise quux blarg"]
    rows = [
        (i, "trusted", [("q", False, "User"), (good[i % 4], True, "Assistant")])
        for i in range(20)
    ] + [
        (100 + i, "scraped", [("q", False, "User"), (junk[i % 4], True, "Assistant")])
        for i in range(20)
    ]
    conv_path = str(tmp_path / "conv.parquet")
    spark.createDataFrame(
        rows,
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)

    weights_path = str(tmp_path / "quality_weights.parquet")
    cfg = tmp_path / "train_gate.yaml"
    cfg.write_text(
        TRAIN_GATE_CONFIG.format(conv_path=conv_path, weights_path=weights_path)
    )
    out = run_config(spark, load_yaml(str(cfg)))
    got = out.collect()

    # the persisted artifact is the dense trained table the filter loaded
    w = spark.read.parquet(weights_path)
    assert w.count() == 64 and {f.name for f in w.schema.fields} == {"bucket", "weight"}

    # every surviving row is from the trusted seed vocabulary
    assert len(got) == 20
    assert all("zork" not in r.conversation[-1].content for r in got)
    assert {r.source for r in got} == {"trusted"}


def test_cli_train_block_validates_config(spark, tmp_path):
    """Unknown trainers and missing label_expr/weights_path fail loudly at
    config time, not as an AttributeError mid-lifecycle."""
    import pytest as _pytest

    from chat_data_pipeline_spark.cli import _run_training

    df = spark.createDataFrame([(1, "x", "t")], "id long, source string, response string")
    with _pytest.raises(ValueError, match="unknown trainer"):
        _run_training(spark, df, {"bogus_trainer": {}})
    with _pytest.raises(ValueError, match="label_expr"):
        _run_training(spark, df, {"quality_classifier": {"weights_path": "/tmp/x"}})


def test_streaming_classifier_eval_equals_batch(spark, tmp_path):
    """The live eval twin: continuous confusion of the deployed gate's
    FIXED-threshold keep rule over a labeled stream is batch-equal every
    trigger (one aggregate row of state), so a drift that flips gate
    decisions moves precision/recall on the next trigger."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.functions import scoring as SC
    from chat_data_pipeline_spark.streaming import streaming_classifier_eval

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    label = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    weights = SC.train_linear_classifier_fixed_point(
        docs, "text", label, n_buckets=64, rounds=4
    )
    # the deployed threshold: the corpus average, computed ONCE at training
    # time and then fixed at serving (what production actually runs)
    thr_row = docs.select(
        SC.fixed_point_score(
            SC.doc_bucket_features(F.col("text"), 64), weights
        ).alias("p")
    ).agg(F.expr("sum(p) div count(*)").alias("t")).first()
    thr = int(thr_row.t)
    want = tuple(
        SC.classifier_confusion(docs, "text", label, weights, thr).first()
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    _shutil.copy(f"{SF_DIR}/documents.parquet", d / "documents.parquet")
    schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    q = (
        streaming_classifier_eval(stream, "text", "lang = 'en'", weights, thr)
        .writeStream.format("memory")
        .queryName("cls_eval_live")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_cls_eval"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = tuple(spark.sql("select * from cls_eval_live").first())
    finally:
        q.stop()
    assert got == want
    assert sum(want[:4]) == docs.count()  # every doc classified exactly once


INDEX_CONFIG = """
datasets:
  - path: {conv_path}
seed: 42
index:
  bm25:
    path: {idx_path}
    column: response
    id_expr: id
    action: {action}
{batch_line}response:
  cleaners: []
  filters:
    - name: check_word_number
      args:
        min_word_threshold: 2
        max_word_threshold: 100
  deduplication:
    do_deduplication: false
instruction:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
"""


def test_cli_index_block_builds_and_extends(spark, tmp_path):
    """r13: config-driven index maintenance — one YAML curates and leaves
    a servable BM25 index of what it KEPT (the one-word response is
    filtered out and must not be indexed); a second config delivers an
    extension batch into the same index."""
    import pytest as _pytest

    from chat_data_pipeline_spark.cli import _run_indexing, load_yaml, run_config
    from chat_data_pipeline_spark.operators import retrieval as RT

    rows = [
        (1, "s", [("q", False, "User"), ("spark shuffles the hash join", True, "Assistant")]),
        (2, "s", [("q", False, "User"), ("window functions sort rows", True, "Assistant")]),
        (3, "s", [("q", False, "User"), ("short", True, "Assistant")]),  # filtered out
    ]
    conv_path = str(tmp_path / "conv.parquet")
    spark.createDataFrame(
        rows,
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)
    idx = str(tmp_path / "cfg_idx")

    cfg = tmp_path / "build.yaml"
    cfg.write_text(
        INDEX_CONFIG.format(conv_path=conv_path, idx_path=idx, action="build", batch_line="")
    )
    run_config(spark, load_yaml(str(cfg)))
    got = {r.doc_id for r in RT.bm25_topk_indexed(spark, idx, ["hash", "sort"]).collect()}
    assert got == {1, 2}  # the filtered doc 3 never reached the index

    # extension delivery via a second config
    rows2 = [(9, "s", [("q", False, "User"), ("another hash heavy reply", True, "Assistant")])]
    conv2 = str(tmp_path / "conv2.parquet")
    spark.createDataFrame(
        rows2,
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv2)
    cfg2 = tmp_path / "extend.yaml"
    cfg2.write_text(
        INDEX_CONFIG.format(
            conv_path=conv2, idx_path=idx, action="extend",
            batch_line="    batch_id: d1\n",
        )
    )
    run_config(spark, load_yaml(str(cfg2)))
    got2 = {r.doc_id for r in RT.bm25_topk_indexed(spark, idx, ["hash", "sort"]).collect()}
    assert got2 == {1, 2, 9}

    # config validation fails loudly
    df = spark.createDataFrame([(1, "x")], "id long, response string")
    with _pytest.raises(ValueError, match="unknown index kind"):
        _run_indexing(spark, df, {"faiss": {}})
    with _pytest.raises(ValueError, match="path"):
        _run_indexing(spark, df, {"bm25": {}})
    with _pytest.raises(ValueError, match="batch_id"):
        _run_indexing(spark, df, {"bm25": {"path": str(idx), "action": "extend"}})


def test_cli_index_compact_action(spark, tmp_path):
    """index.bm25 action=compact folds committed deliveries into one base
    from config — probes bit-identical, ledger reset."""
    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import retrieval as RT
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("id"), F.col("text").alias("response")
    )
    idx = str(tmp_path / "cli_compact_idx")
    _run_indexing(spark, docs.filter(F.col("id") % 2 == 0), {"bm25": {"path": idx}})
    _run_indexing(
        spark,
        docs.filter(F.col("id") % 2 == 1),
        {"bm25": {"path": idx, "action": "extend", "batch_id": "d1"}},
    )
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, ["join", "hash"]).collect()))
    _run_indexing(spark, docs.limit(0), {"bm25": {"path": idx, "action": "compact"}})
    got = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, ["join", "hash"]).collect()))
    assert got == want
    assert ST.committed_batches(spark, idx) == ["base"]


IVF_INDEX_CONFIG = """
datasets:
  - path: {conv_path}
seed: 42
index:
  ivf:
    path: {idx_path}
    dataset: {emb_path}
    vec_col: embedding
    id_expr: vec_id
    coarse: md5
    n_centroids: 16
    dim: 64
    action: {action}
{batch_line}response:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
instruction:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
"""


def test_cli_index_ivf_lifecycle(spark, tmp_path):
    """r14 (r13 verdict item 4): the index: block's ANN twin — one YAML
    family curates and leaves a servable IVF index behind (build), a
    second config delivers an extension batch, a third compacts; probes
    stay bit-identical to a direct build over the union, and the rebuild
    action is config-reachable."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import _run_indexing, load_yaml, run_config
    from chat_data_pipeline_spark.operators import similarity as SIM
    from chat_data_pipeline_spark.operators.store import committed_batches

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    half_a, half_b = (
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )
    emb_a, emb_b = str(tmp_path / "emb_a.parquet"), str(tmp_path / "emb_b.parquet")
    half_a.write.parquet(emb_a)
    half_b.write.parquet(emb_b)
    conv_path = str(tmp_path / "conv.parquet")
    spark.createDataFrame(
        [(1, "s", [("q", False, "User"), ("a fine reply", True, "Assistant")])],
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)
    idx = str(tmp_path / "cfg_ivf_idx")

    cfg = tmp_path / "ivf_build.yaml"
    cfg.write_text(
        IVF_INDEX_CONFIG.format(
            conv_path=conv_path, idx_path=idx, emb_path=emb_a,
            action="build", batch_line="",
        )
    )
    run_config(spark, load_yaml(str(cfg)))
    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    base_probe = SIM.ivf_topk_persisted(spark, idx, queries, k=5, n_probe=4)
    assert base_probe.count() > 0

    cfg2 = tmp_path / "ivf_extend.yaml"
    cfg2.write_text(
        IVF_INDEX_CONFIG.format(
            conv_path=conv_path, idx_path=idx, emb_path=emb_b,
            action="extend", batch_line="    batch_id: d1\n",
        )
    )
    run_config(spark, load_yaml(str(cfg2)))
    # bit-identical to a direct build over the union (the md5 twin's
    # assignment arithmetic is delivery-order-invariant)
    direct = str(tmp_path / "direct_ivf")
    SIM.build_ivf_index(
        emb.select(
            F.col("vec_id").alias("__vec_id__"), F.col("embedding").alias("__vec__")
        ),
        direct, n_centroids=16, id_col="__vec_id__", vec_col="__vec__",
        coarse="md5", dim=64,
    )
    want = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, direct, queries, k=5, n_probe=4).collect())
    )
    got = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=5, n_probe=4).collect())
    )
    assert got == want

    # compact from config: one base, probes unchanged
    df0 = spark.createDataFrame([(1, "x")], "id long, response string")
    _run_indexing(spark, df0, {"ivf": {"path": idx, "action": "compact"}})
    assert committed_batches(spark, idx) == ["base"]
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=5, n_probe=4).collect())
    ) == want

    # rebuild reachable from config (md5 at same n_centroids: bit-exact)
    _run_indexing(spark, df0, {"ivf": {"path": idx, "action": "rebuild"}})
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=5, n_probe=4).collect())
    ) == want

    # validation fails loudly
    with _pytest.raises(ValueError, match="path"):
        _run_indexing(spark, df0, {"ivf": {}})
    with _pytest.raises(ValueError, match="batch_id"):
        _run_indexing(spark, df0, {"ivf": {"path": idx, "action": "extend"}})
    with _pytest.raises(ValueError, match="action must be"):
        _run_indexing(spark, df0, {"ivf": {"path": idx, "action": "faiss"}})


def test_cli_index_alias_cutover(spark, tmp_path):
    """r14: the `alias:` key completes the zero-downtime loop in one
    config — the swap lands only after the action completed, and a
    rebuild into dst_path cuts the serving pointer over atomically."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("id"), F.col("text").alias("response")
    )
    idx = str(tmp_path / "alias_bm25")
    alias = str(tmp_path / "bm25_serving")
    _run_indexing(spark, docs, {"bm25": {"path": idx, "alias": alias}})
    assert ST.resolve_index_alias(spark, alias) == idx
    assert (
        RT.bm25_topk_indexed(
            spark, ST.resolve_index_alias(spark, alias), ["join", "hash"], k=5
        ).count()
        == 5
    )

    # ANN: build, then config-driven rebuild into a fresh root + cutover
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ividx, ivdst = str(tmp_path / "alias_ivf"), str(tmp_path / "alias_ivf_v2")
    ivalias = str(tmp_path / "ann_serving")
    _run_indexing(
        spark, emb,
        {"ivf": {"path": ividx, "id_expr": "vec_id", "alias": ivalias}},
    )
    assert ST.resolve_index_alias(spark, ivalias) == ividx
    _run_indexing(
        spark, emb,
        {"ivf": {"path": ividx, "action": "rebuild", "dst_path": ivdst,
                 "alias": ivalias}},
    )
    assert ST.resolve_index_alias(spark, ivalias) == ivdst
    queries = (
        emb.limit(3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    assert (
        SIM.ivf_topk_persisted(
            spark, ST.resolve_index_alias(spark, ivalias), queries, k=5, n_probe=4
        ).count()
        > 0
    )


def test_store_delivery_bm25_stream_equals_batch(spark, tmp_path):
    """r14: a live feed keeps the persisted BM25 index fresh — each
    micro-batch is one ledger-committed delivery, and probes over
    base + streamed deliveries are bit-identical to a fresh build over
    the whole corpus (the extension exactness contract, now reached from
    Structured Streaming)."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.streaming.pipeline import streaming_store_delivery

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "live_bm25")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), idx)

    feed = tmp_path / "bm25_feed"
    feed.mkdir()
    # two files → two triggers → two deliveries
    docs.filter(F.col("doc_id") % 3 == 1).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    docs.filter(F.col("doc_id") % 3 == 2).repartition(1).write.parquet(
        str(feed / "f2.parquet")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(
        stream, idx, str(tmp_path / "ckpt_live_bm25")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    committed = ST.committed_batches(spark, idx)
    assert committed[0] == "base" and len(committed) == 3  # two stream deliveries
    terms = ["join", "hash", "scan", "window", "sort"]
    fresh = str(tmp_path / "fresh_bm25")
    RT.build_text_index(docs, fresh)
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect())
    ) == sorted(map(tuple, RT.bm25_topk_indexed(spark, fresh, terms).collect()))


def test_store_delivery_ivf_stream_equals_batch(spark, tmp_path):
    """ANN twin: streamed vector deliveries assign with the index's own
    coarse arithmetic, so probes equal a direct build over the union."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM
    from chat_data_pipeline_spark.streaming.pipeline import streaming_store_delivery

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "live_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0), idx, n_centroids=16, coarse="md5", dim=64
    )
    feed = tmp_path / "ivf_feed"
    feed.mkdir()
    emb.filter(F.col("vec_id") % 3 == 1).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    emb.filter(F.col("vec_id") % 3 == 2).repartition(1).write.parquet(
        str(feed / "f2.parquet")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(stream, idx, str(tmp_path / "ckpt_live_ivf"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(ST.committed_batches(spark, idx)) == 3
    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    direct = str(tmp_path / "direct_ivf_stream")
    SIM.build_ivf_index(emb, direct, n_centroids=16, coarse="md5", dim=64)
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, direct, queries, k=10, n_probe=4).collect())
    )


def test_cli_ivf_extend_adopts_target_meta_columns(spark, tmp_path):
    """r14 review fix: a config delivery must adopt the TARGET index's meta
    column names — extending an index built directly through the API (meta
    stores vec_id/embedding) from YAML used to rename the source to
    __vec_id__/__vec__ and fail unconditionally."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "api_built_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16, coarse="md5", dim=64
    )
    _run_indexing(
        spark,
        emb.filter(F.col("vec_id") % 2 == 1),
        {"ivf": {"path": idx, "action": "extend", "batch_id": "d1",
                 "id_expr": "vec_id", "vec_col": "embedding"}},
    )
    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    direct = str(tmp_path / "direct_full_ivf")
    SIM.build_ivf_index(emb, direct, n_centroids=16, coarse="md5", dim=64)
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, direct, queries, k=10, n_probe=4).collect())
    )


def test_cli_alias_ignores_stale_dst_path_for_build(spark, tmp_path):
    """r14 review fix: dst_path only counts for the actions that WRITE it —
    a reused compact config flipped to action=build must swap the alias to
    `path`, not silently cut serving over to the old dst root."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("id"), F.col("text").alias("response")
    )
    old_dst = str(tmp_path / "old_compacted_root")
    # a stale-but-servable root (valid meta, so the swap guard won't save us)
    RT.build_text_index(docs.limit(50), old_dst, "response", "id")
    idx = str(tmp_path / "fresh_root")
    alias = str(tmp_path / "serving")
    _run_indexing(
        spark, docs,
        {"bm25": {"path": idx, "action": "build", "dst_path": old_dst,
                  "alias": alias}},
    )
    assert ST.resolve_index_alias(spark, alias) == idx


def test_cli_index_delete_action_both_kinds(spark, tmp_path):
    """r14: config-driven takedown — index.bm25/index.ivf action=delete
    tombstones ids (from an ids table or the run's curated rows) without a
    rebuild; probes match a fresh build over the retained rows, and a
    follow-up compact config makes the removal physical."""
    import pytest as _pytest

    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "cli_del_bm25")
    RT.build_text_index(docs, idx)
    ids_path = str(tmp_path / "victims.parquet")
    docs.filter(F.col("doc_id") % 7 == 3).select("doc_id").write.parquet(ids_path)
    df_unused = spark.createDataFrame([(1, "x")], "id long, response string")
    _run_indexing(
        spark,
        df_unused,
        {"bm25": {"path": idx, "action": "delete", "batch_id": "take-1",
                  "ids_dataset": ids_path, "id_expr": "doc_id"}},
    )
    fresh = str(tmp_path / "cli_del_fresh")
    RT.build_text_index(docs.filter(F.col("doc_id") % 7 != 3), fresh)
    terms = ["join", "hash", "scan", "window", "sort"]
    assert sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect())) == \
        sorted(map(tuple, RT.bm25_topk_indexed(spark, fresh, terms).collect()))
    # compact-from-config makes it physical
    _run_indexing(spark, df_unused, {"bm25": {"path": idx, "action": "compact"}})
    import os

    assert not os.path.exists(f"{idx}/tombstones")

    # batch_id required
    with _pytest.raises(ValueError, match="batch_id"):
        _run_indexing(spark, df_unused, {"bm25": {"path": idx, "action": "delete"}})

    # IVF kind: ids via dataset
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = str(tmp_path / "cli_del_ivf")
    SIM.build_ivf_index(emb, ivf, n_centroids=16, coarse="md5", dim=64)
    vids = str(tmp_path / "vic_vec.parquet")
    emb.filter(F.col("vec_id") % 5 == 2).select("vec_id").write.parquet(vids)
    _run_indexing(
        spark,
        df_unused,
        {"ivf": {"path": ivf, "action": "delete", "batch_id": "take-1",
                 "ids_dataset": vids, "id_expr": "vec_id"}},
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.ivf_topk_persisted(spark, ivf, qs, k=10, n_probe=4).collect()
    assert out and all(r.vec_id % 5 != 2 for r in out)


def test_streaming_takedown_stream_equals_batch(spark, tmp_path):
    """r14: live takedowns — a file feed of ids tombstones both persisted
    indexes one ledger-committed delete per micro-batch; probes afterwards
    are bit-identical to a fresh build over the retained rows, and an id
    reported in two triggers never double-subtracts."""
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "take_bm25")
    RT.build_text_index(docs, idx)
    feed = tmp_path / "take_feed"
    feed.mkdir()
    # two triggers; trigger 2 re-reports some of trigger 1's ids (overlap)
    docs.filter(F.col("doc_id") % 7 == 3).select("doc_id").repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    docs.filter(
        (F.col("doc_id") % 7 == 3) | (F.col("doc_id") % 7 == 5)
    ).select("doc_id").repartition(1).write.parquet(str(feed / "f2.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_takedown(stream, idx, str(tmp_path / "ckpt_take"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    retained = docs.filter((F.col("doc_id") % 7 != 3) & (F.col("doc_id") % 7 != 5))
    fresh = str(tmp_path / "take_fresh")
    RT.build_text_index(retained, fresh)
    terms = ["join", "hash", "scan", "window", "sort"]
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect())
    ) == sorted(map(tuple, RT.bm25_topk_indexed(spark, fresh, terms).collect()))
    # stats subtracted exactly once per victim despite the overlap
    n_live = (
        spark.read.schema("n_docs long, sum_dl long")
        .parquet(f"{idx}/stats")
        .agg(F.sum("n_docs"))
        .first()[0]
    )
    assert n_live == retained.count()

    # ANN twin
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = str(tmp_path / "take_ivf")
    SIM.build_ivf_index(emb, ivf, n_centroids=16, coarse="md5", dim=64)
    vfeed = tmp_path / "take_vfeed"
    vfeed.mkdir()
    emb.filter(F.col("vec_id") % 5 == 2).select("vec_id").repartition(1).write.parquet(
        str(vfeed / "f1.parquet")
    )
    vstream = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vfeed) + "/*")
    )
    vq = streaming_store_takedown(vstream, ivf, str(tmp_path / "ckpt_vtake"))
    try:
        vq.processAllAvailable()
    finally:
        vq.stop()
    vfresh = str(tmp_path / "take_ivf_fresh")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 2), vfresh, n_centroids=16, coarse="md5", dim=64
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, ivf, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, vfresh, queries, k=10, n_probe=4).collect())
    )


def test_store_takedown_rejects_multi_column_stream_before_start(spark, tmp_path):
    """A takedown stream IS the one-column id frame the delete verbs take;
    a wider stream fails at construction, before any query starts."""
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "guard_take_bm25")
    RT.build_text_index(docs, idx)
    feed = tmp_path / "guard_take_feed"
    feed.mkdir()
    docs.limit(3).repartition(1).write.parquet(str(feed / "f1.parquet"))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed) + "/*")
    ckpt = tmp_path / "guard_take_ckpt"
    n_active = len(spark.streams.active)
    with pytest.raises(ValueError, match="one-column"):
        streaming_store_takedown(stream, idx, str(ckpt))
    assert len(spark.streams.active) == n_active
    assert not ckpt.exists()
    assert ST.committed_batches(spark, idx) == ["base"]


def test_store_delivery_on_metaless_root_fails_at_construction(spark, tmp_path):
    """The store kind is read once, before ``.start()``: a root without
    meta (never built, or mid-rebuild) fails when the stream is built,
    not inside its first trigger."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    root = tmp_path / "metaless_root"
    root.mkdir()
    feed = tmp_path / "metaless_feed"
    feed.mkdir()
    docs.limit(3).repartition(1).write.parquet(str(feed / "f1.parquet"))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed) + "/*")
    ckpt = tmp_path / "metaless_ckpt"
    n_active = len(spark.streams.active)
    with pytest.raises(Exception, match="meta"):
        streaming_store_delivery(stream, str(root), str(ckpt))
    assert len(spark.streams.active) == n_active
    assert not ckpt.exists()


def test_cli_dedup_store_and_onboard_block(spark, tmp_path):
    """r14: the signature store is config-reachable — one YAML builds the
    store from its curated rows; a second YAML curates a fresh crawl,
    onboards it against the store (near-dups of the reference subtract),
    and delivers the survivors' signatures back."""
    import pytest as _pytest

    from chat_data_pipeline_spark.cli import _run_indexing, load_yaml, run_config
    from chat_data_pipeline_spark.operators import dedup_store as DS
    from chat_data_pipeline_spark.operators import retrieval as RT

    def conv_rows(ids_texts):
        return [
            (i, "s", [("q", False, "User"), (t, True, "Assistant")])
            for i, t in ids_texts
        ]

    schema = (
        "id long, source string, conversation "
        "array<struct<content string, do_train boolean, role string>>"
    )
    ref_texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "spark shuffles the hash join across the whole cluster nightly"),
    ]
    conv1 = str(tmp_path / "ref.parquet")
    spark.createDataFrame(conv_rows(ref_texts), schema).write.parquet(conv1)
    store = str(tmp_path / "sig_store")
    cfg1 = tmp_path / "build.yaml"
    cfg1.write_text(
        f"datasets:\n  - path: {conv1}\noutput_path: {tmp_path}/out1\n"
        "response:\n  cleaners: []\n  filters: []\n"
        "  deduplication: {do_deduplication: false}\n"
        "instruction:\n  cleaners: []\n  filters: []\n"
        "  deduplication: {do_deduplication: false}\n"
        f"index:\n  dedup:\n    path: {store}\n    action: build\n"
        "    ngram_size: 3\n    min_ngram_size: 3\n"
    )
    run_config(spark, load_yaml(str(cfg1)))
    assert spark.read.parquet(f"{store}/meta").first().family == "md5"

    # second config: one near-dup of ref doc 1, one fresh doc; onboard
    new_texts = [
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "entirely novel content about window functions and sorting rows"),
    ]
    conv2 = str(tmp_path / "new.parquet")
    spark.createDataFrame(conv_rows(new_texts), schema).write.parquet(conv2)
    cfg2 = tmp_path / "onboard.yaml"
    cfg2.write_text(
        f"datasets:\n  - path: {conv2}\noutput_path: {tmp_path}/out2\n"
        "response:\n  cleaners: []\n  filters: []\n"
        "  deduplication: {do_deduplication: false}\n"
        "instruction:\n  cleaners: []\n  filters: []\n"
        "  deduplication: {do_deduplication: false}\n"
        f"onboard:\n  store: {store}\n  deliver_batch_id: crawl-1\n"
    )
    out = run_config(spark, load_yaml(str(cfg2)))
    kept = {r.id for r in out.select("id").collect()}
    assert kept == {11}  # the near-dup of ref doc 1 subtracted
    # survivors' signatures were delivered back
    assert "crawl-1" in ST.committed_batches(spark, store)
    ids_in_store = {
        r.id for r in spark.read.parquet(f"{store}/bands").select("id").collect()
    }
    assert 11 in ids_in_store and 10 not in ids_in_store

    # validation
    df = spark.createDataFrame([(1, "x")], "id long, response string")
    with _pytest.raises(ValueError, match="batch_id"):
        _run_indexing(spark, df, {"dedup": {"path": store, "action": "extend"}})
    with _pytest.raises(ValueError, match="action"):
        _run_indexing(spark, df, {"dedup": {"path": store, "action": "probe"}})


def test_store_delivery_dedup_stream_equals_batch(spark, tmp_path):
    """r14: streamed signature deliveries — probes of the stream-grown store
    equal a store built directly over the union."""
    from chat_data_pipeline_spark.operators import dedup_store as DS
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "live_sigs")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), store, family="md5")
    feed = tmp_path / "sig_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 3 == 1).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(stream, store, str(tmp_path / "ckpt_sigs"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ST.committed_batches(spark, store)) == 2
    new = docs.filter(F.col("doc_id") % 3 == 2)
    direct = str(tmp_path / "direct_sigs")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 3 != 2), direct, family="md5")
    got = sorted(
        r.doc_id for r in DS.filter_against_dedup_index(spark, store, new).collect()
    )
    want = sorted(
        r.doc_id for r in DS.filter_against_dedup_index(spark, direct, new).collect()
    )
    assert got == want and 0 < len(got) < new.count()


def test_onboard_block_does_not_clobber_colliding_columns(spark, tmp_path):
    """r14 review: a store whose meta column names collide with curated
    output columns mapping DIFFERENT expressions must not have those
    columns overwritten by the onboarding probe."""
    from chat_data_pipeline_spark.cli import _run_onboarding
    from chat_data_pipeline_spark.operators import dedup_store as DS

    ref = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "collide_store")
    # store meta: id_col=doc_id, text_col=text (API defaults)
    DS.build_dedup_index(ref, store, family="md5", ngram_size=3, min_ngram_size=3)
    # curated rows carry their OWN 'text' and 'doc_id' columns with
    # different content; onboarding maps id/response instead
    df = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight",
             "ORIGINAL-TEXT-A", 777),
            (11, "entirely novel content about window functions and rows",
             "ORIGINAL-TEXT-B", 888),
        ],
        "id long, response string, text string, doc_id long",
    )
    out = _run_onboarding(
        spark, df, {"store": store, "column": "response", "id_expr": "id"}
    )
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {11}  # near-dup of the ref subtracted via response
    assert rows[11].text == "ORIGINAL-TEXT-B"  # curated column untouched
    assert rows[11].doc_id == 888
    assert "__onboard_id__" not in out.columns


def test_store_delivery_and_takedown_ivfpq_stream_equals_batch(spark, tmp_path):
    """r15: the compressed store's live lifecycle — streamed vector
    deliveries encode with the index's own meta-pinned md5-PQ arithmetic
    and streamed takedowns tombstone by id, so probes afterwards are
    bit-identical to a fresh build over the retained vectors."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
        streaming_store_takedown,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "live_ivfpq")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 3 == 0), idx,
        n_centroids=16, m=8, n_codewords=16, dim=64,
    )
    feed = tmp_path / "pq_feed"
    feed.mkdir()
    emb.filter(F.col("vec_id") % 3 == 1).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    emb.filter(F.col("vec_id") % 3 == 2).repartition(1).write.parquet(
        str(feed / "f2.parquet")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(stream, idx, str(tmp_path / "ckpt_live_pq"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ST.committed_batches(spark, idx)) == 3

    # takedown feed: one id twice across triggers (no double-subtract) plus
    # a strided victim set
    vic = emb.filter(F.col("vec_id") % 11 == 4).select("vec_id")
    tfeed = tmp_path / "pq_takedown_feed"
    tfeed.mkdir()
    vic.repartition(1).write.parquet(str(tfeed / "t1.parquet"))
    vic.limit(1).repartition(1).write.parquet(str(tfeed / "t2.parquet"))
    tstream = (
        spark.readStream.schema(vic.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tfeed) + "/*")
    )
    tq = streaming_store_takedown(tstream, idx, str(tmp_path / "ckpt_take_pq"))
    try:
        tq.processAllAvailable()
    finally:
        tq.stop()

    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    direct = str(tmp_path / "direct_ivfpq_stream")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 11 != 4), direct,
        n_centroids=16, m=8, n_codewords=16, dim=64,
    )
    assert sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, direct, queries, k=10, n_probe=4).collect())
    )


def test_cli_ivfpq_lifecycle(spark, tmp_path):
    """r15: the compressed store is YAML-reachable — build from a vector
    `dataset:`, deliver a batch, takedown via `ids_dataset:`, compact to
    physical; probes bit-match a fresh build over the retained vectors,
    and the lossy-storage rebuild refusal surfaces as a config error."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    half_a = str(tmp_path / "vec_a.parquet")
    half_b = str(tmp_path / "vec_b.parquet")
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(half_a)
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(half_b)
    idx = str(tmp_path / "cli_ivfpq")
    alias = str(tmp_path / "pq_serving")
    df_unused = spark.createDataFrame([(1, "x")], "id long, response string")
    _run_indexing(
        spark, df_unused,
        {"ivfpq": {"path": idx, "action": "build", "dataset": half_a,
                   "id_expr": "vec_id", "vec_col": "embedding",
                   "n_centroids": 16, "m": 8, "n_codewords": 16, "dim": 64,
                   "alias": alias}},
    )
    _run_indexing(
        spark, df_unused,
        {"ivfpq": {"path": idx, "action": "extend", "batch_id": "d1",
                   "dataset": half_b, "id_expr": "vec_id",
                   "vec_col": "embedding"}},
    )
    vids = str(tmp_path / "pq_victims.parquet")
    emb.filter(F.col("vec_id") % 9 == 5).select("vec_id").write.parquet(vids)
    _run_indexing(
        spark, df_unused,
        {"ivfpq": {"path": idx, "action": "delete", "batch_id": "take-1",
                   "ids_dataset": vids, "id_expr": "vec_id"}},
    )
    _run_indexing(spark, df_unused, {"ivfpq": {"path": idx, "action": "compact"}})
    assert not os.path.exists(f"{idx}/tombstones")

    queries = (
        emb.limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    direct = str(tmp_path / "cli_ivfpq_direct")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 9 != 5), direct,
        n_centroids=16, m=8, n_codewords=16, dim=64,
    )
    assert sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, direct, queries, k=10, n_probe=4).collect())
    )
    from chat_data_pipeline_spark.operators import retrieval as RT

    assert ST.resolve_index_alias(spark, alias) == idx

    # r16: rebuild is YAML-reachable but REQUIRES the source corpus back
    # (PQ storage is lossy); a re-shard to more lists bit-matches a fresh
    # build at the new param over the same vectors
    full = str(tmp_path / "vec_full.parquet")
    emb.filter(F.col("vec_id") % 9 != 5).write.parquet(full)
    _run_indexing(
        spark, df_unused,
        {"ivfpq": {"path": idx, "action": "rebuild", "dataset": full,
                   "id_expr": "vec_id", "vec_col": "embedding",
                   "n_centroids": 32}},
    )
    direct32 = str(tmp_path / "cli_ivfpq_direct32")
    SIM.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 9 != 5), direct32,
        n_centroids=32, m=8, n_codewords=16, dim=64,
    )
    assert sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == sorted(
        map(tuple, SIM.ivfpq_topk_persisted(spark, direct32, queries, k=10, n_probe=4).collect())
    )
    with _pytest.raises(ValueError, match="ids_dataset"):
        _run_indexing(
            spark, df_unused,
            {"ivfpq": {"path": idx, "action": "delete", "batch_id": "t2",
                       "dataset": half_b}},
        )


def test_cli_serve_block_hybrid_bit_matches_operator_path(spark, tmp_path):
    """r15: YAML-reachable serving — a serve-only config probes both
    persisted indexes from a query table and the fused result bit-matches
    the rrf_fuse operator composition over the same roots; single-arm
    serves dispatch per index flavor (BM25 / IVF / IVF-PQ from meta)."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import run_config
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bidx, vidx = str(tmp_path / "srv_bm25"), str(tmp_path / "srv_ivf")
    RT.build_text_index(docs, bidx)
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)

    # one query table carries both arms' inputs (ids share the space)
    qtab = str(tmp_path / "queries.parquet")
    terms = spark.createDataFrame(
        [(0, ["join", "hash"]), (1, ["scan", "window", "sort"]), (2, ["hash", "sort"])],
        "query_id long, terms array<string>",
    )
    terms.join(
        emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
        "query_id",
    ).write.parquet(qtab)

    out_path = str(tmp_path / "served.parquet")
    served = run_config(
        spark,
        {"serve": {"queries": qtab, "k": 10, "output_path": out_path,
                   "bm25": {"path": bidx, "k": 20},
                   "ann": {"path": vidx, "k": 20}}},
    )
    lex = RT.bm25_topk_indexed_batch(
        spark, bidx,
        spark.read.parquet(qtab).select("query_id", "terms"), k=20,
    ).select("query_id", "doc_id", "rank")
    vec = SIM.ivf_topk_persisted(
        spark, vidx,
        spark.read.parquet(qtab).select("query_id", "query_vec"),
        k=20, n_probe=4,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    want = sorted(map(tuple, RT.rrf_fuse([lex, vec], k=10).collect()))
    assert sorted(map(tuple, served.collect())) == want
    # the sink got the same rows
    assert sorted(
        map(tuple, spark.read.parquet(out_path)
            .select("query_id", "doc_id", "rrf_nanos", "rank").collect())
    ) == want

    # single lexical arm: plain BM25 top-k at serve depth
    one = run_config(
        spark, {"serve": {"queries": qtab, "k": 5, "bm25": {"path": bidx}}}
    )
    want_lex = RT.bm25_topk_indexed_batch(
        spark, bidx, spark.read.parquet(qtab).select("query_id", "terms"), k=5
    )
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, want_lex.collect())
    )

    # single vector arm against a COMPRESSED root: flavor dispatch from meta
    pqidx = str(tmp_path / "srv_ivfpq")
    SIM.build_ivfpq_index(emb, pqidx, n_centroids=16, m=8, n_codewords=16, dim=64)
    pq = run_config(
        spark, {"serve": {"queries": qtab, "k": 5, "ann": {"path": pqidx}}}
    )
    want_pq = SIM.ivfpq_topk_persisted(
        spark, pqidx,
        spark.read.parquet(qtab).select("query_id", "query_vec"), k=5, n_probe=4,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "approx_cosine", "rank")
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, want_pq.collect()))

    # alias-addressed arm + path/alias exclusivity
    alias = str(tmp_path / "srv_alias")
    ST.swap_index_alias(spark, alias, bidx)
    via_alias = run_config(
        spark, {"serve": {"queries": qtab, "k": 5, "bm25": {"alias": alias}}}
    )
    assert sorted(map(tuple, via_alias.collect())) == sorted(
        map(tuple, want_lex.collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        run_config(
            spark,
            {"serve": {"queries": qtab,
                       "bm25": {"path": bidx, "alias": alias}}},
        )
    with _pytest.raises(ValueError, match="at least one arm"):
        run_config(spark, {"serve": {"queries": qtab}})
    # r15 review: a wrong-kind root is a CONFIG error, raised before the
    # query table's columns are even touched
    with _pytest.raises(ValueError, match="not an ANN index"):
        run_config(spark, {"serve": {"queries": qtab, "ann": {"path": bidx}}})
    with _pytest.raises(ValueError, match="not a BM25 index"):
        run_config(spark, {"serve": {"queries": qtab, "bm25": {"path": vidx}}})


def test_streaming_query_serving_stream_equals_batch(spark, tmp_path):
    """r15: live retrieval — a file feed of QUERIES served per micro-batch
    against fixed index roots; every epoch's appended results are
    bit-identical to a batch serve of that trigger's rows, and the hybrid
    fusion runs per trigger with both arms."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.cli import serve_frame
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM
    from chat_data_pipeline_spark.streaming.pipeline import streaming_query_serving

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bidx, vidx = str(tmp_path / "qs_bm25"), str(tmp_path / "qs_ivf")
    RT.build_text_index(docs, bidx)
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)

    qall = spark.createDataFrame(
        [(0, ["join", "hash"]), (1, ["scan", "window", "sort"]),
         (2, ["hash", "sort"]), (3, ["join", "sort"])],
        "query_id long, terms array<string>",
    ).join(
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
        "query_id",
    ).localCheckpoint(eager=True)
    feed = tmp_path / "query_feed"
    feed.mkdir()
    qall.filter(F.col("query_id") < 2).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    qall.filter(F.col("query_id") >= 2).repartition(1).write.parquet(
        str(feed / "f2.parquet")
    )
    spec = {"k": 10, "bm25": {"path": bidx, "k": 20}, "ann": {"path": vidx, "k": 20}}
    results = str(tmp_path / "served_log")
    stream = (
        spark.readStream.schema(qall.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_query_serving(
        stream, spec, str(tmp_path / "ckpt_qserve"), results
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(results)
    assert {r.epoch for r in got.select("epoch").distinct().collect()} == {0, 1}
    # the whole log equals a batch serve of the full query table (each
    # query's result depends only on its own rows, so trigger slicing is
    # invisible in the union)
    want = sorted(map(tuple, serve_frame(spark, qall, spec).collect()))
    assert sorted(
        map(tuple, got.drop("epoch").collect())
    ) == want


def test_streaming_store_takedowns_stream_equals_batch(spark, tmp_path):
    """r16: the takedown matrix completes — the signature store and the
    embedding near-dup store get live takedown twins like the three
    indexes.  A file feed of reference ids tombstones each store one
    ledger-committed delete per micro-batch (id overlap across triggers
    never double-subtracts), and the onboarding probes afterwards are
    bit-identical to probes of a store freshly built over the retained
    references."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import dedup_store as DS
    from chat_data_pipeline_spark.operators import neardup_store as NS
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "take_sigs")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0), store, family="md5")
    feed = tmp_path / "sig_take_feed"
    feed.mkdir()
    # two triggers with overlapping victims
    docs.filter(F.col("doc_id") % 8 == 0).select("doc_id").repartition(
        1
    ).write.parquet(str(feed / "f1.parquet"))
    docs.filter(
        (F.col("doc_id") % 8 == 0) | (F.col("doc_id") % 8 == 4)
    ).select("doc_id").repartition(1).write.parquet(str(feed / "f2.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_takedown(stream, store, str(tmp_path / "sig_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    fresh = str(tmp_path / "take_sigs_fresh")
    DS.build_dedup_index(
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 != 0)),
        fresh, family="md5",
    )
    got = sorted(
        r.doc_id
        for r in DS.filter_against_dedup_index(spark, store, probe).collect()
    )
    want = sorted(
        r.doc_id
        for r in DS.filter_against_dedup_index(spark, fresh, probe).collect()
    )
    assert got == want and len(got) > 0

    # embedding near-dup twin
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vstore = str(tmp_path / "take_vecs")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), vstore,
        n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    vfeed = tmp_path / "vec_take_feed"
    vfeed.mkdir()
    emb.filter(F.col("vec_id") % 6 == 0).select("vec_id").repartition(
        1
    ).write.parquet(str(vfeed / "f1.parquet"))
    vstream = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vfeed) + "/*")
    )
    vq = streaming_store_takedown(
        vstream, vstore, str(tmp_path / "vec_ckpt")
    )
    try:
        vq.processAllAvailable()
    finally:
        vq.stop()
    vprobe = emb.filter(F.col("vec_id") % 2 == 1)
    vfresh = str(tmp_path / "take_vecs_fresh")
    NS.build_neardup_index(
        emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") % 6 != 0)),
        vfresh, n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    vgot = sorted(
        r.vec_id
        for r in NS.filter_against_neardup_index(spark, vstore, vprobe).collect()
    )
    vwant = sorted(
        r.vec_id
        for r in NS.filter_against_neardup_index(spark, vfresh, vprobe).collect()
    )
    assert vgot == vwant and len(vgot) > 0


TOKENIZE_CONFIG = """
datasets:
  - path: {conv_path}
seed: 42
response:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
instruction:
  cleaners: []
  filters: []
  deduplication:
    do_deduplication: false
tokenize:
  scheme: {scheme}
  column: response
  id_expr: id
  output_path: {out_path}
{extra}"""


def test_cli_tokenize_block_all_three_schemes(spark, tmp_path):
    """r17: the `tokenize:` block makes the subword family YAML-reachable —
    each scheme writes the uniform (id, tokens, n_tokens, scheme) table,
    and the wordpiece/bpe encodings match the direct operator composition
    over the same curated rows."""
    from chat_data_pipeline_spark.cli import load_yaml, run_config
    from chat_data_pipeline_spark.operators.bpe import bpe_encode_fold
    from chat_data_pipeline_spark.operators.wordpiece import (
        DEFAULT_PIECES,
        wordpiece_encode,
    )

    conv_path = str(tmp_path / "conv.parquet")
    spark.createDataFrame(
        [
            (i, "src", [("ask me", False, "User"),
                        (f"lower river water {i % 5}", True, "Assistant")])
            for i in range(30)
        ],
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)
    curated = spark.read.parquet(conv_path).select(
        F.col("id"),
        F.element_at("conversation", -1)["content"].alias("response"),
    )

    outs = {}
    for scheme, extra in (
        ("wordpiece", ""),
        ("bpe", "  merges: [[e, r], [o, w], [a, t]]\n"),
        ("unigram", "  vocab_size: 64\n"),
    ):
        out_path = str(tmp_path / f"tok_{scheme}.parquet")
        cfg = tmp_path / f"tok_{scheme}.yaml"
        cfg.write_text(
            TOKENIZE_CONFIG.format(
                conv_path=conv_path, scheme=scheme, out_path=out_path,
                extra=extra,
            )
        )
        run_config(spark, load_yaml(str(cfg)))
        outs[scheme] = spark.read.parquet(out_path)

    for scheme, df in outs.items():
        assert {f.name for f in df.schema.fields} == {
            "id", "tokens", "n_tokens", "scheme",
        }
        assert df.count() == 30
        assert df.filter(F.col("scheme") != scheme).count() == 0
        assert df.filter(F.col("n_tokens") <= 0).count() == 0

    want_wp = {
        r.id: (r.wp_text, r.n_wp_tokens)
        for r in wordpiece_encode(
            curated, DEFAULT_PIECES, "response", "id"
        ).collect()
    }
    got_wp = {r.id: (r.tokens, r.n_tokens) for r in outs["wordpiece"].collect()}
    assert got_wp == want_wp

    want_bpe = {
        r.id: (r.bpe_text, r.n_bpe_tokens)
        for r in bpe_encode_fold(
            curated, [("e", "r"), ("o", "w"), ("a", "t")], "response", "id"
        ).collect()
    }
    got_bpe = {r.id: (r.tokens, r.n_tokens) for r in outs["bpe"].collect()}
    assert got_bpe == want_bpe

    with pytest.raises(ValueError, match="output_path"):
        run_config(
            spark,
            {
                "datasets": [{"path": conv_path}],
                "response": {"cleaners": [], "filters": [],
                             "deduplication": {"do_deduplication": False}},
                "instruction": {"cleaners": [], "filters": [],
                                "deduplication": {"do_deduplication": False}},
                "tokenize": {"scheme": "bpe"},
            },
        )


def test_cli_tokenize_config_validation(spark, tmp_path):
    """r17 review: the tokenize block's config parsing is STRICT —
    YAML-1.1 boolean-like vocab entries, mini-YAML nested-list fragments,
    and dataset-less configs all fail loudly instead of silently encoding
    garbage; explicit empty tables keep their literal meaning."""
    from chat_data_pipeline_spark.cli import run_config
    from chat_data_pipeline_spark.operators.bpe import bpe_encode_fold

    conv_path = str(tmp_path / "vconv.parquet")
    spark.createDataFrame(
        [(i, "s", [("q", False, "User"), (f"water {i % 3}", True, "Assistant")])
         for i in range(9)],
        "id long, source string, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(conv_path)

    def cfg(tok):
        return {
            "datasets": [{"path": conv_path}],
            "response": {"cleaners": [], "filters": [],
                         "deduplication": {"do_deduplication": False}},
            "instruction": {"cleaners": [], "filters": [],
                            "deduplication": {"do_deduplication": False}},
            "tokenize": tok,
        }

    out = str(tmp_path / "v1.parquet")
    # YAML-1.1 booleans masquerading as pieces are rejected with guidance
    with pytest.raises(ValueError, match="quote YAML-1.1"):
        run_config(spark, cfg({"scheme": "wordpiece", "output_path": out,
                               "pieces": ["the", True]}))
    # mini-YAML nested-list fragments (strings) are rejected, not applied
    with pytest.raises(ValueError, match="left, right"):
        run_config(spark, cfg({"scheme": "bpe", "output_path": out,
                               "merges": ["[e", "r]"]}))
    # explicit merges: [] pins the character-level table (no training)
    run_config(spark, cfg({"scheme": "bpe", "output_path": out,
                           "merges": []}))
    got = spark.read.parquet(out)
    curated = spark.read.parquet(conv_path).select(
        F.col("id"),
        F.element_at("conversation", -1)["content"].alias("response"),
    )
    want = {
        r.id: (r.bpe_text, r.n_bpe_tokens)
        for r in bpe_encode_fold(curated, [], "response", "id").collect()
    }
    assert {r.id: (r.tokens, r.n_tokens) for r in got.collect()} == want
    # tokenize has no corpus-free form: dataset-less configs refuse, even
    # when another block would otherwise take the dataset-less early path
    with pytest.raises(ValueError, match="no corpus-free form"):
        run_config(spark, {"tokenize": {"scheme": "bpe", "output_path": out}})
    with pytest.raises(ValueError, match="no corpus-free form"):
        run_config(
            spark,
            {"maintain": {"roots": ["/nowhere"]},
             "tokenize": {"scheme": "bpe", "output_path": out}},
        )
