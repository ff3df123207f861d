"""Persisted SRP-LSH embedding near-dup store (r15): the vector twin of the
MinHash signature store.  Differential strategy: every probe against the
store must be bit-identical to the in-flight md5 SRP pipeline
(`embedding_neardup_pairs_srp_md5`) restricted to cross-corpus pairs over
the union of live reference batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import neardup_store as NS
from chat_data_pipeline_spark.operators import similarity as SIM
from chat_data_pipeline_spark.operators import store as ST

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(
        eager=True
    )


def _cross_dropped(ref_df, new_df, new_pred):
    """Ground truth: new-side ids subtracted by the in-flight md5 SRP
    pipeline over ref ∪ new, restricted to cross-corpus pairs."""
    union = ref_df.unionByName(new_df)
    pairs = SIM.embedding_neardup_pairs_srp_md5(
        union, threshold=0.45, n_planes=4, n_tables=4
    )
    out = set()
    for r in pairs.collect():
        a_new, b_new = new_pred(r.id1), new_pred(r.id2)
        if a_new != b_new:
            out.add(r.id1 if a_new else r.id2)
    return out


def test_probe_matches_inflight_twin(spark, emb, tmp_path):
    ref = emb.filter(F.col("vec_id") % 3 == 0)
    ref_b = emb.filter(F.col("vec_id") % 3 == 1)
    new = emb.filter(F.col("vec_id") % 3 == 2)
    idx = str(tmp_path / "nd")
    NS.build_neardup_index(ref, idx, n_planes=4, n_tables=4, dim=64, threshold=0.45)
    NS.extend_neardup_index(ref_b, idx, batch_id="b1")
    kept = {r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()}
    want_dropped = _cross_dropped(
        emb.filter(F.col("vec_id") % 3 != 2), new, lambda i: i % 3 == 2
    )
    assert {r.vec_id for r in new.collect()} - kept == want_dropped
    # survivors keep every column of the probed frame
    cols = NS.filter_against_neardup_index(spark, idx, new).columns
    assert set(cols) == set(new.columns)


def test_crash_delete_compact_lifecycle(spark, emb, tmp_path):
    ref = emb.filter(F.col("vec_id") % 3 == 0)
    ref_b = emb.filter(F.col("vec_id") % 3 == 1)
    new = emb.filter(F.col("vec_id") % 3 == 2)
    idx = str(tmp_path / "nd_life")
    NS.build_neardup_index(ref, idx, n_planes=4, n_tables=4, dim=64, threshold=0.45)
    base_kept = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    }

    # crash-sim: a delivery without its ledger marker is invisible
    NS.extend_neardup_index(ref_b, idx, batch_id="b1")
    both_kept = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    }
    os.remove(f"{idx}/batches/b1")
    assert {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    } == base_kept
    NS.extend_neardup_index(ref_b, idx, batch_id="b1")  # replay re-commits
    assert {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    } == both_kept

    # delete half of b1: probes equal the twin over the retained refs
    vic = ref_b.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    ST.tombstone_delete(spark, idx, vic, batch_id="t1")
    retained = ref.unionByName(ref_b.filter(F.col("vec_id") % 2 == 1))
    want_dropped = _cross_dropped(retained, new, lambda i: i % 3 == 2)
    kept2 = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    }
    assert {r.vec_id for r in new.collect()} - kept2 == want_dropped

    # tombstoned ids refuse re-delivery until compaction
    with pytest.raises(ValueError, match="tombstoned"):
        NS.extend_neardup_index(ref_b, idx, batch_id="b2")
    NS.compact_neardup_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")
    assert ST.committed_batches(spark, idx) == ["base"]
    kept3 = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, idx, new).collect()
    }
    assert kept3 == kept2


def test_guards_and_kind_detection(spark, emb, tmp_path):
    idx = str(tmp_path / "nd_guard")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_planes=4, n_tables=4, dim=64
    )
    bad = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="id type"):
        NS.extend_neardup_index(bad, idx, batch_id="b1")
    # cross-kind batch-id reuse refused (victims chosen RESIDENT — the
    # plan below counts only resident dead since the r15 review fix)
    ST.tombstone_delete(
        spark, idx,
        emb.filter(F.col("vec_id").isin(0, 2, 4)).select("vec_id"),
        batch_id="x1",
    )
    with pytest.raises(ValueError, match="distinct id"):
        NS.extend_neardup_index(
            emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="x1"
        )
    from chat_data_pipeline_spark.operators import maintenance as MT

    assert MT.detect_store_kind(spark, idx) == "neardup"
    plan = MT.maintenance_plan(spark, idx).first()
    assert plan.kind == "neardup"
    assert plan.live_units == emb.filter(F.col("vec_id") % 2 == 0).count() - 3
    assert plan.n_tombstones == 3


def test_cli_neardup_lifecycle_and_semantic_onboarding(spark, emb, tmp_path):
    """r15: the embedding store is YAML-reachable end to end — build from a
    vector dataset, deliver, takedown via ids_dataset, auto_compact; and
    the onboard_semantic block filters curated rows against it through a
    vector side table, writing survivors back as a delivery."""
    from chat_data_pipeline_spark.cli import _run_indexing, run_config

    ref_path = str(tmp_path / "ref_vec.parquet")
    emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("id"), "embedding"
    ).write.parquet(ref_path)
    crawl_path = str(tmp_path / "crawl_vec.parquet")
    emb.filter(F.col("vec_id") % 3 == 1).select(
        F.col("vec_id").alias("id"), "embedding"
    ).write.parquet(crawl_path)
    store = str(tmp_path / "cli_nd")
    dfu = spark.createDataFrame([(1, "x")], "id long, response string")
    _run_indexing(
        spark, dfu,
        {"neardup": {"path": store, "action": "build", "dataset": ref_path,
                     "n_planes": 4, "n_tables": 4, "dim": 64,
                     "threshold": 0.45}},
    )
    _run_indexing(
        spark, dfu,
        {"neardup": {"path": store, "action": "extend", "batch_id": "d1",
                     "dataset": crawl_path}},
    )
    vids = str(tmp_path / "nd_victims.parquet")
    emb.filter((F.col("vec_id") % 3 == 1) & (F.col("vec_id") % 4 == 0)).select(
        F.col("vec_id").alias("id")
    ).write.parquet(vids)
    _run_indexing(
        spark, dfu,
        {"neardup": {"path": store, "action": "delete", "batch_id": "t1",
                     "ids_dataset": vids}},
    )
    # probes equal the direct operator path over the same root (the
    # CLI-built store pins __vec_id__/__vec__ meta names; a caller whose
    # frame uses its own names passes the overrides)
    new = emb.filter(F.col("vec_id") % 3 == 2)
    want = {
        r.vec_id
        for r in NS.filter_against_neardup_index(
            spark, store, new, id_col="vec_id", vec_col="embedding"
        ).collect()
    }

    # onboard_semantic through a curated frame + vector side table
    docs = new.select(
        F.col("vec_id").alias("id"),
        F.lit("u").alias("instruction"),
        F.lit("v").alias("response"),
    )
    side = str(tmp_path / "side_vec.parquet")
    new.select(F.col("vec_id").alias("id"), "embedding").write.parquet(side)
    data_path = str(tmp_path / "conv.parquet")
    docs.select(
        "id",
        F.array(
            F.struct(
                F.col("instruction").alias("content"),
                F.lit(False).alias("do_train"),
                F.lit("User").alias("role"),
            ),
            F.struct(
                F.col("response").alias("content"),
                F.lit(True).alias("do_train"),
                F.lit("Assistant").alias("role"),
            ),
        ).alias("conversation"),
    ).write.parquet(data_path)
    out = run_config(
        spark,
        {"datasets": [data_path],
         "onboard_semantic": {"store": store, "dataset": side,
                              "vec_col": "embedding", "id_expr": "id",
                              "deliver_batch_id": "crawl-2"}},
    )
    assert {r.id for r in out.select("id").collect()} == want
    # the write-back delivered the survivors' vectors
    committed = set(ST.committed_batches(spark, store))
    assert "crawl-2" in committed
    n_vecs = (
        spark.read.parquet(f"{store}/vectors")
        .filter(F.col("batch") == "crawl-2")
        .count()
    )
    assert n_vecs == len(want)
    # auto_compact folds everything once the batch budget is tight
    _run_indexing(
        spark, dfu,
        {"neardup": {"path": store, "action": "auto_compact", "max_batches": 1}},
    )
    assert ST.committed_batches(spark, store) == ["base"]


def test_streaming_neardup_delivery_stream_equals_batch(spark, emb, tmp_path):
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
    )

    store = str(tmp_path / "live_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 3 == 0), store, n_planes=4, n_tables=4, dim=64
    )
    feed = tmp_path / "nd_feed"
    feed.mkdir()
    emb.filter(F.col("vec_id") % 3 == 1).repartition(1).write.parquet(
        str(feed / "f1.parquet")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(stream, store, str(tmp_path / "ckpt_nd"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ST.committed_batches(spark, store)) == 2
    new = emb.filter(F.col("vec_id") % 3 == 2)
    got = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, store, new).collect()
    }
    direct = str(tmp_path / "direct_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 3 != 2), direct, n_planes=4, n_tables=4, dim=64
    )
    want = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, direct, new).collect()
    }
    assert got == want


def test_onboard_semantic_missing_vectors_pass_through(spark, emb, tmp_path):
    """r15 review: a curated row whose id is MISSING from the vector side
    table must pass through un-probed — the block anti-joins MATCHED ids,
    so a lagging embedding job can never read as near-dup filtering."""
    from chat_data_pipeline_spark.cli import run_config

    store = str(tmp_path / "os_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), store, n_planes=4, n_tables=4, dim=64
    )
    # curated rows: ids 1 (odd, vector present), 2 (EVEN — exact near-dup
    # of a reference entry, vector present), 3 (vector MISSING)
    data_path = str(tmp_path / "os_conv.parquet")
    spark.createDataFrame(
        [(i, [("u", False, "User"), ("v", True, "Assistant")]) for i in (1, 2, 3)],
        "id long, conversation array<struct<content string, do_train boolean, role string>>",
    ).write.parquet(data_path)
    side = str(tmp_path / "os_side.parquet")
    emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("id"), "embedding"
    ).write.parquet(side)
    out = run_config(
        spark,
        {"datasets": [data_path],
         "onboard_semantic": {"store": store, "dataset": side,
                              "vec_col": "embedding", "id_expr": "id"}},
    )
    kept = {r.id for r in out.select("id").collect()}
    # 2 matched (identical vector in the reference) and dropped; 1 probed
    # and survived; 3 never probed and PASSED THROUGH
    assert kept == {1, 3}


def test_neardup_store_health_counts_committed_only(spark, emb, tmp_path):
    """The health report audits ledger-committed deliveries ONLY: a
    crashed delivery's partial batch dirs (postings AND vectors present,
    commit marker absent) appear in no row, and the committed rows keep
    the n_rows = n_tables x n_ids invariant plus the (0, 0, k) takedown
    shape."""
    from chat_data_pipeline_spark.operators import neardup_store as NS

    idx = str(tmp_path / "health_store")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 3 == 0), idx,
        n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    NS.extend_neardup_index(
        emb.filter(F.col("vec_id") % 3 == 1), idx, batch_id="c1"
    )
    ST.tombstone_delete(
        spark, idx, emb.filter(F.col("vec_id") % 9 == 2).select("vec_id"),
        batch_id="t1",
    )
    # crash-sim: artifacts land for batch "ghost", the ledger never commits
    spark.createDataFrame([(999999, 0)], "id long, b long").write.parquet(
        f"{idx}/postings/batch=ghost/t=0"
    )
    spark.createDataFrame(
        [(999999, [0.0] * 64)], "id long, v array<double>"
    ).write.parquet(f"{idx}/vectors/batch=ghost")

    rows = {r.batch: r for r in NS.neardup_store_health(spark, idx).collect()}
    assert set(rows) == {"base", "c1", "t1"}  # ghost invisible
    n0 = emb.filter(F.col("vec_id") % 3 == 0).count()
    n1 = emb.filter(F.col("vec_id") % 3 == 1).count()
    assert (rows["base"].n_rows, rows["base"].n_ids) == (4 * n0, n0)
    assert (rows["c1"].n_rows, rows["c1"].n_ids) == (4 * n1, n1)
    k = emb.filter(F.col("vec_id") % 9 == 2).count()
    assert (rows["t1"].n_rows, rows["t1"].n_ids, rows["t1"].n_tombstones) == (
        0, 0, k,
    )
