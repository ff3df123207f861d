"""r15: the folded-batch manifest — compaction permanently SPENDS the
delivery ids it folds, closing the streaming replay double-count window:
a micro-batch delivered, compacted into the base, then replayed after a
crash (checkpoint not yet committed past it) must re-deliver NOTHING,
because the base already holds exactly those rows.  Before the manifest,
that replay silently double-counted df/stats (BM25) or duplicated
posting rows (the vector stores)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup_store as DS
from chat_data_pipeline_spark.operators import neardup_store as NS
from chat_data_pipeline_spark.operators import retrieval as RT
from chat_data_pipeline_spark.operators import similarity as SIM
from chat_data_pipeline_spark.operators import store as ST

SF_DIR = "/root/testdata/sf0.001"
TERMS = ["join", "hash", "scan", "window", "sort"]


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(
        eager=True
    )


def test_bm25_replay_after_compaction_is_noop(spark, docs, tmp_path):
    idx = str(tmp_path / "fold_bm25")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    RT.build_text_index(half_a, idx)
    RT.extend_text_index(half_b, idx, batch_id="s5")
    before = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect()))
    RT.compact_text_index(spark, idx)
    # crash-sim: the checkpoint never committed past epoch 5 — the stream
    # replays the SAME delivery against the compacted root
    RT.extend_text_index(half_b, idx, batch_id="s5")
    after = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect()))
    assert after == before  # pre-manifest this double-counted df/n_docs
    assert ST.committed_batches(spark, idx) == ["base"]  # true no-op
    # the live totals stayed exact too
    health = {r.batch: r for r in RT.text_index_health(spark, idx).collect()}
    assert health["base"].n_docs == docs.count()

    # cross-kind reuse of the spent id is refused in both directions
    with pytest.raises(ValueError, match="folded"):
        RT.delete_from_text_index(
            spark, idx, docs.limit(3).select("doc_id"), batch_id="s5"
        )
    # a delete folded by compaction replays as a no-op, and its id is
    # refused for extensions
    vic = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    RT.delete_from_text_index(spark, idx, vic, batch_id="t9")
    RT.compact_text_index(spark, idx)
    served = RT.bm25_topk_indexed(spark, idx, TERMS, k=50).collect()
    RT.delete_from_text_index(spark, idx, vic, batch_id="t9")  # replay
    assert not os.path.exists(f"{idx}/tombstones")
    assert sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=50).collect())) \
        == sorted(map(tuple, served))
    with pytest.raises(ValueError, match="folded"):
        RT.extend_text_index(half_b, idx, batch_id="t9")

    # manifests survive chained compactions (s5 is still spent) ...
    assert ST.folded_kind(spark, idx, "s5") == "extension"
    # ... and a FRESH from-source build starts a new world
    RT.build_text_index(docs, idx)
    assert ST.folded_kind(spark, idx, "s5") is None
    RT.extend_text_index(half_b.limit(5), idx, batch_id="s5")  # legal again


def test_ivf_and_ivfpq_replay_after_compaction_is_noop(spark, emb, tmp_path):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for flavor, build, probe in (
        ("ivf", lambda d, p: SIM.build_ivf_index(d, p, n_centroids=16, coarse="md5", dim=64),
         lambda p: SIM.ivf_topk_persisted(spark, p, queries, k=10, n_probe=4)),
        ("ivfpq", lambda d, p: SIM.build_ivfpq_index(d, p, n_centroids=16, m=8, n_codewords=16, dim=64),
         lambda p: SIM.ivfpq_topk_persisted(spark, p, queries, k=10, n_probe=4)),
    ):
        idx = str(tmp_path / f"fold_{flavor}")
        build(emb.filter(F.col("vec_id") % 2 == 0), idx)
        half_b = emb.filter(F.col("vec_id") % 2 == 1)
        if flavor == "ivf":
            SIM.extend_ivf_index(half_b, idx, batch_id="s3")
        else:
            SIM.extend_ivfpq_index(half_b, idx, batch_id="s3")
        before = sorted(map(tuple, probe(idx).collect()))
        SIM.compact_ivf_index(spark, idx)
        if flavor == "ivf":
            SIM.extend_ivf_index(half_b, idx, batch_id="s3")  # replay
        else:
            SIM.extend_ivfpq_index(half_b, idx, batch_id="s3")
        assert sorted(map(tuple, probe(idx).collect())) == before
        assert ST.committed_batches(spark, idx) == ["base"]


def test_ivf_rebuild_spends_folded_ids(spark, emb, tmp_path):
    idx = str(tmp_path / "fold_rebuild")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_centroids=16, coarse="md5", dim=64
    )
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    SIM.extend_ivf_index(half_b, idx, batch_id="s7")
    SIM.rebuild_ivf_index(spark, idx)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    before = sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    )
    SIM.extend_ivf_index(half_b, idx, batch_id="s7")  # replay -> no-op
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, idx, queries, k=10, n_probe=4).collect())
    ) == before
    assert ST.folded_kind(spark, idx, "s7") == "extension"


def test_dedup_and_neardup_replay_after_compaction_is_noop(spark, docs, emb, tmp_path):
    d = str(tmp_path / "fold_dedup")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), d, family="md5")
    ref_b = docs.filter(F.col("doc_id") % 3 == 1)
    new = docs.filter(F.col("doc_id") % 3 == 2)
    DS.extend_dedup_index(ref_b, d, batch_id="s1")
    before = {r.doc_id for r in DS.filter_against_dedup_index(spark, d, new).collect()}
    DS.compact_dedup_index(spark, d)
    DS.extend_dedup_index(ref_b, d, batch_id="s1")  # replay
    assert {
        r.doc_id for r in DS.filter_against_dedup_index(spark, d, new).collect()
    } == before
    assert ST.committed_batches(spark, d) == ["base"]

    nd = str(tmp_path / "fold_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 3 == 0), nd, n_planes=4, n_tables=4, dim=64
    )
    vb = emb.filter(F.col("vec_id") % 3 == 1)
    vnew = emb.filter(F.col("vec_id") % 3 == 2)
    NS.extend_neardup_index(vb, nd, batch_id="s1")
    nbefore = {
        r.vec_id for r in NS.filter_against_neardup_index(spark, nd, vnew).collect()
    }
    NS.compact_neardup_index(spark, nd)
    NS.extend_neardup_index(vb, nd, batch_id="s1")  # replay
    assert {
        r.vec_id for r in NS.filter_against_neardup_index(spark, nd, vnew).collect()
    } == nbefore
    assert ST.committed_batches(spark, nd) == ["base"]


def test_write_then_swap_compaction_carries_the_manifest(spark, docs, tmp_path):
    idx = str(tmp_path / "fold_src")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="s1")
    RT.compact_text_index(spark, idx)  # s1 spent in-place
    RT.extend_text_index(docs.limit(7), idx, batch_id="s2")
    dst = str(tmp_path / "fold_dst")
    RT.compact_text_index(spark, idx, dst_index=dst)
    # BOTH generations of spent ids reached the new root
    assert ST.folded_kind(spark, dst, "s1") == "extension"
    assert ST.folded_kind(spark, dst, "s2") == "extension"
    before = sorted(map(tuple, RT.bm25_topk_indexed(spark, dst, TERMS, k=20).collect()))
    RT.extend_text_index(docs.limit(7), dst, batch_id="s2")  # replay vs dst
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, dst, TERMS, k=20).collect())
    ) == before


def test_streaming_delivery_with_auto_compact(spark, docs, tmp_path):
    """r15: the self-maintaining ingest loop — a delivery stream with
    auto_compact_every compacts its own root between its own triggers
    (writer-serialized, replay-safe via the folded manifest); the final
    probes equal a direct build over the union and the ledger stays
    single-batch under a tight budget."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
    )

    base = docs.filter(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "auto_live")
    RT.build_text_index(base, idx)
    feed = tmp_path / "auto_feed"
    feed.mkdir()
    for i in (1, 2, 3):
        docs.filter(F.col("doc_id") % 4 == i).repartition(1).write.parquet(
            str(feed / f"f{i}.parquet")
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_delivery(
        stream, idx, str(tmp_path / "auto_ckpt"),
        auto_compact_every=1, max_batches=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # every trigger's delivery pushed the ledger over max_batches=1 and
    # the follow-up compaction folded it back down
    assert ST.committed_batches(spark, idx) == ["base"]
    assert ST.folded_kind(spark, idx, "s0") == "extension"
    direct = str(tmp_path / "auto_direct")
    RT.build_text_index(docs, direct)
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, direct, TERMS, k=20).collect())
    )


def test_reused_dst_root_does_not_resurrect_stale_spent_ids(spark, docs, tmp_path):
    """r15 review: compacting into a dst_path that previously lived as an
    index must not carry THAT root's folded ids into the new world — only
    the source root's history travels."""
    old_world = str(tmp_path / "old_world")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), old_world)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), old_world, batch_id="sX")
    RT.compact_text_index(spark, old_world)
    assert ST.folded_kind(spark, old_world, "sX") == "extension"

    src = str(tmp_path / "new_src")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), src)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 1), src, batch_id="sY")
    RT.compact_text_index(spark, src, dst_index=old_world)
    # the reused dst carries ONLY the source's history
    assert ST.folded_kind(spark, old_world, "sY") == "extension"
    assert ST.folded_kind(spark, old_world, "sX") is None
    # a fresh delivery under the unrelated world's id is legal again
    RT.extend_text_index(docs.limit(5), old_world, batch_id="sX")
    assert "sX" in ST.committed_batches(spark, old_world)


def test_fresh_checkpoint_prefix_avoids_spent_id_collision(spark, docs, tmp_path):
    """r16 (ADVICE): a stream restarted with a FRESH checkpoint re-derives
    epoch ids from 0 — under the same prefix those collide with ids a
    compaction already spent and the deliveries are silently skipped as
    replays.  The documented remedy is a fresh ``batch_id_prefix`` per
    checkpoint generation; prove the parameter exists end-to-end and that
    the prefixed generation actually lands."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
    )

    idx = str(tmp_path / "prefix_live")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), idx)

    def _run_generation(feed_name, ckpt_name, rows, prefix):
        feed = tmp_path / feed_name
        feed.mkdir()
        rows.repartition(1).write.parquet(str(feed / "f0.parquet"))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        q = streaming_store_delivery(
            stream, idx, str(tmp_path / ckpt_name), batch_id_prefix=prefix
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # generation 1 delivers epoch 0 under the default prefix, then a
    # compaction folds (and spends) s0
    _run_generation("gen1", "ckpt1", docs.filter(F.col("doc_id") % 3 == 1), "s")
    assert "s0" in ST.committed_batches(spark, idx)
    RT.compact_text_index(spark, idx)
    assert ST.folded_kind(spark, idx, "s0") == "extension"

    # generation 2: fresh checkpoint, epochs restart at 0.  Under the old
    # prefix this NEW content would be skipped as a replay of spent s0;
    # under its own prefix it lands as a real delivery.
    _run_generation("gen2", "ckpt2", docs.filter(F.col("doc_id") % 3 == 2), "s2-")
    assert "s2-0" in ST.committed_batches(spark, idx)

    direct = str(tmp_path / "prefix_direct")
    RT.build_text_index(docs, direct)
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, direct, TERMS, k=20).collect())
    )
