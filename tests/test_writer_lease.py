"""r16: the root-level writer lease — the single-writer-per-store-root
contract promoted from a docstring caveat to a runtime guard.  The
corruption shape it closes: a compaction racing another writer's ledger
commit folds state it never saw, without spending that delivery's id.
With the lease, every delivery/takedown stream trigger and every CLI
maintenance mutation serializes per root, and a contender that cannot
get the lease inside its wait budget fails LOUDLY instead of racing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import lease as L
from chat_data_pipeline_spark.operators import retrieval as RT
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


def test_lease_exclusive_acquire_release(spark, tmp_path):
    root = str(tmp_path / "store")
    L.acquire_writer_lease(spark, root, "writer-a", wait_seconds=0)
    assert L.lease_holder(spark, root) == "writer-a"
    # a second writer cannot take it inside its budget, and the error
    # names the blocker
    with pytest.raises(L.LeaseUnavailableError, match="writer-a"):
        L.acquire_writer_lease(spark, root, "writer-b", wait_seconds=0.5)
    L.release_writer_lease(spark, root, "writer-a")
    assert L.lease_holder(spark, root) is None
    # now writer-b gets it immediately
    L.acquire_writer_lease(spark, root, "writer-b", wait_seconds=0)
    L.release_writer_lease(spark, root, "writer-b")


def test_lease_waits_out_a_short_holder(spark, tmp_path):
    """A contender with a wait budget SERIALIZES behind the holder: take
    the lease, release it from a timer thread, and the blocked acquire
    must succeed within its budget."""
    import threading
    import time

    root = str(tmp_path / "store")
    L.acquire_writer_lease(spark, root, "holder", wait_seconds=0)

    def _release_soon():
        time.sleep(1.0)
        L.release_writer_lease(spark, root, "holder")

    t = threading.Thread(target=_release_soon)
    t.start()
    t0 = time.monotonic()
    L.acquire_writer_lease(spark, root, "waiter", wait_seconds=10)
    waited = time.monotonic() - t0
    t.join()
    assert 0.5 <= waited < 10
    assert L.lease_holder(spark, root) == "waiter"
    L.release_writer_lease(spark, root, "waiter")


def test_stale_lease_takeover(spark, tmp_path):
    """A LOCK older than its ttl belongs to a crashed writer — the next
    contender reaps it and proceeds; the dead owner's late release must
    NOT evict the usurper."""
    root = str(tmp_path / "store")
    L.acquire_writer_lease(spark, root, "crashed", wait_seconds=0)
    # ttl=0: immediately stale
    L.acquire_writer_lease(spark, root, "usurper", ttl_seconds=0, wait_seconds=5)
    assert L.lease_holder(spark, root) == "usurper"
    # the crashed writer's finally-block release is refused
    L.release_writer_lease(spark, root, "crashed")
    assert L.lease_holder(spark, root) == "usurper"
    L.release_writer_lease(spark, root, "usurper")
    assert L.lease_holder(spark, root) is None


def test_contended_stream_fails_loudly_not_silently(spark, docs, tmp_path):
    """The verdict's 'done' shape, deterministic half: while another
    writer HOLDS the root, a takedown stream trigger must fail its query
    loudly — never tombstone behind the holder's back."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    idx = str(tmp_path / "held_idx")
    RT.build_text_index(docs, idx)
    L.acquire_writer_lease(spark, idx, "a-live-compaction", wait_seconds=0)

    feed = tmp_path / "held_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").repartition(
        1
    ).write.parquet(str(feed / "f0.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_takedown(
        stream, idx, str(tmp_path / "held_ckpt"), lease_wait_seconds=1
    )
    try:
        with pytest.raises(Exception, match="writer lease|a-live-compaction"):
            q.processAllAvailable()
    finally:
        q.stop()
        L.release_writer_lease(spark, idx, "a-live-compaction")
    # nothing landed: no tombstones, ledger still base-only
    assert ST.committed_batches(spark, idx) == ["base"]


def test_delivery_with_auto_compact_and_takedown_share_a_root(
    spark, docs, tmp_path
):
    """The verdict's 'done' shape, live half: a self-compacting delivery
    stream and a takedown stream run CONCURRENTLY against one root.  The
    per-trigger lease serializes them — a takedown can never commit
    between the compactor's ledger snapshot and its base rewrite — so the
    final probes equal a direct build over exactly (base + deliveries -
    victims), with nothing folded-but-unspent."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_delivery,
        streaming_store_takedown,
    )

    idx = str(tmp_path / "shared_root")
    base = docs.filter(F.col("doc_id") % 4 == 0)
    RT.build_text_index(base, idx)

    dfeed = tmp_path / "dfeed"
    dfeed.mkdir()
    for i in (1, 2, 3):
        docs.filter(F.col("doc_id") % 4 == i).repartition(1).write.parquet(
            str(dfeed / f"f{i}.parquet")
        )
    # victims live in the BASE only, so a takedown can never tombstone an
    # id a later delivery re-delivers (which fails loudly by design)
    tfeed = tmp_path / "tfeed"
    tfeed.mkdir()
    victims = docs.filter(F.col("doc_id") % 8 == 4).select("doc_id")
    victims.repartition(1).write.parquet(str(tfeed / "v0.parquet"))

    dstream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(dfeed) + "/*")
    )
    tstream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tfeed) + "/*")
    )
    dq = streaming_store_delivery(
        dstream, idx, str(tmp_path / "dckpt"),
        auto_compact_every=1, max_batches=1,
    )
    tq = streaming_store_takedown(tstream, idx, str(tmp_path / "tckpt"))
    try:
        dq.processAllAvailable()
        tq.processAllAvailable()
        dq.processAllAvailable()  # let a post-takedown compaction fold it
    finally:
        dq.stop()
        tq.stop()

    direct = str(tmp_path / "shared_direct")
    RT.build_text_index(
        docs.join(victims, "doc_id", "left_anti"), direct
    )
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, direct, TERMS, k=20).collect())
    )
    # the root is quiescent: no lease left behind
    assert L.lease_holder(spark, idx) is None


def test_lease_mutual_exclusion_under_contention_storm(spark, tmp_path):
    """Atomicity proof for the createNewFile race: 8 driver threads hammer
    acquire/critical-section/release on one root; a shared non-atomic
    counter incremented inside the critical section must never observe a
    torn update (two writers inside at once would lose increments)."""
    import threading

    root = str(tmp_path / "storm")
    N_THREADS, N_ITERS = 8, 10
    state = {"inside": 0, "max_inside": 0, "count": 0}
    errors: list[Exception] = []

    def worker(i: int):
        try:
            for _ in range(N_ITERS):
                with L.writer_lease(spark, root, f"w{i}", wait_seconds=60):
                    state["inside"] += 1
                    state["max_inside"] = max(state["max_inside"], state["inside"])
                    cur = state["count"]
                    # widen the race window: a second concurrent holder
                    # would interleave here and lose an increment
                    threading.Event().wait(0.005)
                    state["count"] = cur + 1
                    state["inside"] -= 1
        except Exception as e:  # surface failures from worker threads
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert state["max_inside"] == 1  # never two holders at once
    assert state["count"] == N_THREADS * N_ITERS  # no lost updates
    assert L.lease_holder(spark, root) is None  # fully released


def test_cli_maintain_block_honors_lease_tuning(spark, docs, tmp_path):
    """The `maintain:`/`takedown:`/index blocks accept lease_wait_seconds /
    lease_ttl_seconds: a scheduled job pointed at a root with a live
    writer can choose fail-fast (wait 0) over queueing, and the error
    names the blocker."""
    from chat_data_pipeline_spark.cli import _run_maintenance

    idx = str(tmp_path / "tuned_idx")
    RT.build_text_index(docs, idx)
    # force a compaction recommendation so the maintain block must write
    RT.extend_text_index(docs.limit(10), idx, batch_id="b1")
    L.acquire_writer_lease(spark, idx, "live-delivery-stream", wait_seconds=0)
    try:
        with pytest.raises(L.LeaseUnavailableError, match="live-delivery-stream"):
            _run_maintenance(
                spark,
                {"roots": [idx], "auto_compact": True, "max_batches": 0,
                 "lease_wait_seconds": 0},
            )
    finally:
        L.release_writer_lease(spark, idx, "live-delivery-stream")
    # with the root free the same block compacts and reports post-state
    report = _run_maintenance(
        spark,
        {"roots": [idx], "auto_compact": True, "max_batches": 0,
         "lease_wait_seconds": 0},
    ).collect()
    assert len(report) == 1 and report[0].n_batches == 1  # folded to base
    assert ST.committed_batches(spark, idx) == ["base"]


def test_heartbeat_keeps_long_trigger_alive_past_ttl(spark, tmp_path):
    """A live holder must never be judged stale, however long its trigger
    runs: hold via writer_lease with a tiny ttl, outlast it, and assert a
    contender still cannot reap (the heartbeat refreshed the LOCK mtime);
    only a NON-heartbeating (crashed-style) holder is reapable."""
    import time

    root = str(tmp_path / "longtrig")
    with L.writer_lease(spark, root, "long-compaction", ttl_seconds=3):
        time.sleep(4.5)  # well past ttl; heartbeat fires every ~1s
        with pytest.raises(L.LeaseUnavailableError, match="long-compaction"):
            L.acquire_writer_lease(
                spark, root, "impatient", ttl_seconds=3, wait_seconds=1
            )
    # released: free again
    L.acquire_writer_lease(spark, root, "next", wait_seconds=0)
    L.release_writer_lease(spark, root, "next")


def _overwrite_owner(spark, root: str, owner: str, token: str) -> None:
    """Simulate a stale-takeover usurper landing its owner record (the
    one-delete-RPC residual window the lease cannot close with filesystem
    primitives — see acquire_writer_lease's docstring)."""
    fs, _lock, owner_path, _jvm = L._lease_paths(spark, root)
    out = fs.create(owner_path, True)
    try:
        out.write(bytearray(f"{owner}\n{token}".encode("utf-8")))
    finally:
        out.close()


def test_usurped_holder_fails_loudly_at_exit(spark, tmp_path):
    """r17 (ADVICE): the two-reaper residual window is DETECTED by
    content — a holder whose per-acquisition token was replaced must (a)
    stop heartbeating the usurper's lock, (b) refuse to release it, and
    (c) raise LeaseLostError on an otherwise-clean exit instead of
    reporting success for a possibly-raced mutation."""
    import time

    root = str(tmp_path / "usurped")
    with pytest.raises(L.LeaseLostError, match="usurped"):
        with L.writer_lease(spark, root, "victim", ttl_seconds=3):
            _overwrite_owner(spark, root, "thief", "deadbeef")
            time.sleep(2.5)  # at least one beat (ttl/3 = 1s) observes it
    # the thief's lease survived the victim's release
    assert L.lease_holder(spark, root) == "thief"
    L.release_writer_lease(spark, root, "thief")


def test_release_is_token_matched_not_just_owner_matched(spark, tmp_path):
    """Two acquisitions under the SAME owner string are distinguishable:
    a release carrying the old token must not evict a usurper that
    re-took the root under the same name."""
    root = str(tmp_path / "samename")
    tok = L.acquire_writer_lease(spark, root, "w", wait_seconds=0)
    _overwrite_owner(spark, root, "w", "a-different-acquisition")
    L.release_writer_lease(spark, root, "w", tok)  # refused: token mismatch
    assert L.lease_holder(spark, root) == "w"  # the usurper still holds it
    L.release_writer_lease(spark, root, "w")  # owner-only cleanup


def test_heartbeat_survives_transient_rpc_failures(spark, tmp_path, monkeypatch):
    """r17 (ADVICE, medium): a single failed exists/setTimes/read RPC —
    routine on HDFS/S3A — must NOT silently stop the heartbeat (which
    would hand an hour-long compaction's root to the next reaper at ttl).
    Two consecutive blips are retried on the tightened cadence; the
    holder stays unreapable past ttl and exits clean."""
    import time

    root = str(tmp_path / "flaky")
    calls = {"n": 0}
    real = L._read_small

    def flaky(fs, path, jvm):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient RPC blip")
        return real(fs, path, jvm)

    monkeypatch.setattr(L, "_read_small", flaky)
    with L.writer_lease(spark, root, "survivor", ttl_seconds=3):
        time.sleep(4.5)  # past ttl; beats at ~1s/1.5s fail, ~2s recovers
        with pytest.raises(L.LeaseUnavailableError, match="survivor"):
            L.acquire_writer_lease(
                spark, root, "impatient", ttl_seconds=3, wait_seconds=1
            )
    assert calls["n"] > 2  # the failing beats really fired and recovered
    assert L.lease_holder(spark, root) is None  # clean, loud-free exit


def test_failed_owner_write_does_not_block_the_root(spark, tmp_path, monkeypatch):
    """r17 (ADVICE): if the owner write throws right after winning the
    atomic LOCK create, the LOCK must be best-effort undone before the
    error surfaces — otherwise every writer queues behind a heartbeat-less
    ghost until the ttl reaps it (900s of outage for one failed RPC)."""
    root = str(tmp_path / "ghostless")
    real_paths = L._lease_paths

    class _FailingCreateFS:
        def __init__(self, fs):
            self._fs = fs

        def create(self, *a, **k):
            raise RuntimeError("disk full")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def broken(spark_, root_):
        fs, lock, owner_path, jvm = real_paths(spark_, root_)
        return _FailingCreateFS(fs), lock, owner_path, jvm

    monkeypatch.setattr(L, "_lease_paths", broken)
    with pytest.raises(RuntimeError, match="disk full"):
        L.acquire_writer_lease(spark, root, "unlucky", wait_seconds=0)
    monkeypatch.undo()
    # the root is NOT blocked: a fresh writer wins with zero wait budget
    tok = L.acquire_writer_lease(spark, root, "next", wait_seconds=0)
    L.release_writer_lease(spark, root, "next", tok)
    assert L.lease_holder(spark, root) is None


def test_cli_dual_root_lease_covers_dst_path(spark, docs, tmp_path):
    """r17 (ADVICE): a write-then-swap compact (dst_path) mutates TWO
    roots — a live writer on dst must block the CLI block, in sorted
    acquisition order, and a non-dst-writing action with a stale dst_path
    key must NOT queue behind the dst holder."""
    from chat_data_pipeline_spark.cli import _run_indexing

    src = str(tmp_path / "src_idx")
    dst = str(tmp_path / "dst_idx")
    RT.build_text_index(docs, src)
    RT.extend_text_index(docs.limit(10), src, batch_id="b1")
    L.acquire_writer_lease(spark, dst, "live-dst-stream", wait_seconds=0)
    try:
        with pytest.raises(L.LeaseUnavailableError, match="live-dst-stream"):
            _run_indexing(
                spark, docs,
                {"bm25": {"path": src, "dst_path": dst, "action": "compact",
                          "lease_wait_seconds": 0}},
            )
        # src stayed untouched by the refused compact (still 2 batches)
        assert sorted(ST.committed_batches(spark, src)) == ["b1", "base"]
        # an extend carrying the same stale dst_path key ignores dst's
        # holder entirely (dst is not written by action=extend)
        _run_indexing(
            spark, docs.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000),
            {"bm25": {"path": src, "dst_path": dst, "action": "extend",
                      "batch_id": "b2", "id_expr": "doc_id", "column": "text",
                      "lease_wait_seconds": 0}},
        )
        assert "b2" in ST.committed_batches(spark, src)
    finally:
        L.release_writer_lease(spark, dst, "live-dst-stream")
    # with dst free the same compact lands into dst
    _run_indexing(
        spark, docs,
        {"bm25": {"path": src, "dst_path": dst, "action": "compact",
                  "lease_wait_seconds": 0}},
    )
    assert ST.committed_batches(spark, dst) == ["base"]
    assert L.lease_holder(spark, src) is None
    assert L.lease_holder(spark, dst) is None


def test_new_takedown_twins_fail_loudly_when_root_held(spark, docs, tmp_path):
    """r16 grew the takedown matrix (dedup/neardup twins); r17 verdict
    item 6 asks for contention coverage on exactly those new triggers:
    while another writer holds the store root, each twin's micro-batch
    must fail loudly and commit NOTHING, and a takedown+maintain pairing
    must fail fast the same way."""
    from chat_data_pipeline_spark.cli import _run_maintenance
    from chat_data_pipeline_spark.operators import dedup_store as DS
    from chat_data_pipeline_spark.operators import neardup_store as NS
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    # dedup-store twin
    store = str(tmp_path / "held_sigs")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0), store, family="md5")
    L.acquire_writer_lease(spark, store, "sig-compaction", wait_seconds=0)
    feed = tmp_path / "held_sig_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 8 == 0).select("doc_id").repartition(
        1
    ).write.parquet(str(feed / "f0.parquet"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = streaming_store_takedown(
        stream, store, str(tmp_path / "held_sig_ckpt"), lease_wait_seconds=1
    )
    try:
        with pytest.raises(Exception, match="writer lease|sig-compaction"):
            q.processAllAvailable()
        # takedown+maintain on the held root: fail-fast, names the blocker
        with pytest.raises(L.LeaseUnavailableError, match="sig-compaction"):
            _run_maintenance(
                spark,
                {"roots": [store], "auto_compact": True, "max_batches": 0,
                 "lease_wait_seconds": 0},
            )
    finally:
        q.stop()
        L.release_writer_lease(spark, store, "sig-compaction")
    assert ST.committed_batches(spark, store) == ["base"]  # nothing landed

    # neardup-store twin
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .localCheckpoint(eager=True)
    )
    vstore = str(tmp_path / "held_vecs")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), vstore,
        n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    L.acquire_writer_lease(spark, vstore, "vec-compaction", wait_seconds=0)
    vfeed = tmp_path / "held_vec_feed"
    vfeed.mkdir()
    emb.filter(F.col("vec_id") % 6 == 0).select("vec_id").repartition(
        1
    ).write.parquet(str(vfeed / "f0.parquet"))
    vstream = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vfeed) + "/*")
    )
    vq = streaming_store_takedown(
        vstream, vstore, str(tmp_path / "held_vec_ckpt"), lease_wait_seconds=1
    )
    try:
        with pytest.raises(Exception, match="writer lease|vec-compaction"):
            vq.processAllAvailable()
    finally:
        vq.stop()
        L.release_writer_lease(spark, vstore, "vec-compaction")
    assert ST.committed_batches(spark, vstore) == ["base"]


def test_two_takedown_streams_share_one_root(spark, docs, tmp_path):
    """takedown+takedown contention (r17 verdict item 6): two live
    takedown streams against ONE text-index root serialize per trigger
    via the lease; after both drain, probes equal a direct build over
    the corpus minus BOTH victim sets, and no lease is left behind."""
    from chat_data_pipeline_spark.streaming.pipeline import (
        streaming_store_takedown,
    )

    idx = str(tmp_path / "twin_take_root")
    RT.build_text_index(docs, idx)
    va = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    vb = docs.filter(F.col("doc_id") % 10 == 5).select("doc_id")
    feeds = []
    for name, victims in (("a", va), ("b", vb)):
        feed = tmp_path / f"take_feed_{name}"
        feed.mkdir()
        victims.repartition(1).write.parquet(str(feed / "f0.parquet"))
        feeds.append(
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
    qa = streaming_store_takedown(
        feeds[0], idx, str(tmp_path / "tckpt_a"), batch_id_prefix="ta"
    )
    qb = streaming_store_takedown(
        feeds[1], idx, str(tmp_path / "tckpt_b"), batch_id_prefix="tb"
    )
    try:
        qa.processAllAvailable()
        qb.processAllAvailable()
    finally:
        qa.stop()
        qb.stop()
    direct = str(tmp_path / "twin_take_direct")
    RT.build_text_index(
        docs.join(va.union(vb), "doc_id", "left_anti"), direct
    )
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, TERMS, k=20).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, direct, TERMS, k=20).collect())
    )
    assert L.lease_holder(spark, idx) is None


def test_stale_takeover_is_create_arbitered(spark, tmp_path):
    """r17: a reaper may delete a stale LOCK only after atomically
    creating the generation marker REAP-<stale_mtime> — with the marker
    already spent (another reaper won it and sits between its marker and
    its delete), a second reaper must NOT evict, and must time out
    instead.  Once the marker itself ages past 2*ttl (its winner died
    too), the next contender sweeps it and the takeover proceeds."""
    import time

    root = str(tmp_path / "arbitered")
    L.acquire_writer_lease(spark, root, "crashed", wait_seconds=0)
    fs, lock, _owner, jvm = L._lease_paths(spark, root)
    stale_ms = int(time.time() * 1000) - 10_000
    fs.setTimes(lock, stale_ms, -1)
    marker = jvm.org.apache.hadoop.fs.Path(
        lock.getParent(), f"REAP-{stale_ms}"
    )
    fs.create(marker, True).close()  # this generation is already spent
    with pytest.raises(L.LeaseUnavailableError, match="crashed"):
        L.acquire_writer_lease(
            spark, root, "second-reaper", ttl_seconds=1, wait_seconds=1.0
        )
    # the stale LOCK was NOT evicted: only the marker's winner may delete
    assert L.lease_holder(spark, root) == "crashed"
    # the marker's winner died too: once it ages past 2*ttl the next
    # contender sweeps it, wins the fresh marker, and reaps the LOCK
    fs.setTimes(marker, stale_ms, -1)
    L.acquire_writer_lease(
        spark, root, "third-reaper", ttl_seconds=1, wait_seconds=5
    )
    assert L.lease_holder(spark, root) == "third-reaper"
    L.release_writer_lease(spark, root, "third-reaper")


def test_fast_usurpation_detected_at_exit_without_heartbeat(spark, tmp_path):
    """r17: a trigger SHORTER than one heartbeat interval (ttl/3) never
    beats, so usurpation during it was previously invisible — the
    exit-time token re-verification must catch it and raise, and the
    token-matched release must still leave the usurper's record alone."""
    root = str(tmp_path / "fast_usurp")
    with pytest.raises(L.LeaseLostError, match="at release"):
        with L.writer_lease(spark, root, "victim", ttl_seconds=3600):
            # first beat is 1200s away; the usurper swap happens NOW and
            # the body ends immediately after
            _overwrite_owner(spark, root, "thief", "deadbeef")
    assert L.lease_holder(spark, root) == "thief"
    L.release_writer_lease(spark, root, "thief")


def test_stale_takeover_storm_single_winner(spark, tmp_path):
    """r17: eight contenders race ONE stale lock — the generation marker
    admits exactly one reaper, the rest serialize behind the winner's
    fresh lease, and at no instant do two threads hold the root."""
    import threading
    import time

    root = str(tmp_path / "reap_storm")
    L.acquire_writer_lease(spark, root, "crashed", wait_seconds=0)
    fs, lock, _owner, _jvm = L._lease_paths(spark, root)
    fs.setTimes(lock, int(time.time() * 1000) - 60_000, -1)

    mx = threading.Lock()
    concurrent = [0]
    peak = [0]
    errors: list[Exception] = []

    def _worker(i: int) -> None:
        try:
            tok = L.acquire_writer_lease(
                spark, root, f"w{i}", ttl_seconds=30, wait_seconds=30
            )
        except Exception as exc:  # pragma: no cover - failure evidence
            errors.append(exc)
            return
        with mx:
            concurrent[0] += 1
            peak[0] = max(peak[0], concurrent[0])
        time.sleep(0.05)
        with mx:
            concurrent[0] -= 1
        L.release_writer_lease(spark, root, f"w{i}", tok)

    threads = [threading.Thread(target=_worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert peak[0] == 1
    assert L.lease_holder(spark, root) is None


def test_reap_removes_dead_holders_owner_record(spark, tmp_path):
    """r17 review: the takeover must delete the dead holder's OWNER file
    along with its LOCK — a stale record left behind would let a
    suspended holder resuming in the winner's create-to-owner-write gap
    'verify' its own token and release the winner's fresh LOCK."""
    import time

    root = str(tmp_path / "reap_owner")
    L.acquire_writer_lease(spark, root, "crashed", wait_seconds=0)
    fs, lock, owner_path, jvm = L._lease_paths(spark, root)
    stale_ms = int(time.time() * 1000) - 60_000
    fs.setTimes(lock, stale_ms, -1)
    L._reap_stale_lock(spark, fs, lock, jvm, root, stale_ms, 1)
    assert not fs.exists(lock)
    assert not fs.exists(owner_path)  # the stale record went with it


def test_heartbeat_giveup_with_intact_token_exits_clean(
    spark, tmp_path, monkeypatch
):
    """r17 review: a heartbeat that gave up after consecutive transient
    failures is SUSPICION, not proof — when the exit re-verification
    finds this acquisition's token intact (no takeover ever happened),
    the run must exit clean instead of failing a completed mutation."""
    import time

    root = str(tmp_path / "giveup_clean")
    calls = {"n": 0}
    real = L._read_small

    def flaky(fs, path, jvm):
        calls["n"] += 1
        if calls["n"] <= L._BEAT_MAX_FAILURES:
            raise RuntimeError("transient RPC brown-out")
        return real(fs, path, jvm)

    monkeypatch.setattr(L, "_read_small", flaky)
    with L.writer_lease(spark, root, "survivor", ttl_seconds=3):
        time.sleep(5.5)  # beats at ~1s/1.3s/1.6s all fail -> give-up
    assert calls["n"] > L._BEAT_MAX_FAILURES  # exit re-verify DID read
    assert L.lease_holder(spark, root) is None  # released, no raise
