"""Store-agnostic maintenance policy (r15): when should a long-lived
persisted store compact?

Every store here (BM25 text index, IVF / IVF-PQ ANN indexes, MinHash
signature store, SRP embedding near-dup store) accumulates per-delivery ``batch=`` partitions and
ledger-committed tombstone sets; both are deliberately cheap to WRITE
(extensions are one partition, deletes are one id set) and paid for at
PROBE time (an N-way batch merge, a tombstone anti-join).  Compaction
resets both costs — but on a 100 TB deployment nobody watches each root
by hand, so the decision itself must be an operator: read the store's
OWN artifacts (O(batches) cost, never the corpus), compare against
thresholds, and recommend.

``maintenance_plan`` is that decision as a one-row DataFrame;
``compact_if_needed`` acts on it; the CLI exposes both as
``action: auto_compact`` on all five ``index.*`` kinds, so a scheduled
YAML run keeps a fleet of roots healthy without a human in the loop.

No reference parity claimed — the reference (single-run pandas pipeline,
ref ``pipeline.py:45-67``) has no persisted stores to maintain; this is
engine-extension surface like the stores themselves.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup_store as DS
from chat_data_pipeline_spark.operators import neardup_store as NS
from chat_data_pipeline_spark.operators import retrieval as RT
from chat_data_pipeline_spark.operators import similarity as SIM
from chat_data_pipeline_spark.operators import store as ST

# Row factories for the driver-side "values" forms below (r17): each
# maintenance verb computes plain Python values, so callers that consume
# the numbers directly (fleet sweeps, compact_if_needed, the registered
# fleet rows) read them WITHOUT a createDataFrame -> .first() round trip —
# measured ~1 s of fixed driver latency per call in a warmed session.
# The public DataFrame APIs wrap the same rows unchanged.
_PLAN_ROW = Row(
    "kind", "n_batches", "n_tombstones", "live_units", "tombstone_nanos",
    "compact_recommended",
)
_PLAN_SCHEMA = (
    "kind string, n_batches long, n_tombstones long, live_units long, "
    "tombstone_nanos long, compact_recommended boolean"
)
_GC_ROW = Row("kind", "n_batches", "debris_removed", "debris_kept", "tmp_removed")
_GC_SCHEMA = (
    "kind string, n_batches long, debris_removed long, "
    "debris_kept long, tmp_removed long"
)
_FSCK_ROW = Row(
    "kind", "meta_ok", "n_batches", "missing_batch_dirs", "orphan_dirs",
    "tmp_dirs", "folded_spent", "fold_ledger_overlap", "lease_held",
    "lease_stale", "reap_markers", "status",
)
_FSCK_SCHEMA = (
    "kind string, meta_ok boolean, n_batches long, "
    "missing_batch_dirs long, orphan_dirs long, tmp_dirs long, "
    "folded_spent long, fold_ledger_overlap long, lease_held boolean, "
    "lease_stale boolean, reap_markers long, status string"
)

# Defaults: compact once probes pay an 8-way merge, or once 10% of the
# store's physical rows are dead weight the anti-join must filter.
DEFAULT_MAX_BATCHES = 8
DEFAULT_MAX_TOMBSTONE_NANOS = 100_000_000
# GC grace: an uncommitted batch dir younger than this is presumed to be a
# delivery still in flight (writing before its ledger commit), not crash
# debris — a day is far past any sane trigger duration, and the CLI path
# additionally holds the root's writer lease so nothing CAN be in flight.
DEFAULT_GC_GRACE_SECONDS = 86_400

# top-level control dirs a GC walk must never enter: they are not
# batch-partitioned artifact subtrees (the lease dir is skipped by its
# "_" prefix)
_CONTROL_DIRS = frozenset({"meta", "batches", "folded"})


def store_kind_and_meta(spark, index_path: str):
    """Classify a store root by its meta schema AND hand back the meta row
    in the same read — the five kinds pin disjoint meta columns, so the
    detection is structural, not heuristic: ``n_term_buckets`` → bm25,
    ``sig_type`` → dedup, ``n_planes`` → neardup, ``coarse='md5pq'`` →
    ivfpq, other ``coarse`` → ivf.  Raises on anything else (including a
    meta-less mid-rebuild root, which must fail loudly everywhere).

    Returns ``(kind, meta_row)`` so callers that need both (the
    maintenance plan, the serve engine's per-arm validation) pay ONE meta
    read per root instead of detect-then-re-read — per-micro-batch cost
    on ``streaming_query_serving``."""
    meta = ST.read_meta_row(spark, index_path)
    if meta is None:
        # a parquet footer with zero rows (crash between file creation and
        # row flush) must fail as loudly as a missing/unknown meta
        raise ValueError(
            f"{index_path}/meta exists but holds no rows — mid-write or "
            "truncated store root; rebuild it before probing/maintaining"
        )
    cols = set(meta.asDict())
    if "n_term_buckets" in cols:
        return "bm25", meta
    if "sig_type" in cols:
        return "dedup", meta
    if "n_planes" in cols:
        return "neardup", meta
    if "coarse" in cols:
        return ("ivfpq" if meta.coarse == "md5pq" else "ivf"), meta
    raise ValueError(
        f"{index_path}/meta matches no known store kind (columns: {sorted(cols)})"
    )


class StoreKind(NamedTuple):
    """One store kind's mutation verbs and residency artifact.

    ``extend(df, path, batch_id, ...)`` and ``delete(spark, path, ids,
    batch_id)`` are the kind's ledger-committed deliveries (``ids`` is a
    one-column id frame), ``compact(spark, path, dst_index=None)`` its
    compactor, and ``residency`` the ``(subdir, id_col)`` artifact holding
    one id row per stored unit — ``id_col=None`` means the meta's own
    ``id_col``."""

    extend: Callable
    delete: Callable
    compact: Callable
    residency: tuple[str, str | None]


# The ONE kind -> verb table: streams, CLI blocks, takedown fan-out and
# maintenance all dispatch through it.  Insertion order is the order a
# multi-kind ``index:`` block runs in.  IVF compaction is flavor-agnostic,
# so ivf and ivfpq share it; every kind without additive statistics
# shares the id-set delete (bm25 subtracts its globals instead), whose
# cross-kind batch-id guard probes the kind's residency subdir — an
# artifact every extension of the kind writes.
STORE_KINDS: dict[str, StoreKind] = {
    "bm25": StoreKind(
        RT.extend_text_index, RT.delete_from_text_index,
        RT.compact_text_index, ("doclens", "doc"),
    ),
    "ivf": StoreKind(
        SIM.extend_ivf_index, ST.tombstone_delete,
        SIM.compact_ivf_index, ("postings", None),
    ),
    "ivfpq": StoreKind(
        SIM.extend_ivfpq_index, ST.tombstone_delete,
        SIM.compact_ivf_index, ("postings", None),
    ),
    "dedup": StoreKind(
        DS.extend_dedup_index, ST.tombstone_delete,
        DS.compact_dedup_index, ("bands", "id"),
    ),
    "neardup": StoreKind(
        NS.extend_neardup_index, ST.tombstone_delete,
        NS.compact_neardup_index, ("vectors", "id"),
    ),
}


def detect_store_kind(spark, index_path: str) -> str:
    """Kind-only convenience over :func:`store_kind_and_meta`."""
    return store_kind_and_meta(spark, index_path)[0]


def _count_committed(spark, index_path: str, sub: str, committed: list[str]) -> int:
    """Row count of a committed-batch-filtered artifact, or 0 when the
    artifact directory does not exist.  Parquet ``count()`` resolves from
    file-footer row counts — a metadata operation, no data scan — so this
    stays cheap on a corpus-sized postings table."""
    fs, path, _jvm = ST.fs_for(spark, f"{index_path}/{sub}")
    if not fs.exists(path):
        return 0
    # partition-column-only explicit schema (r17): the count resolves
    # from footer ROW COUNTS of the committed partitions, and pinning the
    # schema skips tree-wide footer SAMPLING — a crashed delivery's
    # corrupt partial files must not fail the maintenance read that
    # decides the post-crash compaction (same discipline as every other
    # read in this module)
    return ST.committed_read(spark, index_path, sub, committed, "batch string").count()


def maintenance_plan(
    spark,
    index_path: str,
    max_batches: int = DEFAULT_MAX_BATCHES,
    max_tombstone_nanos: int = DEFAULT_MAX_TOMBSTONE_NANOS,
    kind_meta: tuple | None = None,
) -> DataFrame:
    """DataFrame form of :func:`maintenance_plan_values` (one row)."""
    from chat_data_pipeline_spark.session import values_df

    return values_df(
        spark,
        [tuple(maintenance_plan_values(
            spark, index_path, max_batches, max_tombstone_nanos, kind_meta
        ))],
        _PLAN_SCHEMA,
    )


def maintenance_plan_values(
    spark,
    index_path: str,
    max_batches: int = DEFAULT_MAX_BATCHES,
    max_tombstone_nanos: int = DEFAULT_MAX_TOMBSTONE_NANOS,
    kind_meta: tuple | None = None,
) -> Row:
    """One-row compaction recommendation from the store's own artifacts.

    Columns: ``(kind, n_batches, n_tombstones, live_units,
    tombstone_nanos, compact_recommended)`` where ``n_tombstones`` counts
    the tombstoned ids that are PHYSICALLY RESIDENT in the store (the
    tombstone set semi-joined against the store's id artifact — a
    takedown id the store never held must not read as dead weight: the
    cross-store ``takedown:`` block fans one victim set to every store,
    so non-resident ids are the NORMAL case there, and counting them
    raw would trigger spurious fleet compactions), ``live_units`` is the
    store's natural unit — live documents for bm25 (the cross-batch
    ``stats.n_docs`` sum, which already nets delete deliveries —
    non-resident victims subtracted nothing, by construction of the
    doclens-driven negatives), physical rows minus resident dead for
    ivf/ivfpq/neardup (one posting/vector row per embedding), and
    distinct fingerprinted ids minus resident dead for the dedup store
    (counted from the bands artifact directly — per-doc band-row counts
    are not reliably fixed: sentinel bands drop, shingle-less docs emit
    nothing) — and
    ``tombstone_nanos`` is the integer-exact dead fraction
    ``1e9 * dead div (live_units + dead)``.  ``compact_recommended`` is
    true when either threshold is crossed: more committed batches than
    ``max_batches`` (probes pay the N-way merge) or a dead fraction
    above ``max_tombstone_nanos`` (probes pay the anti-join for rows
    that no longer serve).

    Scale shape: ledger + tombstones are batch-/id-sized reads; the
    posting-table touches are one footer-metadata count plus, only when
    a tombstone set exists, one column-pruned id scan whose shuffle side
    is the (broadcast-sized) tombstone set.  Never reads corpus text or
    vectors, never shuffles corpus-sized data."""
    # ``kind_meta``: a caller that already classified the root (a fleet
    # chain running gc/fsck and the plan on the same root) passes the
    # (kind, meta_row) pair so the chain pays ONE meta read, not one per
    # verb (r17; the store_kind_and_meta docstring's posture extended
    # across operators)
    kind, meta = kind_meta or store_kind_and_meta(spark, index_path)
    committed = ST.committed_batches(spark, index_path)
    n_batches = len(committed)

    # base-partition-pinned for pre-r15 roots: the same crashed-delivery
    # footer hazard the explicit-schema reads below guard against
    id_type = ST.meta_id_type(spark, index_path, meta)
    tomb = ST.tombstoned_ids(spark, index_path, id_type, committed)

    # the residency artifact: one id row (or a known multiple) per stored
    # unit, positive deliveries only — deletes write none of these
    res_sub, res_id = STORE_KINDS[kind].residency
    res_id = res_id or meta.id_col

    # residency artifact loaded with an explicit single-column schema (the
    # probe paths' discipline): a crashed uncommitted delivery's partial
    # files must not drive schema inference — the committed-batch filter
    # hides their ROWS, but inference reads footers before any filter
    # applies
    def _resident_ids():
        return ST.committed_read(
            spark, index_path, res_sub, committed, f"{res_id} {id_type}"
        ).select(F.col(res_id).alias("doc"))

    # dead + live in ONE residency scan per root (r17, guide §2.4/§1.2):
    # the former shape paid two driver-paced jobs over the same artifact
    # (a distinct/metadata count for live, a semi-join count for dead) —
    # at fleet-sweep time those serial small-job latencies, not data
    # volume, dominate.  The tombstone set is deduped then left-joined
    # with a flag, so one aggregation yields (resident_rows, dead):
    # identical numbers — dead counts DISTINCT matched ids exactly as the
    # old semi-join+distinct did, and the no-tombstone common case keeps
    # the pure footer-metadata count (no data scan at all).
    flagged_tomb = (
        None
        if tomb is None
        else tomb.distinct().withColumn("__dead__", F.lit(1))
    )

    def _rows_and_dead() -> tuple[int, int]:
        if flagged_tomb is None:
            return 0, 0  # rows unused on this path (see callers below)
        row = (
            _resident_ids()
            .join(flagged_tomb, "doc", "left")
            .agg(
                F.count(F.lit(1)).alias("__rows__"),
                F.coalesce(
                    F.count_distinct(
                        F.when(F.col("__dead__").isNotNull(), F.col("doc"))
                    ),
                    F.lit(0),
                ).alias("__dead__"),
            )
            .first()
        )
        return int(row[0]), int(row[1])

    if kind == "bm25":
        # live (cross-batch stats sum) and dead (doclens semi-join) read
        # DIFFERENT artifacts — run the two tiny jobs concurrently
        from concurrent.futures import ThreadPoolExecutor

        def _bm25_live() -> int:
            fs, spath, _jvm = ST.fs_for(spark, f"{index_path}/stats")
            if not fs.exists(spath):
                return 0
            return int(
                ST.committed_read(
                    spark, index_path, "stats", committed, "n_docs long, sum_dl long"
                )
                .agg(F.coalesce(F.sum("n_docs"), F.lit(0)))
                .first()[0]
            )

        with ThreadPoolExecutor(max_workers=2) as ex:
            live_f = ex.submit(_bm25_live)
            _rows, dead = _rows_and_dead()
            live = live_f.result()
    elif kind == "dedup":
        # distinct fingerprinted ids, NOT band rows // band count: the
        # per-doc band-row count is only nominally fixed (the sha1 family
        # drops whole-sentinel bands per-band, md5 emits zero rows for
        # shingle-less docs), so a row-count division undercounts on
        # corpora with short/empty docs — and with it the dead fraction
        # that gates auto_compact.  One column-pruned distinct over `id`
        # carrying the tombstone flag yields live and dead together.
        ids = _resident_ids().distinct()
        if flagged_tomb is None:
            live, dead = ids.count(), 0
        else:
            row = ids.join(flagged_tomb, "doc", "left").agg(
                F.count(F.lit(1)).alias("__rows__"),
                F.coalesce(F.sum("__dead__"), F.lit(0)).alias("__dead__"),
            ).first()
            dead = int(row[1])
            live = int(row[0]) - dead
    else:  # neardup / ivf / ivfpq: one vector/posting row per embedding
        if flagged_tomb is None:
            dead = 0
            live = _count_committed(spark, index_path, res_sub, committed)
        else:
            rows, dead = _rows_and_dead()
            live = rows - dead

    n_tombstones = dead
    physical = live + dead
    tombstone_nanos = (10**9 * dead) // physical if physical > 0 else 0
    recommended = n_batches > int(max_batches) or tombstone_nanos > int(
        max_tombstone_nanos
    )
    return _PLAN_ROW(
        kind, int(n_batches), int(n_tombstones), int(live),
        int(tombstone_nanos), bool(recommended),
    )


def maintenance_sweep(
    spark,
    roots: list[str],
    max_batches: int = DEFAULT_MAX_BATCHES,
    max_tombstone_nanos: int = DEFAULT_MAX_TOMBSTONE_NANOS,
    max_concurrency: int = 8,
) -> DataFrame:
    """Fleet view: one :func:`maintenance_plan` row per store root, with
    the root prepended — the single table an operator (or a scheduled
    config) reads to see which of a deployment's indexes need attention.
    Nothing corpus-sized ever moves (each plan is O(batches)).

    Per-root plans evaluate CONCURRENTLY (r16, the r15 verdict's
    fleet-latency note: each plan fires several small Spark jobs, and a
    thousand-root sweep run serially would be latency-bound on driver
    round-trips).  Spark schedules jobs submitted from multiple driver
    threads independently, so ``max_concurrency`` roots' metadata jobs
    overlap; the output row order stays the input ``roots`` order
    regardless of completion order.  The sweep only READS ledger-committed
    state — it needs no writer lease; the `maintain:` block takes the
    per-root lease around any compaction it then runs."""
    return _fleet_sweep(
        spark, "maintenance_sweep", roots, max_concurrency, _PLAN_SCHEMA,
        lambda root: maintenance_plan_values(
            spark, root, max_batches, max_tombstone_nanos
        ),
    )


def _fleet_sweep(
    spark,
    verb: str,
    roots: list[str],
    max_concurrency: int,
    schema: str,
    one: Callable[[str], Row],
) -> DataFrame:
    """The fleet sweeps' one body: ``one(root)`` per root on a pool of at
    most ``max_concurrency`` threads, rows kept in the input ``roots``
    order whatever the completion order, each passed through as ``(root,
    *row)`` under ``"root string, " + schema``."""
    if not roots:
        raise ValueError(f"{verb} needs at least one store root")
    from concurrent.futures import ThreadPoolExecutor

    from chat_data_pipeline_spark.session import values_df

    roots = [str(r) for r in roots]
    with ThreadPoolExecutor(
        max_workers=max(1, min(int(max_concurrency), len(roots)))
    ) as ex:
        rows = list(ex.map(one, roots))
    return values_df(
        spark,
        [(root, *row) for root, row in zip(roots, rows)],
        "root string, " + schema,
    )


def _batch_dirs(fs, root):
    """The two-level walk GC and fsck share: every ``batch=<id>`` and
    ``_temporary`` child dir of the root's artifact subtrees (control dirs
    and ``_``-prefixed dirs such as the writer lease are skipped), as
    ``(status, batch id or None for a _temporary dir)``."""
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or name in _CONTROL_DIRS or name.startswith("_"):
            continue
        for child in fs.listStatus(st.getPath()):
            cname = child.getPath().getName()
            if not child.isDirectory():
                continue
            if cname == "_temporary":
                yield child, None
            elif cname.startswith("batch="):
                yield child, cname.split("=", 1)[1]


def gc_debris(
    spark,
    index_path: str,
    grace_seconds: int = DEFAULT_GC_GRACE_SECONDS,
    kind_meta: tuple | None = None,
) -> DataFrame:
    """DataFrame form of :func:`gc_debris_values` (one row)."""
    from chat_data_pipeline_spark.session import values_df

    return values_df(
        spark,
        [tuple(gc_debris_values(spark, index_path, grace_seconds, kind_meta))],
        _GC_SCHEMA,
    )


def gc_debris_values(
    spark,
    index_path: str,
    grace_seconds: int = DEFAULT_GC_GRACE_SECONDS,
    kind_meta: tuple | None = None,
) -> Row:
    """Remove a store root's CRASH DEBRIS without the compaction rewrite
    (r17): uncommitted ``batch=`` partition dirs — a delivery that died
    between its artifact write and its ledger commit — and crashed Spark
    committers' ``_temporary`` staging dirs.

    Probes never READ debris (every probe filters to ledger-committed
    batches, and the r17 schema-pinned loads stopped even schema inference
    from touching it), and an in-place compaction's static overwrite
    clears it — but compaction REWRITES the store, and on a 100 TB root
    nobody should have to rewrite terabytes of live postings just to drop
    a crashed delivery's partial files.  GC is the cheap path: a pure
    Hadoop-FS metadata walk (list the artifact subtrees, list their
    ``batch=`` children, delete the uncommitted ones), O(dirs), never a
    Spark job over data.

    Safety rails, in order:

    - the root must classify (:func:`store_kind_and_meta`) — a meta-less
      mid-rebuild root fails loudly rather than getting swept;
    - only immediate ``batch=<id>`` children of non-control top-level
      dirs are candidates; the ledger-committed set (plus ``base``) is
      never touched, whatever its age;
    - an uncommitted dir younger than ``grace_seconds`` is KEPT — it may
      be a delivery in flight writing ahead of its ledger commit.  The
      CLI ``maintain:`` path holds the root's writer lease while sweeping
      (nothing can be in flight on a lease-disciplined root), so the
      grace is the belt to the lease's suspenders, and direct operator
      calls get the same default protection;
    - deletion is per-dir recursive, so sub-partitioned layouts (bm25
      ``bkt=``, ivf/ivfpq ``list=``, neardup ``t=``) need no per-kind
      cases.

    Returns one row: ``(kind, n_batches, debris_removed, debris_kept,
    tmp_removed)`` — ``n_batches`` counts the committed set (base
    included, matching :func:`maintenance_plan`), ``debris_kept`` the
    in-grace survivors a next sweep will re-judge."""
    import time

    kind, _meta = kind_meta or store_kind_and_meta(spark, index_path)
    committed = set(ST.committed_batches(spark, index_path))
    fs, root, _jvm = ST.fs_for(spark, index_path)
    horizon_ms = int(time.time() * 1000) - int(grace_seconds) * 1000
    removed = kept = tmp_removed = 0
    for child, bid in _batch_dirs(fs, root):
        if bid in committed:
            continue
        if child.getModificationTime() >= horizon_ms:
            kept += 1
        elif bid is None:
            # a crashed Spark write's committer staging dir
            fs.delete(child.getPath(), True)
            tmp_removed += 1
        else:
            fs.delete(child.getPath(), True)
            removed += 1
    return _GC_ROW(kind, len(committed), removed, kept, tmp_removed)


def gc_sweep(
    spark,
    roots: list[str],
    grace_seconds: int = DEFAULT_GC_GRACE_SECONDS,
    max_concurrency: int = 8,
) -> DataFrame:
    """Fleet GC: one :func:`gc_debris` row per store root with the root
    prepended — the hygiene half of :func:`maintenance_sweep`'s fleet
    view.  Per-root walks run concurrently (pure FS metadata ops; the
    pool bounds namenode pressure), output order stays the input order."""
    return _fleet_sweep(
        spark, "gc_sweep", roots, max_concurrency, _GC_SCHEMA,
        lambda root: gc_debris_values(spark, root, grace_seconds),
    )


def snapshot_store(
    spark,
    src_index: str,
    dst_index: str,
    overwrite: bool = False,
) -> DataFrame:
    """Clone a store root's LEDGER-COMMITTED state to ``dst_index`` — the
    third hygiene verb beside compaction (rewrite) and GC (debris delete):
    a snapshot COPIES, byte-for-byte at the file level, never decoding a
    posting or shuffling a row, so on a 100 TB root it costs IO bandwidth
    only — no compute, no fold, no re-cluster — which is what you want for
    a serving-tier clone, a pre-migration backup, or an isolation copy a
    downstream team may probe without leasing the live root.

    What travels (and what doesn't):

    - every artifact subtree's COMMITTED ``batch=`` dirs — the batch
      structure (and tombstone sets) are preserved as-is, so probes of the
      snapshot are bit-identical to probes of the source at the captured
      cut; crash debris (uncommitted dirs, ``_temporary``) and the
      ``_writer_lease`` dir are naturally excluded;
    - the ``folded`` spent-id manifest, whole — a delivery id the source's
      compaction history spent must stay spent against the clone, or a
      stream replay pointed at the snapshot would double-deliver;
    - a FRESH ledger holding exactly the batch ids captured at the start
      of the copy — the live ledger dir is deliberately NOT copied, so a
      delivery committing on the source mid-copy can never appear in the
      snapshot's ledger without its artifacts (the consistent-cut rule);
    - ``meta`` LAST: the snapshot's commit marker, same discipline as the
      builds — a crash anywhere above leaves a meta-less dst that fails
      loudly everywhere instead of half-serving.

    Coordination: run it under the source's writer lease (the CLI
    ``action: snapshot`` path does) or on a root you own — the committed
    set is captured once up front either way, so the worst a racing
    writer costs is missing its newest batch, never inconsistency.

    Returns one row: ``(kind, n_batches, batch_dirs_copied, subtrees)``."""
    kind, _meta = store_kind_and_meta(spark, src_index)
    committed = ST.committed_batches(spark, src_index)
    cset = set(committed)
    fs, src, jvm = ST.fs_for(spark, src_index)
    dst = jvm.org.apache.hadoop.fs.Path(dst_index)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    futil = jvm.org.apache.hadoop.fs.FileUtil
    # a snapshot ONTO its own source (config typo + overwrite=True) would
    # delete the live store's content before "copying" it — refuse by
    # qualified-path identity, not string equality, so /a/b vs /a/b/ and
    # scheme-prefixed spellings are caught too
    if fs.makeQualified(dst).equals(fs.makeQualified(src)):
        raise ValueError(
            f"snapshot destination equals the source root ({src_index}); "
            "a snapshot must clone into a DIFFERENT root"
        )
    if fs.exists(dst):
        # "_"-prefixed children don't count as content: the CLI's
        # dual-root lease has already materialized {dst}/_writer_lease by
        # the time the copy starts, and overwrite must clear prior store
        # content while leaving that held lease alone
        leftovers = [
            st
            for st in fs.listStatus(dst)
            if not st.getPath().getName().startswith("_")
        ]
        if leftovers and not overwrite:
            raise ValueError(
                f"snapshot destination {dst_index} already exists; pass "
                "overwrite=True (CLI: overwrite_dst) to replace it"
            )
        for st in leftovers:
            fs.delete(st.getPath(), True)
    fs.mkdirs(dst)
    n_dirs = 0
    subtrees = 0
    for st in fs.listStatus(src):
        name = st.getPath().getName()
        if not st.isDirectory() or name.startswith("_") or name in (
            "meta", "batches",
        ):
            continue
        if name == "folded":
            futil.copy(
                fs, st.getPath(), fs,
                jvm.org.apache.hadoop.fs.Path(f"{dst_index}/folded"),
                False, True, conf,
            )
            continue
        copied_here = 0
        for child in fs.listStatus(st.getPath()):
            cname = child.getPath().getName()
            if not (child.isDirectory() and cname.startswith("batch=")):
                continue
            if cname.split("=", 1)[1] not in cset:
                continue
            if copied_here == 0:
                fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{dst_index}/{name}"))
            futil.copy(
                fs, child.getPath(), fs,
                jvm.org.apache.hadoop.fs.Path(f"{dst_index}/{name}/{cname}"),
                False, True, conf,
            )
            copied_here += 1
        n_dirs += copied_here
        subtrees += 1 if copied_here else 0
    for bid in committed:
        if bid != "base":
            ST.ledger_commit(spark, dst_index, bid)
    # meta LAST — the commit marker
    futil.copy(
        fs, jvm.org.apache.hadoop.fs.Path(f"{src_index}/meta"), fs,
        jvm.org.apache.hadoop.fs.Path(f"{dst_index}/meta"), False, True, conf,
    )
    from chat_data_pipeline_spark.session import values_df

    return values_df(
        spark,
        [(kind, len(committed), int(n_dirs), int(subtrees))],
        "kind string, n_batches long, batch_dirs_copied long, subtrees long",
    )


def fsck_store(
    spark,
    index_path: str,
    ttl_seconds: int | None = None,
    kind_meta: tuple | None = None,
) -> DataFrame:
    """DataFrame form of :func:`fsck_store_values` (one row)."""
    from chat_data_pipeline_spark.session import values_df

    return values_df(
        spark,
        [tuple(fsck_store_values(spark, index_path, ttl_seconds, kind_meta))],
        _FSCK_SCHEMA,
    )


def fsck_store_values(
    spark,
    index_path: str,
    ttl_seconds: int | None = None,
    kind_meta: tuple | None = None,
) -> Row:
    """Structural integrity audit of one store root — the READ-ONLY fourth
    hygiene verb beside compaction (rewrite), GC (debris delete) and
    snapshot (clone): fsck never modifies anything, it reports what the
    other three should act on.  On a 100 TB deployment the failure modes
    it checks are exactly the ones probes can't surface on their own:

    - **missing committed artifacts** (``missing_batch_dirs``): a ledger
      id whose ``batch=`` dir exists in NO artifact subtree.  Probes
      filter to committed batches, so a missing partition silently serves
      ZERO rows for that delivery — data loss that looks like a clean
      result.  This is the one state no probe, plan or GC run reports.
    - **fold/ledger overlap** (``fold_ledger_overlap``): a batch id both
      ledger-committed (probes merge it) and manifest-folded (the base
      already contains it) — double-served rows after a crash landed
      between a compaction's fold write and its ledger reset.
    - **crash debris** (``orphan_dirs`` / ``tmp_dirs``): the uncommitted
      ``batch=`` dirs and ``_temporary`` staging :func:`gc_debris`
      deletes — counted here regardless of age (fsck diagnoses; GC's
      grace window is an acting-safely concern, not a reporting one).
    - **lease health** (``lease_held`` / ``lease_stale`` /
      ``reap_markers``): a LOCK past its ttl means a writer died
      mid-mutation (its debris is likely in the same report); leftover
      ``REAP-`` generation markers are normal within ``2*ttl`` of a
      takeover and listed for the operator's timeline.
    - **meta health** (``meta_ok``): unlike every serving path — where a
      meta-less root must raise — fsck is the tool you point AT a broken
      root, so classification failure is a reported ``'unknown'`` /
      ``'corrupt'`` row, not an exception (a fleet sweep with one
      mid-rebuild root still audits the other nine hundred).

    ``status`` ranks the findings: ``'corrupt'`` (missing artifacts,
    fold/ledger overlap, or no meta — serving is wrong or impossible),
    ``'attention'`` (debris or a stale lease — serving is correct but the
    root needs GC / takeover), else ``'ok'``.

    Cost shape: pure Hadoop-FS metadata — one meta footer read, one
    ledger listing, one two-level dir walk, O(dirs) like :func:`gc_debris`;
    never a Spark job over data, never a corpus-sized read."""
    import time

    from chat_data_pipeline_spark.operators.lease import DEFAULT_TTL_SECONDS

    ttl = DEFAULT_TTL_SECONDS if ttl_seconds is None else int(ttl_seconds)
    try:
        kind, _meta = kind_meta or store_kind_and_meta(spark, index_path)
        meta_ok = True
    except Exception:
        return _FSCK_ROW(
            "unknown", False, 0, 0, 0, 0, 0, 0, False, False, 0, "corrupt"
        )

    committed = ST.committed_batches(spark, index_path)
    cset = set(committed)
    fs, root, jvm = ST.fs_for(spark, index_path)

    seen_ids: set[str] = set()
    orphans = tmp_dirs = 0
    for _child, bid in _batch_dirs(fs, root):
        if bid is None:
            tmp_dirs += 1
        elif bid in cset:
            seen_ids.add(bid)
        else:
            orphans += 1
    missing = len(cset - seen_ids)

    ext_ids, del_ids = ST.folded_ids(spark, index_path)
    folded = set(ext_ids) | set(del_ids)
    overlap = len(folded & cset)

    lease_held = lease_stale = False
    reap_markers = 0
    lease_dir = jvm.org.apache.hadoop.fs.Path(f"{index_path}/_writer_lease")
    if fs.exists(lease_dir):
        now_ms = int(time.time() * 1000)
        for st in fs.listStatus(lease_dir):
            name = st.getPath().getName()
            if name == "LOCK":
                lease_held = True
                lease_stale = now_ms - st.getModificationTime() > ttl * 1000
            elif name.startswith("REAP-"):
                reap_markers += 1

    if missing or overlap:
        status = "corrupt"
    elif orphans or tmp_dirs or lease_stale:
        status = "attention"
    else:
        status = "ok"
    return _FSCK_ROW(
        kind, meta_ok, len(committed), missing, orphans, tmp_dirs,
        len(folded), overlap, lease_held, lease_stale, reap_markers, status,
    )


def fsck_sweep(
    spark,
    roots: list[str],
    ttl_seconds: int | None = None,
    max_concurrency: int = 8,
) -> DataFrame:
    """Fleet fsck: one :func:`fsck_store` row per root with the root
    prepended — the audit table a scheduled ``maintain:`` run writes
    BEFORE it acts, so the operator sees what GC/compaction are about to
    fix and what they can't (a ``'corrupt'`` root needs a rebuild or a
    snapshot restore, not a sweep).  Per-root walks run concurrently
    (pure FS metadata ops; the pool bounds namenode pressure), output
    order stays the input order; a broken root reports, never raises."""
    return _fleet_sweep(
        spark, "fsck_sweep", roots, max_concurrency, _FSCK_SCHEMA,
        lambda root: fsck_store_values(spark, root, ttl_seconds),
    )


def compact_if_needed(
    spark,
    index_path: str,
    max_batches: int = DEFAULT_MAX_BATCHES,
    max_tombstone_nanos: int = DEFAULT_MAX_TOMBSTONE_NANOS,
    dst_index: str | None = None,
) -> bool:
    """Act on :func:`maintenance_plan`: compact the store (dispatching to
    its kind's compactor) iff recommended; returns whether it compacted.
    The plan read and the compaction run in the same process, but the
    decision uses only ledger-committed state, so a concurrent delivery
    committing between the two at worst makes the compaction fold one
    more batch — never an inconsistency (same single-writer-per-root
    coordination contract as every maintenance operator here)."""
    plan = maintenance_plan_values(
        spark, index_path, max_batches, max_tombstone_nanos
    )
    if not plan.compact_recommended:
        return False
    STORE_KINDS[plan.kind].compact(spark, index_path, dst_index=dst_index)
    return True
