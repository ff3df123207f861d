"""The persisted-store protocol, owned once for all five stores (BM25 text
index, IVF / IVF-PQ ANN indexes, MinHash signature store, SRP embedding
near-dup store).

Every store is a root of batch-partitioned artifacts plus a few control
files, and every store follows the same crash posture:

    <root>/meta/                 one row of build params — the base's commit
                                 marker: deleted FIRST, written LAST
    <root>/batches/<id>          ledger touch file — a delivery's commit
                                 marker, written after its artifacts
    <root>/tombstones/batch=<id> deleted ids, probes anti-join them
    <root>/folded/{extensions,deletes}/<id>
                                 ids a compaction folded into the base

Kinds supply only their own data; this module sequences it.  The four
skeletons below are the ONLY places that order the protocol's steps:

- :func:`write_batch` — one batch's artifact write, the base's and every
  delivery's: the hive layout, the static overwrite, the salted
  clustering, concurrent artifacts, and for a delivery the ledger commit
  after every artifact has landed;
- :func:`commit_base` — a base build, rebuild or compaction: folded
  manifest (compactions), meta delete, tombstone clear, the kind's
  artifact write, ledger reset, meta write;
- :func:`open_delivery` / :func:`open_extension` — a delivery's preamble:
  batch-id validation, folded-replay no-op, one meta read, cross-kind
  batch-id refusal, and for extensions the id-type / tombstoned-id
  refusals and the vector-type normalization;
- :func:`tombstone_delete` — the id-set delete every kind without
  additive statistics shares (BM25 subtracts its globals instead, but
  opens its delete the same way).

The read side is owned here too: :func:`live_rows` is every probe's,
compactor's and rebuild's view of a store — :func:`committed_read` (the
ledger-committed ``batch=`` partitions of one sub-tree) minus
:func:`drop_tombstoned` (the committed tombstone anti-join);
:func:`delete_victims` is every delete's victim set; and
:func:`per_batch_counts` / :func:`batch_health` build the health reports.
Each takes the caller's one ledger snapshot, so a verb lists the ledger
once however many trees it reads.

The model is Spark SQL's Data Sources API (Armbrust et al., SIGMOD 2015):
the engine owns the protocol once, each source supplies only its data.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chat_data_pipeline_spark.session import local_parquet_schema, values_df

# Write-salt for bucket-clustered index writes.  Clustering on the partition
# column alone bounds the FILE count to O(buckets) — but it also bounds the
# WRITE-TASK count to the number of distinct bucket values, so a corpus-sized
# postings table funnels through ≤ N_TERM_BUCKETS (=64) tasks no matter how
# many executors the cluster has: invisible at sf0.1, the named scale-killer
# at 100 TB.  Salting the repartition keeps files at O(buckets × salt) while
# the write stage scales with the salt (raise it with the cluster size).
WRITE_SALT = 8

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def validate_batch_id(batch_id: int | str) -> str:
    """Reject batch ids that would corrupt the hive layout: ``'base'`` would
    silently overwrite the base build, and path separators / ``=`` / spaces
    would break ``batch=<id>`` partition-directory parsing."""
    s = str(batch_id)
    if s == "base":
        raise ValueError(
            "batch_id 'base' is reserved for the index's base build; "
            "pick a distinct delivery id"
        )
    if not _BATCH_ID_RE.match(s):
        raise ValueError(
            f"batch_id {s!r} is not a safe partition value "
            "(allowed: letters, digits, '.', '_', '-')"
        )
    return s


def cluster_for_partitioned_write(
    df: DataFrame, part_cols: list[str], salt_expr, write_salt: int = WRITE_SALT
) -> DataFrame:
    """Cluster rows ahead of a hive-partitioned write so the file count
    stays O(dirs × write_salt) while write parallelism scales with
    ``write_salt``, DECOUPLED from the partition-dir count.

    A bare ``repartition(part_cols)`` gives O(dirs) files but also caps the
    write stage at #dirs non-empty tasks; adding a hashed salt column to the
    shuffle key (dropped before the write, so it never reaches the files)
    spreads each dir's rows over ≤ write_salt tasks."""
    cols = [F.col(c) for c in part_cols]
    if write_salt <= 1:
        return df.repartition(*cols)
    salt = F.pmod(F.xxhash64(salt_expr), F.lit(int(write_salt)))
    return (
        df.withColumn("__wsalt__", salt)
        .repartition(*cols, F.col("__wsalt__"))
        .drop("__wsalt__")
    )


def fs_for(spark, path_str: str):
    """(FileSystem, Path, jvm) for any path — the ONE Hadoop-FS handle
    helper behind the ledger, the meta invalidation and the serving alias
    (plain FS metadata ops, works on HDFS/S3A/local alike, milliseconds,
    never a Spark job)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path, jvm


# --- meta --------------------------------------------------------------------


def read_meta_row(spark, index_path: str):
    """One-row store-meta read with ZERO Spark jobs on ``file:``-scheme
    roots (r17 optimization).  ``spark.read.parquet(meta).first()`` costs
    TWO driver-paced jobs — a parquet footer schema-inference job plus the
    ``executeTake`` — and every store verb (probe, delivery, maintenance,
    fsck/gc/plan chain) starts with exactly this read, so a 5-root fleet
    sweep paid 10 jobs before touching any real artifact.  The meta file
    is one row of flat scalars by construction (:func:`commit_base` writes
    it as ``values_df(...).coalesce(1)``), so for local roots the part file
    is read driver-side via pyarrow and wrapped in a ``Row`` with the same
    field order and Python value types the Spark path produced.

    Semantics pinned to the old path: a missing/corrupt meta falls back to
    the Spark read so the error type/message stays identical; a zero-row
    meta (crash between file creation and row flush) returns ``None``
    exactly like ``first()``.  Non-local schemes (HDFS/S3A) always take
    the Spark read — the cost being cut is per-call driver latency, which
    at cluster scale is the same fixed overhead this removes locally."""
    try:
        fs, path, _jvm = fs_for(spark, f"{index_path}/meta")
        if fs.getScheme() == "file":
            import pyarrow.parquet as pq

            parts = sorted(
                st.getPath().toUri().getPath()
                for st in fs.listStatus(path)
                if st.getPath().getName().endswith(".parquet")
            )
            if not parts:
                raise IOError(f"no parquet part files under {index_path}/meta")
            rows: list[dict] = []
            for p in parts:
                rows.extend(pq.read_table(p).to_pylist())
            if not rows:
                return None
            if len(rows) > 1:
                # metas are one-row by construction; a non-conforming
                # multi-row meta must take the Spark path below (r17
                # ADVICE) — this fast path's lexicographic part ordering
                # could otherwise silently pick a different row than
                # Spark's first()
                raise IOError(f"multi-row meta under {index_path}/meta")
            from pyspark.sql import Row

            return Row(**rows[0])
    except Exception:  # noqa: BLE001 — any surprise: identical Spark path
        pass
    return spark.read.parquet(f"{index_path}/meta").first()


def invalidate_index_meta(spark, index_path: str) -> None:
    """Delete the index's meta FIRST in every base (re)build / in-place
    compaction — meta is the build's commit marker (written LAST), and a
    first build at a fresh path crashes safely because no meta exists yet;
    but a REBUILD that dies between the postings overwrite and the ledger
    reset would otherwise leave the OLD meta and OLD ledger intact, so
    probes would silently merge the partial new base with stale
    dfreq/stats/extension state (r13 ADVICE).  Deleting meta up front
    makes the whole rebuild window meta-less: a crash anywhere inside it
    leaves a root every probe rejects loudly.  Plain Hadoop FS metadata
    op — milliseconds, never a Spark job."""
    fs, path, _jvm = fs_for(spark, f"{index_path}/meta")
    fs.delete(path, True)


def meta_id_type(spark, index_path: str, meta, frame: DataFrame | None = None) -> str:
    """The store's id column type.  Every meta pins ``id_type`` except
    pre-r15 ivf/ivfpq roots, which recover it from ``frame`` when the
    caller already holds a schema-pinned postings load, else from the BASE
    postings partition only: inferring over the whole postings tree would
    touch the footers of a crashed uncommitted delivery's partial files
    (the base is complete by construction, its commit marker being the
    meta write)."""
    pinned = meta.asDict().get("id_type")
    if pinned:
        return pinned
    if frame is None:
        frame = spark.read.parquet(f"{index_path}/postings/batch=base")
    return dict(frame.dtypes)[meta.id_col]


# --- commit ledger -------------------------------------------------------------


def ledger_reset(spark, index_path: str) -> None:
    """Base-build ledger reset: clears every extension's commit marker (the
    base itself is committed by the meta write that follows)."""
    fs, path, _jvm = fs_for(spark, f"{index_path}/batches")
    fs.delete(path, True)
    fs.mkdirs(path)


def ledger_commit(spark, index_path: str, batch_id: int | str) -> None:
    """Mark one delivery committed — an empty touch file named after the
    batch id, created AFTER the delivery's artifacts."""
    fs, path, jvm = fs_for(spark, f"{index_path}/batches")
    fs.mkdirs(path)
    fs.create(jvm.org.apache.hadoop.fs.Path(path, str(batch_id)), True).close()


def committed_batches(spark, index_path: str) -> list[str]:
    """'base' plus every batch id whose delivery fully committed (ledger
    touch file written after the artifacts) — probes read ONLY these, so a
    crashed delivery's partial artifacts can never skew a result.  The
    base build needs no ledger entry: its commit marker is the meta write,
    which already lands after the base artifacts."""
    fs, path, _jvm = fs_for(spark, f"{index_path}/batches")
    out = ["base"]
    if fs.exists(path):
        out += sorted(
            st.getPath().getName()
            for st in fs.listStatus(path)
            if not st.getPath().getName().startswith("_")
        )
    return out


# --- folded (spent-id) manifest ----------------------------------------------


def folded_record(
    spark, index_path: str, extension_ids: list[str], delete_ids: list[str]
) -> None:
    """Record batch ids a compaction/rebuild has FOLDED into the base —
    the manifest that closes the streaming replay double-count window
    (r15): a micro-batch delivered, compacted into the base, and then
    REPLAYED after a crash (checkpoint not yet committed past it) would
    otherwise re-deliver rows the base already contains; the extend paths
    treat a folded extension id as a spent no-op instead.  Kind-split
    markers (``folded/extensions/<id>`` / ``folded/deletes/<id>``) keep
    the cross-kind refusal working after compaction erased the artifact
    dirs the live cross-kind guard keys on.  Tiny touch files, written
    INSIDE the compaction's meta-less window (before meta lands), so base
    and manifest become visible together or the root fails probes
    loudly."""
    fs, _root, jvm = fs_for(spark, index_path)
    for sub, ids in (("extensions", extension_ids), ("deletes", delete_ids)):
        if not ids:
            continue
        d = jvm.org.apache.hadoop.fs.Path(f"{index_path}/folded/{sub}")
        fs.mkdirs(d)
        for bid in ids:
            fs.create(jvm.org.apache.hadoop.fs.Path(d, str(bid)), True).close()


def folded_kind(spark, index_path: str, batch_id: str) -> str | None:
    """'extension' / 'delete' if ``batch_id`` was folded by a past
    compaction of this root, else None.  One directory-existence probe
    when the root has never compacted; two marker probes after."""
    fs, fpath, jvm = fs_for(spark, f"{index_path}/folded")
    if not fs.exists(fpath):
        return None
    for sub in ("extensions", "deletes"):
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/folded/{sub}/{batch_id}"
            )
        ):
            return sub[:-1] if sub == "deletes" else "extension"
    return None


def folded_ids(spark, index_path: str) -> tuple[list[str], list[str]]:
    """(extension_ids, delete_ids) previously folded — carried forward
    across compactions (a delivery folded two compactions ago must stay
    spent) and copied to ``dst_index`` on write-then-swap compactions."""
    out: list[list[str]] = []
    for sub in ("extensions", "deletes"):
        fs, p, _jvm = fs_for(spark, f"{index_path}/folded/{sub}")
        out.append(
            sorted(st.getPath().getName() for st in fs.listStatus(p))
            if fs.exists(p)
            else []
        )
    return out[0], out[1]


def folded_clear(spark, index_path: str) -> None:
    """Fresh base build: a from-source rebuild starts a new world — prior
    delivery ids are legitimately reusable against it."""
    fs, p, _jvm = fs_for(spark, f"{index_path}/folded")
    fs.delete(p, True)


def _classify_committed(
    spark, index_path: str, committed: list[str]
) -> tuple[list[str], list[str]]:
    """Split a committed-batch list into (extensions, deletes) by the
    artifact that defines a delete: its ``tombstones/batch=`` dir (still
    present at compact time — compaction classifies BEFORE it clears)."""
    fs, _p, jvm = fs_for(spark, index_path)
    exts, dels = [], []
    for bid in committed:
        if bid == "base":
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{index_path}/tombstones/batch={bid}")
        ):
            dels.append(bid)
        else:
            exts.append(bid)
    return exts, dels


def fold_manifest_forward(
    spark, src_index: str, dst_index: str, committed: list[str]
) -> None:
    """The ONE compaction-side call: carry src's already-folded ids
    forward and add this compaction's committed batches, written to dst
    (== src for in-place) inside the meta-less window."""
    prior_ext, prior_del = folded_ids(spark, src_index)
    new_ext, new_del = _classify_committed(spark, src_index, committed)
    if dst_index != src_index:
        # a dst root that previously lived as an index carries an
        # UNRELATED world's spent ids — resurrecting them would silently
        # no-op legitimate future deliveries; only src's history carries
        folded_clear(spark, dst_index)
    folded_record(
        spark,
        dst_index,
        sorted(set(prior_ext) | set(new_ext)),
        sorted(set(prior_del) | set(new_del)),
    )


# --- delivery guards -----------------------------------------------------------


def _guard_spent_batch_id(spark, index_path: str, batch_id: str, this_kind: str):
    """Shared entry/delete check against the folded manifest.  Returns
    True when the caller should NO-OP (same-kind replay of a folded
    delivery — the base already contains exactly what the replay would
    re-deliver); raises on cross-kind reuse of a spent id."""
    fk = folded_kind(spark, index_path, batch_id)
    if fk is None:
        return False
    if fk == this_kind:
        import logging

        # WARNING level: a replay is the expected producer of this event,
        # but an id COLLISION (a stream restarted with a fresh checkpoint
        # re-deriving epoch ids from 0 against the same root) would be
        # silently dropped here too — the log is the operator's signal to
        # use a fresh batch_id_prefix per checkpoint (see the delivery
        # streams' parameter)
        logging.getLogger("chat_data_pipeline_spark").warning(
            "batch %s of %s was already folded by compaction; treating "
            "this %s as a replay and skipping it (if this is NEW content "
            "under a recycled id, deliver under a fresh id/prefix)",
            batch_id, index_path, this_kind,
        )
        return True
    raise ValueError(
        f"batch id {batch_id!r} already names a {fk} delivery that a "
        f"compaction of {index_path} folded into the base; {this_kind} "
        "deliveries must use a distinct id (replay idempotence is "
        "same-kind only, and folded ids stay spent)"
    )


def _guard_batch_id_kind(
    spark,
    index_path: str,
    batch_id: str,
    other_kind_dir: str,
    this_kind: str,
    other_kind: str,
) -> None:
    """Deletes and extensions share one ledger namespace, but replay
    idempotence is SAME-KIND only: a delete re-using a committed
    extension's id would statically overwrite that batch's dfreq/stats
    with the victims' negatives while its postings survived (silently
    corrupt idf/avgdl); an extension re-using a delete's id would replace
    the negatives while the tombstones kept hiding live docs.  One FS
    existence probe on the OTHER kind's batch dir fails the cross-kind
    reuse loudly — uncommitted remnants count too, since committing this
    delivery would make the crashed other-kind artifacts visible."""
    fs, p, _jvm = fs_for(spark, f"{index_path}/{other_kind_dir}/batch={batch_id}")
    if fs.exists(p):
        raise ValueError(
            f"batch id {batch_id!r} already names a {other_kind} delivery of "
            f"{index_path}; {this_kind} deliveries must use a distinct id "
            "(replay idempotence is same-kind only)"
        )


def guard_delivery_id_type(
    df: DataFrame, id_col: str, expected: str, index_path: str
) -> None:
    """Refuse a delivery whose id column's type differs from the type the
    store was built with (r14 ADVICE): without this, a wrong-typed
    extension ledger-commits cleanly and only fails LATER, at probe time,
    under the meta-pinned explicit read schema — the one delivery guard
    that didn't share the others' refuse-at-delivery posture.  One dtypes
    dict lookup; no Spark job."""
    got = dict(df.dtypes).get(id_col)
    if got is None:
        raise ValueError(
            f"delivery into {index_path}: expected id column {id_col!r} "
            f"(from the store meta) but the delivered frame has columns "
            f"{df.columns}; pass the column-name overrides if the frame "
            "uses its own names"
        )
    if got != expected:
        raise ValueError(
            f"delivery into {index_path}: id column {id_col!r} has type "
            f"{got!r} but the store was built with id type {expected!r}; "
            "cast the delivered ids first (a mismatched delivery would "
            "commit and only fail later at probe scan time)"
        )


def _guard_tombstoned_delivery(docs: DataFrame, index_path: str, id_col: str) -> None:
    """Raise if any delivered id is currently tombstoned: the tombstone
    would hide the new rows from probes (and, for BM25, their positive
    df/stats would land anyway) — compact first, then re-deliver.  Costs
    nothing until the root has seen a delete (one directory existence
    check), then one delivery-sized semi-join per delivery."""
    spark = docs.sparkSession
    fs, tpath, _jvm = fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return
    id_type = dict(docs.dtypes)[id_col]
    committed = committed_batches(spark, index_path)
    tomb = tombstoned_ids(spark, index_path, id_type, committed)
    if tomb is None:
        return
    clash = (
        docs.select(F.col(id_col).cast(id_type).alias("doc"))
        .join(tomb, "doc", "left_semi")
        .limit(1)
        .count()
    )
    if clash:
        raise ValueError(
            f"delivery into {index_path} contains tombstoned ids; "
            "compact the index to clear its tombstones before re-delivering "
            "deleted documents"
        )


def tombstoned_ids(
    spark,
    index_path: str,
    id_type: str,
    committed: list[str],
    exclude_batch: str | None = None,
) -> DataFrame | None:
    """Ledger-committed tombstoned ids as a one-column ``doc`` DataFrame,
    or ``None`` when the index has never seen a delete — the common case
    stays one directory-existence check, no Spark job.  ``exclude_batch``
    lets a delete REPLAY recompute its own victims instead of seeing its
    previous commit and degrading to a no-op."""
    fs, tpath, _jvm = fs_for(spark, f"{index_path}/tombstones")
    if not fs.exists(tpath):
        return None
    batches = [b for b in committed if b != exclude_batch]
    return committed_read(
        spark, index_path, "tombstones", batches, f"doc {id_type}"
    ).select("doc")


def committed_tree(spark, index_path: str, sub: str) -> DataFrame:
    """Load a batch-partitioned store artifact tree (``postings`` /
    ``vectors``) with its schema PINNED from the base partition instead
    of inferred over the whole tree (r17): inference samples parquet
    footers BEFORE any batch filter applies, so a crashed uncommitted
    delivery's partial files could fail (or skew) the load — and the
    probe/compaction paths that hit this are exactly what an operator
    runs right after a crash.  The base partition is complete by
    construction (its commit marker is the meta write), so its schema is
    authoritative; callers read it through :func:`committed_read`, whose
    ledger filter prunes the debris partitions before any data is read.  One
    tiny footer read on the base replaces tree-wide sampling — same
    discipline as maintenance.py's explicit-schema reads."""
    from pyspark.sql.types import IntegerType, StringType

    schema = None
    try:
        # driver-side schema (r17): the base read above existed ONLY for
        # its schema, yet paid a schema-inference Spark job per call.
        # Derive the same schema from one base part file's footer plus the
        # partition dirs walked to reach it (our artifact layouts nest at
        # most bkt=<int> / band=<int> under batch=); anything unexpected
        # falls back to the inference read below, unchanged.
        fs, _root, jvm = fs_for(spark, index_path)
        p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{sub}/batch=base")
        part_cols: list[str] = []
        fs.getFileStatus(p)  # missing base must fail like the old read
        for _ in range(3):
            found_file = any(
                s.isFile() and s.getPath().getName().endswith(".parquet")
                for s in fs.listStatus(p)
            )
            if found_file:
                schema = local_parquet_schema(spark, p.toUri().getPath())
                break
            sub_dirs = [
                s.getPath()
                for s in fs.listStatus(p)
                if s.isDirectory()
                and re.match(r"^\w+=-?\d+$", s.getPath().getName())
            ]
            if not sub_dirs:
                break
            part_cols.append(sub_dirs[0].getName().split("=", 1)[0])
            p = sub_dirs[0]
        if schema is not None:
            for c in part_cols:
                schema = schema.add(c, IntegerType())
    except Exception:  # noqa: BLE001 — any surprise: inference path below
        schema = None
    if schema is None:
        base = spark.read.parquet(f"{index_path}/{sub}/batch=base")
        schema = base.schema
    if "batch" not in schema.fieldNames():
        schema = schema.add("batch", StringType())
    return spark.read.schema(schema).parquet(f"{index_path}/{sub}")


# --- the live read ---------------------------------------------------------------


def committed_read(
    spark, index_path: str, sub: str, committed: list[str], schema: str | None = None
) -> DataFrame:
    """The ledger-committed rows of one batch-partitioned sub-tree: a
    literal ``IN`` on the ``batch`` partition column, so a crashed
    delivery's partial files are pruned at the listing and never read.
    ``schema`` is the caller's explicit (meta-derived) read schema;
    ``None`` pins it from the base footer (:func:`committed_tree`)."""
    tree = (
        committed_tree(spark, index_path, sub)
        if schema is None
        else spark.read.schema(schema).parquet(f"{index_path}/{sub}")
    )
    return tree.filter(F.col("batch").isin(committed))


def drop_tombstoned(
    index_path: str,
    committed: list[str],
    *frames: DataFrame,
    id_col: str = "doc",
    exclude_batch: str | None = None,
    pin: bool = False,
):
    """``frames`` minus the ids a committed delete tombstoned — deleted
    units stay physical until compaction, and this anti-join on
    ``id_col`` hides them.  The tombstones are read with the type of the
    first frame's own ``id_col``, behind ONE directory-existence probe
    for all frames: a root that never saw a delete gets its frames back
    untouched.  ``exclude_batch`` leaves out the caller's own delete (a
    replay recomputes its victims); ``pin`` eagerly checkpoints the
    result when tombstones were read, for a caller about to overwrite a
    partition of that tree.  One frame in, one frame out; several in, a
    tuple out."""
    tomb = tombstoned_ids(
        frames[0].sparkSession, index_path, dict(frames[0].dtypes)[id_col],
        committed, exclude_batch,
    )
    if tomb is not None:
        if id_col != "doc":
            tomb = tomb.withColumnRenamed("doc", id_col)
        frames = tuple(f.join(tomb, id_col, "left_anti") for f in frames)
        if pin:
            frames = tuple(f.localCheckpoint(eager=True) for f in frames)
    return frames[0] if len(frames) == 1 else frames


def live_rows(
    spark,
    index_path: str,
    sub: str,
    committed: list[str],
    schema: str | None = None,
    id_col: str = "doc",
) -> DataFrame:
    """The live rows of one sub-tree: :func:`committed_read` minus
    :func:`drop_tombstoned` on ``id_col``."""
    return drop_tombstoned(
        index_path, committed,
        committed_read(spark, index_path, sub, committed, schema),
        id_col=id_col,
    )


def per_batch_counts(
    spark,
    index_path: str,
    sub: str,
    committed: list[str],
    schema: str,
    optional: bool = False,
    **aggs,
) -> DataFrame:
    """The health reports' per-delivery aggregate: ``(batch string,
    <name> long, ...)`` over the committed batches of one sub-tree, one
    column per ``aggs`` keyword (name = aggregate), map-side combined into
    O(batches) rows.  ``optional``: a missing sub-tree (``tombstones`` on
    a root that never saw a delete) reads as no rows, for one
    directory-existence probe."""
    if optional:
        fs, path, _jvm = fs_for(spark, f"{index_path}/{sub}")
        if not fs.exists(path):
            return values_df(
                spark, [], "batch string, " + ", ".join(f"{n} long" for n in aggs)
            )
    return (
        committed_read(spark, index_path, sub, committed, schema)
        .groupBy(F.col("batch").cast("string").alias("batch"))
        .agg(*[a.cast("long").alias(n) for n, a in aggs.items()])
    )


def batch_health(
    spark, index_path: str, committed: list[str], id_type: str, *counts: DataFrame
) -> DataFrame:
    """A health report: one row per committed batch, the
    :func:`per_batch_counts` frames plus the batch's ``n_tombstones``,
    full-outer-joined on ``batch`` (an artifact a batch never wrote
    counts 0), ordered by batch.

    Joins, not a zero-padded union (r18): the batch-count instrument
    (16-delivery store, interleaved best-of-4) measured the union ~20%
    SLOWER (0.73-0.78 s joins vs 0.91-0.92 s union) — the full-outer joins
    REUSE the per-artifact aggregates' batch-hash partitioning (guide §2.4
    exchange sharing), while the union pays a fresh exchange and a second
    aggregation.  Rows are identical either way (each column is owned by
    exactly one source)."""
    tombs = per_batch_counts(
        spark, index_path, "tombstones", committed, f"doc {id_type}",
        optional=True, n_tombstones=F.count("*"),
    )
    out = counts[0]
    for other in (*counts[1:], tombs):
        out = out.join(other, "batch", "full_outer")
    return out.fillna({c: 0 for c in out.columns if c != "batch"}).orderBy("batch")


def delete_victims(
    ids: DataFrame,
    index_path: str,
    committed: list[str],
    id_type: str,
    batch_id: str,
    pin: bool = False,
) -> DataFrame:
    """A delete delivery's victim set: the first column of ``ids`` cast to
    the store's id type as a distinct ``doc`` column, minus the ids an
    EARLIER committed delete already tombstoned (overlapping deletes never
    double-count; ``batch_id``'s own tombstones are left out, so a replay
    recomputes the same victims).  ``pin`` as in :func:`drop_tombstoned`."""
    want = ids.select(F.col(ids.columns[0]).cast(id_type).alias("doc")).distinct()
    return drop_tombstoned(
        index_path, committed, want, exclude_batch=batch_id, pin=pin
    )


# --- the four protocol skeletons -------------------------------------------------


def write_batch(
    index_path: str,
    batch_id: str,
    artifacts: dict[str, tuple[DataFrame, str | None, str | None]],
) -> None:
    """Write one batch's artifacts — ``{sub: (frame, partition column or
    None, salt column)}`` — and, for a delivery, commit it.

    - A partitioned artifact is clustered on (partition column, salt)
      first (:func:`cluster_for_partitioned_write`).  Unclustered, every
      task writes a file into every partition dir (tasks × dirs files —
      tens of millions at 100 TB, the sink-sizing metadata bomb);
      clustered on the partition column alone, a corpus-sized write
      funnels through ≤ #dirs tasks (the scale-killer in the other
      direction).  The salt hash keeps files at O(dirs × WRITE_SALT)
      while the write stage scales with the salt.
    - ``partitionOverwriteMode`` is pinned STATIC on every partitioned
      write (an unpartitioned one replaces its whole dir in either mode).
      Under a session configured dynamic, a base rebuild would replace
      only ``batch=base`` and probes would silently keep serving stale
      extension batches, and a replayed delivery would keep stale
      partition dirs its new content no longer produces.
    - The base (``batch_id='base'``) is written THROUGH ``{root}/{sub}``
      with a literal ``batch`` column (added before the clustering), so
      the static overwrite clears every stale batch of a previous build,
      and the tree stays uniformly ``batch=*/<partition>=*`` — later
      deliveries interleave without the mixed root layout partition
      discovery rejects.  Every other id overwrites only
      ``{sub}/batch=<id>``, so a replay replaces its own partition.
    - A batch's artifacts sit at disjoint paths, so they are written
      concurrently (r17: independent jobs submitted from driver threads
      back-fill each other's stragglers); a one-artifact batch writes on
      the caller's thread.
    - A delivery's ledger marker is written after every artifact has
      landed: a crash mid-delivery leaves the batch invisible to probes,
      and a replay with the same id overwrites the partial artifacts and
      commits.  A base needs no marker here — :func:`commit_base` writes
      its meta after this write returns."""
    spark = next(iter(artifacts.values()))[0].sparkSession

    def write(sub: str, frame: DataFrame, part: str | None, salt: str | None):
        cols = [part] if part else []
        dest = f"{index_path}/{sub}/batch={batch_id}"
        if batch_id == "base":
            frame = frame.withColumn("batch", F.lit("base"))
            cols, dest = ["batch", *cols], f"{index_path}/{sub}"
        if part:
            frame = cluster_for_partitioned_write(frame, [part], F.col(salt))
        writer = frame.write.mode("overwrite")
        if cols:
            writer = writer.option("partitionOverwriteMode", "static")
            writer = writer.partitionBy(*cols)
        writer.parquet(dest)

    jobs = [(sub, *spec) for sub, spec in artifacts.items()]
    if len(jobs) == 1:
        write(*jobs[0])
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            for f in [ex.submit(write, *job) for job in jobs]:
                f.result()
    if batch_id != "base":
        ledger_commit(spark, index_path, batch_id)


def commit_base(
    spark,
    index_path: str,
    write: Callable[[], None],
    meta_schema: str,
    meta_row: tuple,
    fold: tuple[str, list[str]] | None = None,
) -> None:
    """Commit a base — the one sequence every build, rebuild and compaction
    of every kind runs:

    1. ``fold=(src_index, committed)`` (a compaction or rebuild): write the
       spent-id manifest BEFORE the rewrite — a delivery this base folds
       must read as spent from the moment the base serves (closes the
       streaming replay double-count window; marking early is safe, the
       marked batches stay ledger-committed in the old root);
    2. delete meta — from here to step 6 the root is meta-less, so a crash
       anywhere inside leaves a root every probe rejects loudly instead of
       one merging a partial new base with stale ledger/extension state;
    3. clear ``tombstones`` (a fresh base has no pending deletes; a
       compaction just made them physical) and — unless ``fold`` carries
       it — the folded manifest (a from-source build starts a new world:
       old delivery ids are reusable);
    4. ``write()`` — the kind's artifacts, a :func:`write_batch` of
       ``'base'`` (through the root, so stale batches clear with it);
    5. reset the ledger;
    6. write ``meta_row`` under ``meta_schema`` LAST, the commit marker —
       one flat row via the JVM-local VALUES constructor (r17: the
       parallelize path pays a Python-worker round trip per write), which
       also carries the id type so probes supply EXPLICIT schemas."""
    if fold is not None:
        src_index, committed = fold
        fold_manifest_forward(spark, src_index, index_path, committed)
    invalidate_index_meta(spark, index_path)
    fs, p, _jvm = fs_for(spark, f"{index_path}/tombstones")
    fs.delete(p, True)
    if fold is None:
        folded_clear(spark, index_path)
    write()
    ledger_reset(spark, index_path)
    values_df(spark, [meta_row], meta_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/meta")


def open_delivery(
    spark,
    index_path: str,
    batch_id: int | str,
    this_kind: str,
    other_dir: str | None = None,
):
    """Open one ledger-committed delivery (``this_kind`` 'extension' or
    'delete'): validate the batch id, NO-OP a same-kind replay of a
    folded id (returns ``None`` — the base already holds it), read meta
    once, then refuse a batch id the other kind already used — one FS
    probe on ``{other_dir}/batch=<id>``.  ``other_dir=None`` takes the
    kind's residency subdir from ``maintenance.STORE_KINDS`` (the
    artifact every extension of that kind writes).  Returns
    ``(batch_id, meta)``."""
    bid = validate_batch_id(batch_id)
    if _guard_spent_batch_id(spark, index_path, bid, this_kind):
        return None
    if other_dir is None:
        from chat_data_pipeline_spark.operators.maintenance import (
            STORE_KINDS,
            store_kind_and_meta,
        )

        kind, meta = store_kind_and_meta(spark, index_path)
        other_dir = STORE_KINDS[kind].residency[0]
    else:
        meta = read_meta_row(spark, index_path)
    other_kind = "delete" if this_kind == "extension" else "extension"
    _guard_batch_id_kind(spark, index_path, bid, other_dir, this_kind, other_kind)
    return bid, meta


def open_extension(
    df: DataFrame,
    index_path: str,
    batch_id: int | str,
    id_col: str | None = None,
    vec_col: str | None = None,
    vec_base: tuple[str, str | None] | None = None,
):
    """Open an extension delivery: :func:`open_delivery`, then refuse a
    wrong-typed id column and any currently-tombstoned id (the tombstone
    would hide the new rows from probes — compact first).

    Column names: on a vector store (meta pins ``vec_col``) overrides are
    ALIASED onto the meta names, because the delivered columns land in
    the artifacts as-is; elsewhere ``id_col`` just names the delivered id
    column (default: the meta's).  ``vec_base=(subdir, column)`` casts the
    delivered vector column to the type of ``column`` (``None``: the
    meta's ``vec_col``) in ``{subdir}/batch=base`` (r17): a widened
    delivery would otherwise land a physically heterogeneous tree, which
    the schema-pinned loads refuse.

    Returns ``(batch_id, meta, df, id_col)``, or ``None`` on a folded
    replay."""
    spark = df.sparkSession
    opened = open_delivery(spark, index_path, batch_id, "extension", "tombstones")
    if opened is None:
        return None
    bid, meta = opened
    if "vec_col" in meta.asDict():
        if id_col or vec_col:
            df = df.select(
                F.col(id_col or meta.id_col).alias(meta.id_col),
                F.col(vec_col or meta.vec_col).alias(meta.vec_col),
            )
        id_col = meta.id_col
    else:
        id_col = id_col or meta.id_col
    id_type = meta_id_type(spark, index_path, meta)
    guard_delivery_id_type(df, id_col, id_type, index_path)
    _guard_tombstoned_delivery(df.select(id_col), index_path, id_col)
    if vec_base is not None:
        sub, col = vec_base
        base_type = dict(
            spark.read.parquet(f"{index_path}/{sub}/batch=base").dtypes
        ).get(col or meta.vec_col)
        if base_type is not None and dict(df.dtypes)[meta.vec_col] != base_type:
            df = df.withColumn(meta.vec_col, F.col(meta.vec_col).cast(base_type))
    return bid, meta, df, id_col


def tombstone_delete(
    spark,
    index_path: str,
    ids: DataFrame,
    batch_id: int | str,
) -> None:
    """Tombstone-delete units from an IVF / IVF-PQ index, a MinHash
    signature store or an SRP near-dup store WITHOUT a rebuild — takedown
    / post-hoc decontamination as one ledger-committed delivery.  ``ids``
    is a one-column DataFrame of ids.

    These kinds keep no additive global statistics, so a delete is just
    the tombstone set under ``tombstones/batch=<id>``: probes anti-join it
    out (bit-identical to a fresh build over the retained units — tested
    per kind), an IVF drift-repair rebuild excludes it from the retrain,
    and compaction/rebuild make the removal physical and clear the set.
    Crash consistency: the ledger marker commits LAST, so a half-written
    tombstone set is invisible; replaying the same ``batch_id`` overwrites
    its own partition (its own previous tombstones are excluded from the
    already-deleted set).  Already-deleted ids are excluded so the
    tombstone set stays duplicate-free across deliveries."""
    opened = open_delivery(spark, index_path, batch_id, "delete")
    if opened is None:
        return  # folded replay: the victims are already physically gone
    bid, meta = opened
    committed = committed_batches(spark, index_path)
    # pinned: the write below overwrites a partition of the tombstone tree
    # the anti-join reads (delete replay)
    want = delete_victims(
        ids, index_path, committed, meta_id_type(spark, index_path, meta), bid,
        pin=True,
    )
    write_batch(index_path, bid, {"tombstones": (want, None, None)})


# --- serving alias ---------------------------------------------------------------


def swap_index_alias(spark, alias_path: str, index_path: str) -> None:
    """Point an alias at an index root — the probe-side half of
    write-then-swap (a compaction or rebuild with ``dst_index`` streams
    into a FRESH root; this is the 'caller's pointer swap' their
    docstrings hand off to).  The alias is a DIRECTORY of monotonically
    versioned one-line pointer files: a swap stages the new pointer under
    a ``_tmp`` name and RENAMES it into place (rename is the atomic
    primitive on HDFS-like stores, and same-directory so object stores
    degrade gracefully), so a reader never sees a half-written pointer —
    it resolves either the old version or the new one.  Pruning keeps the
    IMMEDIATELY-PREVIOUS version and only deletes older history, so a
    reader that listed the directory just before the swap still opens a
    live file (the resolve side additionally retries one list-again on a
    lost race two swaps deep).

    Concurrency contract: version numbers are allocated by list-then-max
    (no FS-only primitive can serialize two racing swaps), so two
    CONCURRENT swaps may share a version and the survivor is the
    deterministic (version, zero-padded pid) name order — atomic
    visibility is guaranteed, swap ORDER is the caller's coordination
    job (one maintenance actor per alias, the same posture as the
    index builds themselves).

    Fails fast if the target has no readable ``meta`` — an alias must
    never be swapped onto a root that is mid-rebuild (meta-less window) or
    missing."""
    read_meta_row(spark, index_path)  # target must be servable
    fs, adir, jvm = fs_for(spark, alias_path)
    fs.mkdirs(adir)
    existing = sorted(
        st.getPath().getName()
        for st in fs.listStatus(adir)
        if st.getPath().getName().startswith("v")
    )
    nxt = 1 + max((int(n[1:].split("-")[0]) for n in existing), default=0)
    vname = f"v{nxt:012d}-{os.getpid():010d}"
    tmp = jvm.org.apache.hadoop.fs.Path(adir, f"_tmp.{vname}")
    out = fs.create(tmp, True)
    out.write(bytearray(str(index_path).encode("utf-8")))
    out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(adir, vname)):
        raise IOError(f"alias swap rename failed under {alias_path}")
    # prune AFTER the new pointer is live, KEEPING the immediately-previous
    # version for in-flight readers (a crash mid-prune leaves extra
    # history, never a broken alias)
    for name in existing[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(adir, name), False)
    # also sweep CRASHED swaps' staging files (a swapper that died between
    # create and rename leaves an _tmp.v... orphan per attempt — invisible
    # to resolution but unbounded growth otherwise).  Only strictly OLDER
    # versions than the pointer just renamed are swept: a concurrent
    # swapper's live staging file carries version >= nxt, and an older
    # straggler whose tmp we delete would have LOST the (version, pid)
    # tiebreak anyway — its rename now fails loudly instead of silently
    # losing.
    for st in fs.listStatus(adir):
        name = st.getPath().getName()
        if name.startswith("_tmp.v"):
            try:
                ver = int(name[len("_tmp.v"):].split("-")[0])
            except ValueError:
                continue
            if ver < nxt:
                fs.delete(st.getPath(), False)


def resolve_index_alias(spark, alias_path: str) -> str:
    """The index root an alias currently points at: the highest-versioned
    committed pointer file (``_tmp`` stages are ignored, so a concurrent
    or crashed swap is invisible).  Probe composition:
    ``bm25_topk_indexed(spark, resolve_index_alias(spark, alias), ...)``
    — probes keep hitting the OLD root until the swap's rename lands.
    A reader that loses the prune race two swaps deep (its listed file
    was deleted before it opened) retries one fresh listing."""
    fs, adir, jvm = fs_for(spark, alias_path)
    if not fs.exists(adir):
        raise FileNotFoundError(f"no index alias at {alias_path}")
    last_err: Exception | None = None
    for _attempt in range(2):
        names = sorted(
            st.getPath().getName()
            for st in fs.listStatus(adir)
            if st.getPath().getName().startswith("v")
        )
        if not names:
            raise FileNotFoundError(
                f"index alias {alias_path} has no committed pointer"
            )
        try:
            stream = fs.open(jvm.org.apache.hadoop.fs.Path(adir, names[-1]))
            try:
                raw = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return raw.decode("utf-8")
        except Exception as exc:  # pruned between list and open: re-list once
            last_err = exc
    raise last_err
