"""SparkSession factory.

Local test/bench profile targets ``local[N]`` (single JVM); the config set is
chosen so the same logical plans scale to a 1000-executor cluster reading
~100 TB: AQE handles runtime partition coalescing / skew joins, shuffle
partitioning is explicit, and Arrow transfer is on for the few pandas-UDF
operators.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

_stdlib_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _stamped_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's central
    directory only when its ``(st_mtime_ns, st_size)`` differs from the
    stamp of this importer's last read.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``).  Under CPython
    3.11 every cached zipimporter then re-parses its archive: the 14-16
    importers over ``pyspark.zip``'s 1,328 entries take ~0.13 CPU-s per
    call, against ~0.1 ms with the stamp check.  A zip that is rewritten or
    newly shipped (``addPyFile``) changes its stamp and is still re-read;
    the stamp is taken before the read, so a write racing the read shows
    next time.  Newer CPython makes the refresh lazy (gh-103200); the stamp
    check is correct there too, so it does not branch on the version."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_cdp_stamp", None) != stamp:
        _stdlib_zip_invalidate(self)
        self._cdp_stamp = stamp


# Inside a PySpark worker (the package is imported there by unpickling a
# package UDF) remove the two fixed costs every task pays: the zip re-read
# above, and the daemon's full ``gc.collect()`` after each task walking the
# ~70k objects numpy, pandas and pyarrow create at import (~20 ms a task).
# Freezing moves them to the permanent generation once.  The driver keeps
# the stdlib behaviour.
if "pyspark.worker" in sys.modules:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
    gc.freeze()

# r18 (guide §2.1): size floor for NATIVE-expression compute stages — see
# repartition_for_compute(min_est_bytes_per_partition=...).  Parameterised
# (env) with a local default calibrated on the bench corpus: ~48 KB of
# optimizer-estimated bytes per task keeps tiny inputs from fanning into
# core-count task sets whose launch overhead exceeds their work, while any
# real data volume (the 10× probe corpus already) clears the cap and gets
# full width.  A cluster deployment tunes this with the same env knob.
COMPUTE_MIN_EST_BYTES = int(
    os.environ.get("CDP_COMPUTE_MIN_EST_BYTES", str(48 << 10))
)


def get_spark(
    app_name: str = "chat-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Notes on scale: none of these settings are local-mode hacks.  On a real
    cluster the same builder is used with ``master`` unset (from spark-submit)
    and ``shuffle_partitions`` sized to ~2-3× total cores; AQE then coalesces
    small post-shuffle partitions and splits skewed ones at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local-mode driver hosts all executor threads; the 1g JVM default
        # OOMs wide aggregations long before the machine does (set before
        # the JVM launches, so it must go through the builder)
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic broadcast-join selection.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for the pandas-UDF operators (minhash fingerprint, char-rep).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for oracle comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read nanos as long session-wide so
        # readers don't have to mutate conf per call
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed tables (write_bucketed) live in the file-based warehouse;
        # in-memory catalog, no Hive metastore
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cdp-spark-warehouse"),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_compute_probe_memo: dict = {}


def repartition_for_compute(
    df,
    partitions: int | None = None,
    min_est_bytes_per_partition: int | None = None,
):
    """Widen partitioning ahead of a CPU-bound (pandas-UDF) stage.

    File sources split by bytes (``spark.sql.files.maxPartitionBytes``), so a
    small-but-compute-heavy input can arrive as ONE split and serialize the
    whole UDF stage onto one core.  When the input already has >= target
    splits (the normal case on a real cluster reading many files) this is a
    no-op — no shuffle is added at scale; when it doesn't, shuffling a few MB
    to unlock every core is always the right trade.

    ``min_est_bytes_per_partition`` (r18, guide §2.1): opt-in SIZE FLOOR on
    the widening target for NATIVE-expression stages whose per-byte cost is
    moderate (shingle/posting builds) — the target is capped at
    ``ceil(optimizer sizeInBytes estimate / floor)`` so a tiny input stops
    fanning into core-count tasks whose launch overhead exceeds their work
    (measured: the 5k-doc shingle rows ran FASTER on 8 cores than 32 purely
    from 32-task stages carrying ~18 KB each; width 6 beat width 32 by
    ~35% at 32 cores).  Scale-adaptive by construction: the cap grows with
    the input and saturates at ``defaultParallelism`` (the 10× probe corpus
    already clears it), so cluster-scale behavior is unchanged.  Heavy
    Python-UDF stages (per-token md5 folds, image decode) deliberately do
    NOT pass it — their per-byte cost justifies full width at any size.
    The function still only ever WIDENS (``n_parts >= target`` passes
    through untouched).
    """
    if df.isStreaming:
        # a streaming frame has no rdd to probe; micro-batch parallelism is
        # the source's concern (maxFilesPerTrigger etc.), so pass through
        return df
    sc = df.sparkSession.sparkContext
    default = sc.defaultParallelism
    # MEMO (r18, VERDICT item 5): the exact probes below physically plan the
    # frame (~0.2 s of driver latency, + ~0.1 s for the stats estimate when
    # the size floor is used), and the ~24 call sites all probe a fresh
    # 2-column projection of an immutable input table — so the final
    # DECISION is a pure function of (application, analyzed plan, args) for
    # the life of a run.  The application id, unlike ``id(session)``, is
    # never reused by a later session once this one stops, so a stopped
    # session's entries stay unreachable.  Key on the analyzed plan's
    # semanticHash (analysis is ~ms and needed anyway; bench reps / serving
    # re-invocations rebuild semantically identical frames) so repeat
    # invocations skip the planning jobs entirely.  The memo holds a
    # partition COUNT decision (0 = pass through), never data or results,
    # and is process-local.
    # Inexact estimators stay rejected — a miss still runs the exact probe.
    try:
        key = (
            sc.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            partitions,
            min_est_bytes_per_partition,
            default,
        )
    except Exception:
        key = None
    decision = _compute_probe_memo.get(key) if key is not None else None
    if decision is None:
        target = partitions or default
        if partitions is None and min_est_bytes_per_partition:
            try:
                est = int(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
                cap = -(-est // int(min_est_bytes_per_partition))
                target = max(1, min(target, cap))
            except Exception:  # estimate unavailable: keep the full target
                pass
        # probe the JVM Dataset's RDD directly (r17): the partition count is
        # identical, but skipping the Python-side RDD wrapper (javaToPython
        # serializer setup) measures ~15% cheaper on a fresh plan — the rest
        # of the probe's ~0.2 s is the physical planning itself, which any
        # exact probe must pay.  Fall back to the public API on drift.
        try:
            n_parts = df._jdf.rdd().getNumPartitions()
        except Exception:
            n_parts = df.rdd.getNumPartitions()
        decision = target if n_parts < target else 0
        if key is not None:
            _compute_probe_memo[key] = decision
    if decision:
        return df.repartition(decision)
    return df


def compute_width_estimate(
    df, min_est_bytes_per_partition: int | None = None
) -> int | None:
    """Size-derived compute width for a frame whose optimizer estimate is
    trustworthy (scan projections; NOT join outputs — join size estimates
    without CBO are child products and blow past any cap): ``ceil(estimate
    / floor)`` clamped to ``[1, defaultParallelism]``, or ``None`` when no
    estimate is available.  Callers feed this to
    ``repartition_for_compute(partitions=...)`` when the frame they widen
    is itself a join whose estimate is useless (r18 — the ngram posting
    build widens ``df JOIN mapping``, whose inflated estimate defeated the
    in-function size floor).  Memoized like the partition probe: the
    estimate is a pure function of (application, analyzed plan, floor)."""
    floor = int(min_est_bytes_per_partition or COMPUTE_MIN_EST_BYTES)
    try:
        sc = df.sparkSession.sparkContext
        key = (
            "width_est",
            sc.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            floor,
            sc.defaultParallelism,
        )
        got = _compute_probe_memo.get(key)
        if got is None:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            got = max(1, min(sc.defaultParallelism, -(-est // floor)))
            _compute_probe_memo[key] = got
        return got
    except Exception:
        return None


def local_parquet_schema(spark, path: str):
    """Driver-side parquet schema for a ``file:``-scheme path, or ``None``
    when it can't be derived safely (non-local scheme, no part file, any
    mapping surprise) — the caller then uses plain ``spark.read.parquet``
    inference, so behavior is never worse than before.

    Why (r17 optimization): ``spark.read.parquet(path)`` runs schema
    inference as a driver-paced SPARK JOB (a ``parquet at ...`` 1-task
    job reading a footer), so every registered query paid ~1 extra job
    per input table and every store probe one per artifact tree.  Reading
    the same footer with pyarrow on the driver yields the identical
    schema with zero jobs.  The arrow→Spark mapping is pinned to what
    Spark's own inference produces under this session's config:
    ``timestamp[ns]`` → ``long`` (mirroring the session-wide
    ``spark.sql.legacy.parquet.nanosAsLong=true``), naive timestamps →
    TIMESTAMP_NTZ (Spark 4's ``inferTimestampNTZ`` default), and every
    field forced nullable (file-source relations are always nullable).
    Verified equal to ``spark.read.parquet(...).schema`` for every
    testdata table at every scale factor and every store artifact kind
    (tests/test_maintenance.py::test_local_parquet_schema_parity)."""
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.getScheme() != "file":
            return None
        st = fs.getFileStatus(jpath)
        part = None
        if st.isFile():
            part = jpath
        else:
            for s in fs.listStatus(jpath):
                n = s.getPath().getName()
                if s.isFile() and n.endswith(".parquet"):
                    part = s.getPath()
                    break
        if part is None:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # one footer read per call: the arrow schema and the INT96 check
        # come from the same open file
        with pq.ParquetFile(part.toUri().getPath()) as pf:
            aschema = pf.schema_arrow
            has_int96 = any(
                pf.schema.column(i).physical_type == "INT96"
                for i in range(len(pf.schema))
            )
        # nanosAsLong only applies to INT64 TIMESTAMP(NANOS), but pyarrow
        # reports legacy INT96 timestamps as timestamp[ns] too (r17
        # ADVICE): pin to bigint ONLY when no INT96 column exists in the
        # footer — otherwise fall back to Spark inference (a
        # wrong-but-non-throwing mapping would never trigger the fallback
        # and misread at scan time)
        if has_int96:
            return None
        fields = [
            pa.field(f.name, pa.int64())
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            else f
            for f in aschema
        ]
        derived = from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)
        return _force_nullable(derived)
    except Exception:  # noqa: BLE001 — any surprise: Spark inference
        return None


def _force_nullable(dt):
    """File-source relations are always nullable in Spark; match that."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _force_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_force_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _force_nullable(dt.keyType), _force_nullable(dt.valueType), True
        )
    return dt


def read_parquet_pinned(spark, path: str):
    """``spark.read.parquet`` with the schema pinned driver-side when the
    path is local (zero-job schema resolution); plain inference otherwise."""
    schema = local_parquet_schema(spark, path)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


def values_df(spark, rows, schema: str):
    """Build a small LOCAL DataFrame as a pure-JVM ``VALUES`` query instead
    of ``spark.createDataFrame`` (r17 optimization): the parallelize-backed
    path pickles rows into a Python RDD, so EVERY downstream action pays a
    Python-worker round trip.  In a warmed ``local[4]`` session whose
    workers have imported the package (so they skip the per-task zip
    re-read), a 20-row collect measured ~0.33 s and a filtered count
    ~0.44 s, against ~0.03 s and ~0.11 s for the VALUES form, which parses
    and evaluates entirely in the JVM (LocalRelation).  Intended for the
    driver-side result/parameter tables the query layer builds (fleet
    reports, trained weights, query-term tables) — anything
    row-count-bounded.

    ``schema`` is the same DDL string ``createDataFrame`` takes
    (``"name type, name2 type2"``); every column is CAST to its declared
    type, so integer/double/array literals land with exactly the types the
    old path produced.  Supported cell types: None, bool, int, float, str,
    bytes, and (nested) lists of those.  An empty row list builds the
    schema-typed empty relation via ``SELECT ... LIMIT 0`` (VALUES needs at
    least one tuple).
    """
    rows = list(rows)

    def _split_cols(ddl: str) -> list[tuple[str, str]]:
        cols, depth, cur = [], 0, []
        for ch in ddl:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            if ch == "," and depth == 0:
                cols.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        cols.append("".join(cur))
        out = []
        for c in cols:
            name, typ = c.strip().split(None, 1)
            out.append((name, typ.strip()))
        return out

    def _lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        if isinstance(v, float):
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        if isinstance(v, (bytes, bytearray)):
            return "X'" + bytes(v).hex() + "'"
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(_lit(x) for x in v) + ")"
        raise TypeError(f"values_df: unsupported cell type {type(v).__name__}")

    cols = _split_cols(schema)
    if not rows:
        proj = ", ".join(
            f"CAST(NULL AS {typ}) AS `{name}`" for name, typ in cols
        )
        return spark.sql(f"SELECT {proj} LIMIT 0")
    for r in rows:
        if len(r) != len(cols):
            raise ValueError(
                f"values_df: row arity {len(r)} != schema arity {len(cols)}"
            )
    body = ", ".join(
        "(" + ", ".join(_lit(v) for v in r) + ")" for r in rows
    )
    proj = ", ".join(
        f"CAST(col{i + 1} AS {typ}) AS `{name}`"
        for i, (name, typ) in enumerate(cols)
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {body}")
