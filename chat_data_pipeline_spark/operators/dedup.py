"""Deduplication operators — the reference's flagship MinHash-LSH near-dedup
(ref:minhash_deduplication.py:1-319) re-architected for Spark, plus the wider
dedup family a large-scale training-data pipeline needs: exact, SimHash,
n-gram Jaccard, and embedding-cosine near-dup.

Reference → Spark architecture shift (SURVEY.md §2.5, §3.3):

  reference                               this engine
  ---------                               -----------
  forked-process fingerprint map          Arrow-batched pandas UDF (D1-D3)
  sequential driver LSH build (D5)        band posexplode → shuffle on
                                          (band, signature) → per-bucket min
  in-RAM UnionFind on driver (D6)         distributed min-label propagation
                                          with per-round localCheckpoint
  keep-min filter (D8)                    anti-join on the dropped-id set

Scale notes: the driver-side union-find is THE reference bottleneck (whole id
universe in one process).  Here every stage is a shuffle whose key cardinality
shrinks monotonically (bands → edges → dropped ids), buckets are never
materialized as lists (per-bucket min via window, so a viral duplicate cluster
can't blow an executor), and AQE handles skewed bucket keys.  Seed-42 parity:
permutations come from ``np.random.RandomState(42)`` exactly as
ref:minhash_deduplication.py:25-27,235-244, so signatures are bit-identical.
"""

from __future__ import annotations

import hashlib
import logging
import re
import struct as _struct
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

logger = logging.getLogger("chat_data_pipeline_spark")

SEED = 42
MAX_HASH = np.uint64((1 << 32) - 1)
MERSENNE_PRIME = np.uint64((1 << 61) - 1)
# ref:minhash_deduplication.py:26 — note this tokenizer KEEPS empty strings
# produced by adjacent delimiters; shingles may contain them.  Parity kept.
NON_ALPHA = re.compile("[^A-Za-z_0-9]")

_ID = "__id__"


# --------------------------------------------------------------------------
# D4 optimal (B, R) — datasketch's weighted FP/FN minimization
# (ref:minhash_deduplication.py:119-176).  scipy-free: the integrands are
# smooth on [0,1], so composite Simpson on a fine grid reproduces the argmin.
# --------------------------------------------------------------------------


def _simpson(f, a: float, b: float, n: int = 512) -> float:
    if b <= a:
        return 0.0
    xs = np.linspace(a, b, n + 1)
    ys = f(xs)
    h = (b - a) / n
    return float(h / 3 * (ys[0] + ys[-1] + 4 * ys[1:-1:2].sum() + 2 * ys[2:-1:2].sum()))


def optimal_param(
    threshold: float,
    num_perm: int,
    false_positive_weight: float = 0.5,
    false_negative_weight: float = 0.5,
) -> tuple[int, int]:
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = num_perm // b
        for r in range(1, max_r + 1):
            fp = _simpson(lambda s: 1 - (1 - s ** float(r)) ** float(b), 0.0, threshold)
            fn = _simpson(
                lambda s: 1 - (1 - (1 - s ** float(r)) ** float(b)), threshold, 1.0
            )
            error = fp * false_positive_weight + fn * false_negative_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


# --------------------------------------------------------------------------
# D1-D3 fingerprinting (ref:minhash_deduplication.py:32-116)
# --------------------------------------------------------------------------


def _permutations(num_perm: int, seed: int = SEED) -> np.ndarray:
    """Bit-identical to ref:minhash_deduplication.py:235-244."""
    rng = np.random.RandomState(seed)
    return np.array(
        [
            (
                rng.randint(1, MERSENNE_PRIME, dtype=np.uint64),
                rng.randint(0, MERSENNE_PRIME, dtype=np.uint64),
            )
            for _ in range(num_perm)
        ],
        dtype=np.uint64,
    ).T


def sha1_hash32(data: bytes) -> int:
    """ref:minhash_deduplication.py:59-71."""
    return _struct.unpack("<I", hashlib.sha1(data).digest()[:4])[0]


def minhash_signature(
    content: str,
    num_perm: int,
    ngram_size: int,
    min_ngram_size: int,
    permutations: np.ndarray,
    hashranges: list[tuple[int, int]],
) -> list[bytes]:
    """Single-doc signature — the exact embed_func arithmetic
    (ref:minhash_deduplication.py:74-116): word shingles over the NON_ALPHA
    split (empties included), sha1-32 token hashes, (a*h+b) mod p & MAX_HASH
    column-min, byteswapped band slices."""
    hashvalues = np.ones(num_perm, dtype=np.uint64) * MAX_HASH
    seq = NON_ALPHA.split(content)
    if len(seq) >= min_ngram_size:
        tokens = {
            " ".join(seq[i : i + ngram_size])
            for i in range(len(seq) - ngram_size + 1)
        }
    else:
        tokens = set()
    if tokens:
        hv = np.array([sha1_hash32(t.encode("utf-8")) for t in tokens], dtype=np.uint64)
        a, b = permutations
        phv = np.bitwise_and(
            ((hv * np.tile(a, (len(hv), 1)).T).T + b) % MERSENNE_PRIME, MAX_HASH
        )
        hashvalues = np.vstack([phv, hashvalues]).min(axis=0)
    return [bytes(hashvalues[start:end].byteswap().data) for start, end in hashranges]


# --------------------------------------------------------------------------
# D6 distributed connected components (min-label propagation)
# --------------------------------------------------------------------------


_RESULT_SIZE_PATTERNS = (
    # every TaskSetManager result-size abort names the config key and/or
    # leads with this phrase, in any Spark version to date
    "spark.driver.maxResultSize",
    "Total size of serialized results",
    # py4j's own frame-size rejection on oversized collect payloads
    "exceeds max allowed",
)


def _is_result_size_rejection(exc: BaseException) -> bool:
    """True only for driver result-size rejections of a collect — the CC
    probe's EXPECTED small-driver failure mode.  Checked two ways: the
    Spark error condition when the exception carries one (PySpark 4's
    ``getCondition`` / legacy ``getErrorClass``), else the result-size
    abort's own signature phrases.  Deliberately NOT matched: bare
    'OutOfMemory' — a genuine executor OOM upstream is not a result-size
    rejection and must re-raise instead of silently re-running the same
    expensive upstream on the distributed path (r9 verdict item 4)."""
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond and "RESULT_SIZE" in str(cond).upper():
                return True
    msg = str(exc)
    return any(p in msg for p in _RESULT_SIZE_PATTERNS)


def connected_components_min_label(
    edges: DataFrame,
    max_iterations: int = 50,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components with "min id wins" labels — the distributed
    replacement for the reference's driver-side UnionFind
    (ref:minhash_deduplication.py:179-193,273-280).

    Input: ``edges(src, dst)`` undirected-intent pairs.  Output: ``(node,
    label)`` where label is the minimum id of the node's connected component —
    exactly the reference's "min id wins" union rule.

    Hybrid execution: the edge set is OUTPUT-sized (one row per near-dup
    pair that survived banding), not corpus-sized, so on most corpora it
    fits the driver comfortably — and the per-round fixed job cost of the
    distributed loop (join + agg + checkpoint, ~0.5 s each in local mode)
    then dwarfs the actual work (275 edges measured 2.7 s distributed vs
    ~0.4 s collected).  A single ``limit(driver_max_edges+1).collect()``
    probe-collects the edges; within the guard they union-find on the
    driver (min-root merge ⇒ root = component min, same labels) and the
    result broadcasts back.  The probe is deliberately collect-first AND
    uncheckpointed: in the COMMON small case the probe is the ONLY
    execution the driver path needs, so a count-then-collect pair would run
    the (expensive) edge upstream twice, and a pre-probe ``localCheckpoint``
    would force full materialization of every edge partition just to read a
    capped sample (measured +0.4-0.5 s on ``dedup_ngram_jaccard`` at sf0.1
    in both eager and lazy flavors — the lazy checkpoint still schedules a
    fill-in job for the partitions the limit didn't touch).  If the probe
    collect is rejected (``spark.driver.maxResultSize`` — cap+1 two-column
    Rows cost several hundred MB of Python object overhead, well beyond the
    ~32 MB of raw long pairs), the failure is caught and execution falls
    through to the distributed path: deployments with a small driver get
    the distributed loop, not an error.  Past the guard — a 100 TB corpus
    with a high dup rate can emit billions of pairs — the min-label
    propagation loop below runs fully distributed: the edges are
    ``localCheckpoint``-ed ONCE there (so the loop never replays the
    upstream; the probe's partial execution is the price of the common-case
    win), then label(u) ← min(label(u), min over neighbours of label(v));
    converges in O(component diameter) rounds (LSH edge sets are
    star-shaped per bucket so diameters stay tiny), one shuffle join +
    aggregate per round, ``localCheckpoint`` truncating lineage so round N
    doesn't replay rounds 1..N-1.

    EAGER by design: constructing the returned DataFrame executes the edge
    plan (the probe).  Callers composing plans lazily should defer calling
    this (and the dedup entry points that route through it) until they
    intend the upstream to run.
    """
    try:
        probe = edges.select("src", "dst").limit(driver_max_edges + 1).collect()
    except Exception as exc:
        # fall through ONLY on result-size rejections — any other failure
        # (analysis error, deterministic task failure, a genuine executor
        # OutOfMemoryError) would just re-fail after re-executing the
        # expensive edge upstream on the distributed path, so re-raise it
        # here with its real traceback
        if not _is_result_size_rejection(exc):
            raise
        logger.warning(
            "CC probe collect rejected (%s); using distributed min-label path",
            type(exc).__name__,
        )
        probe = None
    if probe is not None and len(probe) <= driver_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {r[0] for r in probe} | {r[1] for r in probe}
        node_type = edges.schema["src"].dataType
        # JVM-local VALUES table (r17): the label table feeds the survivor
        # anti-join of every dedup row, and a parallelize-backed frame
        # would make that downstream action pay a Python-worker round trip
        from chat_data_pipeline_spark.session import values_df

        ddl = node_type.simpleString()
        return values_df(
            edges.sparkSession,
            [(n, find(n)) for n in sorted(nodes)],
            f"node {ddl}, label {ddl}",
        )

    # distributed path: checkpoint the edge set HERE (not before the probe —
    # see docstring) so the per-round join reads cached blocks instead of
    # replaying the edge-producing upstream every iteration.  The reversed
    # union over the cached blocks is near-free per round; checkpointing
    # `und` instead would double the cached footprint for no replay savings.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        und.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("label")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    for iteration in range(max_iterations):
        cand = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("cand"))
        )
        merged = labels.join(cand, labels["node"] == cand["src"], "left").select(
            labels["node"],
            labels["label"].alias("old_label"),
            F.least(labels["label"], F.coalesce(cand["cand"], labels["label"])).alias(
                "label"
            ),
        )
        # convergence check rides the checkpoint's own materialization job as
        # an observed metric — a separate count() re-scanned labels per round
        obs = Observation()
        merged = merged.observe(
            obs,
            F.sum(
                F.when(F.col("label") < F.col("old_label"), 1).otherwise(0)
            ).alias("changed"),
        )
        merged = merged.localCheckpoint(eager=True)
        changed = int(obs.get["changed"] or 0)
        labels = merged.select("node", "label")
        if changed == 0:
            break
    else:  # pragma: no cover
        logger.warning("connected components: max_iterations hit before fixpoint")
    return labels


# --------------------------------------------------------------------------
# MinHash-LSH dedup — D1-D9 end-to-end
# --------------------------------------------------------------------------


def _minhash_filter_from_fingerprints(
    df: DataFrame,
    fingerprints: DataFrame,
    id_col: str,
    timers: dict[str, float] | None = None,
) -> DataFrame:
    """Shared D5-D8 core over ``fingerprints(id, sigs array<binary>)``:
    band posexplode → per-(band, sig) bucket window-min → distinct edges →
    min-label connected components → keep-min anti-join.  Both the sha1/
    seed-42 production path (:func:`minhash_dedup`) and the md5 cross-engine
    twin (:func:`minhash_dedup_md5`) run THIS code, so the twin's DuckDB
    oracle value-hashes the exact banding→edges→CC→filter pipeline the
    production path uses (ref:minhash_deduplication.py:214-319)."""
    # --- D5 LSH buckets → edges (no bucket materialization) ----------------
    t0 = time.time()
    bands = fingerprints.select(
        "id", F.posexplode("sigs").alias("band", "sig")
    )
    bucket_window = Window.partitionBy("band", "sig")
    edges = (
        bands.withColumn("root", F.min("id").over(bucket_window))
        .filter(F.col("root") != F.col("id"))
        .select(F.col("id").alias("src"), F.col("root").alias("dst"))
        .distinct()
    )

    # --- D6-D7 clustering (CC itself runs eager per-round actions) ---------
    labels = connected_components_min_label(edges)
    if timers is not None:
        timers["clustering"] = time.time() - t0

    # --- D8 keep-min filter ------------------------------------------------
    t0 = time.time()
    dropped = labels.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    result = df.join(dropped, on=id_col, how="left_anti")
    if timers is not None:
        timers["filtering"] = time.time() - t0
    return result


def minhash_dedup(
    df: DataFrame,
    column: str = "text",
    id_col: str | None = None,
    ngram_size: int = 5,
    num_perm: int = 256,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
    verbose: bool = False,
) -> DataFrame:
    """``deduplicate`` (ref:minhash_deduplication.py:214-319), Spark-first.

    Keep-choice parity: the member with the minimum id of each near-dup
    cluster survives (ref:minhash_deduplication.py:193,297-302).  When
    ``id_col`` is None a ``monotonically_increasing_id`` stands in for the
    reference's row-order ids (unique + ordered per partition — SURVEY.md §4.3).

    EAGER: constructing the result executes the fingerprint/banding pipeline
    (the component search probe-collects its edge set — see
    ``connected_components_min_label``).
    """
    start_time = time.time()
    timers: dict[str, float] = {}

    t0 = time.time()
    drop_id = id_col is None
    if drop_id:
        id_col = _ID
        # pin the generated ids: the plan is evaluated in several independent
        # jobs (fingerprint/CC vs the final anti-join), and a nondeterministic
        # upstream (sample, limit, UDF) would otherwise get DIFFERENT ids per
        # evaluation — the dropped-id set would then delete the wrong rows
        df = df.withColumn(id_col, F.monotonically_increasing_id()).localCheckpoint(
            eager=True
        )
    timers["load_dataset"] = time.time() - t0

    # --- D1-D3 fingerprint --------------------------------------------------
    t0 = time.time()
    fingerprints = minhash_sha1_fingerprints(
        df, column, id_col, ngram_size, num_perm, threshold, min_ngram_size, seed
    )
    if verbose:
        # materialize the stage so the timer measures execution, not lazy
        # plan construction (the reference's taxonomy times real work,
        # ref:minhash_deduplication.py:225-316)
        fingerprints = fingerprints.localCheckpoint(eager=True)
    timers["minhash"] = time.time() - t0

    result = _minhash_filter_from_fingerprints(df, fingerprints, id_col, timers)

    if verbose:  # D9 telemetry (ref:minhash_deduplication.py:305-317)
        data_size = df.count()
        final_size = result.count()
        dup_size = data_size - final_size
        # an upstream filter chain can hand dedup an EMPTY frame; the
        # percentage lines must not divide by zero
        denom = data_size or 1
        pad = 32
        for key, value in timers.items():
            logger.info(f"{key:<{pad}}: {value:.2f} seconds")
        logger.info(f"{'Data Number (before)':<{pad}}: {data_size}")
        logger.info(
            f"{'Data Number (after)':<{pad}}: {final_size} ({final_size / denom:.2%})"
        )
        logger.info(f"{'Duplicate Number':<{pad}}: {dup_size} ({dup_size / denom:.2%})")
        logger.info(f"{'Total Time':<{pad}}: {time.time() - start_time:.2f} seconds")

    return result.drop(_ID) if drop_id else result


def _sha1_banding(
    num_perm: int, threshold: float, seed: int
) -> tuple[list[tuple[int, int]], np.ndarray]:
    """(band hashranges, permutation table) of the sha1 family — the
    datasketch-optimal (B, R) banding and the seeded permutations."""
    B, R = optimal_param(threshold, num_perm)
    return [(i * R, (i + 1) * R) for i in range(B)], _permutations(num_perm, seed)


def minhash_sha1_fingerprints(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    num_perm: int = 256,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """``(id, sigs array<binary>)`` fingerprints of the production sha1
    family — the ONE copy of the D1-D3 arithmetic (Arrow-batched; the
    permutation table ships in the UDF closure, 256×2×8 bytes) behind
    :func:`minhash_dedup`, :func:`minhash_bands` and the persisted
    signature store."""
    hashranges, permutations = _sha1_banding(num_perm, threshold, seed)

    def fingerprint_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for batch in batches:
            sigs = [
                minhash_signature(
                    content if content is not None else "",
                    num_perm,
                    ngram_size,
                    min_ngram_size,
                    permutations,
                    hashranges,
                )
                for content in batch[column]
            ]
            yield pd.DataFrame({"id": batch[id_col], "sigs": sigs})

    from chat_data_pipeline_spark.session import repartition_for_compute

    # id type derives from the input (string doc ids are common) — a
    # hardcoded bigint would miscast or fail at runtime.
    id_type = dict(df.dtypes)[id_col]
    return repartition_for_compute(df.select(id_col, column)).mapInPandas(
        fingerprint_batches, schema=f"id {id_type}, sigs array<binary>"
    )


def minhash_bands(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    num_perm: int = 256,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """``(id, band, sig)`` LSH band signatures — the fingerprint+banding
    stage of :func:`minhash_dedup` exposed standalone so the incremental /
    streaming dedup (streaming/pipeline.py) shares the exact same
    signature math (same permutations, same optimal (B,R), same bytes)."""
    return minhash_sha1_fingerprints(
        df, column, id_col, ngram_size, num_perm, threshold, min_ngram_size, seed
    ).select("id", F.posexplode("sigs").alias("band", "sig"))


def cross_corpus_bands_sha1(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    num_perm: int = 256,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """``(id, band, sig)`` cross-corpus postings of the sha1 family: the
    :func:`minhash_bands` rows minus the all-MAX_HASH sentinel bands of
    shingle-less docs — one short reference doc would otherwise
    band-collide with EVERY short new doc and silently subtract them all
    (content-free deletions).  The sentinel (a pure function of the
    parameters) is excluded on both sides of every cross-corpus probe —
    the in-flight filter and the persisted signature store alike."""
    hashranges, permutations = _sha1_banding(num_perm, threshold, seed)
    sentinel = minhash_signature(
        "", num_perm, ngram_size, min_ngram_size, permutations, hashranges
    )
    return minhash_bands(
        df, column, id_col, ngram_size, num_perm, threshold, min_ngram_size, seed
    ).filter(~F.col("sig").isin([bytes(s) for s in sentinel]))


def md5_perm_hash(p: int, s: Column) -> Column:
    """MinHash permutation ``p`` of string ``s``: the 8-hex-char word p%4 of
    md5(p//4 || 0x1f || s) — one md5 yields FOUR independent 32-bit words,
    so 4x fewer md5 invocations than one-md5-per-permutation.  The word
    stays a HEX STRING: for fixed-width lowercase hex, lexicographic min
    equals numeric min, and dropping the int conversion both simplifies the
    DuckDB twin (substr only) and roughly halves the generated whole-stage
    code (16 conv+cast expressions were the dominant first-run
    codegen-compile cost, not the md5s themselves)."""
    j, w = divmod(p, 4)
    return F.substring(F.md5(F.concat(F.lit(f"{j}\x1f"), s)), 1 + 8 * w, 8)


def minhash_md5_fingerprints(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """``(id, sigs array<binary>)`` MinHash fingerprints from a CROSS-ENGINE
    md5 hash family: permutation ``p`` is 32-bit word ``p % 4`` of
    ``md5(p//4 || 0x1f || shingle)`` (each md5 yields four independent
    words), signature = per-permutation min over the doc's distinct word
    ``ngram_size``-shingles (hex words: fixed-width lexicographic min equals
    numeric min), band signature = '|'-joined minima of the band's
    ``num_perm / num_bands`` rows.

    Unlike the production sha1+seeded-permutation fingerprint (numpy in a
    pandas UDF, not SQL-expressible), every step here is a DuckDB-computable
    expression — so the FULL D5-D8 pipeline downstream of fingerprinting can
    be value-hashed against an independent engine.  It is also entirely
    native Column code (regexp tokenize → shingle slices → md5/conv folds):
    zero Python in the hot path, whole-stage codegen end to end.

    Docs with no shingles (fewer than ``ngram_size`` tokens) are excluded —
    they can never collide, so they survive without ever being bucketed.
    """
    if num_perm % num_bands:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    rows_per_band = num_perm // num_bands

    # Explode shingles FIRST, then hash each once per permutation, then
    # groupBy-min.  The per-doc form (num_perm × array_min(transform(...)))
    # reads nicer but Catalyst's projection collapse inlines the shingle
    # build into every permutation's fold — tokenize+shingle ran 16× per row
    # (measured 21 s vs 2 s at sf0.1).  Here the generator computes shingles
    # once, each (shingle, perm) hash is computed once, and the min agg is
    # map-side combinable: the shuffle carries ≤ one partial row per
    # (partition, doc) — the same plan shape the DuckDB oracle uses and the
    # right one at 100 TB (posting rows never ship raw text).
    from chat_data_pipeline_spark.session import repartition_for_compute

    # single-file sources arrive as one split; the md5 fold below is the CPU
    # hot spot, so spread rows first (no-op on well-partitioned sources)
    posting = repartition_for_compute(df.select(id_col, column)).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(column), ngram_size)).alias("__s__"),
    )
    hashed = posting.select(
        "id", *[md5_perm_hash(j, F.col("__s__")).alias(f"__h{j}__") for j in range(num_perm)]
    )
    sig_rows = hashed.groupBy("id").agg(
        *[F.min(f"__h{j}__").alias(f"__h{j}__") for j in range(num_perm)]
    )
    band_sigs = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"__h{b * rows_per_band + r}__")
                    for r in range(rows_per_band)
                ],
            ).cast("binary")
            for b in range(num_bands)
        ]
    )
    return sig_rows.select("id", band_sigs.alias("sigs"))


def minhash_dedup_md5(
    df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """MinHash-LSH near-dedup with the md5 hash family — the ORACLE TWIN of
    :func:`minhash_dedup`.

    Same D5-D8 pipeline, same survivor rule (min id per connected
    component), different fingerprint arithmetic: md5-derived permutations
    instead of sha1+seed-42, so a DuckDB oracle can recompute the entire
    banding → bucket-min edges → connected components → keep-min result and
    value-hash it against this plan.  The production path stays sha1/seed-42
    (reference parity, ref:minhash_deduplication.py:74-116) and keeps its
    differential pytest; this twin is the cross-engine hard evidence for the
    SHARED downstream code (:func:`_minhash_filter_from_fingerprints`).

    Default (B, R) = (4, 4): collision threshold (1/B)^(1/R) ≈ 0.71, the
    same neighborhood as the production default threshold=0.7.
    """
    fingerprints = minhash_md5_fingerprints(
        df, column, id_col, ngram_size, num_perm, num_bands
    )
    # NO checkpoint (r17, guide §1.2): in the common capped-CC path the
    # fingerprint table has exactly ONE consumer — the edge probe collect
    # (the survivor anti-join reads df + the driver label table, never the
    # fingerprints) — so an eager checkpoint here was a dedicated
    # materialization action that saved nothing downstream.  On the rare
    # driver_max_edges fall-through the distributed CC loop checkpoints its
    # EDGES (one re-execution of this subtree, documented there); the
    # production sha1 path (minhash_dedup, non-verbose) already runs
    # checkpoint-free for the same reason.
    return _minhash_filter_from_fingerprints(df, fingerprints, id_col)


def split_leakage_audit(
    df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Cross-split contamination audit: ``(split_a, split_b, n_pairs)`` —
    how many near-duplicate pairs STRADDLE split boundaries.  A val/test
    member whose near-twin sits in train inflates eval scores exactly like
    benchmark contamination; this is the check a leakage-safe split
    pipeline runs before publishing (hash-range splits prevent id-level
    leakage, but near-dup leakage needs the similarity machinery).

    Same md5 banding as ``minhash_dedup_md5`` (so a DuckDB oracle
    value-hashes the whole audit); pairs colliding in several bands count
    once.  Blind spot, stated explicitly: documents shorter than
    ``ngram_size`` tokens produce no shingles and therefore no fingerprint
    — a cross-split twin of such a SHORT doc is invisible here.  For
    short-text corpora (titles, queries, one-liners) pair this with an
    exact cross-split check (hash the text, group, count splits per hash) —
    near-dup banding only ever audits what it can fingerprint.  Scale: the
    banding self-join enumerates candidate pairs, which is quadratic in a
    bucket's size — near-dup clusters ARE the buckets, so on a pathological
    corpus cap cluster blowup upstream (run exact-dedup first, the
    ``ngram_jaccard_dedup`` clone-collapse trick) before auditing.

    EAGER: constructing the result executes the fingerprint pass (the
    band table checkpoints before the self-join).
    """
    fp = (
        minhash_md5_fingerprints(df, column, id_col, ngram_size, num_perm, num_bands)
        .select("id", F.posexplode("sigs").alias("band", "sig"))
        .localCheckpoint(eager=True)
    )
    splits = df.select(F.col(id_col).alias("id"), F.col(split_col).alias("__s__"))
    tagged = fp.join(splits, "id")
    a, b = tagged.alias("a"), tagged.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(F.col("a.__s__") != F.col("b.__s__"))
        .select(
            F.least("a.__s__", "b.__s__").alias("split_a"),
            F.greatest("a.__s__", "b.__s__").alias("split_b"),
            F.col("a.id").alias("__i1__"),
            F.col("b.id").alias("__i2__"),
        )
        .distinct()
    )
    return pairs.groupBy("split_a", "split_b").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def banding_calibration(
    df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
    n_buckets: int = 10,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Banding quality audit (r11): ``(bucket, n_pairs, sum_band_matches)``
    — the TRUE shingle-set Jaccard histogram of the banding's CANDIDATE
    pairs, the measurement that calibrates (B, R) against a real corpus.

    The S-curve says what the banding SHOULD do; this measures what it DID:
    each candidate pair (any band collision) lands in bucket
    ``floor(n_buckets · |A∩B| / |A∪B|)`` of its exact Jaccard — bucket 0
    collects pure false positives (banded together, nearly-disjoint
    shingle sets), bucket ``n_buckets`` is the exact-duplicate bucket
    (J = 1).  ``sum_band_matches`` carries the integer total of colliding
    bands per bucket, so avg-bands-per-candidate is recoverable without a
    float column — everything integer-exact, hence the DuckDB value-hash
    oracle.  Run it before trusting a (num_perm, num_bands) choice on a
    new corpus: a heavy bucket 0-2 population means the bands are too
    permissive (CC will chain unrelated docs); an empty 7-9 range with a
    fat 10 means the threshold is so high only exact clones collide and
    near-dup recall is an illusion.

    Scale shape — CLONE-LINEAR by construction: exact-duplicate texts
    collapse to a min-id representative carrying a multiplicity ``m``
    BEFORE fingerprinting (the ``ngram_jaccard_dedup`` collapse applied to
    the audit), because identical texts have identical signatures and
    identical Jaccard against everything — so a member-level pair count
    reconstructs EXACTLY as products: a rep pair (A, B) stands for
    ``m_A·m_B`` member pairs in the same bucket with the same colliding-
    band count, and each clone group adds ``C(m, 2)`` exact pairs (bucket
    ``n_buckets``, all ``num_bands`` bands colliding).  Without the
    collapse the banding self-join is quadratic in clone-group size — a
    viral 1M-clone group would enumerate ~5·10^11 candidate rows where
    this plan touches the group once.  The DuckDB oracle deliberately
    replays the MEMBER-LEVEL definition (the naive self-join), so the
    value-hash parity test independently proves the collapse is exact.

    Remaining candidate volume is the rep-level banding self-join —
    output-sized, the same candidates dedup would verify anyway; the
    exact-Jaccard verification joins rep postings by pair member (two
    key-partitionable joins, raw text never ships) and a
    zero-intersection candidate is kept via the left join (i = 0) rather
    than dropped — losing bucket 0 would hide exactly the false positives
    the audit exists to count.

    Candidate cap (r12): the clone collapse makes the audit immune to
    exact-duplicate skew, but on a corpus where the banding is TOO
    PERMISSIVE — precisely the miscalibration this audit exists to detect
    — near-dup (non-identical) reps pile into shared (band, sig) buckets
    and the rep-level self-join goes quadratic in the hottest bucket: the
    diagnostic must not be the first job that falls over.
    ``max_bucket_size`` bounds any bucket to its ``max_bucket_size``
    lowest-id members before pairing (≤ C(cap, 2) pairs per bucket, ever);
    the truncation is NEVER silent — a WARNING logs the number of
    oversized buckets and dropped memberships, and above the cap the
    histogram is explicitly a deterministic min-id SAMPLE of each hot
    bucket's pairs (the S-curve shape survives; the absolute pair counts
    read as lower bounds).  The default never binds on a sanely-banded
    corpus; ``None`` disables the cap.

    With a cap, constructing the result executes one bucket-size profile
    job (which materializes the lazy rep/shingle/band checkpoints as side
    effects); uncapped, everything materializes under the caller's action.
    """
    from chat_data_pipeline_spark.session import (
        COMPUTE_MIN_EST_BYTES,
        repartition_for_compute,
    )

    # The three block checkpoints below are LAZY (r17, guide §2.6): the
    # oversized-bucket profile job is the first action, so it materializes
    # reps -> shingled -> bands as side effects of ONE action, and the
    # final-histogram action reuses all three stored blocks — the former
    # eager form paid three dedicated materialization jobs (plus the
    # profile and the final DAG: five sequential driver actions for a row
    # whose artifacts are rep-sized).  Identical data, identical reuse.
    reps = (
        df.groupBy(F.col(column).alias("__text__"))
        .agg(
            F.min(F.col(id_col)).alias("id"),
            F.count(F.lit(1)).alias("__m__"),
        )
        .localCheckpoint(eager=False)
    )
    # ONE tokenize+shingle pass (r17, guide §1.2): the fingerprint AND the
    # exact-Jaccard posting below both consume the rep-level distinct
    # shingle table, so it checkpoints once here — the former shape ran
    # word_shingles twice (once inside minhash_md5_fingerprints, once for
    # the posting), re-paying the regex+slice pass over every rep text.
    # Fingerprint arithmetic is byte-identical: md5_perm_hash over the
    # same exploded distinct shingles, min per permutation, '|'-joined
    # band signatures (the minhash_md5_fingerprints plan inlined over the
    # shared posting; shingle-less reps drop at the explode exactly as
    # before).
    if num_perm % num_bands:
        raise ValueError(
            f"num_perm={num_perm} not divisible by num_bands={num_bands}"
        )
    rows_per_band = num_perm // num_bands
    shingled = (
        # size-floored width (r18, guide §2.1) — same rationale and
        # measurement as ngram_jaccard_edges' posting build: native shingle
        # work over a rep-sized table anti-scaled at 32 local cores
        repartition_for_compute(
            reps.select("id", "__text__"),
            min_est_bytes_per_partition=COMPUTE_MIN_EST_BYTES,
        )
        .select(
            "id",
            F.explode(word_shingles(F.col("__text__"), ngram_size)).alias("__s__"),
        )
        .localCheckpoint(eager=False)
    )
    hashed = shingled.select(
        "id",
        *[
            md5_perm_hash(j, F.col("__s__")).alias(f"__h{j}__")
            for j in range(num_perm)
        ],
    )
    sig_rows = hashed.groupBy("id").agg(
        *[F.min(f"__h{j}__").alias(f"__h{j}__") for j in range(num_perm)]
    )
    band_sig_arr = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"__h{b * rows_per_band + r}__")
                    for r in range(rows_per_band)
                ],
            ).cast("binary")
            for b in range(num_bands)
        ]
    )
    bands = (
        sig_rows.select("id", band_sig_arr.alias("sigs"))
        .select("id", F.posexplode("sigs").alias("band", "sig"))
        .localCheckpoint(eager=False)
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        # one small profile job over the checkpointed bands: is any
        # (band, sig) bucket hot enough for the cap to bind?
        oversized = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > max_bucket_size)
            .agg(
                F.count(F.lit(1)).alias("n_buckets_truncated"),
                F.sum(F.col("c") - max_bucket_size).alias("n_members_dropped"),
            )
            .first()
        )
        if oversized.n_buckets_truncated:
            logger.warning(
                "banding_calibration: %d (band, sig) bucket(s) exceed "
                "max_bucket_size=%d — %d membership(s) truncated to the "
                "lowest-id members; pair counts above the cap are a "
                "deterministic sample (lower bounds). This is itself the "
                "audit's verdict: the (num_perm=%d, num_bands=%d) banding "
                "is too permissive for this corpus.",
                oversized.n_buckets_truncated,
                max_bucket_size,
                oversized.n_members_dropped,
                num_perm,
                num_bands,
            )
            rk = F.row_number().over(
                Window.partitionBy("band", "sig").orderBy("id")
            )
            bands = (
                bands.withColumn("__rk__", rk)
                .filter(F.col("__rk__") <= max_bucket_size)
                .drop("__rk__")
            )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("nbm"))
        .localCheckpoint(eager=False)
    )
    posting = shingled.select("id", F.col("__s__").alias("s"))
    sizes = posting.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(posting.alias("pa"), F.col("src") == F.col("pa.id"))
        .join(
            posting.alias("pb"),
            (F.col("dst") == F.col("pb.id")) & (F.col("pa.s") == F.col("pb.s")),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    mults = reps.select("id", "__m__")
    enriched = (
        pairs.join(inter, ["src", "dst"], "left")
        .join(sizes.alias("s1"), F.col("src") == F.col("s1.id"))
        .join(sizes.alias("s2"), F.col("dst") == F.col("s2.id"))
        .join(mults.alias("m1"), F.col("src") == F.col("m1.id"))
        .join(mults.alias("m2"), F.col("dst") == F.col("m2.id"))
        .select(
            F.coalesce("i", F.lit(0)).cast("long").alias("i"),
            (F.col("s1.n") + F.col("s2.n") - F.coalesce("i", F.lit(0)))
            .cast("long")
            .alias("u"),
            (F.col("m1.__m__") * F.col("m2.__m__")).cast("long").alias("w"),
            (F.col("nbm") * F.col("m1.__m__") * F.col("m2.__m__"))
            .cast("long")
            .alias("wb"),
        )
        .select(
            F.expr(f"({n_buckets} * i) div u").cast("long").alias("bucket"),
            "w",
            "wb",
        )
    )
    # each clone group of a SHINGLED rep contributes C(m, 2) exact pairs
    # (J = 1, all bands colliding); shingle-less clones are never banded
    # and stay invisible to the audit, like every other shingle-less doc
    clone_rows = (
        reps.join(sizes.select("id"), "id", "left_semi")
        .filter(F.col("__m__") >= 2)
        .select(
            F.lit(n_buckets).cast("long").alias("bucket"),
            (F.col("__m__") * (F.col("__m__") - 1) / 2).cast("long").alias("w"),
            (
                F.lit(num_bands) * F.col("__m__") * (F.col("__m__") - 1) / 2
            )
            .cast("long")
            .alias("wb"),
        )
    )
    return (
        enriched.unionByName(clone_rows)
        .groupBy("bucket")
        .agg(
            F.sum("w").cast("long").alias("n_pairs"),
            F.sum("wb").cast("long").alias("sum_band_matches"),
        )
        .orderBy("bucket")
    )


def split_leakage_audit_exact(
    df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Exact-duplicate companion of :func:`split_leakage_audit`:
    ``(split_a, split_b, n_pairs)`` counting IDENTICAL texts straddling
    split boundaries — no shingle-length blind spot (a 3-word twin counts),
    and no pair enumeration: per (text-hash, split) counts combine IN-ROW
    (cross-split pairs per hash = Σ c_i·c_j over its sorted split-count
    list, ≤ #splits entries), so the whole audit is two map-combinable
    aggregations and a narrow explode — nothing quadratic anywhere."""
    h = F.md5(F.coalesce(F.col(column), F.lit("")))
    per = (
        df.select(h.alias("__h__"), F.col(split_col).alias("__s__"))
        .groupBy("__h__", "__s__")
        .agg(F.count("*").alias("c"))
    )
    byh = (
        per.groupBy("__h__")
        .agg(F.array_sort(F.collect_list(F.struct("__s__", "c"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    combs = F.expr(
        "flatten(transform(sequence(1, size(m) - 1), i -> "
        "transform(sequence(i + 1, size(m)), j -> struct("
        "element_at(m, i).__s__ AS sa, element_at(m, j).__s__ AS sb, "
        "element_at(m, i).c * element_at(m, j).c AS np))))"
    )
    pairs = byh.select(F.explode(combs).alias("p")).select("p.sa", "p.sb", "p.np")
    return pairs.groupBy(
        F.col("sa").alias("split_a"), F.col("sb").alias("split_b")
    ).agg(F.sum("np").cast("long").alias("n_pairs"))


def source_similarity_matrix(
    df: DataFrame,
    column: str = "text",
    group_col: str = "source",
    ngram_size: int = 5,
    num_perm: int = 32,
) -> DataFrame:
    """Corpus-level redundancy audit: estimated shingle-set Jaccard between
    every pair of groups (sources/datasets/snapshots), via per-group MinHash
    signatures — ``(source_a, source_b, n_match, est_jaccard)``.

    Why it works: a group's signature component p is the min of
    ``md5_perm_hash(p, shingle)`` over the UNION of its documents' shingle
    sets (min commutes with union), so component equality between two groups
    estimates J(shingles_a, shingles_b) with the standard MinHash unbiased
    match rate — the dataset-overlap matrix a training-data builder checks
    before mixing corpora ("is dataset B mostly a re-crawl of A?").

    Scale: the md5 permutation family (num_perm hashes per input) runs on
    the DISTINCT ``(group, shingle)`` table — min-over-set is duplicate-
    invariant, so the Zipf-duplicated occurrence mass is collapsed by a
    map-side partial dedup BEFORE paying num_perm md5s per row, then the
    mins combine map-side to ``#groups × num_perm`` rows.  The trade,
    stated: the dedup adds one vocabulary-bounded exchange where the
    per-occurrence form shuffled almost nothing (its mins combined in
    place) but burned num_perm× the hash CPU on duplicates; same-session
    A/B at sf0.1 measures the two within noise (0.9-1.0 s at 1×, ~3.0 s at
    16× clones, exponent ≈0.4 both ways — the explode itself is the
    dominant term), so the distinct form wins exactly where it matters:
    signature widths beyond 32 and CPU-bound clusters.  The pairwise
    comparison then runs on a group-cardinality-sized table — quadratic
    only in the number of DATASETS, never in documents.  Zero Python; same
    md5 hash family as ``minhash_dedup_md5``, so a DuckDB oracle
    value-hashes the whole matrix.

    Groups with no shingles (every doc shorter than ``ngram_size`` tokens)
    have no signature and are absent from the matrix.

    EAGER: constructing the result executes the corpus scan (the signature
    table checkpoints before the pairwise self-join so the shingle+hash
    aggregation runs once, not once per join side).
    """
    from chat_data_pipeline_spark.session import repartition_for_compute

    posting = repartition_for_compute(df.select(group_col, column)).select(
        F.col(group_col).alias("__g__"),
        F.explode(word_shingles(F.col(column), ngram_size)).alias("__s__"),
    )
    # the md5 permutation family runs on the DISTINCT (group, shingle)
    # table, not per occurrence: min-over-set is duplicate-invariant, so
    # the ``distinct`` (map-side partial dedup, then one shuffle of the
    # Zipf-collapsed pair table) trades a narrow exchange for num_perm×
    # fewer md5 evaluations on the duplicated mass — the r9 probe's
    # measured CPU term.  Oracle twin unaffected: same hash on the same
    # set of inputs.
    hashed = posting.distinct().select(
        "__g__",
        *[md5_perm_hash(j, F.col("__s__")).alias(f"__h{j}__") for j in range(num_perm)],
    )
    # materialized once: the pairwise comparison references sigs on BOTH
    # sides, and without the checkpoint each side re-runs the full corpus
    # shingle+hash aggregation (measured: 2 scans, 4 sorts).  The table is
    # #groups x num_perm — trivially small at any corpus size.  EAGER by
    # construction, like the other checkpointing entry points.
    sigs = hashed.groupBy("__g__").agg(
        *[F.min(f"__h{j}__").alias(f"__h{j}__") for j in range(num_perm)]
    ).localCheckpoint(eager=True)
    a, b = sigs.alias("a"), sigs.alias("b")
    n_match = sum(
        F.when(F.col(f"a.__h{j}__") == F.col(f"b.__h{j}__"), 1).otherwise(0)
        for j in range(num_perm)
    ).cast("long")
    return (
        a.join(b, F.col("a.__g__") < F.col("b.__g__"))
        .select(
            F.col("a.__g__").alias("source_a"),
            F.col("b.__g__").alias("source_b"),
            n_match.alias("n_match"),
            (n_match.cast("double") / F.lit(float(num_perm))).alias("est_jaccard"),
        )
    )


def cross_corpus_bands_md5(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """``(id, band, sig)`` cross-corpus postings of the md5 family (the
    in-flight filter and the persisted signature store alike).
    Shingle-less docs emit no rows by construction."""
    return minhash_md5_fingerprints(
        df, column, id_col, ngram_size, num_perm, num_bands
    ).select("id", F.posexplode("sigs").alias("band", "sig"))


def _cross_corpus_filter_from_bands(
    new_df: DataFrame,
    new_bands: DataFrame,
    ref_bands: DataFrame,
    id_col: str,
) -> DataFrame:
    """Shared cross-corpus downstream over exploded ``(id, band, sig)``
    postings: a NEW document drops iff ANY of its band signatures collides
    with the reference corpus — corpus onboarding's near-dup subtraction
    (no connected components needed: the reference side never changes, so
    collision alone decides).  Two shuffles total: the reference posting
    dedup and the (band, sig) semi-join — both co-partitionable on the
    posting key at any scale; raw text never ships."""
    ref_keys = ref_bands.select("band", "sig").distinct()
    hits = (
        new_bands.join(ref_keys, ["band", "sig"], "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def cross_corpus_minhash_filter(
    new_df: DataFrame,
    ref_df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    ngram_size: int = 5,
    num_perm: int = 256,
    threshold: float = 0.7,
    min_ngram_size: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """Drop NEW documents that are MinHash-LSH near-duplicates of ANY
    reference-corpus document — onboarding a fresh crawl against an already
    curated corpus (the cross-corpus complement of :func:`minhash_dedup`,
    and the near-dup analogue of the exact dataset-subtraction G3 op).

    Same sha1/seed-42 fingerprint family and (B, R) banding as the
    within-corpus path, so "near-duplicate" means the same thing in both;
    the md5 twin (:func:`cross_corpus_minhash_filter_md5`) shares THIS
    downstream for its cross-engine value hash.

    Shingle-less docs (< min_ngram_size tokens): ``minhash_signature``
    leaves them at the all-MAX_HASH sentinel, so ONE short doc in the
    reference would band-collide with EVERY short new doc and silently
    subtract them all — content-free deletions.  The sentinel band
    signatures (a pure function of the parameters) are therefore excluded
    from both postings (:func:`cross_corpus_bands_sha1`): shingle-less new
    docs always survive, matching the md5 twin's contract (whose
    fingerprint build skips them entirely)."""

    def bands(df: DataFrame) -> DataFrame:
        return cross_corpus_bands_sha1(
            df, column, id_col, ngram_size, num_perm, threshold, min_ngram_size, seed
        )

    return _cross_corpus_filter_from_bands(
        new_df, bands(new_df), bands(ref_df), id_col
    )


def cross_corpus_minhash_filter_md5(
    new_df: DataFrame,
    ref_df: DataFrame,
    column: str = "text",
    id_col: str = "doc_id",
    ngram_size: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """ORACLE TWIN of :func:`cross_corpus_minhash_filter`: md5-family
    fingerprints (every step DuckDB-expressible) through the SAME
    band-collision subtraction, so the surviving-new-document set
    value-hashes cross-engine.  Shingle-less new docs (< ngram_size tokens)
    have no posting rows and always survive — both engines encode that."""

    def bands(df: DataFrame) -> DataFrame:
        return cross_corpus_bands_md5(
            df, column, id_col, ngram_size, num_perm, num_bands
        )

    return _cross_corpus_filter_from_bands(
        new_df, bands(new_df), bands(ref_df), id_col
    )


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy; min-id survivor)
# --------------------------------------------------------------------------


def cluster_size_histogram(df: DataFrame, column: str) -> DataFrame:
    """(cluster_size, n_clusters) over EXACT-duplicate clusters of
    ``column`` — the dedup observability report (how much of the corpus is
    clones, and in what multiplicities) that drives cap/threshold tuning.

    Clusters key on md5 so any engine reproduces them.  Scale: two
    aggregations, both map-side combinable (first keyed by content hash,
    second by the tiny cluster-size domain); no joins, no windows."""
    clusters = df.groupBy(F.md5(F.coalesce(F.col(column), F.lit(""))).alias("__k__")).agg(
        F.count("*").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )


def exact_dedup(df: DataFrame, columns: list[str] | str, id_col: str) -> DataFrame:
    """Keep the minimum-id row per exact key.  Window-min instead of
    groupBy+join: one shuffle, no row explosion, AQE-skew-safe."""
    if isinstance(columns, str):
        columns = [columns]
    w = Window.partitionBy(*columns)
    return (
        df.withColumn("__min_id__", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__min_id__"))
        .drop("__min_id__")
    )


def exact_dedup_soft_weights(
    df: DataFrame,
    columns: list[str] | str,
    id_col: str,
) -> DataFrame:
    """Soft dedup: KEEP every row but attach its exact-duplicate multiplicity
    and the reweighting factor ``weight = 1 / dup_count``.

    Down-weighting clones instead of dropping them preserves corpus
    diversity while equalizing each distinct content's total sampling mass —
    the approach several LLM corpus builds use when duplicates carry signal
    (popular pages ARE quality evidence) but must not dominate training.
    Pairs with the weighted samplers in ``operators/sampling.py``
    (``weighted_sample_ares`` consumes the weight column directly).

    Single window shuffle on the content key, AQE-skew-safe; adds columns
    ``dup_count`` (int) and ``weight`` (double, 6 dp) without dropping or
    reordering rows.

    ``id_col`` exists only for API symmetry with the other dedup operators
    (every family member takes ``(df, columns, id_col)``); soft weighting
    keeps all rows, so no per-id survivor choice is ever made and the
    column is not read.
    """
    if isinstance(columns, str):
        columns = [columns]
    w = Window.partitionBy(*columns)
    return df.withColumn(
        "dup_count", F.count("*").over(w).cast("int")
    ).withColumn("weight", F.round(F.lit(1.0) / F.col("dup_count"), 6))


def exact_dedup_keep_best(
    df: DataFrame,
    columns: list[str] | str,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Canonical selection (round 4): per exact key keep the HIGHEST-quality
    row (ties → minimum id) instead of exact_dedup's blind min-id survivor.

    Curation pipelines prefer this form when duplicates differ in extraction
    quality — e.g. the same page scraped twice, once with boilerplate — so
    the survivor should be the best-scoring copy, not the first-seen one.
    Same single-shuffle window shape as exact_dedup: row_number over
    (quality desc, id asc) per key; deterministic for any orderable quality
    column (prefer integer-valued scores: float quality computed differently
    across engines can flip near-tie orderings)."""
    if isinstance(columns, str):
        columns = [columns]
    w = Window.partitionBy(*columns).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dedup (exact similarity, LSH-free)
# --------------------------------------------------------------------------


def word_shingles(col: Column, n: int = 5) -> Column:
    """Distinct space-joined word n-grams as a native expression (\\w+ words;
    this operator's own tokenizer — intentionally not the reference's
    empty-keeping NON_ALPHA split).

    The tokenizer regex is bound to a lambda variable via a single-element
    ``transform`` so it evaluates ONCE per row; inlining it into the
    per-shingle ``slice`` lambda makes Catalyst re-run the regex for every
    shingle position (~tokens× slower — measured 10× on the bench corpus).
    """
    from chat_data_pipeline_spark.functions import text as T

    def shingle(tokens: Column) -> Column:
        k = F.size(tokens) - F.lit(n - 1)
        return F.when(
            k > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.array_join(F.slice(tokens, i, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(T.words(col)), shingle), 0)


def ngram_jaccard_edges(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    threshold: float = 0.7,
    max_shingle_freq: int | None = None,
    compute_partitions: int | None = None,
) -> DataFrame:
    """Exact-Jaccard candidate edges via shingle-inverted-index self-join.

    Scale levers: shingles above ``max_shingle_freq`` document-frequency are
    dropped before the self-join (a stop-shingle cap — giant postings lists
    produce quadratic candidate blowup while contributing no discrimination).

    ``compute_partitions`` (r18): explicit width for the tokenize+shingle
    stage, for callers whose ``df`` is a join (its optimizer size estimate
    is a child product, so the in-function size floor cannot bind) —
    ``ngram_jaccard_dedup`` derives it from the raw corpus projection.
    """
    # Postings carry xxhash64(shingle), not the 5-word string: the self-join
    # shuffles/broadcasts 8-byte keys instead of ~30-byte strings, and
    # set-intersection counts are unchanged barring 64-bit collisions
    # (~n²/2⁶⁵ — irrelevant at any feasible shingle count).  Materialized
    # once via localCheckpoint so the tokenize+shingle pass runs once, not
    # once per join side / pushed-down filter copy.  The tokenize+shingle
    # projection is the CPU-heavy part — spread it across cores first (no-op
    # when the scan already has enough splits).
    from chat_data_pipeline_spark.session import (
        COMPUTE_MIN_EST_BYTES,
        repartition_for_compute,
    )

    # Each posting row carries n_sh = |doc's distinct shingle set|, computed
    # natively from the shingle array BEFORE the explode (and before the
    # stop-shingle cap, so the Jaccard denominator stays the true set size —
    # the cap only prunes candidate generation).  Carrying the size on the
    # row replaces the r4 plan's separate sizes aggregate + checkpoint + two
    # denominator joins with +4 bytes per posting, and it is what makes the
    # size-bound prune below expressible inside the self-join condition.
    postings = (
        # size-floored width (r18, guide §2.1): the shingle build is native
        # expression work — at tiny input sizes core-count task sets cost
        # more to launch than they compute (measured 32c SLOWER than 8c at
        # sf0.1; width 6 beat width 32 by ~35%); the floor caps the fan at
        # ceil(est_bytes / 48 KB) and saturates to full width as the corpus
        # grows (the 10× probe corpus already clears it)
        repartition_for_compute(
            df.select(id_col, column),
            partitions=compute_partitions,
            min_est_bytes_per_partition=(
                None if compute_partitions else COMPUTE_MIN_EST_BYTES
            ),
        )
        .select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(column), ngram_size).alias("__sh__"),
        )
        .select("id", F.size("__sh__").alias("n_sh"), F.explode("__sh__").alias("shingle"))
        .select("id", "n_sh", F.xxhash64("shingle").alias("shingle"))
    )
    # LAZY (r17, guide §2.6): the pairable-list aggregation below is the
    # first action over the postings, so its eager checkpoint job doubles
    # as the postings materialization — the former eager form paid a
    # dedicated action for the same stored blocks.  The self-join's two
    # sides then read the cached blocks exactly as before.
    postings = postings.localCheckpoint(eager=False)
    # Document-frequency band [2, max_shingle_freq] as a pairable-list
    # semi-join (NOT a per-shingle window count: the r4 window version
    # required Exchange+Sort over the FULL postings and was computed twice
    # through the self-join's broadcast build side).  The lower bound is the
    # bigger lever: a df=1 shingle — the overwhelming majority in any
    # natural corpus (the Zipf tail) — can never produce a candidate pair,
    # so dropping singletons shrinks BOTH self-join inputs to just the
    # postings that can actually collide; the upper bound is the stop-
    # shingle cap (giant postings lists produce quadratic candidate blowup
    # with no discrimination).  Neither bound changes the result: the
    # Jaccard denominators use the precomputed n_sh, and the exact filter
    # below is authoritative.  The aggregate ships only map-side-combined
    # (shingle, count) partials; no F.broadcast hint — the pairable list
    # scales with duplicate-content volume, and AQE picks broadcast-vs-
    # shuffle from the runtime size instead of an optimistic hint OOMing
    # the driver.
    freq_ok = F.col("__df__") >= 2
    if max_shingle_freq is not None:
        freq_ok = freq_ok & (F.col("__df__") <= max_shingle_freq)
    pairable = (
        postings.groupBy("shingle")
        .agg(F.count("*").alias("__df__"))
        .filter(freq_ok)
        .select("shingle")
    )
    # checkpoint the pairable list so the df-aggregation runs once; without
    # it the self-join's build side re-runs the full postings aggregation
    pairable = pairable.localCheckpoint(eager=True)
    postings = postings.join(pairable, "shingle", "left_semi")
    a = postings.alias("a")
    b = postings.alias("b")
    # Size-bound (prefix-filter) prune INSIDE the join condition: the maximum
    # achievable Jaccard for set sizes (n1, n2) is min/max (smaller ⊆ larger),
    # so any pair with min/max < τ is dropped before it ever reaches the
    # pair-count aggregation — the standard similarity-join length filter.
    # The ratio form (not min >= τ·max) makes both engines round identically
    # at the τ boundary; the exact jaccard filter below is still authoritative.
    size_ok = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh")).cast("double")
        / F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
        >= F.lit(float(threshold))
    )
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & size_ok,
        )
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sim = inter.withColumn(
        "jaccard",
        F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter")),
    ).filter(F.col("jaccard") >= F.lit(float(threshold)))
    return sim.select(F.col("id1").alias("src"), F.col("id2").alias("dst"), "jaccard")


def ngram_jaccard_dedup(
    df: DataFrame,
    column: str,
    id_col: str,
    ngram_size: int = 5,
    threshold: float = 0.7,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact-Jaccard near-dedup: min-id survivor per similarity component.

    Exact-duplicate texts collapse to their min-id representative BEFORE the
    shingle self-join: clones are Jaccard-1.0 by definition, so the result is
    identical, while the candidate-pair count drops from O(clones²) per clone
    group to zero (a 20×-replicated corpus OOMed the pairwise aggregation
    without this).  The representative's component label is the global min id
    of the merged group, so the survivor choice is unchanged.

    EAGER: calling this executes the shingle self-join (the component search
    probe-collects its edge set — see
    ``connected_components_min_label``); don't construct it before you mean
    to run it.
    """
    key = F.xxhash64(F.coalesce(F.col(column), F.lit("")))
    members = df.select(F.col(id_col).alias("node"), key.alias("__k__"))
    reps = members.groupBy("__k__").agg(F.min("node").alias("rep"))
    # LAZY (r17, guide §2.6): first materialized as a side effect of the
    # pairable-list action inside ngram_jaccard_edges (whose postings build
    # consumes the mapping exactly once via rep_rows); the survivor
    # expansion below then reads the stored blocks.  With the postings
    # checkpoint also lazy, the row runs 3 sequential actions instead of 5.
    mapping = (
        members.join(reps, "__k__").select("node", "rep").localCheckpoint(eager=False)
    )

    rep_rows = df.join(
        mapping.filter(F.col("node") == F.col("rep")).select(F.col("node").alias(id_col)),
        id_col,
    )
    # the shingle stage's width comes from the RAW corpus projection's size
    # estimate (r18, guide §2.1): rep_rows is a join, whose estimate is a
    # child product — useless for sizing; reps ≤ docs so the corpus bytes
    # are the honest upper bound
    from chat_data_pipeline_spark.session import compute_width_estimate

    edges = ngram_jaccard_edges(
        rep_rows, column, id_col, ngram_size, threshold, max_shingle_freq,
        compute_partitions=compute_width_estimate(df.select(id_col, column)),
    ).select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    # src column holds the larger id after the swap; direction is irrelevant
    # to the undirected component search.
    labels = connected_components_min_label(edges)
    node_label = mapping.join(
        labels, mapping["rep"] == labels["node"], "left"
    ).select(
        mapping["node"],
        F.coalesce(labels["label"], mapping["rep"]).alias("label"),
    )
    dropped = node_label.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.join(dropped, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# SimHash near-dedup
# --------------------------------------------------------------------------


def _simhash64(text: str | None) -> int:
    """64-bit SimHash over \\w+ word tokens; token hash = first 8 bytes of
    md5 (engine-independent, deterministic)."""
    if not text:
        return 0
    counts = [0] * 64
    for tok in re.findall(r"\w+", text.lower()):
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for bit in range(64):
            counts[bit] += 1 if (h >> bit) & 1 else -1
    sig = 0
    for bit in range(64):
        if counts[bit] > 0:
            sig |= 1 << bit
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # to signed i64


def _simhash64_vectorized(text: str | None) -> int:
    """Same arithmetic as ``_simhash64`` with the per-bit tally vectorized
    (the 64-iteration Python loop per token dominated profiles ~4×)."""
    if not text:
        return 0
    toks = re.findall(r"\w+", text.lower())
    if not toks:
        return 0
    hs = np.frombuffer(
        b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks),
        dtype=">u8",
    ).astype(np.uint64)
    ones = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=0)
    counts = ones.astype(np.int64) * 2 - len(hs)
    sig = int(np.packbits((counts > 0)[::-1]).view(">u8")[0])
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def simhash_signature_col(col_name: str) -> Column:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def batch(s: pd.Series) -> pd.Series:
        return s.map(_simhash64_vectorized).astype("int64")

    return pandas_udf(batch, "long")(F.col(col_name))


def _validate_simhash_params(hamming_threshold: int, n_bands: int) -> None:
    """Raise BEFORE any computation: callers validate first so a bad
    parameter fails instantly instead of after the full-corpus signature
    job (an eager localCheckpoint) has already run."""
    if hamming_threshold >= n_bands:
        raise ValueError(
            f"pigeonhole requires hamming_threshold ({hamming_threshold}) < "
            f"n_bands ({n_bands}): pairs differing by one bit per band share "
            "no band and would silently never become candidates"
        )
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands ({n_bands}) must divide 64")


def simhash_dedup(
    df: DataFrame,
    column: str,
    id_col: str,
    hamming_threshold: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dedup: band the 64-bit signature into ``n_bands`` chunks
    (pigeonhole: any pair within ``hamming_threshold`` < n_bands shares ≥1
    exact band), verify candidates with native popcount, min-id survivor.

    EAGER: constructing the result executes the signature/banding pipeline
    (the component search probe-collects its edge set — see
    ``connected_components_min_label``)."""
    _validate_simhash_params(hamming_threshold, n_bands)
    from chat_data_pipeline_spark.session import repartition_for_compute

    # materialized once: the banded self-join references sigs on BOTH sides,
    # which would otherwise run the signature UDF twice over the corpus.
    # Lazy (eager=False): the first downstream action both computes and
    # stores the blocks, saving the dedicated materialization job an eager
    # checkpoint schedules (~0.4 s of fixed cost at sf0.1).
    all_sigs = (
        repartition_for_compute(df.select(F.col(id_col).alias("id"), F.col(column)))
        .select("id", simhash_signature_col(column).alias("sig"))
        .localCheckpoint(eager=False)
    )
    return _simhash_dedup_from_sigs(df, all_sigs, id_col, hamming_threshold, n_bands)


def _simhash_dedup_from_sigs(
    df: DataFrame,
    all_sigs: DataFrame,
    id_col: str,
    hamming_threshold: int,
    n_bands: int,
) -> DataFrame:
    """Shared SimHash downstream over ``all_sigs(id, sig)``: hamming-0
    collapse → banded pigeonhole candidates → popcount verify → min-label
    CC → survivor expansion → anti-join.  Both the pandas-UDF production
    signature (:func:`simhash_dedup`) and the native md5 twin
    (:func:`simhash_dedup_md5`) run THIS code, so the twin's DuckDB oracle
    value-hashes the banding/verify/CC pipeline end to end."""
    _validate_simhash_params(hamming_threshold, n_bands)
    # hamming-0 groups (exact clones included) collapse to their min-id
    # representative before the banded self-join — identical signatures are
    # one component by definition, and clone groups otherwise contribute
    # O(group²) candidate pairs.  Lazily checkpointed: the edge probe and
    # the survivor-expansion join both read it; without the checkpoint the
    # collapse groupBy re-runs in the second action.
    sigs = (
        all_sigs.groupBy("sig")
        .agg(F.min("id").alias("id"))
        .select("id", "sig")
        .localCheckpoint(eager=False)
    )
    width = 64 // n_bands
    bands = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("sig", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "sig", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a = bands.alias("a")
    b = bands.alias("b")
    # no .distinct() on the candidates: a pair colliding in several bands is
    # emitted once per band, and both CC executions are idempotent to
    # duplicate edges (driver union-find no-ops a repeated union; the
    # distributed loop min-aggregates) — the dedup exchange cost more than
    # the duplicate rows it removed (measured ~0.3 s at sf0.1)
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("src"),
        F.col("b.id").alias("dst"),
        F.col("a.sig").alias("sig1"),
        F.col("b.sig").alias("sig2"),
    )
    edges = cand.filter(
        F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))) <= hamming_threshold
    ).select("src", "dst")
    labels = connected_components_min_label(edges)
    # expand representative labels back over their hamming-0 group members
    mapping = all_sigs.join(
        sigs.select(F.col("sig"), F.col("id").alias("rep")), "sig"
    ).select(F.col("id").alias("member"), "rep")
    node_label = mapping.join(labels, mapping["rep"] == labels["node"], "left").select(
        F.col("member"),
        F.coalesce(labels["label"], F.col("rep")).alias("label"),
    )
    dropped = node_label.filter(F.col("member") != F.col("label")).select(
        F.col("member").alias(id_col)
    )
    return df.join(dropped, on=id_col, how="left_anti")


def simhash_md5_signatures(df: DataFrame, column: str, id_col: str) -> DataFrame:
    """``(id, sig)`` 64-bit SimHash signatures as pure Column code — the
    EXACT arithmetic of :func:`_simhash64` (md5-first-8-bytes token hashes,
    per-bit majority vote) with the per-token tally as a map-side-combinable
    64-sum aggregation instead of a pandas UDF.  Every step is DuckDB-
    expressible, which is what buys the oracle twin; on ASCII text the
    tokenizations agree, so the signatures equal the production UDF's
    bit-for-bit (asserted in tests).

    Token hash bit k of ``int.from_bytes(md5(tok)[:8], 'big')``: bits 0-31
    live in hex chars 9-16 (lo word), bits 32-63 in chars 1-8 (hi word) —
    the hex string IS the big-endian byte order.  Docs with no tokens get
    sig 0 (the reference arithmetic's empty-input value).

    Lane packing: the per-bit tally is NOT 64 separate ``sum`` aggregates
    (65 agg buffers measured 4.8 s at sf0.1 — the agg fan-out, not the
    shuffle, was the cost).  Each token packs 2 vote bits into each of 32
    longs at 31-bit lane offsets (0/31), so the groupBy carries 32 packed
    sums + the count — 33 buffers — and the per-bit ones-counts are
    recovered afterwards with unsigned shifts.  Lanes never carry into
    each other while every lane sum < 2^31 — i.e. at ANY realistic
    document length, with no guard needed (an earlier 4×15-bit packing
    capped docs at 32767 tokens and hard-aborted past it — a regression a
    book-length document would hit; the 2×31 layout costs ~10% more agg
    CPU and removes the bound).  Top lane peaks below bit 62, clear of
    ANSI long-overflow.  Integer sums are exact, so the signatures — and
    the DuckDB oracle, which tallies per-bit its own way — are unchanged
    bit-for-bit.
    """
    from chat_data_pipeline_spark.functions import text as T
    from chat_data_pipeline_spark.session import repartition_for_compute

    toks = repartition_for_compute(df.select(id_col, column)).select(
        F.col(id_col).alias("id"),
        F.explode(T.words(F.col(column))).alias("__t__"),
    )
    # nibble-spread packing: hex char c (1-based) of the md5 string holds
    # hash bits 64-4c .. 64-4c+3, so nibble 16-p carries bits 4p..4p+3 —
    # spread across two longs (low pair at offsets 0/31, high pair
    # likewise) via 16-entry literal-array lookups.  One 1-char conv + two
    # lookups per nibble replaces the 64 shift/and bit extractions
    # (verified bit-identical; ~15% cheaper per row).
    spread_lo = F.array(
        *[F.lit((n & 1) | ((n >> 1) & 1) << 31) for n in range(16)]
    )
    spread_hi = F.array(
        *[F.lit(((n >> 2) & 1) | ((n >> 3) & 1) << 31) for n in range(16)]
    )
    md5c = F.md5("__t__")

    # one 32-element array via two transform() HOFs instead of 32 unrolled
    # projection columns (each re-inlining its 16-literal lookup array):
    # same per-nibble conv + element_at arithmetic, ~5× fewer expression
    # nodes, which cut ~0.2 s of Catalyst planning per signature action
    # with no measured execution cost (verified bit-identical at sf0.1).
    def nib_of(p: Column) -> Column:
        return (
            F.conv(F.substring(md5c, F.lit(16) - p, F.lit(1)), 16, 10).cast("int") + 1
        )

    nib_seq = F.sequence(F.lit(0), F.lit(15))
    packed_rows = toks.select(
        "id",
        F.concat(
            F.transform(nib_seq, lambda p: F.element_at(spread_lo, nib_of(p))),
            F.transform(nib_seq, lambda p: F.element_at(spread_hi, nib_of(p))),
        ).alias("__arr__"),
    )
    agg = packed_rows.groupBy("id").agg(
        F.count("*").alias("__n__"),
        *[
            F.sum(F.element_at("__arr__", p + 1)).alias(f"__pa{p}__")
            for p in range(16)
        ],
        *[
            F.sum(F.element_at("__arr__", 16 + p + 1)).alias(f"__pb{p}__")
            for p in range(16)
        ],
    )

    # majority vote: counts[k] = 2*ones - n > 0  (ref arithmetic in
    # _simhash64); pack the 64 vote bits back into one signed long.  The
    # unrolled 64-term bitwiseOR chain (~700 expression nodes) cost ~0.8 s
    # of Catalyst planning PER ACTION on the signature plan; the same
    # arithmetic as an `aggregate` over sequence(63..0) is ~30 nodes and
    # plans in milliseconds.  Bit k's ones-count lives in packed lane
    # 2*(k>>2) + ((k&3)>>1) at in-lane offset 31*(k&1); iterating high bit
    # first, acc = (acc << 1) | vote reconstructs the identical signature —
    # the k=63 vote reaches the sign bit via the final shifts, wrapping
    # negative exactly like the production signature's to-signed conversion
    # (shiftleft wraps, so ANSI mode never sees an overflow).
    lanes = F.array(
        *[c for p in range(16) for c in (F.col(f"__pa{p}__"), F.col(f"__pb{p}__"))]
    )

    def _vote_step(acc: Column, k: Column) -> Column:
        idx = F.shiftright(k, 2) * F.lit(2) + F.shiftright(k.bitwiseAND(F.lit(3)), 1)
        lane = F.element_at(lanes, idx + F.lit(1))
        ones = (
            F.when(k.bitwiseAND(F.lit(1)) == F.lit(1), F.shiftrightunsigned(lane, 31))
            .otherwise(lane)
            .bitwiseAND(F.lit(0x7FFFFFFF))
        )
        vote = (F.lit(2) * ones > F.col("__n__")).cast("long")
        return F.shiftleft(acc, 1).bitwiseOR(vote)

    sig = F.aggregate(
        F.sequence(F.lit(63), F.lit(0), F.lit(-1)), F.lit(0).cast("long"), _vote_step
    )
    sig_rows = agg.select("id", sig.alias("sig"))
    # token-free docs never reach the aggregation; they carry sig 0
    return (
        df.select(F.col(id_col).alias("id"))
        .join(sig_rows, "id", "left")
        .select("id", F.coalesce("sig", F.lit(0).cast("long")).alias("sig"))
    )


def simhash_dedup_md5(
    df: DataFrame,
    column: str,
    id_col: str,
    hamming_threshold: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dedup with natively-computed signatures — the ORACLE
    TWIN of :func:`simhash_dedup`.

    Same banding/verify/CC downstream (:func:`_simhash_dedup_from_sigs`),
    same signature ARITHMETIC; the signature just runs as Column
    expressions instead of a pandas UDF, so a DuckDB oracle can recompute
    the full pipeline — per-bit majority votes, 16-bit band chunks,
    pigeonhole candidates, popcount verify, connected components, min-id
    survivors — and value-hash it cross-engine.
    """
    _validate_simhash_params(hamming_threshold, n_bands)
    # lazy checkpoint: the edge-probe action materializes the signatures as a
    # side effect; the survivor-expansion joins then reuse the stored blocks
    all_sigs = simhash_md5_signatures(df, column, id_col).localCheckpoint(eager=False)
    return _simhash_dedup_from_sigs(df, all_sigs, id_col, hamming_threshold, n_bands)
