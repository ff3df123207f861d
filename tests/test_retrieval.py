"""Round-4 operators: BM25 probe scoring, top-k n-grams, keep-best canonical
selection, temperature group rebalancing.

Differential strategy mirrors the rest of the suite: a plain-Python
reimplementation of the published algorithm checks the Column-expression
plans on constructed corpora (the duckdb oracle covers the sf-scale paths
via tests/test_oracle_parity.py)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup as D
from chat_data_pipeline_spark.operators import retrieval as RT
from chat_data_pipeline_spark.operators import sampling as S
from chat_data_pipeline_spark.operators import store as ST

DOCS = [
    (0, "spark shuffles the hash join across the cluster"),
    (1, "a hash join beats a sort merge join on small builds"),
    (2, "window functions sort within partitions"),
    (3, "no relevant terms here at all"),
    (4, ""),
]


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    import re

    toks = {i: re.findall(r"[^\W]+", t.lower(), re.UNICODE) for i, t in docs}
    dls = {i: len(ws) for i, ws in toks.items()}
    n = len(docs)
    avgdl = sum(dls.values()) / n
    tf = {}
    for i, ws in toks.items():
        for t in ws:
            if t in terms:
                tf[(i, t)] = tf.get((i, t), 0) + 1
    df = {}
    for (_i, t), _c in tf.items():
        df[t] = df.get(t, 0) + 1
    out = {}
    for (i, t), c in tf.items():
        idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
        contrib = idf * c * (k1 + 1.0) / (c + k1 * (1.0 - b + b * dls[i] / avgdl))
        out[i] = out.get(i, 0) + round(contrib * 1e9)
    return {i: round(v / 1e9, 6) for i, v in out.items()}


def test_bm25_matches_python_reference(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    terms = ["join", "hash", "sort"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in RT.bm25_scores(df, terms, "text", "doc_id").collect()
    }
    want = _py_bm25(DOCS, set(terms))
    assert got == pytest.approx(want)
    # doc 3 and the empty doc match no terms → absent
    assert 3 not in got and 4 not in got
    # doc 1 has join twice + hash — highest score
    assert max(got, key=got.get) == 1


def test_bm25_rejects_empty_query(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with pytest.raises(ValueError):
        RT.bm25_scores(df, [], "text", "doc_id")


def test_top_ngrams_counts_and_tiebreak(spark):
    rows = [(0, "a b a b c"), (1, "a b x"), (2, "zz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["ngram"], r["n_occurrences"]) for r in RT.top_ngrams(df, "text", n=2, k=3).collect()]
    # bigram stream: doc0 -> a b, b a, a b, b c ; doc1 -> a b, b x ; doc2 -> none
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)]  # ties broken lexicographically


def test_top_ngrams_short_docs_yield_nothing(spark):
    df = spark.createDataFrame([(0, "solo")], ["doc_id", "text"])
    assert RT.top_ngrams(df, "text", n=2, k=5).count() == 0


def test_keep_best_survivor_quality_then_id(spark):
    rows = [
        (10, "k1", 5),
        (11, "k1", 9),  # best quality in k1 → survives
        (12, "k1", 9),  # tie with 11 → larger id loses
        (20, "k2", 1),  # singleton survives
    ]
    df = spark.createDataFrame(rows, ["ids", "key", "q"])
    got = sorted(
        r["ids"] for r in D.exact_dedup_keep_best(df, "key", "q", "ids").collect()
    )
    assert got == [11, 20]


def test_temperature_sample_flattens_skew(spark):
    # 90/10 skew: alpha=0.3 must cut the dominant group's SHARE, not just size
    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["ids", "grp"])
    out = S.temperature_sample(df, "grp", "ids", alpha=0.3, target_frac=0.5)
    by = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # exact quotas: T=50, z=90^.3+10^.3; q_g = min(c_g, floor(T*c^.3/z))
    z = 90**0.3 + 10**0.3
    assert by["big"] == min(90, math.floor(50 * 90**0.3 / z))
    assert by["small"] == min(10, math.floor(50 * 10**0.3 / z))
    assert by["big"] / by["small"] < 90 / 10  # flatter than the input ratio


def test_temperature_sample_partitioning_invariant(spark):
    rows = [(i, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, ["ids", "grp"])
    a = sorted(r["ids"] for r in S.temperature_sample(df, "grp", "ids").collect())
    b = sorted(
        r["ids"]
        for r in S.temperature_sample(df.repartition(7), "grp", "ids").collect()
    )
    assert a == b and len(a) > 0


# --------------------------------------------------------------------------
# A-Res weighted sampling / cluster histogram / script mix (round 5)
# --------------------------------------------------------------------------


def test_weighted_sample_invariants(spark):
    from chat_data_pipeline_spark.operators.sampling import weighted_sample_topk

    rows = [(i, (i % 10) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample_topk(df, "w", "doc_id", k=50).collect()
    assert len(out) == 50
    keys = [r.sample_key for r in out]
    assert keys == sorted(keys, reverse=True)
    # determinism + partition invariance (md5 draw, not rand())
    out2 = weighted_sample_topk(df.repartition(7), "w", "doc_id", k=50).collect()
    assert [(r.doc_id, r.sample_key) for r in out] == [
        (r.doc_id, r.sample_key) for r in out2
    ]
    # weight bias: average weight of the sample must beat the population's
    pop_mean = sum(w for _, w in rows) / len(rows)
    samp_mean = sum(r.w for r in out) / len(out)
    assert samp_mean > pop_mean


def test_weighted_sample_nonpositive_weight_never_wins(spark):
    from chat_data_pipeline_spark.operators.sampling import weighted_sample_topk

    rows = [(1, 0), (2, None), (3, 5), (4, 5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample_topk(df, "w", "doc_id", k=2).collect()
    assert sorted(r.doc_id for r in out) == [3, 4]


def test_weighted_sample_null_ids_distinct_weights_deterministic(spark):
    """r11 ADVICE fix: NULL-id rows with DISTINCT weights draw distinct
    md5(sentinel||weight) keys, so the selected (weight, key) multiset is
    deterministic and partition-invariant — the old shared-sentinel draw
    made the top-k cut among NULL-id rows partition-order-dependent."""
    from chat_data_pipeline_spark.operators.sampling import weighted_sample_topk

    rows = [(None, w) for w in range(1, 21)] + [(100 + i, 3) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample_topk(df, "w", "doc_id", k=8)
    got = sorted((r.w, r.sample_key, r.doc_id) for r in out.collect())
    # distinct weights => distinct draws => distinct keys among NULL ids
    null_keys = [k for (w, k, d) in got if d is None]
    assert len(set(null_keys)) == len(null_keys)
    for n_parts in (1, 3, 13):
        again = sorted(
            (r.w, r.sample_key, r.doc_id)
            for r in weighted_sample_topk(
                df.repartition(n_parts), "w", "doc_id", k=8
            ).collect()
        )
        assert again == got, n_parts


def test_cluster_histogram_counts(spark):
    from chat_data_pipeline_spark.operators.dedup import cluster_size_histogram

    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c"), (7, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hist = {r.cluster_size: r.n_clusters for r in cluster_size_histogram(df, "text").collect()}
    # None coalesces to "" -> its own singleton cluster
    assert hist == {3: 1, 2: 1, 1: 2}
    assert sum(s * n for s, n in hist.items()) == len(rows)


def test_script_mix_ratios(spark):
    from chat_data_pipeline_spark.functions.analysis import script_mix
    from pyspark.sql import functions as F

    rows = [(1, "abcd56"), (2, "一丁ab"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.latin_ratio, r.cjk_ratio, r.digit_ratio)
        for r in df.select("doc_id", *script_mix(F.col("text"))).collect()
    }
    assert got[1] == (round(4 / 6, 6), 0.0, round(2 / 6, 6))
    assert got[2] == (0.5, 0.5, 0.0)
    assert got[3] == (0.0, 0.0, 0.0)
    assert got[4] == (0.0, 0.0, 0.0)


# --------------------------------------------------------------------------
# Round-10 review hardening: NULL keys are first-class, A-Res resolution
# --------------------------------------------------------------------------


def test_temperature_sample_null_group_downsampled_not_deleted(spark):
    """A NULL group is counted into N/Z and gets a quota row, so the join
    back must be null-safe: its rows are DOWNSAMPLED like any group, not
    silently deleted (which also skewed every real group's quota)."""
    import chat_data_pipeline_spark.operators.sampling as S

    rows = [(i, "en" if i % 2 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "ids long, grp string")
    out = S.temperature_sample(df, "grp", "ids", alpha=0.3, target_frac=0.5)
    got = out.groupBy("grp").count().collect()
    by = {r.grp: r["count"] for r in got}
    assert by.get(None, 0) > 0  # NULL group survives
    assert abs(by[None] - by["en"]) <= 1  # equal-sized groups, equal quotas


def test_hash_split_null_ids_follow_the_hash_not_the_last_split(spark):
    """The md5 draw coalesces NULL ids to a sentinel, so NULL-id rows land
    in the split the sentinel's hash selects (deterministically, together)
    — not systematically in the LAST split via NULL fall-through."""
    import chat_data_pipeline_spark.operators.sampling as S

    df = spark.createDataFrame(
        [(None,), ("a",), ("b",)], "doc_id string"
    )
    out = {r.doc_id: r.split for r in S.hash_split(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()}
    # sentinel chr(31)+'<null>' hashes to u ~ 0.888 -> 'val', not 'test'
    assert out[None] == "val"


def test_sample_stratified_fraction_one_keeps_null_ids(spark):
    import chat_data_pipeline_spark.operators.sampling as S

    df = spark.createDataFrame(
        [(None, "en"), ("a", "en"), ("b", "zh")], "doc_id string, lang string"
    )
    kept = S.sample_stratified(df, "lang", {"en": 1.0}, "doc_id").collect()
    assert sorted((r.doc_id for r in kept if r.lang == "en"), key=str) == [None, "a"]


def test_weighted_sample_large_weights_stay_weight_proportional(spark):
    """Regression for the nanos-resolution collapse: at token-count weight
    magnitudes (~1e9) the raw u^(1/w) key rounded to 1e9 for ~39% of rows
    and the id tie-break chose the sample.  The max-normalized exponent
    keeps heavy rows decisively ahead of light ones at any magnitude."""
    import chat_data_pipeline_spark.operators.sampling as S

    # light rows get the SMALL ids: under key-collapse the id tie-break
    # would hand them the whole sample
    rows = [(i, 10) for i in range(100)] + [(100 + i, 10**9) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = S.weighted_sample_topk(df, "w", "doc_id", k=50).collect()
    heavy = sum(1 for r in out if r.w == 10**9)
    assert heavy == 50  # exponent ratio 1e8: every heavy key dwarfs light ones


def test_weighted_sample_all_nonpositive_is_empty(spark):
    import chat_data_pipeline_spark.operators.sampling as S

    df = spark.createDataFrame([(1, 0), (2, None)], "doc_id long, w long")
    assert S.weighted_sample_topk(df, "w", "doc_id", k=5).count() == 0


def test_sample_proportional_length_mismatch_raises(spark):
    import pytest as _pytest

    import chat_data_pipeline_spark.operators.sampling as S

    df = spark.createDataFrame([(1, "a")], "ids long, grp string")
    with _pytest.raises(ValueError, match="proportions"):
        S.sample_proportional([df, df, df], [0.5, 0.5], 10, "grp", "ids")


# --- persisted BM25 text index (r12) -----------------------------------------


def test_bm25_indexed_matches_self_contained(spark, tmp_path):
    """Load-and-probe over the persisted index is bit-identical to
    bm25_scores over the same corpus (same tf/dl/df/n/avgdl inputs, same
    nano-rounded contribution arithmetic)."""
    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash", "scan", "window", "sort"]
    idx = str(tmp_path / "bm25_idx")
    RT.build_text_index(docs, idx)
    got = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
    want = sorted(map(tuple, RT.bm25_scores(docs, terms).collect()))
    assert got == want and len(got) > 0


def test_bm25_index_extension_is_exact(spark, tmp_path):
    """Every BM25 ingredient is a per-doc fact or an integer-additive
    global, so base + extension probes are bit-identical to a full rebuild
    over the union — and a replayed delivery overwrites its own batch."""
    from chat_data_pipeline_spark.operators import retrieval as RT
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash", "scan"]
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    RT.build_text_index(half_a, inc)
    RT.extend_text_index(half_b, inc, batch_id=1)
    RT.build_text_index(docs, full)
    got = sorted(map(tuple, RT.bm25_topk_indexed(spark, inc, terms).collect()))
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, full, terms).collect()))
    assert got == want and len(got) > 0
    # replay: same batch id delivered twice leaves the index unchanged
    n1 = spark.read.parquet(f"{inc}/postings").count()
    RT.extend_text_index(half_b, inc, batch_id=1)
    assert spark.read.parquet(f"{inc}/postings").count() == n1
    again = sorted(map(tuple, RT.bm25_topk_indexed(spark, inc, terms).collect()))
    assert again == got
    # a rebuild clears stale extensions
    RT.build_text_index(half_a, inc)
    batches = {
        r.batch
        for r in spark.read.parquet(f"{inc}/postings").select("batch").distinct().collect()
    }
    assert batches == {"base"}


def test_bm25_indexed_probe_prunes_term_buckets(spark, tmp_path):
    """The probe's literal IN on the md5 term-bucket partition column must
    prune at the listing: corrupt every data file OUTSIDE the probed
    buckets — the probe still answers, a full scan fails."""
    import glob

    import pytest

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash"]
    idx = str(tmp_path / "prune_idx")
    RT.build_text_index(docs, idx)
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
    keep = {str(RT._term_bucket_py(t)) for t in terms}
    corrupted = 0
    for f in glob.glob(f"{idx}/postings/batch=*/bkt=*/part-*"):
        if f.split("/bkt=")[1].split("/")[0] not in keep:
            with open(f, "wb") as fh:
                fh.write(b"not parquet")
            corrupted += 1
    assert corrupted > 0
    got = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
    assert got == want
    with pytest.raises(Exception):
        spark.read.parquet(f"{idx}/postings").count()


def test_index_write_parallelism_decouples_from_bucket_count(spark):
    """The r12 bucket-clustered index writes bounded the FILE count to
    O(buckets) but also funneled the corpus-sized write through ≤ #buckets
    tasks (the 100 TB scale-killer the r12 verdict named).  The salted
    clustering must spread the write stage past the bucket count while a
    bare bucket repartition cannot."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT

    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    # AQE coalesces this test's tiny shuffle to 1 partition either way; at
    # scale it can't coalesce below its size targets, and the ceiling under
    # test is KEY DIVERSITY — rows sharing a bkt can never split across
    # tasks, no matter the executor count.  Disable coalescing so non-empty
    # partition counts read that diversity directly.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # bkt must come from a hash INDEPENDENT of the salt's xxhash64
        # (production buckets are md5-based, as here): a bkt derived from
        # the same hash would make (bkt, salt) collapse to #bkt combos
        rows = spark.range(5000).select(
            F.concat(F.lit("t"), F.col("id")).alias("term"),
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("t"), F.col("id"))), 1, 2), 16, 10)
                .cast("int")
                % 64
            ).alias("bkt"),
        )

        def nonempty(df):
            return (
                df.select(F.spark_partition_id().alias("p"))
                .groupBy("p")
                .count()
                .count()
            )

        bare = nonempty(rows.repartition(F.col("bkt")))
        salted = nonempty(
            ST.cluster_for_partitioned_write(rows, ["bkt"], F.col("term"))
        )
        assert bare <= 64  # the ceiling the bare clustering imposes
        assert salted > 64  # the salt breaks it
        # salt=1 degenerates to the bare clustering (byte-identical shape)
        assert (
            nonempty(
                ST.cluster_for_partitioned_write(
                    rows, ["bkt"], F.col("term"), write_salt=1
                )
            )
            <= 64
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_coal)


def test_index_file_count_stays_bounded_by_salt(spark, tmp_path):
    """Salting must not reintroduce the tasks × dirs metadata bomb: each
    bkt dir holds ≤ WRITE_SALT data files."""
    import glob

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "salted_idx")
    RT.build_text_index(docs, idx)
    for d in glob.glob(f"{idx}/postings/batch=base/bkt=*"):
        n = len(glob.glob(f"{d}/part-*"))
        assert 1 <= n <= ST.WRITE_SALT, f"{d} has {n} files"


def test_extend_rejects_reserved_and_unsafe_batch_ids(spark, tmp_path):
    """batch_id='base' would silently overwrite the base build; ids with
    '/' or '=' corrupt the hive layout — both must fail loudly."""
    import pytest as _pytest

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "guard_idx")
    RT.build_text_index(docs.limit(20), idx)
    for bad in ("base", "a/b", "x=y", "a b", ""):
        with _pytest.raises(ValueError):
            RT.extend_text_index(docs.limit(5), idx, batch_id=bad)
    # the sibling IVF extension shares the validator
    assert ST.validate_batch_id("delivery-2026.08_15") == "delivery-2026.08_15"


def test_text_index_meta_is_the_commit_marker(spark, tmp_path):
    """meta must be written LAST (matching build_ivf_index): a build that
    dies midway leaves no fresh meta, so a probe of the partial root fails
    loudly instead of serving postings that disagree with stale meta."""
    import os

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "commit_idx")
    RT.build_text_index(docs.limit(50), idx)
    meta_t = os.path.getmtime(f"{idx}/meta/_SUCCESS")
    for artifact in ("postings", "dfreq", "stats"):
        assert meta_t >= os.path.getmtime(f"{idx}/{artifact}/_SUCCESS")


def test_index_rebuild_clears_extensions_under_dynamic_overwrite(spark, tmp_path):
    """The 'rebuild clears stale extension batches' guarantee must not
    depend on the session's partitionOverwriteMode: pin static per-write so
    a dynamic-configured session (common in production) can't leave probes
    silently serving stale extensions after a base rebuild."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        idx = str(tmp_path / "dyn_idx")
        RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
        RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id=1)
        RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)  # rebuild
        batches = {
            r.batch
            for r in spark.read.parquet(f"{idx}/postings")
            .select("batch")
            .distinct()
            .collect()
        }
        assert batches == {"base"}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_bm25_topk_indexed_k_takes_ordered_head(spark, tmp_path):
    """k bounds the served result to the top-k by (bm25 desc, id asc) and
    compiles to TakeOrderedAndProject — never a global sort — so a
    common-term probe can't return a corpus-sized result."""
    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash", "scan", "window", "sort"]
    idx = str(tmp_path / "topk_idx")
    RT.build_text_index(docs, idx)
    full = RT.bm25_topk_indexed(spark, idx, terms).collect()
    want = sorted(full, key=lambda r: (-r.bm25, r.doc_id))[:5]
    topk = RT.bm25_topk_indexed(spark, idx, terms, k=5)
    got = topk.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort snuck in beside the top-k


def test_bm25_batch_serving_matches_single_probes(spark, tmp_path):
    """One-pass batch serving must be bit-identical to issuing each query
    through bm25_topk_indexed individually (same per-(doc, term) nano
    contributions, same tie-break), and the query-table guard must bite."""
    import pytest as _pytest

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "batch_idx")
    RT.build_text_index(docs, idx)
    bags = {0: ["join", "hash"], 1: ["scan", "window", "sort"], 2: ["hash", "sort"]}
    queries = spark.createDataFrame(
        [(q, ts) for q, ts in bags.items()], "query_id long, terms array<string>"
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in RT.bm25_topk_indexed_batch(spark, idx, queries, k=5).collect()
    }
    want = {}
    for q, ts in bags.items():
        for i, r in enumerate(
            RT.bm25_topk_indexed(spark, idx, ts, k=5).collect(), start=1
        ):
            want[(q, i)] = (r.doc_id, r.bm25)
    assert got == want and len(got) == 15

    with _pytest.raises(ValueError, match="max_query_rows"):
        RT.bm25_topk_indexed_batch(spark, idx, queries, k=5, max_query_rows=2)
    empty = spark.createDataFrame([(9, [])], "query_id long, terms array<string>")
    with _pytest.raises(ValueError, match="no query terms"):
        RT.bm25_topk_indexed_batch(spark, idx, empty)

    # case-variant duplicates dedup AFTER lowercasing (r13 ADVICE): a query
    # carrying ['Hash', 'hash'] scores the term ONCE, bit-identical to the
    # single-query path over ['hash'] — not double-counted
    cased = spark.createDataFrame(
        [(7, ["Hash", "hash", "JOIN"])], "query_id long, terms array<string>"
    )
    got_cased = [
        (r.doc_id, r.bm25)
        for r in RT.bm25_topk_indexed_batch(spark, idx, cased, k=5)
        .orderBy("rank")
        .collect()
    ]
    want_cased = [
        (r.doc_id, r.bm25)
        for r in RT.bm25_topk_indexed(spark, idx, ["hash", "join"], k=5).collect()
    ]
    assert got_cased == want_cased

    # a NULL terms array raises like an empty one (the single-query
    # contract) — the query must not silently vanish from the output
    nulled = spark.createDataFrame(
        [(3, ["join"]), (8, None)], "query_id long, terms array<string>"
    )
    with _pytest.raises(ValueError, match="no query terms for rows \\[8\\]"):
        RT.bm25_topk_indexed_batch(spark, idx, nulled)


def test_uncommitted_extension_is_invisible_to_probes(spark, tmp_path):
    """Extensions write three artifacts non-atomically; a crash after the
    postings land but before df/stats would silently skew scores (tf
    present, df missing).  The per-batch commit marker — written LAST —
    makes a half-delivered batch invisible: probes read only
    ledger-committed batches, and a replay re-commits it."""
    import os

    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    terms = ["join", "hash", "scan"]
    idx = str(tmp_path / "crash_idx")
    RT.build_text_index(half_a, idx)
    base_only = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))

    # deliver, then simulate a crash-before-commit by deleting the marker
    RT.extend_text_index(half_b, idx, batch_id=1)
    full = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
    assert full != base_only
    os.remove(f"{idx}/batches/1")
    assert (
        sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
        == base_only
    )
    # batch serving honors the same ledger
    q = spark.createDataFrame([(0, terms)], "query_id long, terms array<string>")
    visible = {
        r.doc_id
        for r in RT.bm25_topk_indexed_batch(spark, idx, q, k=10_000).collect()
    }
    assert visible and all(d % 2 == 0 for d in visible)  # only base docs
    # replay re-commits: the delivery becomes visible again, bit-identical
    RT.extend_text_index(half_b, idx, batch_id=1)
    assert (
        sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect())) == full
    )


def test_compact_text_index_bit_identical_probes(spark, tmp_path):
    """LSM-style maintenance: base + two deliveries compact into one fresh
    base whose probes are bit-identical (BM25's ingredients are per-doc
    facts and integer-additive globals), the ledger resets, and a further
    delivery extends the compacted index normally.  Both in-place and
    write-then-swap (dst_index) flavors."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash", "scan", "window", "sort"]
    idx = str(tmp_path / "lsm_idx")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 1), idx, batch_id=1)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 2), idx, batch_id=2)
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))

    # write-then-swap flavor first (reads idx, writes fresh root)
    swapped = str(tmp_path / "lsm_idx_v2")
    RT.compact_text_index(spark, idx, dst_index=swapped)
    got_sw = sorted(map(tuple, RT.bm25_topk_indexed(spark, swapped, terms).collect()))
    assert got_sw == want

    # in-place flavor
    RT.compact_text_index(spark, idx)
    got = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect()))
    assert got == want
    batches = {
        r.batch
        for r in spark.read.parquet(f"{idx}/postings").select("batch").distinct().collect()
    }
    assert batches == {"base"}  # single-batch probe cost restored
    assert ST.committed_batches(spark, idx) == ["base"]

    # the compacted index keeps extending normally
    extra = spark.createDataFrame(
        [(10_000, "a fresh hash join window document")], "doc_id long, text string"
    )
    RT.extend_text_index(extra, idx, batch_id="post-compact")
    after = {r.doc_id for r in RT.bm25_topk_indexed(spark, idx, terms).collect()}
    assert 10_000 in after and {t[0] for t in want} <= after


def test_rebuild_crash_leaves_no_servable_meta(spark, tmp_path):
    """r13 ADVICE: the meta-last commit marker protected only FIRST builds —
    an in-place REBUILD crashing between the postings overwrite and the
    ledger reset used to leave the OLD meta + OLD ledger intact, so probes
    silently merged the partial new base with stale extension state.  Meta
    is now deleted FIRST (invalidate_index_meta), making the whole rebuild
    window meta-less: a crash anywhere inside it fails every probe loudly,
    and a completed rebuild restores service."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    terms = ["join", "hash", "scan"]
    idx = str(tmp_path / "rebuild_crash_idx")
    RT.build_text_index(half_a, idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id=1)
    assert RT.bm25_topk_indexed(spark, idx, terms, k=5).count() == 5

    # a rebuild's FIRST action: the index enters the meta-less window
    ST.invalidate_index_meta(spark, idx)
    with _pytest.raises((AnalysisException, Py4JJavaError)):
        RT.bm25_topk_indexed(spark, idx, terms, k=5).collect()

    # a completed rebuild over the full corpus restores service and equals
    # a fresh build at a clean path
    RT.build_text_index(docs, idx)
    clean = str(tmp_path / "clean_idx")
    RT.build_text_index(docs, clean)
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, terms).collect())
    ) == sorted(map(tuple, RT.bm25_topk_indexed(spark, clean, terms).collect()))


def test_index_alias_write_then_swap_cutover(spark, tmp_path):
    """The write-then-swap story's last step made an operator (r14): probes
    resolve a versioned pointer directory; a swap stages the new pointer
    under _tmp and renames it into place, so readers see the old root or
    the new one, never a half-written pointer; a swap onto a meta-less
    (mid-rebuild) root is refused."""
    import pytest as _pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    terms = ["join", "hash", "scan"]
    v1, v2 = str(tmp_path / "idx_v1"), str(tmp_path / "idx_v2")
    alias = str(tmp_path / "serving_alias")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), v1)
    ST.swap_index_alias(spark, alias, v1)
    assert ST.resolve_index_alias(spark, alias) == v1
    old = sorted(
        map(
            tuple,
            RT.bm25_topk_indexed(
                spark, ST.resolve_index_alias(spark, alias), terms
            ).collect(),
        )
    )

    # rebuild into a FRESH root while the alias keeps serving v1
    RT.build_text_index(docs, v2)
    assert ST.resolve_index_alias(spark, alias) == v1
    ST.swap_index_alias(spark, alias, v2)
    assert ST.resolve_index_alias(spark, alias) == v2
    new = sorted(
        map(
            tuple,
            RT.bm25_topk_indexed(
                spark, ST.resolve_index_alias(spark, alias), terms
            ).collect(),
        )
    )
    assert new != old  # the cutover actually moved probes to the full corpus

    # pruning keeps the immediately-previous pointer for in-flight readers
    fs, adir, jvm = ST.fs_for(spark, alias)
    live = sorted(
        st.getPath().getName()
        for st in fs.listStatus(adir)
        if st.getPath().getName().startswith("v")
    )
    assert len(live) == 2  # v1's pointer survived the v2 swap
    ST.swap_index_alias(spark, alias, v2)  # third swap prunes the oldest
    live = sorted(
        st.getPath().getName()
        for st in fs.listStatus(adir)
        if st.getPath().getName().startswith("v")
    )
    assert len(live) == 2 and ST.resolve_index_alias(spark, alias) == v2

    # a crashed swap's _tmp stage is invisible to resolution
    stage = jvm.org.apache.hadoop.fs.Path(adir, "_tmp.v999999999999-1")
    out = fs.create(stage, True)
    out.write(bytearray(b"/nowhere"))
    out.close()
    assert ST.resolve_index_alias(spark, alias) == v2

    # swapping onto a mid-rebuild (meta-less) root fails fast
    ST.invalidate_index_meta(spark, v1)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    with _pytest.raises((AnalysisException, Py4JJavaError)):
        ST.swap_index_alias(spark, alias, v1)
    assert ST.resolve_index_alias(spark, alias) == v2  # alias untouched

    # unknown alias resolves loudly
    with _pytest.raises(FileNotFoundError):
        ST.resolve_index_alias(spark, str(tmp_path / "missing_alias"))


# ---------------------------------------------------------------------------
# tombstone deletes (r14): takedown / post-hoc decontamination without a
# rebuild — a delete is one ledger-committed NEGATIVE delivery (negative
# df/stats partitions subtract through the probes' cross-batch sums; the id
# set anti-joins out of the postings), and compaction makes it physical
# ---------------------------------------------------------------------------


def _delete_corpus(spark):
    """sf0.001 docs plus a ZERO-TOKEN document: deleting it exercises the
    doc-granular doclens subtraction (no posting rows to see it through)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [(90_001, ""), (90_002, "hash join window probe fodder")],
        "doc_id long, text string",
    )
    return docs.unionByName(extra)


_PROBE_TERMS = ["join", "hash", "scan", "window", "sort"]


def _probe(spark, idx):
    return sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, _PROBE_TERMS).collect()))


def test_delete_from_text_index_bit_identical_to_retained_build(spark, tmp_path):
    """Probes after a delete are bit-identical to a fresh build over the
    retained corpus — including the zero-token victim, whose n_docs/avgdl
    contribution can only subtract through doclens."""
    docs = _delete_corpus(spark)
    victims = F.col("doc_id").isin([90_001, 90_002]) | (F.col("doc_id") % 7 == 3)
    idx = str(tmp_path / "del_idx")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 != 2), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 2), idx, batch_id=1)
    RT.delete_from_text_index(
        spark, idx, docs.filter(victims).select("doc_id"), batch_id="takedown-1"
    )
    fresh = str(tmp_path / "retained_idx")
    RT.build_text_index(docs.filter(~victims), fresh)
    assert _probe(spark, idx) == _probe(spark, fresh)
    # batched serving sees the same tombstones
    q = spark.createDataFrame(
        [(0, ["join", "hash"]), (1, ["window", "sort"])],
        "query_id long, terms array<string>",
    )
    got_b = sorted(
        map(tuple, RT.bm25_topk_indexed_batch(spark, idx, q, k=5).collect())
    )
    want_b = sorted(
        map(tuple, RT.bm25_topk_indexed_batch(spark, fresh, q, k=5).collect())
    )
    assert got_b == want_b and len(got_b) > 0


def test_delete_is_invisible_until_committed_and_replayable(spark, tmp_path):
    """Crash-sim: removing the delete's ledger marker restores pre-delete
    probes exactly (every artifact is invisible uncommitted); replaying the
    delete re-lands the same state (idempotence), and a second overlapping
    delete never double-subtracts the shared victims."""
    docs = _delete_corpus(spark)
    idx = str(tmp_path / "crash_idx")
    RT.build_text_index(docs, idx)
    before = _probe(spark, idx)
    a = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    RT.delete_from_text_index(spark, idx, a, batch_id="d1")
    after_d1 = _probe(spark, idx)
    assert after_d1 != before
    # crash-sim: delete's commit marker vanishes -> the whole delete does
    os.remove(f"{idx}/batches/d1")
    assert _probe(spark, idx) == before
    # replay the SAME batch id: recomputes its own victims (does not see its
    # previous tombstones as already-deleted) and re-commits
    RT.delete_from_text_index(spark, idx, a, batch_id="d1")
    assert _probe(spark, idx) == after_d1
    # overlapping second delete: A ∪ B minus the already-tombstoned A
    ab = docs.filter(
        (F.col("doc_id") % 7 == 3) | (F.col("doc_id") % 7 == 5)
    ).select("doc_id")
    RT.delete_from_text_index(spark, idx, ab, batch_id="d2")
    fresh = str(tmp_path / "retained2")
    RT.build_text_index(
        docs.filter((F.col("doc_id") % 7 != 3) & (F.col("doc_id") % 7 != 5)), fresh
    )
    assert _probe(spark, idx) == _probe(spark, fresh)
    # stats netted exactly once per victim
    import pyspark.sql.functions as SF

    n_live = (
        spark.read.schema("n_docs long, sum_dl long")
        .parquet(f"{idx}/stats")
        .agg(SF.sum("n_docs"))
        .first()[0]
    )
    assert n_live == docs.filter(
        (F.col("doc_id") % 7 != 3) & (F.col("doc_id") % 7 != 5)
    ).count()


def test_extend_refuses_tombstoned_ids(spark, tmp_path):
    """Re-delivering a tombstoned id would land positive df/stats under a
    tombstone that hides the rows — refused until compaction clears it."""
    docs = _delete_corpus(spark)
    idx = str(tmp_path / "guard_idx")
    RT.build_text_index(docs, idx)
    RT.delete_from_text_index(
        spark, idx, spark.createDataFrame([(7,)], "doc_id long"), batch_id="d1"
    )
    bad = spark.createDataFrame(
        [(7, "resurrected doc"), (70_001, "fresh doc")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="tombstoned"):
        RT.extend_text_index(bad, idx, batch_id="b1")
    RT.extend_text_index(bad.filter(F.col("doc_id") != 7), idx, batch_id="b1")
    # after compaction the tombstones are gone and re-delivery is legal
    RT.compact_text_index(spark, idx)
    RT.extend_text_index(
        bad.filter(F.col("doc_id") == 7), idx, batch_id="b2"
    )
    live = (
        spark.read.parquet(f"{idx}/doclens")
        .filter(F.col("doc") == 7)
        .count()
    )
    assert live == 1


def test_compact_after_delete_is_physical_and_bit_identical(spark, tmp_path):
    """Compaction folds deletes away physically: probes unchanged, the
    tombstone set cleared, no victim row left in postings/doclens, and the
    fully-deleted terms' df husks dropped.  Both flavors."""
    docs = _delete_corpus(spark)
    victims = F.col("doc_id").isin([90_001, 90_002]) | (F.col("doc_id") % 7 == 3)
    idx = str(tmp_path / "cdel_idx")
    RT.build_text_index(docs, idx)
    RT.delete_from_text_index(
        spark, idx, docs.filter(victims).select("doc_id"), batch_id="d1"
    )
    want = _probe(spark, idx)

    swapped = str(tmp_path / "cdel_idx_v2")
    RT.compact_text_index(spark, idx, dst_index=swapped)
    assert _probe(spark, swapped) == want
    assert not os.path.exists(f"{swapped}/tombstones")

    RT.compact_text_index(spark, idx)
    assert _probe(spark, idx) == want
    assert not os.path.exists(f"{idx}/tombstones")
    doc_ids = {
        r.doc
        for r in spark.read.schema("doc long, dl int")
        .parquet(f"{idx}/doclens")
        .select("doc")
        .collect()
    }
    assert not {r.doc_id for r in docs.filter(victims).collect()} & doc_ids
    p_ids = {
        r.doc
        for r in spark.read.schema("doc long, dl int, term string, tf long")
        .parquet(f"{idx}/postings")
        .select("doc")
        .distinct()
        .collect()
    }
    assert not {r.doc_id for r in docs.filter(victims).collect()} & p_ids
    # netted-to-zero df rows do not survive compaction
    min_df = (
        spark.read.schema("term string, df long")
        .parquet(f"{idx}/dfreq")
        .agg(F.min("df"))
        .first()[0]
    )
    assert min_df >= 1


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion (r14)
# ---------------------------------------------------------------------------


def test_rrf_fuse_matches_python_reference(spark):
    """Integer-nano RRF against a direct reimplementation, including a doc
    surfacing in both arms (accumulates) and tie-break by ascending id."""
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        "query_id long, doc_id long, rank int",
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (1, 21, 1), (1, 20, 2)],
        "query_id long, doc_id long, rank int",
    )
    got = {
        (r.query_id, r.doc_id): (r.rrf_nanos, r.rank)
        for r in RT.rrf_fuse([lex, vec], k=10).collect()
    }

    def c(rank):
        return 10**9 // (60 + rank)

    want_scores = {
        (0, 10): c(1), (0, 11): c(2) + c(1), (0, 12): c(3), (0, 13): c(2),
        (1, 20): c(1) + c(2), (1, 21): c(1),
    }
    assert {k: v[0] for k, v in got.items()} == want_scores
    # doc 11 (both arms) beats the single-arm rank-1 doc 10
    assert got[(0, 11)][1] == 1 and got[(0, 10)][1] == 2
    assert got[(1, 20)][1] == 1


def test_rrf_fuse_tiebreak_and_k(spark):
    arm = spark.createDataFrame(
        [(0, 5, 1), (0, 3, 1), (0, 9, 2)], "query_id long, doc_id long, rank int"
    )
    rows = RT.rrf_fuse([arm], k=2).collect()
    assert [(r.doc_id, r.rank) for r in sorted(rows, key=lambda r: r.rank)] == [
        (3, 1), (5, 2)  # equal scores -> ascending id; k=2 cuts doc 9
    ]
    with pytest.raises(ValueError):
        RT.rrf_fuse([])


def test_hybrid_rrf_composes_the_two_persisted_arms(spark, tmp_path):
    """End-to-end hybrid over both persisted indexes equals fusing the two
    arm results directly (no hidden re-ranking in the composition)."""
    from chat_data_pipeline_spark.operators import similarity as SIM

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bidx, vidx = str(tmp_path / "hb_bm25"), str(tmp_path / "hb_ivf")
    RT.build_text_index(docs, bidx)
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    qterms = spark.createDataFrame(
        [(0, ["join", "hash"]), (1, ["scan", "window", "sort"])],
        "query_id long, terms array<string>",
    )
    lex = RT.bm25_topk_indexed_batch(spark, bidx, qterms, k=20).select(
        "query_id", "doc_id", "rank"
    )
    qvec = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec = SIM.ivf_topk_persisted(spark, vidx, qvec, k=20, n_probe=4).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = RT.rrf_fuse([lex, vec], k=10).collect()
    assert fused
    # rrf score of any fused row must be reconstructible from the arm ranks
    lex_r = {(r.query_id, r.doc_id): r.rank for r in lex.collect()}
    vec_r = {(r.query_id, r.doc_id): r.rank for r in vec.collect()}
    for r in fused:
        key = (r.query_id, r.doc_id)
        want = sum(
            10**9 // (60 + d[key]) for d in (lex_r, vec_r) if key in d
        )
        assert r.rrf_nanos == want and want > 0


def test_text_index_health_reports_the_lifecycle(spark, tmp_path):
    """The health report mirrors each delivery's exact footprint: positive
    for build/extends, negative for a delete, and collapses to one clean
    base row after compaction; batch SUMS equal the live corpus facts."""
    docs = _delete_corpus(spark)
    idx = str(tmp_path / "health_idx")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 != 2), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 2), idx, batch_id="b1")
    victims = docs.filter(F.col("doc_id") % 7 == 3)
    RT.delete_from_text_index(
        spark, idx, victims.select("doc_id"), batch_id="take"
    )
    rows = {r.batch: r for r in RT.text_index_health(spark, idx).collect()}
    assert set(rows) == {"base", "b1", "take"}
    n_victims = victims.count()
    assert rows["take"].n_docs == -n_victims
    assert rows["take"].n_tombstones == n_victims
    assert rows["take"].n_postings == 0
    assert rows["take"].sum_df < 0 and rows["take"].sum_dl < 0
    assert rows["base"].n_docs + rows["b1"].n_docs - n_victims == docs.count() - n_victims
    live_docs = sum(r.n_docs for r in rows.values())
    assert live_docs == docs.count() - n_victims
    # compaction folds to one clean base row with the same live totals
    RT.compact_text_index(spark, idx)
    after = RT.text_index_health(spark, idx).collect()
    assert len(after) == 1 and after[0].batch == "base"
    assert after[0].n_docs == live_docs and after[0].n_tombstones == 0
    assert after[0].sum_dl == sum(r.sum_dl for r in rows.values())


def test_cross_kind_batch_id_reuse_is_refused(spark, tmp_path):
    """r14 review: replay idempotence is same-kind only — a delete re-using
    a committed extension's id would overwrite its df/stats with negatives
    while the postings survived; the reverse would leave tombstones hiding
    live docs.  Both directions fail loudly; same-kind replays still work."""
    docs = _delete_corpus(spark)
    idx = str(tmp_path / "kind_idx")
    RT.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 3 == 1), idx, batch_id="b1")
    ids = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    with pytest.raises(ValueError, match="extension delivery"):
        RT.delete_from_text_index(spark, idx, ids, batch_id="b1")
    RT.delete_from_text_index(spark, idx, ids, batch_id="d1")
    with pytest.raises(ValueError, match="delete delivery"):
        RT.extend_text_index(
            docs.filter(F.col("doc_id") % 3 == 2), idx, batch_id="d1"
        )
    # same-kind replays keep their idempotence (the re-extension avoids the
    # tombstoned %7==3 slice — that refusal is the separate delivery guard)
    RT.delete_from_text_index(spark, idx, ids, batch_id="d1")
    RT.extend_text_index(
        docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 7 != 3)),
        idx,
        batch_id="b1",
    )


def test_alias_swap_sweeps_crashed_staging_files(spark, tmp_path):
    """A swapper that dies between create and rename leaves an _tmp orphan;
    the next successful swap sweeps strictly-older orphans while the live
    pointer chain stays intact."""
    import os as _os

    from chat_data_pipeline_spark.operators import retrieval as RT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "al_idx")
    RT.build_text_index(docs, idx)
    alias = str(tmp_path / "alias")
    ST.swap_index_alias(spark, alias, idx)
    # crash-sim: a staged-but-never-renamed pointer from an older attempt
    orphan = f"{alias}/_tmp.v{0:012d}-{1:010d}"
    with open(orphan, "w") as fh:
        fh.write("/dead/root")
    ST.swap_index_alias(spark, alias, idx)
    assert not _os.path.exists(orphan)
    assert ST.resolve_index_alias(spark, alias) == idx


def test_rrf_fuse_preserves_string_query_ids(spark):
    """r14 ADVICE: a string-keyed query table (request ids) must round-trip
    through the fusion — the old unconditional long cast NULLed every
    non-numeric id and collapsed all such queries into one fusion group."""
    lex = spark.createDataFrame(
        [("req-a", 10, 1), ("req-a", 11, 2), ("req-b", 20, 1)],
        "query_id string, doc_id long, rank int",
    )
    vec = spark.createDataFrame(
        [("req-a", 11, 1), ("req-b", 21, 1)],
        "query_id string, doc_id long, rank int",
    )
    rows = RT.rrf_fuse([lex, vec], k=10).collect()
    assert {r.query_id for r in rows} == {"req-a", "req-b"}
    got = {(r.query_id, r.doc_id): r.rrf_nanos for r in rows}
    c = lambda rank: 10**9 // (60 + rank)  # noqa: E731
    assert got[("req-a", 11)] == c(2) + c(1)
    assert got[("req-b", 20)] == c(1) and got[("req-b", 21)] == c(1)


def test_rrf_fuse_refuses_mismatched_query_id_types(spark):
    lex = spark.createDataFrame(
        [(0, 10, 1)], "query_id long, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [("0", 11, 1)], "query_id string, doc_id long, rank int"
    )
    with pytest.raises(ValueError, match="query_id type"):
        RT.rrf_fuse([lex, vec], k=5)


def test_extend_text_index_refuses_wrong_id_type(spark, tmp_path):
    """r14 ADVICE: a delivery whose id column's type differs from the
    built index's id_type is refused AT DELIVERY (it used to ledger-commit
    and only fail later under the meta-pinned probe schema)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = str(tmp_path / "idtype_bm25")
    RT.build_text_index(docs, idx)
    bad = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="id type"):
        RT.extend_text_index(bad, idx, batch_id="b1")
    # the refused delivery left nothing committed
    assert ST.committed_batches(spark, idx) == ["base"]
