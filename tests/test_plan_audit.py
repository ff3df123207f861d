"""Plan-shape assertions via plans/audit.py — locks the scale-critical plan
facts (shuffle counts, scan pruning, Python boundaries) so refactors that
silently degrade a plan fail here, not at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.plans.audit import plan_report

SF_DIR = os.environ.get("CDP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_cleaner_chain_is_one_scan_zero_shuffles(docs):
    """The C2+C3 normalize chain must stay a single codegen projection:
    one pruned scan, no exchange, no Python."""
    from chat_data_pipeline_spark.functions import cleaners as C

    df = docs.select(
        "doc_id", C.normalize_punctuation(C.normalize_whitespace(F.col("text"))).alias("t")
    )
    r = plan_report(df)
    assert r.n_scans == 1 and r.n_exchanges == 0 and r.n_python_stages == 0
    assert r.scans_are_pruned
    assert "doc_id" in r.read_schemas[0] and "lang" not in r.read_schemas[0]


def test_filter_pushdown_reaches_parquet(docs):
    """A native predicate on a scanned column must appear in PushedFilters."""
    df = docs.filter(F.col("n_chars") > 250).select("doc_id")
    r = plan_report(df)
    assert any("n_chars" in p for p in r.pushed_filters), r.pushed_filters


def test_exact_dedup_is_single_shuffle(docs):
    """exact_dedup's window-min shape: exactly one exchange, no Python."""
    from chat_data_pipeline_spark.operators import dedup as D

    out = D.exact_dedup(docs.select("doc_id", "text"), "text", "doc_id")
    r = plan_report(out)
    assert r.n_exchanges == 1 and r.n_python_stages == 0


def test_broadcast_join_for_small_dim(spark, docs):
    """A join against a tiny aggregated dim must broadcast, not shuffle the
    fact side on the join key (one exchange max, for the dim's agg)."""
    dim = docs.groupBy("lang").agg(F.count("*").alias("n"))
    out = docs.join(F.broadcast(dim), "lang").select("doc_id", "n")
    r = plan_report(out)
    assert r.n_broadcasts == 1


def test_bigram_lm_plan_shape(docs):
    """The LM scorer: map-side-combinable aggs (partial+final pairs), the
    one-row vocab broadcast PLUS the model-table broadcast (the r8 fix —
    AQE kept a corpus-width sort-merge join without it), zero Python."""
    from chat_data_pipeline_spark.operators import language_model as LMOD

    out = LMOD.bigram_lm_scores(docs, "text", "doc_id")
    r = plan_report(out)
    assert r.n_python_stages == 0
    assert r.n_aggregates >= 4  # partial+final for pairs/ctx at minimum
    assert r.n_broadcasts >= 2  # vocab scalar + the scoring model table


def test_bigram_lm_broadcast_size_guard(spark, docs):
    """Auto mode broadcasts the trained model only while it fits: below
    max_broadcast_bigrams the scoring join carries the explicit hint, above
    it the shuffle join returns (heaps-law vocabularies would OOM the
    broadcast exactly where the shuffle survives).  autoBroadcastJoinThreshold
    is disabled here so the assert sees the GUARD's decision, not the
    planner's small-fixture auto-broadcast."""
    from chat_data_pipeline_spark.operators import language_model as LMOD

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fits = LMOD.bigram_lm_scores(docs, "text", "doc_id")
        r_fits = plan_report(fits)
        over = LMOD.bigram_lm_scores(docs, "text", "doc_id", max_broadcast_bigrams=1)
        r_over = plan_report(over)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert r_fits.n_broadcasts == r_over.n_broadcasts + 1
    # both plans score identically — the guard changes strategy, not values
    key = lambda r: r["doc_id"]
    assert sorted((r.asDict() for r in fits.collect()), key=key) == sorted(
        (r.asDict() for r in over.collect()), key=key
    )


def test_gopher_ruleset_is_pure_projection(docs):
    """All eight Gopher signals + the keep bit: zero shuffles, zero Python —
    the 'gate 100 TB before anything expensive' property."""
    from chat_data_pipeline_spark.functions import gopher as G

    sig = G.gopher_signals(F.col("text"))
    out = docs.select("doc_id", sig.alias("s")).select(
        "doc_id", F.col("s.n_words"), G.gopher_quality_keep(F.col("s")).alias("k")
    )
    r = plan_report(out)
    assert r.n_exchanges == 0 and r.n_python_stages == 0 and r.n_scans == 1


def test_minhash_fingerprints_single_python_stage(docs):
    """The D1-D3 fingerprint stage is exactly ONE Arrow boundary (the pandas
    UDF); banding stays JVM-side after it."""
    from chat_data_pipeline_spark.operators import dedup as D

    bands = D.minhash_bands(docs.limit(50), "text", id_col="doc_id")
    r = plan_report(bands)
    assert r.n_python_stages == 1


def test_dsir_weights_is_pure_projection_over_features(docs):
    """DSIR weights: the LLR table is a driver-collected literal, so the
    weight/key computation must be a zero-shuffle, zero-Python projection
    over the (checkpointed) feature pass."""
    from chat_data_pipeline_spark.operators import selection as SEL

    out = SEL.dsir_weights(docs, F.col("lang") == "en")
    r = plan_report(out)
    assert r.n_exchanges == 0 and r.n_python_stages == 0


def test_corpus_diff_is_one_hash_join(docs):
    """Snapshot diff: two pruned scans into one full-outer join on the
    content hash — at most 2 exchanges (both join sides), never Python."""
    from chat_data_pipeline_spark.operators import versioning as V

    new = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    r = plan_report(V.corpus_diff(docs, new))
    assert r.n_exchanges <= 2 and r.n_python_stages == 0
    assert r.scans_are_pruned
    assert all(s == "struct<doc_id:bigint,text:string>" for s in r.read_schemas)


def test_hard_negatives_exact_is_single_arrow_pass(spark):
    """Exact hard-negative mining: the corpus broadcasts in the closure, so
    the plan is ONE Arrow boundary over one pruned scan — the only
    exchange allowed is the compute repartition ahead of the UDF (no
    shuffle of scores, no window)."""
    from chat_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    r = plan_report(SIM.hard_negatives_topk(emb, k=5))
    assert r.n_python_stages == 1 and r.n_exchanges <= 1
    assert r.scans_are_pruned


def test_ccnet_buckets_plan_budget(docs):
    """cc_net terciles ride the bigram-LM pipeline: everything stays
    JVM-side (zero Python) and the shuffle budget is bounded — LM training
    aggs + the scoring join + ONE ntile window sort."""
    from chat_data_pipeline_spark.operators import language_model as LMOD
    from pyspark.sql import Window

    scores = LMOD.bigram_lm_scores(docs, "text", "doc_id", k=0.5)
    scored = scores.filter(F.col("n_bigrams") > 0).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    nt = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(F.col("ppl").asc(), F.col("doc_id"))
    )
    out = scored.select("doc_id", "lang", "ppl", nt.alias("nt"))
    r = plan_report(out)
    assert r.n_python_stages == 0
    assert r.n_exchanges <= 7 and r.n_sorts <= 1


@pytest.mark.parametrize("fn", ["pq_topk_md5", "ivf_topk_md5", "ivf_pq_topk_md5"])
def test_pq_md5_twin_is_single_fused_arrow_pass(spark, fn):
    """The md5 oracle twins: normalize + encode/assign + probe-mask + score
    + local top-k fuse into ONE Arrow boundary over one pruned scan; the
    only exchange is the global rank window over the per-partition
    candidates."""
    from chat_data_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    r = plan_report(getattr(SIM, fn)(emb, queries, k=10))
    assert r.n_python_stages == 1 and r.n_exchanges == 1
    assert r.scans_are_pruned
    assert r.read_schemas == ["struct<vec_id:bigint,embedding:array<float>>"]


def test_bpe_encode_fold_is_pure_column(docs):
    """The fixed-merge fold encoder: ZERO Python stages (16 chained
    aggregate folds are Column expressions), the encoded vocab re-joins
    occurrences via broadcast, and every scan is pruned."""
    from chat_data_pipeline_spark.operators import bpe as B
    from chat_data_pipeline_spark.queries import _BPE_FIXED_MERGES

    r = plan_report(B.bpe_encode_fold(docs, _BPE_FIXED_MERGES))
    assert r.n_python_stages == 0
    assert r.n_broadcasts >= 1  # encoded vocab joins broadcast while small
    assert r.n_exchanges <= 2 and r.scans_are_pruned


def test_cms_heavy_hitters_plan_budget(docs):
    """CMS end-to-end (r8 single-scan shape): the corpus is scanned ONCE —
    by the checkpointed (tok)-keyed aggregate — so the returned plan reads
    NO parquet at all (both sketch and candidate branches consume cached
    vocab blocks); the KB-scale sketch probes via broadcast; zero Python."""
    from chat_data_pipeline_spark.operators import sketches as SK

    r = plan_report(SK.cms_heavy_hitters(docs, "text", min_count=100))
    assert r.n_python_stages == 0
    assert r.n_exchanges <= 2 and r.n_broadcasts >= 1
    assert r.read_schemas == [], r.read_schemas  # zero corpus re-scans


def test_unigram_encode_micro_single_python_stage(docs):
    """The integer-Viterbi encoder: exactly ONE Arrow boundary (the per-
    distinct-word segmentation UDF); reassembly stays JVM-side."""
    from chat_data_pipeline_spark.operators import unigram_lm as U
    from chat_data_pipeline_spark.queries import _UNIGRAM_VOCAB_MICRO

    r = plan_report(U.unigram_encode_micro(docs, dict(_UNIGRAM_VOCAB_MICRO)))
    assert r.n_python_stages == 1
    assert r.n_exchanges <= 3 and r.scans_are_pruned


def test_ngram_jaccard_edges_plan_budget(docs):
    """The exact-Jaccard edge subtree (the input to the component search):
    postings + pairable list are pre-checkpointed, so the edge plan itself
    is the hash self-join over cached blocks + one pair-count aggregate —
    zero Python, and no more than the self-join's own exchanges.  Locks the
    shape the r8 CC probe reads exactly once."""
    from chat_data_pipeline_spark.operators import dedup as D

    edges = D.ngram_jaccard_edges(docs.select("doc_id", "text"), "text", "doc_id")
    r = plan_report(edges)
    assert r.n_python_stages == 0
    assert r.n_exchanges <= 3, r.n_exchanges


def test_token_budget_scalable_plan_budget(docs):
    """The two-phase token-budget execution: zero Python, the quantile
    bounds and bucket offsets join back as broadcasts (2+), and the only
    sorts are the bucket-partitioned windows — never one whole-group sort
    feeding the output."""
    from chat_data_pipeline_spark.operators import sampling as S
    from chat_data_pipeline_spark.functions import text as T

    d = docs.select(
        "doc_id", "lang", "n_chars", T.word_count(F.col("text")).alias("n_tokens")
    )
    out = S.token_budget_select_scalable(
        d, 4000, "n_tokens", "n_chars", "doc_id", "lang", n_buckets=64
    )
    r = plan_report(out)
    assert r.n_python_stages == 0
    assert r.n_broadcasts >= 2  # quantile bounds + bucket offsets
    assert r.n_sorts <= 2  # offsets window (tiny) + the bucketed data window


def test_funnel_single_exchange(spark):
    """The ordered funnel: ONE hash exchange on user_id — per-step minima
    are unordered-frame windows over the same partitioning and the final
    per-user collapse reuses it; zero Python, no joins."""
    from chat_data_pipeline_spark.operators import temporal as TP

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    r = plan_report(TP.funnel_steps(ev))
    assert r.n_python_stages == 0
    assert r.n_exchanges == 1, r.n_exchanges


def test_q7_q9_star_joins_single_exchange(spark):
    """The r9 relational shapes: the only exchange is the lineitem-orders
    fact join; zero sorts, pruned scans.  NOTE the broadcasts counted here
    are no longer all code-enforced: since r9 only the fixed-cardinality
    `nation` dim carries an explicit hint, and the supplier/customer/part
    sides broadcast because the sf0.001 fixtures fall under the 64 MB
    autoBroadcastJoinThreshold — planner-chosen, exactly as intended.  If a
    threshold or fixture-size change ever fails this test, that is a
    planner-behavior shift at test scale, not a code regression (the
    code-enforced invariant lives in
    test_q7_q9_no_forced_broadcast_on_sf_proportional_inputs)."""
    from chat_data_pipeline_spark.queries import REGISTRY

    for name in ("q7_nation_volume", "q9_product_profit"):
        r = plan_report(REGISTRY[name].fn(spark, SF_DIR))
        assert r.n_exchanges == 1, (name, r.n_exchanges)
        assert r.n_broadcasts >= 3 and r.n_sorts == 0 and r.scans_are_pruned


def test_q7_q9_no_forced_broadcast_on_sf_proportional_inputs(spark):
    """The r8-verdict scale invariant, code-enforced: every EXPLICIT
    broadcast hint in q7/q9 rides the fixed-cardinality nation dim only —
    never a table subset that grows with sf (customer⋈nation, %widget%
    part), whose forced shipping would OOM at 100× where AQE's runtime
    sizing survives."""
    from chat_data_pipeline_spark.plans.audit import forced_broadcast_subtrees
    from chat_data_pipeline_spark.queries import REGISTRY

    sf_growing_cols = ("c_custkey", "p_partkey", "s_suppkey", "o_orderkey", "l_orderkey")
    for name, n_hints in (("q7_nation_volume", 2), ("q9_product_profit", 1)):
        subs = forced_broadcast_subtrees(REGISTRY[name].fn(spark, SF_DIR))
        assert len(subs) == n_hints, (name, len(subs))
        for s in subs:
            assert "n_nationkey" in s, (name, s)
            assert not any(c in s for c in sf_growing_cols), (name, s)


def test_q7_q9_degrade_to_shuffle_joins_above_broadcast_threshold(spark):
    """The r10-verdict follow-through: the planner-behavior caveat in
    test_q7_q9_star_joins_single_exchange, converted into a tested
    invariant.  With autoBroadcastJoinThreshold=-1 (every input 'too big
    to broadcast' — the 100× regime simulated at test scale), the ONLY
    broadcasts left must be the explicit fixed-cardinality nation hints;
    every sf-growing join side degrades to a shuffle join (exchanges on
    both sides) instead of a forced ship — i.e. nothing in the query code
    pins a broadcast that could not survive scale."""
    from chat_data_pipeline_spark.queries import REGISTRY

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_nation_hints in (
            ("q7_nation_volume", 2),
            ("q9_product_profit", 1),
        ):
            df = REGISTRY[name].fn(spark, SF_DIR)
            r = plan_report(df)
            # only the hinted nation dims still broadcast
            assert r.n_broadcasts == n_nation_hints, (name, r.n_broadcasts)
            # the dims that broadcast under the default threshold now ride
            # key exchanges: well above the single fact-join exchange
            assert r.n_exchanges > 2, (name, r.n_exchanges)
            # and the degradation is to real shuffle joins, not nested loops
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert r.scans_are_pruned, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_value_histogram_sketch_window_rides_bounded_bin_table(spark):
    """The sketch's unpartitioned cumulative window is scale-safe because
    its input is the post-aggregation BIN table — bitlen-bounded at ≤ ~512
    rows for ANY corpus size — never corpus rows.  Locked two ways: the
    optimized plan nests an Aggregate inside the Window's subtree (the
    binning groupBy runs below it), and the bin-table cardinality bound
    holds empirically."""
    from chat_data_pipeline_spark.operators import sketches as SK
    from chat_data_pipeline_spark.plans.audit import node_subtrees

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = SK.value_histogram_sketch(ev, "value")
    windows = node_subtrees(out, "Window")
    assert windows, "expected the cumulative-rank Window in the plan"
    assert all("Aggregate" in w for w in windows)
    assert SK.value_histogram(ev, "value").count() <= 512


def test_source_similarity_single_corpus_scan(docs):
    """The per-source signature table checkpoints before the pairwise
    self-join, so the corpus shingle+hash aggregation runs ONCE (the final
    plan reads only cached signature blocks — no parquet scans at all)."""
    from chat_data_pipeline_spark.operators import dedup as D

    r = plan_report(D.source_similarity_matrix(docs, "text", "source"))
    assert r.n_python_stages == 0
    assert r.read_schemas == [], r.read_schemas


def test_key_skew_report_is_one_corpus_exchange(spark):
    """The skew profile's only corpus-width stage is the map-side-combined
    key count; totals broadcast back (no second corpus pass) and the top-N
    runs as TakeOrdered, so the plan carries exactly the count exchange plus
    the bounded single-partition rank window's — and zero Python."""
    from chat_data_pipeline_spark.operators.diagnostics import key_skew_report

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    r = plan_report(key_skew_report(ev, "user_id", top_n=10))
    assert r.n_python_stages == 0
    assert r.n_broadcasts == 1  # the totals row
    assert r.n_exchanges <= 3, r.n_exchanges  # count agg + totals agg + rank window


def test_conversation_structure_single_scan_no_explode(spark):
    """All five structure counts fold inside ONE aggregate over one scan of
    the conversation table — no generator (explode) node, zero Python."""
    from chat_data_pipeline_spark.operators.conversation import (
        conversation_structure_report,
    )
    from chat_data_pipeline_spark.queries import _events_conversations

    conv = _events_conversations(spark, SF_DIR).localCheckpoint(eager=True)
    r = plan_report(conversation_structure_report(conv))
    assert r.n_python_stages == 0
    assert r.n_exchanges <= 1  # the one-row final agg
    plan = (
        conversation_structure_report(conv)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan  # message arrays fold in place, no explode


def test_q12_q14_q19_no_forced_broadcast_on_sf_growing_tables(spark):
    """r12 TPC-H shapes follow the q7/q9 doctrine: zero EXPLICIT broadcast
    hints anywhere — part/orders grow with sf, so the planner must stay
    free to degrade every join to a shuffle at the scale where a forced
    ship would OOM — and q14's date filter reaches the lineitem scan."""
    from chat_data_pipeline_spark.plans.audit import forced_broadcast_subtrees
    from chat_data_pipeline_spark.queries import REGISTRY

    for name in ("q12_late_shipments", "q14_promo_revenue", "q19_discounted_revenue"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert forced_broadcast_subtrees(df) == [], name
    plan = (
        REGISTRY["q14_promo_revenue"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to the scan


def test_q8_q15_q17_broadcast_discipline_and_no_python(spark):
    """r12 second TPC-H batch under the same doctrine: q8, q17 AND q15
    carry ZERO forced-broadcast subtrees (7-table snowflake, the
    correlated-avg rejoin, and — since the r17 window rewrite — q15,
    whose global-max rides a window over the aggregated table instead of
    a hinted scalar-max rejoin, so lineitem is scanned once).  None of
    the three touches Python."""
    from chat_data_pipeline_spark.plans.audit import (
        forced_broadcast_subtrees,
        plan_report,
    )
    from chat_data_pipeline_spark.queries import REGISTRY

    for name, n_hints in (
        ("q8_market_share", 0),
        ("q17_small_quantity_revenue", 0),
        ("q15_top_supplier", 0),
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        subs = forced_broadcast_subtrees(df)
        assert len(subs) == n_hints, (name, subs)
        assert plan_report(df).n_python_stages == 0, name
    # the r17 shape: one lineitem scan, the max from a window
    plan = (
        REGISTRY["q15_top_supplier"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan, plan


def test_docs_classifier_gate_plan_shape(spark):
    """The trained gate's threshold comparison rides a ONE-ROW broadcast
    stats table (integer cross-multiplication, no division) and the
    scoring side stays fully native — no Python stage anywhere in the
    gate despite the upstream driver-paced training."""
    from chat_data_pipeline_spark.plans.audit import plan_report
    from chat_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["docs_classifier_gate"].fn(spark, SF_DIR)
    r = plan_report(df)
    assert r.n_python_stages == 0
    assert r.n_broadcasts >= 1  # the one-row stats side


def test_q21_resolves_as_semi_and_anti_joins(spark):
    """The double-correlated EXISTS / NOT EXISTS must compile to ONE
    LeftSemi and ONE LeftAnti hash/sort-merge join on l_orderkey — never a
    correlated per-row subquery — with the final top-100 as
    TakeOrderedAndProject, not a global sort."""
    from chat_data_pipeline_spark.plans.audit import plan_report
    from chat_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["q21_waiting_suppliers"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan_report(df).n_python_stages == 0


def test_q11_q20_q21_broadcast_discipline(spark):
    """The r13 TPC-H shapes follow the q8/q17 doctrine: no forced
    broadcast on sf-growing tables (lineitem/part/supplier) — the only
    hints ride the fixed-cardinality nation/region dims inside
    _region_suppliers (25/5 rows at ANY scale factor), and nothing
    touches Python."""
    from chat_data_pipeline_spark.plans.audit import (
        forced_broadcast_subtrees,
        plan_report,
    )
    from chat_data_pipeline_spark.queries import REGISTRY

    for name in ("q11_important_parts", "q20_top_suppliers_promo",
                 "q21_waiting_suppliers"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        for sub in forced_broadcast_subtrees(df):
            low = sub.lower()
            assert not any(t in low for t in ("lineitem", "part.", "supplier")), (
                name,
                sub,
            )
        assert plan_report(df).n_python_stages == 0, name


def test_post_delete_probe_plan_keeps_pruning_and_broadcasts_the_anti_join(
    spark, docs, tmp_path
):
    """r14 tombstone serving: the probe after a delete must (a) still prune
    the postings at the LISTING — batch and bkt partition filters intact —
    and (b) hide the tombstones via a BROADCAST LeftAnti, never a
    shuffle-both-sides anti join on the small id set."""
    from chat_data_pipeline_spark.operators import retrieval as RT

    idx = str(tmp_path / "plan_del")
    RT.build_text_index(docs.select("doc_id", "text"), idx)
    RT.delete_from_text_index(
        spark, idx, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        batch_id="take",
    )
    out = RT.bm25_topk_indexed(spark, idx, ["join", "hash"], k=10)
    r = plan_report(out)
    assert any("batch" in p and "bkt" in p for p in r.partition_filters), (
        r.partition_filters
    )
    assert "BroadcastHashJoin LeftAnti" in r.text
    assert r.scans_are_pruned


def test_rrf_fusion_is_query_sized(spark):
    """The fusion downstream of the arms is one partial-aggregated groupBy
    + one per-query window — two exchanges over query-sized rows, zero
    Python, zero scans of its own."""
    from chat_data_pipeline_spark.operators import retrieval as RT

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank int"
    )
    r = plan_report(RT.rrf_fuse([lex, vec], k=10))
    assert r.n_python_stages == 0
    assert r.n_exchanges <= 2, r.n_exchanges
    # partial aggregation before the (query, id) shuffle (map-side combine)
    assert "partial" in r.text.lower()


def test_dedup_store_probe_reads_explicit_schemas(spark, docs, tmp_path):
    """The store probe must read the persisted bands with the meta-supplied
    explicit schema (no footer sampling) and keep the reference side to
    signatures — no text column in any store-side ReadSchema."""
    from chat_data_pipeline_spark.operators import dedup_store as DS

    idx = str(tmp_path / "plan_store")
    DS.build_dedup_index(
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text"), idx,
        family="md5",
    )
    out = DS.filter_against_dedup_index(
        spark, idx, docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    )
    r = plan_report(out)
    assert r.scans_are_pruned
    band_scans = [s for s in r.read_schemas if "sig" in s]
    assert band_scans and all("text" not in s for s in band_scans), r.read_schemas


def test_neardup_probe_plan_shape(spark, tmp_path):
    """r15: the semantic-onboarding probe's plan — no cartesian product
    anywhere (the candidate join keys on (t, b)), exactly two Python
    stages execute per probe (the NEW side's one fingerprint UDF plus the
    cosine verify; the reference side reads persisted postings/vectors,
    never a UDF), and the verify joins are hash joins."""
    from chat_data_pipeline_spark.operators import neardup_store as NS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "plan_nd")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, n_planes=4, n_tables=4, dim=64
    )
    out = NS.filter_against_neardup_index(
        spark, idx, emb.filter(F.col("vec_id") % 2 == 1)
    )
    r = plan_report(out)
    assert "CartesianProduct" not in r.text and "BroadcastNestedLoop" not in r.text
    # exactly two Python stages: the NEW side's one bucket-fingerprint
    # eval (single consumer — the candidate join; the checkpointed base
    # keeps the source from re-scanning through it) and the cosine
    # verify's mapInPandas.  The reference side contributes parquet scans
    # only — its fingerprints were paid once, at build/delivery time.
    assert r.n_python_stages == 2, r.text


def test_serve_frame_hybrid_plan_shape(spark, tmp_path):
    """r15: the YAML serving engine's fused plan — the fusion stage adds
    no corpus scan of its own (all scans are the arms' pruned index
    reads + the query table), and no cartesian product appears."""
    from chat_data_pipeline_spark.cli import serve_frame
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bidx, vidx = str(tmp_path / "pl_bm25"), str(tmp_path / "pl_ivf")
    RT.build_text_index(docs, bidx)
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    q = spark.createDataFrame(
        [(0, ["join", "hash"])], "query_id long, terms array<string>"
    ).join(
        emb.limit(1).select(
            F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
        ),
        "query_id",
    )
    out = serve_frame(
        spark, q, {"k": 10, "bm25": {"path": bidx, "k": 20},
                   "ann": {"path": vidx, "k": 20}}
    )
    r = plan_report(out)
    assert "CartesianProduct" not in r.text
    # every file scan is an index artifact (postings/dfreq/stats/doclens
    # under the two roots) — the fusion stage never rescans a corpus table
    for schema in r.read_schemas:
        assert "text" not in schema or "tf" in schema, r.read_schemas


def test_compacted_serving_probes_prune_to_base_and_lists(spark):
    """r17 compaction-hash matrix plan shape: after the lifecycle folds to
    a single 'base' batch, the steady-state IVF/IVF-PQ probes must prune
    BOTH partition axes at the file listing — batch = base AND the probed
    list INSET — so serving a compacted 100 TB store touches
    n_probe/n_centroids of one batch's files, never the tree."""
    from chat_data_pipeline_spark.queries import REGISTRY

    for name in ("ivf_compacted_serving", "ivfpq_compacted_serving"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        r = plan_report(df)
        batch_pruned = [
            p for p in r.partition_filters if "batch" in p and "base" in p
        ]
        list_pruned = [p for p in r.partition_filters if "INSET" in p or "list" in p]
        assert batch_pruned, (name, r.partition_filters)
        assert list_pruned, (name, r.partition_filters)
        assert r.n_python_stages <= 2, (name, r.n_python_stages)


def test_compacted_onboarding_probe_is_collision_sized(spark):
    """The compacted signature-store onboarding probe must stay the
    banded shape: the new crawl fingerprints ONCE (bounded Python
    stages), the reference side joins by band signature — no cartesian,
    no whole-corpus re-fingerprint of the reference side."""
    from chat_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["dedup_compacted_onboarding"].fn(spark, SF_DIR)
    r = plan_report(df)
    assert "CartesianProduct" not in r.text and "NestedLoop" not in r.text
    assert r.n_python_stages <= 2, r.n_python_stages


def test_wordpiece_encode_is_pure_column(docs):
    """r17 second half: the WordPiece greedy scan is one declarative
    struct-state fold — ZERO Python stages, the encoded vocab re-joins
    occurrences via broadcast, every scan pruned (same budget as the BPE
    fold encoder beside it)."""
    from chat_data_pipeline_spark.operators import wordpiece as WP
    from chat_data_pipeline_spark.queries import _WP_PIECES

    r = plan_report(WP.wordpiece_encode(docs, _WP_PIECES))
    assert r.n_python_stages == 0
    assert r.n_broadcasts >= 1
    assert r.n_exchanges <= 2 and r.scans_are_pruned


def test_snapshot_root_probe_keeps_source_plan_shape(spark):
    """r17 second half: the snapshot clone preserves batch structure and
    tombstones byte-for-byte, so the served probe over the SNAPSHOT must
    carry the same scale-critical plan facts as a probe of the source —
    probed-list pruning at the file listing and the bounded Python
    budget.  Any divergence would mean the copy changed the plan."""
    from chat_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["ivf_snapshot_serving"].fn(spark, SF_DIR)
    r = plan_report(df)
    list_pruned = [p for p in r.partition_filters if "INSET" in p or "list" in p]
    assert list_pruned, r.partition_filters
    assert r.n_python_stages <= 2, r.n_python_stages
    assert "CartesianProduct" not in r.text and "NestedLoop" not in r.text
