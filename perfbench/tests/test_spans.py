from __future__ import annotations

from perfbench.spans import SpanRecorder, _union_length


def test_union_length_merges_overlaps():
    assert _union_length([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0
    assert _union_length([]) == 0.0


def test_jobs_are_attributed_to_the_span_that_ran_them(spark):
    rec = SpanRecorder(spark)
    with rec.span("outer") as outer:
        spark.range(10).count()
        with rec.span("inner") as inner:
            spark.range(100).repartition(2).groupBy().count().collect()
        spark.range(5).collect()
    spark.range(3).count()  # outside every span
    with rec.span("later") as later:
        pass

    assert outer.job_ids and inner.job_ids
    assert not set(outer.job_ids) & set(inner.job_ids)
    assert later.job_ids == []
    assert inner.parent == outer.span_id and outer.parent is None
    inner_c, outer_c = rec.counters(inner), rec.counters(outer)
    # the outer span's counters include the inner span's work
    assert outer_c["jobs"] == len(outer.job_ids) + len(inner.job_ids)
    assert outer_c["tasks"] >= inner_c["tasks"] >= 2
    assert inner_c["shuffle_bytes"] > 0
    for sp, c in ((outer, outer_c), (inner, inner_c)):
        assert 0.0 <= c["driver_gap_s"] <= sp.wall
    layers = rec.by_layer()
    assert layers["outer"]["jobs"] == outer_c["jobs"]
    assert layers["later"]["jobs"] == 0


def test_a_span_closed_right_after_a_job_counts_all_its_stages(spark):
    # two stages (4 map tasks, 3 reduce tasks); the counts must not depend
    # on how far Spark's listener bus has got when the span closes
    rdd = spark.sparkContext.parallelize(range(100), 4)
    rec = SpanRecorder(spark)
    for _ in range(5):
        with rec.span("job") as sp:
            rdd.map(lambda x: (x % 5, 1)).reduceByKey(lambda a, b: a + b, 3).collect()
        c = rec.counters(sp)
        assert (c["jobs"], c["stages"], c["tasks"]) == (1, 2, 7)
