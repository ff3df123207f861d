"""r15: store-agnostic maintenance policy + the cross-store takedown block.

The plan must read ONLY the stores' own artifacts (O(batches) + one
footer-metadata count), recommend exactly per its two thresholds, and the
auto-compact action must act on the recommendation — compacting when
crossed, leaving the root byte-untouched when not."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chat_data_pipeline_spark.operators import dedup_store as DS
from chat_data_pipeline_spark.operators import maintenance as MT
from chat_data_pipeline_spark.operators import retrieval as RT
from chat_data_pipeline_spark.operators import similarity as SIM
from chat_data_pipeline_spark.operators import store as ST

SF_DIR = "/root/testdata/sf0.001"


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


def test_detect_store_kind_all_four(spark, docs, emb, tmp_path):
    b = str(tmp_path / "k_bm25")
    RT.build_text_index(docs, b)
    v = str(tmp_path / "k_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    p = str(tmp_path / "k_ivfpq")
    SIM.build_ivfpq_index(emb, p, n_centroids=16, m=8, n_codewords=16, dim=64)
    d = str(tmp_path / "k_dedup")
    DS.build_dedup_index(docs, d, family="md5")
    assert MT.detect_store_kind(spark, b) == "bm25"
    assert MT.detect_store_kind(spark, v) == "ivf"
    assert MT.detect_store_kind(spark, p) == "ivfpq"
    assert MT.detect_store_kind(spark, d) == "dedup"


def _build(kind, base, path):
    """Build a ``kind`` store over ``base`` at ``path``."""
    from chat_data_pipeline_spark.operators import neardup_store as NS

    if kind == "bm25":
        RT.build_text_index(base, path)
    elif kind == "ivf":
        SIM.build_ivf_index(base, path, n_centroids=16, coarse="md5", dim=64)
    elif kind == "ivfpq":
        SIM.build_ivfpq_index(base, path, n_centroids=16, m=8, n_codewords=16, dim=64)
    elif kind == "dedup":
        DS.build_dedup_index(base, path, family="md5")
    else:
        NS.build_neardup_index(base, path, n_planes=4, n_tables=4, dim=64)


def _build_half(kind, docs, emb, path):
    """Base over the even-id half of the kind's corpus; returns the odd
    half, the extension frame."""
    src, id_col = (docs, "doc_id") if kind in ("bm25", "dedup") else (emb, "vec_id")
    _build(kind, src.filter(F.col(id_col) % 2 == 0), path)
    return src.filter(F.col(id_col) % 2 == 1)


@pytest.mark.parametrize("kind", ["bm25", "ivf", "ivfpq", "dedup", "neardup"])
def test_store_kinds_dispatch_every_kind(spark, docs, emb, tmp_path, kind):
    """Every kind reaches its verbs through ``STORE_KINDS``: an extension
    delivered via the table, a CLI snapshot whose plan equals the
    source's, and a threshold-0 ``compact_if_needed`` that folds the
    extension into the base without changing ``live_units``."""
    from chat_data_pipeline_spark.cli import _run_indexing

    path = str(tmp_path / f"dispatch_{kind}")
    ext = _build_half(kind, docs, emb, path)
    assert MT.store_kind_and_meta(spark, path)[0] == kind
    assert set(MT.STORE_KINDS) == {"bm25", "ivf", "ivfpq", "dedup", "neardup"}
    MT.STORE_KINDS[kind].extend(ext, path, batch_id="e1")
    assert ST.committed_batches(spark, path) == ["base", "e1"]
    plan = MT.maintenance_plan_values(spark, path)

    clone = str(tmp_path / f"dispatch_{kind}_clone")
    _run_indexing(
        spark, None, {kind: {"path": path, "action": "snapshot", "dst_path": clone}}
    )
    assert MT.maintenance_plan_values(spark, clone) == plan

    assert MT.compact_if_needed(spark, path, max_batches=0)
    assert ST.committed_batches(spark, path) == ["base"]
    assert MT.maintenance_plan_values(spark, path).live_units == plan.live_units


class _InjectedCrash(RuntimeError):
    pass


def _probe(kind, spark, path, docs, emb):
    """The kind's serving probe, run to completion, as sorted tuples."""
    from chat_data_pipeline_spark.operators import neardup_store as NS

    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    if kind == "bm25":
        out = RT.bm25_topk_indexed(spark, path, ["join", "hash", "scan"], k=5)
    elif kind == "ivf":
        out = SIM.ivf_topk_persisted(spark, path, queries, k=5, n_probe=4)
    elif kind == "ivfpq":
        out = SIM.ivfpq_topk_persisted(spark, path, queries, k=5, n_probe=4)
    elif kind == "dedup":
        out = DS.filter_against_dedup_index(spark, path, docs.limit(40))
    else:
        out = NS.filter_against_neardup_index(spark, path, emb.limit(40))
    return sorted(map(tuple, out.collect()))


@pytest.mark.parametrize("verb", ["build", "compact"])
@pytest.mark.parametrize("kind", ["bm25", "ivf", "ivfpq", "dedup", "neardup"])
def test_crash_inside_base_commit_leaves_no_servable_root(
    spark, docs, emb, tmp_path, monkeypatch, kind, verb
):
    """The base commit's crash posture, per kind, for a rebuild AND an
    in-place compaction: the artifact write lands and then dies inside
    ``store.commit_base``.  The root must be meta-less, so classification
    and the kind's probe both fail loudly instead of merging the partial
    new base with the old ledger's extension; a completed rebuild over the
    same corpus then serves exactly what base + extension served."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    path = str(tmp_path / f"crash_{kind}_{verb}")
    ext = _build_half(kind, docs, emb, path)
    MT.STORE_KINDS[kind].extend(ext, path, batch_id="e1")
    served = _probe(kind, spark, path, docs, emb)
    src = docs if kind in ("bm25", "dedup") else emb

    real = ST.commit_base

    def crashing(spark_, index_path, write, *args, **kwargs):
        def write_then_die():
            write()
            raise _InjectedCrash(f"{kind} {verb} died after its artifact write")

        real(spark_, index_path, write_then_die, *args, **kwargs)

    monkeypatch.setattr(ST, "commit_base", crashing)
    with pytest.raises(_InjectedCrash):
        if verb == "build":
            _build(kind, src, path)
        else:
            MT.STORE_KINDS[kind].compact(spark, path)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(path, "meta"))
    with pytest.raises((AnalysisException, Py4JJavaError)):
        MT.store_kind_and_meta(spark, path)
    with pytest.raises((AnalysisException, Py4JJavaError)):
        _probe(kind, spark, path, docs, emb)

    _build(kind, src, path)
    assert MT.store_kind_and_meta(spark, path)[0] == kind
    assert ST.committed_batches(spark, path) == ["base"]
    assert _probe(kind, spark, path, docs, emb) == served


@pytest.mark.parametrize("verb", ["extend", "delete"])
@pytest.mark.parametrize("kind", ["bm25", "ivf", "ivfpq", "dedup", "neardup"])
def test_crash_before_delivery_commit_leaves_delivery_invisible(
    spark, docs, emb, tmp_path, monkeypatch, kind, verb
):
    """The delivery commit's crash posture, per kind, for an extension AND
    a delete: every artifact of the delivery lands, then the ledger commit
    dies.  The ledger and the kind's probe must be exactly as before the
    delivery, and a replay with the same id must commit and serve what a
    clean delivery into a twin root serves."""
    src, id_col = (docs, "doc_id") if kind in ("bm25", "dedup") else (emb, "vec_id")
    path = str(tmp_path / f"dcrash_{kind}_{verb}")
    clean = str(tmp_path / f"dclean_{kind}_{verb}")
    ext = _build_half(kind, docs, emb, path)
    _build_half(kind, docs, emb, clean)

    def deliver(root):
        if verb == "extend":
            MT.STORE_KINDS[kind].extend(ext, root, batch_id="d1")
        else:
            victims = src.filter(F.col(id_col) % 4 == 0).select(id_col)
            MT.STORE_KINDS[kind].delete(spark, root, victims, "d1")

    deliver(clean)
    committed = ST.committed_batches(spark, path)
    served = _probe(kind, spark, path, docs, emb)

    def crashing(*_args, **_kwargs):
        raise _InjectedCrash(f"{kind} {verb} died before its ledger commit")

    monkeypatch.setattr(ST, "ledger_commit", crashing)
    with pytest.raises(_InjectedCrash):
        deliver(path)
    monkeypatch.undo()

    landed = MT.STORE_KINDS[kind].residency[0] if verb == "extend" else "tombstones"
    assert os.path.isdir(os.path.join(path, landed, "batch=d1"))
    assert ST.committed_batches(spark, path) == committed
    assert _probe(kind, spark, path, docs, emb) == served

    deliver(path)
    assert ST.committed_batches(spark, path) == committed + ["d1"]
    assert ST.committed_batches(spark, clean) == committed + ["d1"]
    assert _probe(kind, spark, path, docs, emb) == _probe(
        kind, spark, clean, docs, emb
    )


def test_store_protocol_steps_live_only_in_store_module():
    """Structural guard: the base-commit steps — meta invalidation, ledger
    reset, folded-manifest clear — and every ``.parquet(f"{...}/meta")``
    call are sequenced in ``operators/store.py`` alone, so no store kind
    can hand-copy (and drift) the crash posture again."""
    import ast
    import pathlib

    pkg = pathlib.Path(MT.__file__).resolve().parents[1]
    steps = {"invalidate_index_meta", "ledger_reset", "folded_clear"}
    found: dict[str, list[str]] = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "parquet" and node.args and isinstance(node.args[0], ast.JoinedStr):
                tail = node.args[0].values[-1]
                if isinstance(tail, ast.Constant) and str(tail.value).endswith("/meta"):
                    name = "meta parquet"
            if name in steps or name == "meta parquet":
                found.setdefault(rel, []).append(f"{name}:{node.lineno}")
    assert set(found) == {"operators/store.py"}, found
    assert {n.split(":")[0] for n in found["operators/store.py"]} == steps | {
        "meta parquet"
    }


def test_store_live_read_lives_only_in_store_module():
    """Structural guard: the ledger filter (a ``batch``-column ``.isin``)
    is written once, in ``store.committed_read``, and the tombstone set is
    read only by ``operators/store.py`` (the live read, the delivery guard,
    the delete victims) and by ``maintenance.py``, whose plan COUNTS dead
    ids with a flagged left join instead of hiding them — so no store can
    hand-copy (and drift) which of its rows are live."""
    import ast
    import pathlib

    pkg = pathlib.Path(MT.__file__).resolve().parents[1]
    found: dict[str, set[str]] = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "tombstoned_ids":
                found.setdefault("tombstoned_ids", set()).add(rel)
            recv = fn.value if isinstance(fn, ast.Attribute) else None
            if (
                name == "isin"
                and isinstance(recv, ast.Call)
                and recv.args
                and isinstance(recv.args[0], ast.Constant)
                and recv.args[0].value == "batch"
            ):
                found.setdefault("batch isin", set()).add(rel)
    assert found == {
        "batch isin": {"operators/store.py"},
        "tombstoned_ids": {"operators/store.py", "operators/maintenance.py"},
    }, found


def test_store_batch_write_lives_only_in_store_module():
    """Structural guard: a batch's artifact layout and its ledger commit
    are written once, in ``store.write_batch`` — the
    ``"partitionOverwriteMode"`` pin appears only in ``operators/store.py``,
    and ``ledger_commit`` is called only there and from ``maintenance.py``,
    where ``snapshot_store`` writes the consistent-cut ledger of a clone —
    so no store can hand-copy (and drift) how a delivery lands and
    commits."""
    import ast
    import pathlib

    pkg = pathlib.Path(MT.__file__).resolve().parents[1]
    found: dict[str, set[str]] = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Constant) and node.value == "partitionOverwriteMode":
                found.setdefault(node.value, set()).add(rel)
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "ledger_commit":
                    found.setdefault("ledger_commit", set()).add(rel)
    assert found == {
        "partitionOverwriteMode": {"operators/store.py"},
        "ledger_commit": {"operators/store.py", "operators/maintenance.py"},
    }, found


def test_maintenance_plan_bm25_exact_numbers(spark, docs, tmp_path):
    idx = str(tmp_path / "plan_bm25")
    n = docs.count()
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="b1")
    victims = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    n_victims = victims.count()
    RT.delete_from_text_index(spark, idx, victims, batch_id="take")
    plan = MT.maintenance_plan(spark, idx).first()
    assert plan.kind == "bm25"
    assert plan.n_batches == 3  # base + b1 + the delete delivery
    assert plan.n_tombstones == n_victims
    assert plan.live_units == n - n_victims
    assert plan.tombstone_nanos == (10**9 * n_victims) // n
    # ~14% dead > the 10% default threshold
    assert plan.compact_recommended

    # acting on it makes the deletes physical; the fresh plan is clean
    assert MT.compact_if_needed(spark, idx)
    plan2 = MT.maintenance_plan(spark, idx).first()
    assert (plan2.n_batches, plan2.n_tombstones) == (1, 0)
    assert plan2.live_units == n - n_victims
    assert not plan2.compact_recommended


def test_maintenance_plan_batch_threshold_and_noop(spark, emb, tmp_path):
    idx = str(tmp_path / "plan_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 4 == 0), idx, n_centroids=16, coarse="md5", dim=64
    )
    for i in range(1, 4):
        SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 4 == i), idx, batch_id=i)
    n = emb.count()
    plan = MT.maintenance_plan(spark, idx).first()
    assert plan.kind == "ivf"
    assert (plan.n_batches, plan.n_tombstones, plan.live_units) == (4, 0, n)
    assert not plan.compact_recommended  # 4 <= default 8, no tombstones
    # below thresholds: no-op, ledger untouched
    assert not MT.compact_if_needed(spark, idx)
    assert len(ST.committed_batches(spark, idx)) == 4
    # a tighter batch budget flips the recommendation
    tight = MT.maintenance_plan(spark, idx, max_batches=3).first()
    assert tight.compact_recommended
    assert MT.compact_if_needed(spark, idx, max_batches=3)
    assert ST.committed_batches(spark, idx) == ["base"]


def test_maintenance_plan_dedup_and_ivfpq_units(spark, docs, emb, tmp_path):
    d = str(tmp_path / "plan_dedup")
    DS.build_dedup_index(docs, d, family="md5", num_bands=4)
    meta = spark.read.parquet(f"{d}/meta").first()
    bands = spark.read.parquet(f"{d}/bands").count()
    plan = MT.maintenance_plan(spark, d).first()
    assert plan.kind == "dedup"
    assert plan.live_units == bands // int(meta.num_bands)
    p = str(tmp_path / "plan_ivfpq")
    SIM.build_ivfpq_index(emb, p, n_centroids=16, m=8, n_codewords=16, dim=64)
    plan_pq = MT.maintenance_plan(spark, p).first()
    assert plan_pq.kind == "ivfpq"
    assert plan_pq.live_units == emb.count()


def test_cli_auto_compact_acts_and_skips(spark, docs, tmp_path):
    from chat_data_pipeline_spark.cli import _run_indexing

    idx = str(tmp_path / "auto_bm25")
    RT.build_text_index(docs, idx)
    victims = docs.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    RT.delete_from_text_index(spark, idx, victims, batch_id="take")
    dfu = spark.createDataFrame([(1, "x")], "id long, response string")
    alias = str(tmp_path / "auto_alias")
    stale_dst = str(tmp_path / "stale_dst")
    RT.build_text_index(docs.limit(20), stale_dst)  # a servable stale root
    # below thresholds with a HIGH tombstone budget: skipped, and the alias
    # must point at the live path, never the stale dst
    _run_indexing(
        spark, dfu,
        {"bm25": {"path": idx, "action": "auto_compact",
                  "max_tombstone_nanos": 999_999_999, "dst_path": stale_dst,
                  "alias": alias}},
    )
    assert ST.resolve_index_alias(spark, alias) == idx
    assert os.path.exists(f"{idx}/tombstones")
    # default thresholds: ~17% dead crosses 10% — compacts, tombstones gone
    _run_indexing(
        spark, dfu, {"bm25": {"path": idx, "action": "auto_compact"}}
    )
    assert not os.path.exists(f"{idx}/tombstones")
    assert ST.committed_batches(spark, idx) == ["base"]


def test_cli_takedown_block_hits_every_store(spark, docs, emb, tmp_path):
    """One victim table + one batch id deleted from all four stores in one
    config; every store's probe afterwards excludes the victims."""
    from chat_data_pipeline_spark.cli import run_config

    b = str(tmp_path / "td_bm25")
    RT.build_text_index(docs, b)
    v = str(tmp_path / "td_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    p = str(tmp_path / "td_ivfpq")
    SIM.build_ivfpq_index(emb, p, n_centroids=16, m=8, n_codewords=16, dim=64)
    d = str(tmp_path / "td_dedup")
    DS.build_dedup_index(docs, d, family="md5")
    from chat_data_pipeline_spark.operators import neardup_store as NS

    nd = str(tmp_path / "td_neardup")
    NS.build_neardup_index(emb, nd, n_planes=4, n_tables=4, dim=64)

    ids_path = str(tmp_path / "victims.parquet")
    docs.filter(F.col("doc_id") % 5 == 2).select(
        F.col("doc_id").alias("id")
    ).write.parquet(ids_path)

    out = run_config(
        spark,
        {"takedown": {"ids_dataset": ids_path, "batch_id": "gdpr-1",
                      "bm25": b, "ivf": v, "ivfpq": p, "dedup": d,
                      "neardup": nd}},
    )
    n_victims = spark.read.parquet(ids_path).count()
    assert out.count() == n_victims

    lex = RT.bm25_topk_indexed(
        spark, b, ["join", "hash", "scan", "window", "sort"], k=50
    ).collect()
    assert lex and all(r.doc_id % 5 != 2 for r in lex)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf_out = SIM.ivf_topk_persisted(spark, v, qs, k=10, n_probe=4).collect()
    assert ivf_out and all(r.vec_id % 5 != 2 for r in ivf_out)
    pq_out = SIM.ivfpq_topk_persisted(spark, p, qs, k=10, n_probe=4).collect()
    assert pq_out and all(r.vec_id % 5 != 2 for r in pq_out)
    # the signature store stopped subtracting matches of the VICTIMS'
    # entries (collisions with retained references still subtract):
    # probing equals a fresh store built over the retained corpus only
    probe = docs.filter(F.col("doc_id") % 5 == 2)
    kept = {r.doc_id for r in DS.filter_against_dedup_index(spark, d, probe).collect()}
    fresh = str(tmp_path / "td_dedup_fresh")
    DS.build_dedup_index(docs.filter(F.col("doc_id") % 5 != 2), fresh, family="md5")
    want = {
        r.doc_id
        for r in DS.filter_against_dedup_index(spark, fresh, probe).collect()
    }
    assert kept == want and kept  # victims' own entries no longer subtract

    # the embedding store's takedown landed too: probing equals a fresh
    # store over the retained vectors (ids share the doc space)
    probe_vec = emb.filter(F.col("vec_id") % 5 == 2)
    kept_nd = {
        r.vec_id
        for r in NS.filter_against_neardup_index(spark, nd, probe_vec).collect()
    }
    nd_fresh = str(tmp_path / "td_neardup_fresh")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 5 != 2), nd_fresh, n_planes=4, n_tables=4, dim=64
    )
    want_nd = {
        r.vec_id
        for r in NS.filter_against_neardup_index(spark, nd_fresh, probe_vec).collect()
    }
    assert kept_nd == want_nd and kept_nd

    # config errors: no stores / missing batch_id / standalone without ids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one store"):
        run_config(spark, {"takedown": {"ids_dataset": ids_path, "batch_id": "x"}})
    with _pytest.raises(ValueError, match="batch_id"):
        run_config(spark, {"takedown": {"ids_dataset": ids_path, "bm25": b}})
    with _pytest.raises(ValueError, match="ids_dataset"):
        run_config(spark, {"takedown": {"batch_id": "x2", "bm25": b}})


def test_cli_maintain_block_sweeps_the_fleet(spark, docs, emb, tmp_path):
    """r15: one `maintain:` config sweeps heterogeneous roots — the
    over-threshold store compacts (auto_compact), the healthy one is left
    byte-untouched, and the persisted report reflects the post-compaction
    state with kinds auto-detected."""
    from chat_data_pipeline_spark.cli import run_config

    b = str(tmp_path / "mt_bm25")
    RT.build_text_index(docs, b)
    victims = docs.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    RT.delete_from_text_index(spark, b, victims, batch_id="take")  # ~17% dead
    v = str(tmp_path / "mt_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)  # healthy
    report_path = str(tmp_path / "mt_report.parquet")
    out = run_config(
        spark,
        {"maintain": {"roots": [b, v], "auto_compact": True,
                      "report_path": report_path}},
    )
    rows = {r.root: r for r in out.collect()}
    assert rows[b].kind == "bm25" and rows[v].kind == "ivf"
    # the bm25 root compacted: clean single-batch state in the report
    assert rows[b].n_batches == 1 and rows[b].n_tombstones == 0
    assert not rows[b].compact_recommended
    assert not os.path.exists(f"{b}/tombstones")
    # the healthy ivf root untouched
    assert rows[v].n_batches == 1 and not rows[v].compact_recommended
    assert ST.committed_batches(spark, v) == ["base"]
    # the persisted report matches the returned frame
    persisted = {r.root: r for r in spark.read.parquet(report_path).collect()}
    assert persisted.keys() == rows.keys()
    with pytest.raises(ValueError, match="roots"):
        run_config(spark, {"maintain": {"auto_compact": True}})



def test_maintenance_plan_ignores_non_resident_tombstones(spark, docs, tmp_path):
    """r15 review: the cross-store takedown fans ONE victim set to every
    store, so tombstoned ids a store never held are the NORMAL case — the
    plan must count only RESIDENT dead rows, or a ~1%-dead store would
    read as 33% dead and auto_compact would churn the fleet."""
    idx = str(tmp_path / "nonres_bm25")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    RT.build_text_index(half, idx)
    n = half.count()
    # victims: mostly NON-resident (odd ids) plus a small resident slice
    victims = docs.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 20 == 0)
    ).select("doc_id")
    resident = half.filter(F.col("doc_id") % 20 == 0).count()
    RT.delete_from_text_index(spark, idx, victims, batch_id="take")
    plan = MT.maintenance_plan(spark, idx).first()
    assert plan.n_tombstones == resident
    assert plan.live_units == n - resident
    assert plan.tombstone_nanos == (10**9 * resident) // n
    # ~5% resident dead stays under the 10% default even though the raw
    # tombstone set is >50% of the corpus
    assert not plan.compact_recommended


def test_store_kind_raises_on_zero_row_meta(spark, docs, tmp_path):
    """r16 review: a meta parquet with a valid footer but NO rows (crash
    between file creation and row flush) must fail with the same loud
    ValueError posture as a missing/unknown meta, not an AttributeError —
    this path runs per micro-batch under streaming_query_serving."""
    idx = str(tmp_path / "zero_meta")
    RT.build_text_index(docs, idx)
    spark.read.parquet(f"{idx}/meta").limit(0).write.mode("overwrite").parquet(
        f"{idx}/meta"
    )
    with pytest.raises(ValueError, match="no rows"):
        MT.detect_store_kind(spark, idx)
    with pytest.raises(ValueError, match="no rows"):
        MT.maintenance_plan(spark, idx)


def test_maintenance_sweep_concurrent_keeps_input_order(
    spark, docs, emb, tmp_path
):
    """The r16 concurrent sweep must report rows in the INPUT roots order
    regardless of per-root completion order (threads finish whenever) —
    a fleet report that reshuffles per run would hash-flake and confuse
    diffing two sweeps."""
    b, v = str(tmp_path / "ord_b"), str(tmp_path / "ord_v")
    RT.build_text_index(docs, b)
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    fwd = MT.maintenance_sweep(spark, [b, v]).collect()
    rev = MT.maintenance_sweep(spark, [v, b]).collect()
    assert [r.root for r in fwd] == [b, v]
    assert [r.root for r in rev] == [v, b]
    assert [r.kind for r in fwd] == ["bm25", "ivf"]
    # and a failing root surfaces loudly, not as a dropped row
    with pytest.raises(Exception):
        MT.maintenance_sweep(spark, [b, str(tmp_path / "missing_root")])


def test_maintenance_plan_ignores_uncommitted_partial_delivery(
    spark, docs, tmp_path
):
    """A crashed delivery (batch dir present, ledger marker absent) must
    not move ANY plan number: not n_batches, not live_units — and with
    the r16 base-partition id_type discipline, not even schema inference
    on a pre-r15 root whose partial files carry garbage columns."""
    idx = str(tmp_path / "crashy")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    before = MT.maintenance_plan(spark, idx).first()
    # simulate the crash: artifacts land, the ledger commit never does
    spark.createDataFrame(
        [(999999, "zzz", 1)], "doc long, term string, tf long"
    ).write.mode("overwrite").parquet(f"{idx}/postings/batch=ghost/bucket=0")
    after = MT.maintenance_plan(spark, idx).first()
    assert after == before


def test_cli_maintain_five_kind_fleet_with_crash_debris(
    spark, docs, emb, tmp_path
):
    """r17 capstone: one `maintain:` block sweeps a fleet spanning the
    new kinds (bm25 / ivfpq / neardup), every root carrying a crashed
    delivery's corrupt partial files.  The sweep must read THROUGH the
    debris (schema-pinned loads), compact each over-threshold store under
    its per-root lease, clear the debris via the compactions' static
    overwrites, and report the post-compaction state."""
    from chat_data_pipeline_spark.cli import _run_maintenance
    from chat_data_pipeline_spark.operators import neardup_store as NS

    bidx = str(tmp_path / "fleet_b")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), bidx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), bidx, batch_id="b1")
    RT.delete_from_text_index(
        spark, bidx, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        batch_id="take",
    )
    pidx = str(tmp_path / "fleet_p")
    SIM.build_ivfpq_index(emb, pidx, n_centroids=16, m=8, n_codewords=16, dim=64)
    ST.tombstone_delete(
        spark, pidx, emb.filter(F.col("vec_id") % 5 == 2).select("vec_id"),
        batch_id="take",
    )
    nidx = str(tmp_path / "fleet_n")
    NS.build_neardup_index(
        emb.filter(F.col("vec_id") % 2 == 0), nidx,
        n_planes=4, n_tables=4, dim=64, threshold=0.45,
    )
    NS.extend_neardup_index(emb.filter(F.col("vec_id") % 2 == 1), nidx, batch_id="b1")
    ST.tombstone_delete(
        spark, nidx, emb.filter(F.col("vec_id") % 6 == 0).select("vec_id"),
        batch_id="take",
    )
    # crashed-delivery debris in every root's real leaf layout
    ghosts = []
    for leaf in (
        f"{bidx}/postings/batch=aaa-ghost/bkt=0",
        f"{pidx}/postings/batch=aaa-ghost/list=0",
        f"{nidx}/postings/batch=aaa-ghost/t=0",
        f"{nidx}/vectors/batch=aaa-ghost",
    ):
        os.makedirs(leaf)
        p = os.path.join(leaf, "part-00000.parquet")
        with open(p, "wb") as fh:
            fh.write(b"NOT A PARQUET FOOTER")
        ghosts.append(leaf)

    report = {
        r.root: r
        for r in _run_maintenance(
            spark, {"roots": [bidx, pidx, nidx], "auto_compact": True}
        ).collect()
    }
    # every store was over its tombstone threshold -> compacted to one
    # folded base with the tombstones physical, and the report reflects
    # the state the run LEFT BEHIND
    for root in (bidx, pidx, nidx):
        assert report[root].n_batches == 1, (root, report[root])
        assert report[root].n_tombstones == 0
        assert not report[root].compact_recommended
    # the compactions' static overwrites cleared the debris partitions
    for leaf in ghosts:
        assert not os.path.exists(leaf), leaf
    # no lease left behind on any root
    from chat_data_pipeline_spark.operators import lease as L

    assert all(L.lease_holder(spark, r) is None for r in (bidx, pidx, nidx))


def _age_dir(spark, path: str, ms_ago: int = 86_400_000 * 2) -> None:
    """Backdate a dir's mtime so the GC grace judges it stale."""
    import time

    fs, p, _jvm = ST.fs_for(spark, path)
    fs.setTimes(p, int(time.time() * 1000) - ms_ago, -1)


def test_gc_debris_removes_only_stale_uncommitted(spark, docs, tmp_path):
    """r17: GC deletes uncommitted batch dirs PAST the grace and crashed
    committers' _temporary staging, keeps in-grace debris for the next
    sweep, never touches ledger-committed dirs of any age, and leaves
    serving bit-identical — all without a compaction rewrite."""
    idx = str(tmp_path / "gc_bm25")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="b1")
    terms = ["join", "hash", "scan"]
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, idx, terms, k=10).collect()))

    stale = f"{idx}/postings/batch=aaa-ghost/bkt=0"
    fresh = f"{idx}/doclens/batch=zz-fresh"
    tmpd = f"{idx}/postings/_temporary/0"
    for leaf in (stale, fresh, tmpd):
        os.makedirs(leaf)
        with open(os.path.join(leaf, "part-00000.parquet"), "wb") as fh:
            fh.write(b"NOT A PARQUET FOOTER")
    _age_dir(spark, f"{idx}/postings/batch=aaa-ghost")
    _age_dir(spark, f"{idx}/postings/_temporary")
    # age the COMMITTED extension too: committed dirs are immune by the
    # ledger, not by their age
    _age_dir(spark, f"{idx}/doclens/batch=b1")

    row = MT.gc_debris(spark, idx, grace_seconds=3600).first()
    assert (row.kind, row.n_batches) == ("bm25", 2)
    assert (row.debris_removed, row.debris_kept, row.tmp_removed) == (1, 1, 1)
    assert not os.path.exists(f"{idx}/postings/batch=aaa-ghost")
    assert not os.path.exists(f"{idx}/postings/_temporary")
    assert os.path.exists(fresh)  # in grace: a delivery may be in flight
    assert os.path.exists(f"{idx}/doclens/batch=b1")
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, idx, terms, k=10).collect())
    ) == want
    # the in-grace survivor falls to the next sweep once it ages out
    _age_dir(spark, fresh)
    row2 = MT.gc_debris(spark, idx, grace_seconds=3600).first()
    assert (row2.debris_removed, row2.debris_kept, row2.tmp_removed) == (1, 0, 0)
    assert not os.path.exists(fresh)


def test_gc_debris_refuses_metaless_root(spark, tmp_path):
    """A meta-less (mid-rebuild / not-a-store) root must fail loudly, not
    get swept."""
    root = str(tmp_path / "not_a_store")
    os.makedirs(f"{root}/postings/batch=x")
    with pytest.raises(Exception):
        MT.gc_debris(spark, root)


def test_cli_maintain_gc_sweeps_fleet_under_lease(spark, docs, emb, tmp_path):
    """r17: `maintain: {gc: true}` sweeps every root's crash debris under
    the per-root writer lease, the report reflects the post-gc state, and
    the plan numbers are debris-invariant (GC changes bytes on disk, not
    ledger-committed truth)."""
    from chat_data_pipeline_spark.cli import _run_maintenance
    from chat_data_pipeline_spark.operators import lease as L

    bidx = str(tmp_path / "gcf_b")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), bidx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), bidx, batch_id="b1")
    vidx = str(tmp_path / "gcf_v")
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    before = {
        r.root: r for r in MT.maintenance_sweep(spark, [bidx, vidx]).collect()
    }
    ghosts = [
        f"{bidx}/postings/batch=aaa-ghost/bkt=0",
        f"{vidx}/postings/batch=aaa-ghost/list=0",
    ]
    for leaf in ghosts:
        os.makedirs(leaf)
        with open(os.path.join(leaf, "part-00000.parquet"), "wb") as fh:
            fh.write(b"NOT A PARQUET FOOTER")
        _age_dir(spark, leaf.rsplit("/", 1)[0])

    report = {
        r.root: r
        for r in _run_maintenance(
            spark, {"roots": [bidx, vidx], "gc": True}
        ).collect()
    }
    for leaf in ghosts:
        assert not os.path.exists(leaf.rsplit("/", 1)[0]), leaf
    after = {
        r.root: r for r in MT.maintenance_sweep(spark, [bidx, vidx]).collect()
    }
    assert before == after
    assert report[bidx].kind == "bm25" and report[vidx].kind == "ivf"
    assert all(L.lease_holder(spark, r) is None for r in (bidx, vidx))


def test_gc_sweep_keeps_input_order_and_kinds(spark, docs, emb, tmp_path):
    """gc_sweep mirrors maintenance_sweep's fleet contract: pooled
    per-root walks, output rows in input order, kind per root."""
    didx = str(tmp_path / "gcs_d")
    DS.build_dedup_index(docs, didx, family="md5")
    vidx = str(tmp_path / "gcs_v")
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    out = MT.gc_sweep(spark, [vidx, didx]).collect()
    assert [r.root for r in out] == [vidx, didx]
    assert [r.kind for r in out] == ["ivf", "dedup"]
    assert all(
        (r.debris_removed, r.debris_kept, r.tmp_removed) == (0, 0, 0)
        for r in out
    )


def test_snapshot_store_clones_committed_state_only(spark, docs, tmp_path):
    """r17: the file-level clone — committed batches + tombstones + the
    spent-id manifest travel; crash debris and the lease dir never do;
    probes of the snapshot bit-match the source; the destination is a
    full store (its own ledger) that refuses accidental overwrite."""

    src = str(tmp_path / "snap_src")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), src)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), src, batch_id="b1")
    RT.delete_from_text_index(
        spark, src, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        batch_id="take",
    )
    # compact first so a folded manifest exists, then deliver again
    RT.compact_text_index(spark, src)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 7 == 3), src, batch_id="b2")
    # debris + a lease file that must NOT travel
    ghost = f"{src}/postings/batch=aaa-ghost/bkt=0"
    os.makedirs(ghost)
    with open(f"{ghost}/part-00000.parquet", "wb") as fh:
        fh.write(b"NOT A PARQUET FOOTER")
    from chat_data_pipeline_spark.operators import lease as L

    L.acquire_writer_lease(spark, src, "holder", wait_seconds=0)

    dst = str(tmp_path / "snap_dst")
    row = MT.snapshot_store(spark, src, dst).first()
    L.release_writer_lease(spark, src, "holder")
    assert row.kind == "bm25" and row.n_batches == 2  # base + b2 post-compact
    assert not os.path.exists(f"{dst}/postings/batch=aaa-ghost")
    assert not os.path.exists(f"{dst}/_writer_lease")
    terms = ["join", "hash", "scan"]
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, dst, terms, k=10).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, src, terms, k=10).collect())
    )
    # the spent-id manifest traveled: replaying a folded delivery against
    # the SNAPSHOT is a no-op, same as against the source
    before = RT.bm25_topk_indexed(spark, dst, terms, k=10).collect()
    RT.extend_text_index(docs.limit(5), dst, batch_id="b1")  # folded id
    assert RT.bm25_topk_indexed(spark, dst, terms, k=10).collect() == before
    assert set(ST.committed_batches(spark, dst)) == {"base", "b2"}
    # existing destination refused without overwrite
    with pytest.raises(ValueError, match="overwrite"):
        MT.snapshot_store(spark, src, dst)
    MT.snapshot_store(spark, src, dst, overwrite=True)


def test_cli_snapshot_action_with_alias_cutover(spark, docs, tmp_path):
    """r17: `action: snapshot` is YAML-reachable on the index block, runs
    under the dual-root lease, and the serving alias cuts over to the
    fresh snapshot only after its meta commits."""
    from chat_data_pipeline_spark.cli import _run_indexing
    from chat_data_pipeline_spark.operators.store import resolve_index_alias

    src = str(tmp_path / "clis_src")
    RT.build_text_index(docs, src)
    dst = str(tmp_path / "clis_dst")
    alias = str(tmp_path / "clis_alias")
    _run_indexing(
        spark,
        None,
        {"bm25": {"path": src, "action": "snapshot", "dst_path": dst,
                  "alias": alias}},
    )
    assert resolve_index_alias(spark, alias) == dst
    terms = ["join", "hash"]
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, dst, terms, k=5).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, src, terms, k=5).collect())
    )
    # missing dst_path fails loudly
    with pytest.raises(ValueError, match="dst_path"):
        _run_indexing(
            spark, None, {"bm25": {"path": src, "action": "snapshot"}}
        )


def test_snapshot_store_refuses_metaless_root(spark, tmp_path):
    root = str(tmp_path / "snap_not_store")
    os.makedirs(f"{root}/postings/batch=base")
    with pytest.raises(Exception):
        MT.snapshot_store(spark, root, str(tmp_path / "snap_never"))


def test_cli_dataset_free_index_config(spark, docs, tmp_path):
    """r17: a pure-maintenance YAML (index snapshot, no `datasets:`) runs
    end-to-end through main(); a corpus-needing block without `datasets:`
    fails with guidance instead of a KeyError."""
    from chat_data_pipeline_spark.cli import main as cli_main, run_config

    src = str(tmp_path / "dsfree_src")
    RT.build_text_index(docs, src)
    dst = str(tmp_path / "dsfree_dst")
    cfg = tmp_path / "dsfree.yaml"
    cfg.write_text(
        f"index:\n  bm25:\n    path: {src}\n    action: snapshot\n"
        f"    dst_path: {dst}\n"
    )
    cli_main(["--config_path", str(cfg)])
    assert os.path.exists(f"{dst}/meta")
    terms = ["join", "hash"]
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, dst, terms, k=5).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, src, terms, k=5).collect())
    )
    with pytest.raises(ValueError, match="datasets"):
        run_config(spark, {"index": {"bm25": {"path": src, "action": "build"}}})


def test_snapshot_store_refuses_its_own_source(spark, docs, tmp_path):
    """r17 review: dst == src with overwrite=True would delete the live
    store's content before 'copying' it — refused by qualified-path
    identity (trailing slashes and scheme spellings included)."""
    src = str(tmp_path / "snap_self")
    RT.build_text_index(docs, src)
    for dst in (src, src + "/", f"file:{src}"):
        with pytest.raises(ValueError, match="DIFFERENT root"):
            MT.snapshot_store(spark, src, dst, overwrite=True)
    assert os.path.exists(f"{src}/meta")  # the store survived untouched


def test_corpus_free_gate_accepts_ivf_rebuild(spark):
    """r17 review: the IVF rebuild re-trains from the store's own
    committed postings — a scheduled drift-repair config must not need a
    dummy `datasets:` (the lossy ivfpq rebuild still does)."""
    from chat_data_pipeline_spark.cli import _index_block_is_corpus_free

    assert _index_block_is_corpus_free(
        {"ivf": {"path": "/x", "dst_path": "/y", "action": "rebuild"}}
    )
    assert not _index_block_is_corpus_free(
        {"ivfpq": {"path": "/x", "action": "rebuild"}}
    )
    assert _index_block_is_corpus_free(
        {"ivfpq": {"path": "/x", "action": "rebuild", "dataset": "/emb.parquet"}}
    )


def test_cli_maintain_snapshot_dir_backs_up_the_fleet(spark, docs, emb, tmp_path):
    """r17: `maintain: {snapshot_dir}` is the scheduled-backup loop —
    every root clones to {dir}/{basename} under its lease BEFORE any
    compaction (the cut to roll back to), debris never travels, probes
    of the clones bit-match the sources, and a second run replaces the
    previous clones cleanly; colliding basenames are refused up front."""
    from chat_data_pipeline_spark.cli import _run_maintenance

    bidx = str(tmp_path / "bk_bm25")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), bidx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), bidx, batch_id="b1")
    vidx = str(tmp_path / "bk_ivf")
    SIM.build_ivf_index(emb, vidx, n_centroids=16, coarse="md5", dim=64)
    ghost = f"{bidx}/postings/batch=aaa-ghost/bkt=0"
    os.makedirs(ghost)
    with open(f"{ghost}/part-00000.parquet", "wb") as fh:
        fh.write(b"NOT A PARQUET FOOTER")
    snap = str(tmp_path / "backups")

    _run_maintenance(spark, {"roots": [bidx, vidx], "snapshot_dir": snap})
    bclone, vclone = f"{snap}/bk_bm25", f"{snap}/bk_ivf"
    assert not os.path.exists(f"{bclone}/postings/batch=aaa-ghost")
    terms = ["join", "hash"]
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, bclone, terms, k=5).collect())
    ) == sorted(
        map(tuple, RT.bm25_topk_indexed(spark, bidx, terms, k=5).collect())
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, vclone, q, k=5).collect())
    ) == sorted(
        map(tuple, SIM.ivf_topk_persisted(spark, vidx, q, k=5).collect())
    )
    # second scheduled run replaces the clones (overwrite semantics)
    _run_maintenance(spark, {"roots": [bidx, vidx], "snapshot_dir": snap})
    assert os.path.exists(f"{bclone}/meta")
    # colliding basenames refused before anything mutates
    twin = str(tmp_path / "sub" / "bk_bm25")
    os.makedirs(os.path.dirname(twin), exist_ok=True)
    RT.build_text_index(docs.limit(10), twin)
    with pytest.raises(ValueError, match="distinct"):
        _run_maintenance(
            spark, {"roots": [bidx, twin], "snapshot_dir": snap}
        )
    from chat_data_pipeline_spark.operators import lease as L

    assert all(L.lease_holder(spark, r) is None for r in (bidx, vidx))


# ---------------------------------------------------------------------------
# fsck (r17): the read-only structural audit
# ---------------------------------------------------------------------------


def test_fsck_clean_store_ok_and_post_compaction_fold_accounting(
    spark, docs, tmp_path
):
    """A healthy lifecycle reads 'ok' at every stage, and after an
    in-place compaction the report shows the folded ids as SPENT (manifest
    count) with zero fold/ledger overlap — the ledger reset and the fold
    write are two halves of one protocol, and fsck is the check that both
    halves landed."""
    idx = str(tmp_path / "fsck_bm25")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="b1")
    RT.delete_from_text_index(
        spark, idx, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        batch_id="take",
    )
    row = MT.fsck_store(spark, idx).first()
    assert (row.kind, row.meta_ok, row.status) == ("bm25", True, "ok")
    assert row.n_batches == 3
    assert (
        row.missing_batch_dirs, row.orphan_dirs, row.tmp_dirs,
        row.folded_spent, row.fold_ledger_overlap, row.reap_markers,
    ) == (0, 0, 0, 0, 0, 0)
    assert not row.lease_held and not row.lease_stale

    RT.compact_text_index(spark, idx)
    row2 = MT.fsck_store(spark, idx).first()
    assert (row2.status, row2.n_batches) == ("ok", 1)
    assert row2.folded_spent == 2  # b1 + take, spent by the fold
    assert row2.fold_ledger_overlap == 0


def test_fsck_detects_missing_committed_artifacts(spark, emb, tmp_path):
    """The one state nothing else reports: a ledger-committed delivery
    whose batch= dir is gone serves SILENT zero rows (probes filter to
    committed batches and find nothing) — fsck calls the root corrupt."""
    import shutil

    idx = str(tmp_path / "fsck_ivf")
    SIM.build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx,
        n_centroids=16, coarse="md5", dim=64,
    )
    SIM.extend_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_id="b1")
    assert MT.fsck_store(spark, idx).first().status == "ok"
    shutil.rmtree(f"{idx}/postings/batch=b1")
    row = MT.fsck_store(spark, idx).first()
    assert (row.kind, row.status) == ("ivf", "corrupt")
    assert row.missing_batch_dirs == 1
    assert row.n_batches == 2  # the ledger still claims both


def test_fsck_counts_debris_of_any_age_and_never_modifies(
    spark, docs, tmp_path
):
    """fsck counts ALL uncommitted dirs (GC's grace window is an
    acting-safely concern; diagnosis reports the fresh ones too) and is
    strictly read-only — every byte it audited is still there after."""
    idx = str(tmp_path / "fsck_debris")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    stale = f"{idx}/postings/batch=aaa-ghost/bkt=0"
    fresh = f"{idx}/doclens/batch=zz-fresh"
    tmpd = f"{idx}/postings/_temporary/0"
    for leaf in (stale, fresh, tmpd):
        os.makedirs(leaf)
        with open(os.path.join(leaf, "part-00000.parquet"), "wb") as fh:
            fh.write(b"NOT A PARQUET FOOTER")
    _age_dir(spark, f"{idx}/postings/batch=aaa-ghost")
    row = MT.fsck_store(spark, idx).first()
    assert (row.status, row.orphan_dirs, row.tmp_dirs) == ("attention", 2, 1)
    assert row.missing_batch_dirs == 0
    for leaf in (stale, fresh, tmpd):
        assert os.path.exists(leaf)  # read-only: the debris is GC's job


def test_fsck_fold_ledger_overlap_is_corrupt(spark, docs, tmp_path):
    """A batch id both ledger-committed AND manifest-folded double-serves
    (probes merge the batch the base already contains) — the crash window
    between a compaction's fold write and its ledger reset."""
    idx = str(tmp_path / "fsck_overlap")
    RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    RT.extend_text_index(docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="b1")
    ST.folded_record(spark, idx, ["b1"], [])  # fold landed, reset didn't
    row = MT.fsck_store(spark, idx).first()
    assert row.status == "corrupt"
    assert (row.fold_ledger_overlap, row.folded_spent) == (1, 1)


def test_fsck_reports_metaless_root_instead_of_raising(spark, tmp_path):
    """Unlike every serving path, fsck is the tool you point AT a broken
    root — classification failure is a reported row, not an exception,
    so a fleet sweep with one mid-rebuild root still audits the rest."""
    root = str(tmp_path / "fsck_not_a_store")
    os.makedirs(f"{root}/postings/batch=x")
    row = MT.fsck_store(spark, root).first()
    assert (row.kind, row.meta_ok, row.status) == ("unknown", False, "corrupt")


def test_fsck_lease_health(spark, docs, tmp_path):
    """A held-and-beating lease reads 'ok' (normal during any mutation); a
    LOCK past its ttl plus a leftover REAP generation marker reads
    'attention' — the dead-writer signature whose debris is usually in
    the same report."""
    from chat_data_pipeline_spark.operators import lease as L

    idx = str(tmp_path / "fsck_lease")
    RT.build_text_index(docs.limit(50), idx)
    with L.writer_lease(spark, idx, owner="fsck-test"):
        row = MT.fsck_store(spark, idx).first()
        assert (row.lease_held, row.lease_stale, row.status) == (
            True, False, "ok",
        )
    # fabricate a dead writer: a LOCK aged past the ttl + a REAP marker
    os.makedirs(f"{idx}/_writer_lease", exist_ok=True)
    for name in ("LOCK", "REAP-123"):
        with open(f"{idx}/_writer_lease/{name}", "wb"):
            pass
    _age_dir(spark, f"{idx}/_writer_lease/LOCK", ms_ago=2 * 900 * 1000)
    row2 = MT.fsck_store(spark, idx).first()
    assert (row2.lease_held, row2.lease_stale, row2.status) == (
        True, True, "attention",
    )
    assert row2.reap_markers == 1


def test_cli_maintain_fsck_audits_first_and_blocks_corrupt_compaction(
    spark, docs, tmp_path
):
    """`maintain: {fsck: true, auto_compact: true}`: the audit runs over
    the state AS FOUND, lands in fsck_report_path, and a root the audit
    called corrupt is REFUSED compaction (folding committed batches into
    a new base would bake the missing-artifact loss in permanently) while
    healthy over-threshold roots still compact."""
    import shutil

    from chat_data_pipeline_spark.cli import _run_maintenance

    def _mk(idx):
        RT.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
        RT.extend_text_index(
            docs.filter(F.col("doc_id") % 2 == 1), idx, batch_id="b1"
        )
        RT.delete_from_text_index(
            spark, idx,
            docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
            batch_id="take",
        )

    bad = str(tmp_path / "fsck_cli_bad")
    good = str(tmp_path / "fsck_cli_good")
    _mk(bad)
    _mk(good)
    # a committed id counts as missing only when NO artifact subtree has
    # it (per-subtree membership is delivery-kind-specific): drop b1 from
    # all four the extension wrote
    for sub in ("doclens", "postings", "stats", "dfreq"):
        shutil.rmtree(f"{bad}/{sub}/batch=b1")
    report_path = str(tmp_path / "fsck_report")
    out = _run_maintenance(
        spark,
        {
            "roots": [bad, good],
            "fsck": True,
            "fsck_report_path": report_path,
            "auto_compact": True,
        },
    )
    got = {r.root: r for r in out.collect()}
    assert got[bad].n_batches == 3  # refused: still uncompacted
    assert got[good].n_batches == 1  # healthy root compacted
    audit = {r.root: r for r in spark.read.parquet(report_path).collect()}
    assert audit[bad].status == "corrupt"
    assert audit[bad].missing_batch_dirs == 1
    assert audit[good].status == "ok"
    from chat_data_pipeline_spark.operators import lease as L

    assert all(L.lease_holder(spark, r) is None for r in (bad, good))


def test_fsck_sweep_keeps_input_order(spark, docs, emb, tmp_path):
    b = str(tmp_path / "fsck_sw_bm25")
    RT.build_text_index(docs.limit(40), b)
    v = str(tmp_path / "fsck_sw_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    out = MT.fsck_sweep(spark, [v, b]).collect()
    assert [(r.root, r.kind, r.status) for r in out] == [
        (v, "ivf", "ok"), (b, "bm25", "ok"),
    ]


# ---------------------------------------------------------------------------
# restore (r17): the recovery half of the backup loop
# ---------------------------------------------------------------------------


def test_cli_restore_brings_a_backup_onto_a_destroyed_root(
    spark, docs, tmp_path
):
    """The full loop fsck's 'corrupt' verdict points at: snapshot a
    tombstoned store, destroy the live root, `action: restore` it back
    from the backup through a dataset-less config — the restored root's
    serving is bit-identical to the pre-loss store, replay idempotence
    included (the spent-id manifest travels with the clone)."""
    import shutil

    from chat_data_pipeline_spark.cli import main as cli_main

    live = str(tmp_path / "restore_live")
    bak = str(tmp_path / "restore_bak")
    RT.build_text_index(docs, live)
    RT.delete_from_text_index(
        spark, live, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        batch_id="takedown",
    )
    terms = ["join", "hash", "scan"]
    want = sorted(map(tuple, RT.bm25_topk_indexed(spark, live, terms, k=10).collect()))
    MT.snapshot_store(spark, live, bak)
    shutil.rmtree(live)
    assert MT.fsck_store(spark, live).first().status == "corrupt"

    cfg = tmp_path / "restore.yaml"
    cfg.write_text(
        f"index:\n  bm25:\n    path: {live}\n    action: restore\n"
        f"    from_path: {bak}\n"
    )
    cli_main(["--config_path", str(cfg)])
    assert sorted(
        map(tuple, RT.bm25_topk_indexed(spark, live, terms, k=10).collect())
    ) == want
    # the spent takedown id is still spent against the restored root: a
    # replayed delivery under the same id must no-op, not resurrect
    assert MT.fsck_store(spark, live).first().status == "ok"
    from chat_data_pipeline_spark.operators import lease as L

    assert all(L.lease_holder(spark, r) is None for r in (live, bak))


def test_cli_restore_guard_rails(spark, docs, emb, tmp_path):
    """restore refuses a cross-kind backup (config typo, not recovery), a
    missing from_path, and restoring over a root that still has content
    without the explicit overwrite_dst."""
    from chat_data_pipeline_spark.cli import run_config

    live = str(tmp_path / "guard_live")
    RT.build_text_index(docs.limit(50), live)
    vbak = str(tmp_path / "guard_ivf_bak")
    SIM.build_ivf_index(emb, vbak, n_centroids=16, coarse="md5", dim=64)
    with pytest.raises(ValueError, match="from_path"):
        run_config(
            spark,
            {"index": {"bm25": {"path": live, "action": "restore"}}},
        )
    with pytest.raises(ValueError, match="cross-kind"):
        run_config(
            spark,
            {"index": {"bm25": {
                "path": live, "action": "restore", "from_path": vbak,
            }}},
        )
    bbak = str(tmp_path / "guard_bm25_bak")
    MT.snapshot_store(spark, live, bbak)
    # the live root still has content: explicit consent required
    with pytest.raises(ValueError, match="overwrite"):
        run_config(
            spark,
            {"index": {"bm25": {
                "path": live, "action": "restore", "from_path": bbak,
            }}},
        )
    # with consent it replaces the live content
    run_config(
        spark,
        {"index": {"bm25": {
            "path": live, "action": "restore", "from_path": bbak,
            "overwrite_dst": True,
        }}},
    )
    assert MT.fsck_store(spark, live).first().status == "ok"
    from chat_data_pipeline_spark.operators import lease as L

    assert all(
        L.lease_holder(spark, r) is None for r in (live, bbak, vbak)
    )


def test_maintenance_plan_fused_counts_ivf_with_tombstones(spark, emb, tmp_path):
    """r17 optimization: live and dead now come from ONE residency scan
    (left join against the deduped tombstone set) instead of a
    footer-metadata count plus a separate semi-join count — the plan
    numbers for a tombstoned root must be unchanged."""
    idx = str(tmp_path / "fused_ivf")
    SIM.build_ivf_index(emb, idx, n_centroids=16, coarse="md5", dim=64)
    victims = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    ST.tombstone_delete(spark, idx, victims, batch_id="take")
    n = emb.count()
    k = victims.count()
    plan = MT.maintenance_plan(spark, idx).first()
    assert plan.kind == "ivf"
    assert plan.n_tombstones == k
    assert plan.live_units == n - k
    assert plan.tombstone_nanos == (10**9 * k) // n


def test_kind_meta_passthrough_matches_self_read(spark, docs, tmp_path):
    """r17 optimization: a fleet chain classifies a root once and hands the
    (kind, meta) pair to gc_debris / fsck_store / maintenance_plan — each
    verb's output must be identical to the self-reading form."""
    idx = str(tmp_path / "km_bm25")
    RT.build_text_index(docs, idx)
    RT.delete_from_text_index(
        spark, idx, docs.filter(F.col("doc_id") % 4 == 1).select("doc_id"),
        batch_id="take",
    )
    km = MT.store_kind_and_meta(spark, idx)
    assert (
        MT.maintenance_plan(spark, idx, kind_meta=km).first()
        == MT.maintenance_plan(spark, idx).first()
    )
    assert (
        MT.fsck_store(spark, idx, kind_meta=km).first()
        == MT.fsck_store(spark, idx).first()
    )
    assert (
        MT.gc_debris(spark, idx, kind_meta=km).first()
        == MT.gc_debris(spark, idx).first()
    )


def test_read_meta_row_matches_spark_read(spark, docs, emb, tmp_path):
    """The r17 driver-side meta read must hand back exactly the Row the
    spark.read path produced — same field names, order, and value types —
    for every store kind, and must keep the old path's edge semantics
    (zero-row meta -> None, missing meta -> the Spark error)."""
    b = str(tmp_path / "mr_bm25")
    RT.build_text_index(docs, b)
    v = str(tmp_path / "mr_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    for root in (b, v):
        fast = ST.read_meta_row(spark, root)
        slow = spark.read.parquet(f"{root}/meta").first()
        assert fast == slow
        assert list(fast.asDict()) == list(slow.asDict())
        assert [type(x) for x in fast] == [type(x) for x in slow]

    # zero-row meta (crash between file creation and row flush) -> None
    z = str(tmp_path / "mr_zero")
    spark.range(0).selectExpr(
        "CAST('x' AS STRING) AS id_type", "CAST(1 AS INT) AS n_term_buckets"
    ).repartition(1).write.mode("overwrite").parquet(f"{z}/meta")
    assert ST.read_meta_row(spark, z) is None

    # missing root -> the Spark path's loud failure
    with pytest.raises(Exception) as exc:
        ST.read_meta_row(spark, str(tmp_path / "mr_missing"))
    assert "PATH_NOT_FOUND" in str(exc.value) or "Path does not exist" in str(
        exc.value
    )


def test_local_parquet_schema_parity(spark, docs, emb, tmp_path):
    """The r17 driver-side schema derivation must equal Spark's own
    inference EXACTLY (names, order, types, nullability) for every input
    table at every scale factor and for committed_tree over every store
    artifact layout (flat, bkt=, list=, t=, band= partitions)."""
    import glob
    import os

    from chat_data_pipeline_spark.session import local_parquet_schema

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for path in sorted(glob.glob(f"/root/testdata/{sf}/*.parquet")):
            if os.path.isdir(path) and not glob.glob(f"{path}/*.parquet"):
                continue
            derived = local_parquet_schema(spark, path)
            assert derived is not None, path
            assert derived == spark.read.parquet(path).schema, path

    b = str(tmp_path / "sch_bm25")
    RT.build_text_index(docs, b)
    v = str(tmp_path / "sch_ivf")
    SIM.build_ivf_index(emb, v, n_centroids=16, coarse="md5", dim=64)
    d = str(tmp_path / "sch_dedup")
    DS.build_dedup_index(docs, d, family="md5", num_bands=4)
    from chat_data_pipeline_spark.operators import neardup_store as NS

    nd = str(tmp_path / "sch_neardup")
    NS.build_neardup_index(emb, nd, n_planes=8, n_tables=2, dim=64)

    def _inferred_tree_schema(root, sub):
        # the pre-r17 shape: schema from an inference read of batch=base,
        # then the tree read with it — compare the resulting DataFrame
        # schemas (Spark re-orders partition columns to directory order
        # in both paths)
        from pyspark.sql.types import StringType

        base = spark.read.parquet(f"{root}/{sub}/batch=base")
        s = base.schema
        if "batch" not in base.columns:
            s = s.add("batch", StringType())
        return spark.read.schema(s).parquet(f"{root}/{sub}").schema

    for root, subs in [
        (b, ["postings", "dfreq", "stats", "doclens"]),
        (v, ["postings"]),
        (d, ["bands"]),
        (nd, ["postings", "vectors"]),
    ]:
        for sub in subs:
            got = ST.committed_tree(spark, root, sub).schema
            want = _inferred_tree_schema(root, sub)
            assert got == want, f"{root}/{sub}: {got} != {want}"


def test_read_meta_row_multi_row_takes_spark_path(spark, tmp_path):
    """A non-conforming multi-row meta must NOT be served by the pyarrow
    fast path (its lexicographic part ordering could pick a different row
    than Spark's first()) — the fast path raises internally and the
    result is exactly what spark.read...first() returns (r18, from r17
    ADVICE)."""
    m = str(tmp_path / "mr_multi")
    spark.sql(
        "SELECT * FROM VALUES ('x', 1), ('y', 2) AS t(id_type, n_term_buckets)"
    ).repartition(1).write.mode("overwrite").parquet(f"{m}/meta")
    fast = ST.read_meta_row(spark, m)
    slow = spark.read.parquet(f"{m}/meta").first()
    assert fast == slow


def test_local_parquet_schema_int96_falls_back(spark, tmp_path):
    """An INT96-written timestamp file must return None (Spark inference
    fallback): nanosAsLong only applies to INT64 TIMESTAMP(NANOS), but
    pyarrow reports INT96 as timestamp[ns] too — a pinned bigint schema
    would misread the scan (r18, from r17 ADVICE)."""
    from chat_data_pipeline_spark.session import (
        local_parquet_schema,
        read_parquet_pinned,
    )

    p = str(tmp_path / "int96_ts")
    old = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql(
            "SELECT timestamp_ntz'2020-01-02 03:04:05' AS ts, 7 AS k"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "k").write.mode(
            "overwrite"
        ).parquet(p)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old)
        else:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert local_parquet_schema(spark, p) is None
    # and the pinned reader therefore agrees with plain inference
    assert read_parquet_pinned(spark, p).schema == spark.read.parquet(p).schema


def test_repartition_for_compute_memo_decisions_unchanged(spark):
    """The r18 probe memo must change only the probe COST, never the
    decision: a semantically identical frame re-probed through the memo
    returns the same partitioning as a fresh exact probe (pinning VERDICT
    item 5's 'decisions unchanged')."""
    from chat_data_pipeline_spark.session import (
        _compute_probe_memo,
        repartition_for_compute,
    )

    path = f"{SF_DIR}/documents.parquet"

    def fresh():
        return spark.read.parquet(path).select("doc_id", "text")

    _compute_probe_memo.clear()
    first = repartition_for_compute(fresh())
    assert len(_compute_probe_memo) == 1  # exact probe ran and was recorded
    exact_decision = first.rdd.getNumPartitions()
    memo_hit = repartition_for_compute(fresh())
    assert len(_compute_probe_memo) == 1  # second call hit the memo
    assert memo_hit.rdd.getNumPartitions() == exact_decision
    # an explicit target keys separately and still widens when below it
    widened = repartition_for_compute(fresh(), partitions=64)
    assert widened.rdd.getNumPartitions() == 64
    assert repartition_for_compute(fresh(), partitions=64).rdd.getNumPartitions() == 64
