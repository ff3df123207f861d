"""Process-level behaviour of ``chat_data_pipeline_spark.session``: what the
package changes inside Python workers (the zip-directory refresh and the
frozen import-time heap), what it leaves alone in the driver, and the
session-scoped memos keyed on the application id."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import __spark_entry__ as E
from chat_data_pipeline_spark import session as S


def test_worker_installs_stamped_zip_refresh_and_freezes_import_heap(spark):
    """A package import inside a PySpark worker installs the stamp-checked
    zip refresh and freezes the import-time objects out of the daemon's
    per-task collection."""

    def probe(batches):
        import gc
        import sys
        import zipimport

        import pandas as pd

        import chat_data_pipeline_spark.session  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "in_worker": ["pyspark.worker" in sys.modules],
                "refresh": [zipimport.zipimporter.invalidate_caches.__module__],
                "frozen": [gc.get_freeze_count()],
            }
        )

    rows = (
        spark.range(0, 4, 1, 2)
        .mapInPandas(probe, "in_worker boolean, refresh string, frozen long")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.in_worker
        assert r.refresh == "chat_data_pipeline_spark.session"
        assert r.frozen > 0


def test_driver_keeps_stdlib_zip_refresh():
    import chat_data_pipeline_spark.cli  # noqa: F401

    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def _write_module_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("cdp_zip_probe.py", f"VALUE = {value!r}\n")


def test_stamped_zip_refresh_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", S._stamped_invalidate_caches
    )
    reads: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    archive = str(tmp_path / "probe.zip")
    _write_module_zip(archive, "first")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "cdp_zip_probe", raising=False)
    try:
        assert importlib.import_module("cdp_zip_probe").VALUE == "first"

        # a rewritten archive (new content, new size) is re-read
        _write_module_zip(archive, "second, longer")
        importlib.invalidate_caches()
        del sys.modules["cdp_zip_probe"]
        assert importlib.import_module("cdp_zip_probe").VALUE == "second, longer"

        # an unchanged archive is not
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads
        del sys.modules["cdp_zip_probe"]
        assert importlib.import_module("cdp_zip_probe").VALUE == "second, longer"
    finally:
        sys.modules.pop("cdp_zip_probe", None)
        sys.path_importer_cache.pop(archive, None)


def test_probe_memo_ignores_entries_of_a_stopped_session_with_same_id(spark, monkeypatch):
    """A stopped session's memo entries must not answer for a new session
    that CPython placed at the same address: pre-seed what such a session
    would have left under ``id(spark)`` (and under another application id)
    and check both width decisions are computed afresh."""
    monkeypatch.setattr(S, "_compute_probe_memo", {})
    df = spark.range(0, 10, 1, 1)
    sc = spark.sparkContext
    h = df._jdf.queryExecution().analyzed().semanticHash()
    exact = sc.defaultParallelism  # one split, so the probe widens to it
    stale = 3
    assert exact != stale
    for owner in (id(spark), "local-stopped-app"):
        S._compute_probe_memo[(owner, h, None, None, sc.defaultParallelism)] = stale
        S._compute_probe_memo[
            ("width_est", owner, h, S.COMPUTE_MIN_EST_BYTES, sc.defaultParallelism)
        ] = stale
    assert S.repartition_for_compute(df).rdd.getNumPartitions() == exact
    assert S.compute_width_estimate(df) != stale


def test_ship_package_ignores_entry_of_a_stopped_session_with_same_id(spark, monkeypatch):
    shipped: list[str] = []
    monkeypatch.setattr(E, "_SHIPPED_SESSIONS", {id(spark), "local-stopped-app"})
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    E._ship_package(spark)
    E._ship_package(spark)
    assert len(shipped) == 1
    assert spark.sparkContext.applicationId in E._SHIPPED_SESSIONS

