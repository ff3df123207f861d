"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``chat_data_pipeline_spark.queries`` — one registered
(spark_fn, oracle_sql) pair per operator from SURVEY.md §2 plus the
training-data extensions (dedup family, ANN, text analysis, multimodal
plumbing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

from chat_data_pipeline_spark.queries import REGISTRY  # noqa: E402

# application ids the package zip was added to: ``addPyFile`` belongs to the
# SparkContext, and unlike ``id(spark)`` an application id is never reused
# by a later session once this one stops
_SHIPPED_SESSIONS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``chat_data_pipeline_spark`` importable on executor workers.

    UDF closures (minhash fingerprints, nsfw scoring, multimodal decode)
    reference package functions, which cloudpickle serializes by reference;
    workers spawned from a different cwd can't import the package unless it
    is shipped.  ``addPyFile`` with a zip of the package handles any driver
    cwd / cluster layout.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.join(_REPO_ROOT, "chat_data_pipeline_spark")
    zpath = os.path.join(tempfile.gettempdir(), "cdp_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    arc = os.path.relpath(full, _REPO_ROOT)
                    zf.write(full, arc)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_SESSIONS.add(app_id)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's full lifecycle over the documents corpus —
    clean → quality-filter → MinHash-LSH near-dedup (ref:preprocessor.py:32-37)
    at sf0.001."""
    from pyspark.sql import functions as F

    from chat_data_pipeline_spark.plans import SparkPreprocessor

    _ship_package(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pre = SparkPreprocessor(
        column_name="text",
        cleaners=["normalize_whitespace", "normalize_punctuation"],
        filters=[
            ("check_word_number", {"min_word_threshold": 5, "max_word_threshold": 512}),
            "check_empty",
            "check_ethics",
        ],
        deduplication_config={"ngram_size": 5, "num_perm": 256, "threshold": 0.7},
    )
    out = pre.run(df)
    return out.select("doc_id", "text", "lang", "source", F.length("text").alias("n_chars_clean"))


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(q.fn) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
