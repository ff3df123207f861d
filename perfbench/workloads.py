"""The three workloads: warm-up, one timed operation, its output check, and
the traced replay that splits the same work into per-layer spans.

Untraced operations call the package exactly as a user would:
``cli.run_config`` (chat_curation), ``plans.pipeline.SparkPreprocessor``
(docs_quality) and ``operators.dedup_store`` (store_onboarding).  The traced
replay makes the same calls one layer at a time (a ``SparkPreprocessor`` of
its own for the cleaners, the filters and the dedup of each column) and
forces every layer's result to materialize inside its span, so lazy work is
charged to the layer that owns it; the fusion this loses is part of the
trace overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import check

MINHASH = {"ngram_size": 5, "num_perm": 256, "threshold": 0.7, "min_ngram_size": 5}
EXACT_DEDUP = {"method": "exact", "id_col": "id"}
TIMED_OPS = 4  # chat_curation, docs_quality: identical runs of the whole job
COMPACT_EVERY = 3  # store_onboarding: compaction after every k-th delivery

RESPONSE_CLEANERS = ["fix_utf8_encoding", "normalize_punctuation", "remove_empty_lines"]
RESPONSE_FILTERS = [
    ("check_word_number", {"min_word_threshold": 5, "max_word_threshold": 128}),
    ("check_completion", {}),
    ("check_char_repetition", {"char_repetition_len": 10, "char_repetition_threshold": 0.2}),
    ("check_lowercase_ratio", {"lowercase_threshold": 0.75}),
    ("check_nsfw_words", {"flagged_words_threshold": 0.025}),
    ("check_ethics", {}),
]
INSTRUCTION_FILTERS = [("check_lowercase_ratio", {"lowercase_threshold": 0.55})]
WEB_CLEANERS = ["strip_html", "fix_utf8_encoding", "normalize_whitespace"]
WEB_FILTERS = [
    ("check_c4_quality", {}),
    ("check_gopher_quality", {}),
    ("check_char_repetition", {"char_repetition_len": 10, "char_repetition_threshold": 0.2}),
    ("check_nsfw_words", {"flagged_words_threshold": 0.025}),
]
FILTER_NAMES = sorted({n for n, _ in RESPONSE_FILTERS + INSTRUCTION_FILTERS + WEB_FILTERS})


def materialize(df):
    return df.localCheckpoint(eager=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def dir_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def chat_config(paths: list[str]) -> dict:
    def filters(specs):
        return [{"name": n, "args": dict(a)} for n, a in specs]

    return {
        "datasets": [{"path": p} for p in paths],
        "response": {
            "cleaners": list(RESPONSE_CLEANERS),
            "filters": filters(RESPONSE_FILTERS),
            "deduplication": {"do_deduplication": True, "minhash_config": dict(MINHASH)},
        },
        "instruction": {
            "cleaners": [],
            "filters": filters(INSTRUCTION_FILTERS),
            "deduplication": {"do_deduplication": False},
        },
        "seed": 42,
    }


class Workload:
    """One workload over the inputs described by ``manifest``; scratch
    output goes under ``work``."""

    def __init__(self, manifest: dict, work: str):
        self.m = manifest
        self.work = work
        self.values: dict[str, float] = {}  # per-layer values outside the span counters
        self.filter_chains: list = []  # (input frame, column, filters) per replayed chain

    # spans [replay_from, replay_to) of the traced pass redo the timed work
    replay_from = replay_to = 0

    def docs_per_op(self) -> int:
        return int(self.m["input_docs"])

    def ops(self, trace: bool) -> int:
        """Timed operations per run; a traced run times only what its
        replay repeats, for ``trace_overhead_s``."""
        return 2 if trace else TIMED_OPS

    def untraced_wall(self, latencies: list[float]) -> float:
        """Untraced time of the work the traced pass repeats."""
        return statistics.median(latencies)

    def prepare(self, spark) -> None:
        """Set-up work beyond the warm-up (store_onboarding builds its base)."""

    def store_ratio(self) -> float:
        return dir_bytes(self.out) / self.m["input_text_bytes"]

    def trace_pipeline(self, rec, df, column, cleaners, filters, dedup):
        """``SparkPreprocessor(column, cleaners, filters, dedup).run`` one
        layer at a time under ``plans.pipeline``: one preprocessor per layer,
        each result materialized inside its layer's span."""
        from chat_data_pipeline_spark.plans import SparkPreprocessor

        def layer(name, **kwargs):
            nonlocal df
            with rec.span(name) as sp:
                t0 = time.time()
                out = SparkPreprocessor(column, **kwargs).run(df)
                t1 = time.time()
                df = materialize(out)
            plan_s.append(rec.driver_time(sp, t0, t1))
            return sp

        plan_s = []
        with rec.span("plans.pipeline") as pp:
            if cleaners:
                layer("functions.cleaners", cleaners=cleaners)
            self.filter_chains.append((df, column, filters))
            layer("functions.filters", filters=filters)
            if dedup is not None:
                before = df
                sp = layer("operators.dedup", deduplication_config=dedup)
        pp.values["plan_s"] = sum(plan_s)
        if dedup is not None:  # counted once no span is open
            sp.values["rows_in"], sp.values["rows_out"] = before.count(), df.count()
        return df

    def trace_filters_one_by_one(self, rec) -> None:
        """After the replay: each filter of each chain in a preprocessor of
        its own, in chain order, for the per-filter busy time and kept
        fraction."""
        from chat_data_pipeline_spark.plans import SparkPreprocessor

        steps = []
        for df, column, filters in self.filter_chains:
            for name, args in filters:
                with rec.span(f"functions.filters.{name}") as sp:
                    out = materialize(SparkPreprocessor(column, filters=[(name, args)]).run(df))
                steps.append((sp, df, out))
                df = out
        for sp, before, after in steps:
            sp.values["rows_in"], sp.values["rows_out"] = before.count(), after.count()

    def trace_write(self, rec, df, path):
        from chat_data_pipeline_spark.sources.io import write_table

        with rec.span("sources.io") as sp:
            write_table(df, path)
        sp.values["write_s"], sp.values["bytes_written"] = sp.wall, dir_bytes(path)

    def trace_read(self, rec, read):
        with rec.span("sources.io") as sp:
            df = materialize(read())
        sp.values["read_s"] = sp.wall
        return df


class ChatCuration(Workload):
    """The reference job through ``cli.run_config``: MinHash dedup dominates."""

    def __init__(self, manifest, work):
        super().__init__(manifest, work)
        self.out = os.path.join(work, "chat_out.parquet")

    def run(self, spark, paths, out) -> None:
        from chat_data_pipeline_spark import cli
        from chat_data_pipeline_spark.sources.io import write_table

        write_table(cli.run_config(spark, chat_config(paths)), out)

    def warm_up(self, spark) -> None:
        self.run(spark, self.m["inputs"], os.path.join(self.work, "warm_out.parquet"))

    def op(self, spark, i: int) -> None:
        self.run(spark, self.m["inputs"], self.out)

    def errors(self, spark, i: int, path: str | None = None) -> list[str]:
        from pyspark.sql import functions as F

        last = F.element_at("conversation", -1)
        rows = (
            spark.read.parquet(path or self.out)
            .select("id", F.size("conversation").alias("n"), last.getField("content").alias("c"))
            .collect()
        )
        return check.chat_errors([(r.id, r.n, r.c) for r in rows], self.m)

    def traced(self, spark, rec) -> list[str]:
        from pyspark.sql import functions as F

        from chat_data_pipeline_spark import cli
        from chat_data_pipeline_spark.operators import conversation as CV
        from chat_data_pipeline_spark.operators.sampling import shuffle_rows
        from chat_data_pipeline_spark.sources import combine_sources

        # the whole job as one cli call: its driver time is cli.plan_s
        with rec.span("cli") as sp:
            t0 = time.time()
            out = cli.run_config(spark, chat_config(self.m["inputs"]))
            t1 = time.time()
            self.trace_write(rec, out, self.out)
        sp.values["plan_s"] = rec.driver_time(sp, t0, t1)
        errors = self.errors(spark, 0)

        # the same job split into layers
        self.replay_from = len(rec.spans)
        df = self.trace_read(rec, lambda: combine_sources(spark, self.m["inputs"]))
        with rec.span("operators.conversation") as sp:
            df = materialize(CV.add_content_columns(CV.explode_conversations(df)))
        sp.values["rows_out"] = df.count()
        df = self.trace_pipeline(
            rec, df, "response", RESPONSE_CLEANERS, RESPONSE_FILTERS, dict(MINHASH)
        )
        kept = {f"{r.id}:{r.n}" for r in df.select("id", (F.size("input") + 1).alias("n")).collect()}
        planted = [c for c in self.m["clusters"] if c["band"] in ("clone", "0.9", "0.75")]
        want = sum(len(c["rows"]) - 1 for c in planted)
        got = sum(len(c["rows"]) - len(kept & set(c["rows"])) for c in planted)
        self.values["operators.dedup.planted_recall"] = got / want
        df = self.trace_pipeline(rec, df, "instruction", [], INSTRUCTION_FILTERS, None)
        with rec.span("operators.conversation"):
            df = materialize(CV.to_chatml(df))
        with rec.span("operators.sampling") as sp:
            df = materialize(shuffle_rows(df, seed=42))
        sp.values["shuffle_s"] = sp.wall
        replay_out = os.path.join(self.work, "chat_replay.parquet")
        self.trace_write(rec, df, replay_out)
        self.replay_to = len(rec.spans)
        self.trace_filters_one_by_one(rec)
        return errors + self.errors(spark, 0, replay_out)


class DocsQuality(Workload):
    """Web pages through ``SparkPreprocessor``: cleaners and filters dominate."""

    def __init__(self, manifest, work):
        super().__init__(manifest, work)
        self.out = os.path.join(work, "docs_out.parquet")

    @staticmethod
    def preprocessor():
        from chat_data_pipeline_spark.plans import SparkPreprocessor

        return SparkPreprocessor(
            column_name="text",
            cleaners=list(WEB_CLEANERS),
            filters=[(n, dict(a)) for n, a in WEB_FILTERS],
            deduplication_config=dict(EXACT_DEDUP),
        )

    def run(self, spark, path, out) -> None:
        from chat_data_pipeline_spark.sources.io import read_table, write_table

        write_table(self.preprocessor().run(read_table(spark, path)), out)

    def warm_up(self, spark) -> None:
        self.run(spark, self.m["inputs"][0], os.path.join(self.work, "warm_out.parquet"))

    def op(self, spark, i: int) -> None:
        self.run(spark, self.m["inputs"][0], self.out)

    def errors(self, spark, i: int, path: str | None = None) -> list[str]:
        rows = spark.read.parquet(path or self.out).select("id", "text").collect()
        return check.docs_errors([(r.id, r.text) for r in rows], self.m)

    def traced(self, spark, rec) -> list[str]:
        from chat_data_pipeline_spark.sources.io import read_table

        self.replay_from = len(rec.spans)
        df = self.trace_read(rec, lambda: read_table(spark, self.m["inputs"][0]))
        df = self.trace_pipeline(rec, df, "text", WEB_CLEANERS, WEB_FILTERS, dict(EXACT_DEDUP))
        kept = {r.id for r in df.select("id").collect()}
        groups = self.m["dup_groups"]
        self.values["operators.dedup.planted_recall"] = sum(
            len(g) - len(kept & set(g)) for g in groups
        ) / sum(len(g) - 1 for g in groups)
        self.trace_write(rec, df, self.out)
        self.replay_to = len(rec.spans)
        self.trace_filters_one_by_one(rec)
        return self.errors(spark, 0)


class StoreOnboarding(Workload):
    """Closed-loop deliveries against a persisted ``dedup_store``: probe,
    write survivors, extend, and compact every ``COMPACT_EVERY`` deliveries."""

    def __init__(self, manifest, work):
        super().__init__(manifest, work)
        self.root = os.path.join(work, "store")
        self.delivered_bytes = 0
        self.ratio: float | None = None

    def build(self, spark, path, root) -> None:
        from chat_data_pipeline_spark.operators.dedup_store import build_dedup_index
        from chat_data_pipeline_spark.sources.io import read_table

        build_dedup_index(
            read_table(spark, path), root, column="text", id_col="doc_id", family="sha1", **MINHASH
        )

    def deliver(self, spark, root, batch_path, out, batch_id: int, compact: bool) -> None:
        from chat_data_pipeline_spark.operators import dedup_store as S
        from chat_data_pipeline_spark.sources.io import read_table, write_table

        write_table(S.filter_against_dedup_index(spark, root, read_table(spark, batch_path)), out)
        S.extend_dedup_index(read_table(spark, out), root, batch_id)
        if compact:
            S.compact_dedup_index(spark, root)

    def warm_up(self, spark) -> None:
        root = os.path.join(self.work, "warm_store")
        self.build(spark, self.m["warm_base"], root)
        self.deliver(spark, root, self.m["warm_batch"], os.path.join(self.work, "warm_out"), 1, True)

    def prepare(self, spark) -> None:
        shutil.rmtree(os.path.join(self.work, "delivered"), ignore_errors=True)
        self.build(spark, self.m["base"], self.root)

    def ops(self, trace: bool) -> int:
        # a traced run goes past the first compaction, as its replay does
        return COMPACT_EVERY + 1 if trace else len(self.m["batches"])

    def untraced_wall(self, latencies: list[float]) -> float:
        return sum(latencies[: COMPACT_EVERY + 1])

    def delivered(self, i: int) -> str:
        return os.path.join(self.work, "delivered", f"batch_{i:03d}.parquet")

    def op(self, spark, i: int) -> None:
        compact = (i + 1) % COMPACT_EVERY == 0
        self.deliver(spark, self.root, self.m["batches"][i], self.delivered(i), i + 1, compact)
        self.delivered_bytes += self.m["batch_fresh_text_bytes"][i]
        if compact and self.ratio is None:
            # space after the first compaction: the same store state on every run
            self.ratio = dir_bytes(self.root) / (self.m["base_text_bytes"] + self.delivered_bytes)

    def errors(self, spark, i: int) -> list[str]:
        ids = [r.doc_id for r in spark.read.parquet(self.delivered(i)).select("doc_id").collect()]
        return check.delivery_errors(ids, self.m, i)

    def store_ratio(self) -> float:
        return self.ratio

    def traced(self, spark, rec) -> list[str]:
        from chat_data_pipeline_spark.operators import dedup_store as S
        from chat_data_pipeline_spark.sources.io import read_table

        root = os.path.join(self.work, "trace_store")
        base = self.trace_read(rec, lambda: read_table(spark, self.m["base"]))
        with rec.span("operators.dedup_store") as sp:
            S.build_dedup_index(base, root, column="text", id_col="doc_id", family="sha1", **MINHASH)
        sp.values["build_s"] = sp.wall
        self.replay_from = len(rec.spans)
        probed = dropped = 0
        errors = []
        for i in range(COMPACT_EVERY + 1):
            batch = self.trace_read(rec, lambda: read_table(spark, self.m["batches"][i]))
            with rec.span("operators.dedup_store") as sp:
                survivors = materialize(S.filter_against_dedup_index(spark, root, batch))
            sp.values["probe_s"] = sp.wall
            out = os.path.join(self.work, "trace_delivered", f"batch_{i:03d}.parquet")
            self.trace_write(rec, survivors, out)
            n_in, ids = batch.count(), [r.doc_id for r in survivors.select("doc_id").collect()]
            probed, dropped = probed + n_in, dropped + n_in - len(ids)
            errors += check.delivery_errors(ids, self.m, i)
            with rec.span("operators.dedup_store") as sp:
                S.extend_dedup_index(read_table(spark, out), root, i + 1)
            sp.values["extend_s"] = sp.wall
            if (i + 1) % COMPACT_EVERY == 0:
                with rec.span("operators.dedup_store") as sp:
                    S.compact_dedup_index(spark, root)
                sp.values["compact_s"] = sp.wall
        self.replay_to = len(rec.spans)
        self.values["operators.dedup_store.files"] = dir_files(root)
        self.values["operators.dedup_store.probe_hit_frac"] = dropped / probed
        return errors


WORKLOAD_TYPES = {
    "chat_curation": ChatCuration,
    "docs_quality": DocsQuality,
    "store_onboarding": StoreOnboarding,
}
