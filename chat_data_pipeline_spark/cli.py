"""CLI entry point — the reference ``main.py`` lifecycle (ref:main.py:1-139)
as one lazy Spark plan.

YAML config shape mirrors the reference (ref:experiments/tiny-example.yaml):

    datasets:
      - path: /data/a.parquet
      - path: /data/b.parquet
    output_path: /out/dataset
    sink:                        # engine extension (r12): output file shape
      partition_by: [lang]       #   hive dirs -> downstream partition pruning
      target_files: 200          #   pre-write repartition (shard count)
      max_records_per_file: 500000   # writer-side cap on shard size
      stringify_complex: true    #   CSV sinks: complex cols -> JSON text
    quality_gate:                # engine extension (r11): look before leaping
      max_violation_nanos: 50000000
      key: id
      rules: {response_not_null: "response IS NOT NULL"}
    train:                       # engine extension (r13): train-then-gate
      quality_classifier:        #   fits the fixed-point classifier and
        column: response         #   persists (bucket, weight) to the path a
        label_expr: "lang = 'en'"  # check_quality_classifier filter below
        weights_path: /models/qw.parquet  # consumes via weights_path
        n_buckets: 256
    response:                    # ref:main.py:41-52
      cleaners: [fix_utf8_encoding, normalize_punctuation]
      filters:
        - name: check_word_number
          args: {min_word_threshold: 5, max_word_threshold: 128}
      deduplication:
        do_deduplication: true
        minhash_config: {ngram_size: 5, num_perm: 256, threshold: 0.7}
    instruction:                 # ref:main.py:54-65
      cleaners: []               # cleaners on instruction are forbidden
      filters:
        - name: check_lowercase_ratio
          args: {lowercase_threshold: 0.55}
      deduplication: {do_deduplication: false}
    seed: 42

Differences from the reference, by design (SURVEY.md §7.3):
- the ``minhash_config`` YAML key is HONORED (the reference silently drops it
  due to the ``args`` key mismatch at ref:preprocessor.py:76); a
  ``strict_compat`` top-level flag restores bug behavior (defaults ignored).
- execution is lazy end-to-end: the whole lifecycle is one Catalyst plan with
  a single write action (plus dedup's internal iterations).
"""

from __future__ import annotations

import argparse
import contextlib
import logging
import sys
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger("chat_data_pipeline_spark")


def load_yaml(path: str) -> dict:
    """Minimal YAML loader: uses PyYAML when available, else a built-in
    subset parser good for the config shapes above (nested dicts, lists of
    scalars/dicts, ints/floats/bools/strings)."""
    try:
        import yaml  # type: ignore

        with open(path) as fh:
            return yaml.safe_load(fh)
    except ImportError:
        return _mini_yaml(open(path).read())


def _scalar(tok: str):
    tok = tok.strip().strip('"').strip("'")
    low = tok.lower()
    if low in ("true", "yes"):
        return True
    if low in ("false", "no"):
        return False
    if low in ("null", "~", ""):
        return None
    for cast in (int, float):
        try:
            return cast(tok)
        except ValueError:
            pass
    return tok


def _mini_yaml(text: str):
    """Indentation-based subset parser (dicts, lists, inline lists, scalars)."""
    lines = [
        (len(l) - len(l.lstrip()), l.strip())
        for l in text.splitlines()
        if l.strip() and not l.strip().startswith("#")
    ]

    def parse_block(i: int, indent: int):
        if i >= len(lines) or lines[i][0] < indent:
            return {}, i
        if lines[i][1].startswith("- "):
            items = []
            while i < len(lines) and lines[i][0] >= indent and lines[i][1].startswith("- "):
                item_indent, content = lines[i][0], lines[i][1][2:]
                if ":" in content and not content.startswith(("[", "{")):
                    # dict item: first pair inline, following pairs indented deeper
                    key, _, val = content.partition(":")
                    d = {}
                    if val.strip():
                        d[key.strip()] = _parse_value(val.strip())
                        i += 1
                    else:
                        sub, i = parse_block(i + 1, item_indent + 2)
                        d[key.strip()] = sub
                    while i < len(lines) and lines[i][0] > item_indent:
                        k, _, v = lines[i][1].partition(":")
                        if v.strip():
                            d[k.strip()] = _parse_value(v.strip())
                            i += 1
                        else:
                            sub, i = parse_block(i + 1, lines[i][0] + 2)
                            d[k.strip()] = sub
                    items.append(d)
                else:
                    items.append(_parse_value(content))
                    i += 1
            return items, i
        out = {}
        while i < len(lines) and lines[i][0] == indent:
            key, _, val = lines[i][1].partition(":")
            if val.strip():
                out[key.strip()] = _parse_value(val.strip())
                i += 1
            else:
                sub, i = parse_block(i + 1, indent + 2)
                out[key.strip()] = sub
        return out, i

    def _parse_value(v: str):
        v = v.strip()
        if v.startswith("[") and v.endswith("]"):
            inner = v[1:-1].strip()
            return [_scalar(x) for x in inner.split(",")] if inner else []
        if v.startswith("{") and v.endswith("}"):
            inner = v[1:-1].strip()
            out = {}
            for part in (inner.split(",") if inner else []):
                k, _, val = part.partition(":")
                out[k.strip()] = _scalar(val.strip())
            return out
        return _scalar(v)

    result, _ = parse_block(0, 0)
    return result


def _build_preprocessor(column: str, cfg: dict, forbid_cleaners: bool = False):
    from chat_data_pipeline_spark.plans import SparkPreprocessor

    cleaners = list(cfg.get("cleaners") or [])
    if forbid_cleaners and cleaners:
        # ref:main.py:54-56 — instruction text is a derived view; cleaning it
        # would not propagate back into `input`.
        logger.warning("cleaners on the instruction column are ignored")
        cleaners = []
    filters = [
        (f["name"], dict(f.get("args") or {})) if isinstance(f, dict) else f
        for f in (cfg.get("filters") or [])
    ]
    dedup_cfg = cfg.get("deduplication") or {}
    dedup = None
    if dedup_cfg.get("do_deduplication"):
        # honor minhash_config (the reference bug drops it — SURVEY.md §7.3)
        dedup = dict(dedup_cfg.get("minhash_config") or dedup_cfg.get("args") or {})
    return SparkPreprocessor(
        column_name=column, cleaners=cleaners, filters=filters, deduplication_config=dedup
    )


def _apply_quality_gate(df: DataFrame, gate_cfg: dict) -> None:
    """Optional config-driven ingest gate (r11, engine extension beyond the
    reference): run the expectations report BEFORE spending compute on the
    pipeline, log every rule, and fail fast when a rule's violation rate
    exceeds ``max_violation_nanos`` (integer nanos; omit for report-only).

    YAML shape::

        quality_gate:
          max_violation_nanos: 100000000    # fail above 10%; optional
          key: id                           # optional uniqueness check
          rules:
            response_not_null: "response IS NOT NULL"
            response_nonempty: "length(response) > 0"

    This is deliberately an EAGER action (one extra map-side-combined scan):
    a gate that doesn't look before the pipeline leaps is a log line, not a
    gate."""
    from chat_data_pipeline_spark.operators.diagnostics import (
        data_quality_report,
        uniqueness_report,
    )

    rules = {name: F.expr(str(sql)) for name, sql in (gate_cfg.get("rules") or {}).items()}
    parts = []
    if rules:
        parts.append(data_quality_report(df, rules))
    if gate_cfg.get("key"):
        parts.append(uniqueness_report(df, str(gate_cfg["key"])))
    if not parts:
        return
    report = parts[0]
    for p in parts[1:]:
        report = report.unionByName(p)
    limit = gate_cfg.get("max_violation_nanos")
    failed = []
    for row in report.collect():
        logger.info(
            "quality_gate %-28s rows=%d violations=%d rate_nanos=%d",
            row.rule,
            row.n_rows,
            row.n_violations,
            row.violation_nanos,
        )
        if limit is not None and row.violation_nanos > int(limit):
            failed.append((row.rule, row.violation_nanos))
    if failed:
        raise ValueError(
            f"quality_gate failed: {failed} exceed max_violation_nanos={limit}"
        )


def _run_training(spark: SparkSession, df: DataFrame, train_cfg: dict) -> None:
    """Config-driven model training (r13, engine extension): close the
    train-then-gate loop INSIDE one YAML — fit the fixed-point quality
    classifier on a labeled seed expression and persist the dense
    ``(bucket, weight)`` table to the exact path a later
    ``check_quality_classifier`` filter's ``weights_path`` consumes.

    YAML shape::

        train:
          quality_classifier:
            column: response              # text column to featurize
            label_expr: "lang = 'en'"     # 0/1 seed signal (SQL expression)
            weights_path: /models/quality_weights.parquet
            n_buckets: 256                # optional (trained modulus)
            rounds: 4                     # optional GD rounds
            scale: 1000000                # optional fixed-point scale
            lr_den_mult: null             # optional step-size override

    Training is an EAGER action by design (driver-paced GD rounds, like the
    quality gate's look-before-leap scan); the persisted table is dense, so
    the filter's bidirectional modulus check can recover the trained size."""
    from chat_data_pipeline_spark.functions import scoring as SC

    known = {"quality_classifier"}
    unknown = set(train_cfg) - known
    if unknown:
        raise ValueError(
            f"train: unknown trainer(s) {sorted(unknown)}; supported: {sorted(known)}"
        )
    spec = dict(train_cfg.get("quality_classifier") or {})
    if "label_expr" not in spec or "weights_path" not in spec:
        raise ValueError(
            "train.quality_classifier needs `label_expr` (0/1 seed signal) "
            "and `weights_path` (where the trained table is persisted)"
        )
    column = str(spec.get("column", "response"))
    n_buckets = int(spec.get("n_buckets", 256))
    kwargs = {}
    if spec.get("lr_den_mult") is not None:
        kwargs["lr_den_mult"] = int(spec["lr_den_mult"])
    weights = SC.train_linear_classifier_fixed_point(
        df,
        column,
        F.expr(str(spec["label_expr"])).cast("int"),
        n_buckets=n_buckets,
        rounds=int(spec.get("rounds", 4)),
        scale=int(spec.get("scale", 1_000_000)),
        **kwargs,
    )
    wpath = str(spec["weights_path"])
    from chat_data_pipeline_spark.session import values_df

    # VALUES-backed local table (r17): the write action evaluates in the
    # JVM with no Python-worker round trip; coalesce(1) keeps one file
    # without the exchange repartition(1) paid (r18)
    values_df(
        spark, [(b, int(w)) for b, w in enumerate(weights)], "bucket int, weight long"
    ).coalesce(1).write.mode("overwrite").parquet(wpath)
    logger.info(
        "train.quality_classifier: wrote %d-bucket weights to %s", n_buckets, wpath
    )


def _run_indexing(spark: SparkSession, df: DataFrame, index_cfg: dict) -> None:
    """Config-driven store maintenance (engine extension): build / extend /
    maintain any of the five persisted stores (bm25, ivf, ivfpq, dedup,
    neardup) from the same YAML that runs the pipeline, so a curation job
    can leave a servable store behind (or deliver its batch into one)
    without a separate script.  Every kind's action runs through
    :func:`_run_index_action`; kinds run in ``STORE_KINDS`` order.

    YAML shape::

        index:
          bm25:
            path: /indexes/corpus_bm25
            column: response          # text column to index
            id_expr: id               # unique id expression
            action: build             # build (default) | extend | delete
                                      #   | compact
            batch_id: delivery-042    # required for extend / delete
            ids_dataset: /ids.parquet # optional delete-id table; default:
                                      # this run's curated rows' id_expr
            dst_path: /indexes/v2     # optional for compact (write-then-swap)
            alias: /indexes/serving   # optional: after the action lands,
                                      # atomically point this serving alias
                                      # at the final root (dst_path if
                                      # given, else path)
          ivf:
            path: /indexes/corpus_ivf
            vec_col: embedding        # array<float/double> column to index
            id_expr: id               # unique id expression
            dataset: /tables/emb.parquet  # optional vector source; default:
                                          # the curated rows themselves
            coarse: md5               # md5 (default) | kmeans
            n_centroids: 16
            dim: 64                   # vector dim (md5 codebook width)
            seed: 42                  # kmeans retrain seed
            action: build             # build (default) | extend | delete
                                      #   | compact
                                      #   | rebuild (coarse-retrain+cutover)
            batch_id: delivery-042    # required for extend / delete
            ids_dataset: /ids.parquet # optional delete-id table; default:
                                      # this run's curated rows' id_expr
            dst_path: /indexes/v2     # optional for compact/rebuild
            alias: /indexes/ann_serving   # optional cutover pointer
          ivfpq:
            path: /indexes/corpus_ivfpq   # COMPRESSED codes-only ANN store
            vec_col: embedding
            id_expr: id
            dataset: /tables/emb.parquet  # optional vector source
            n_centroids: 16
            m: 8                      # PQ subspaces
            n_codewords: 16
            dim: 64
            action: build             # build (default) | extend | delete
                                      #   | compact
                                      #   | rebuild (PQ storage is lossy:
                                      #   re-encodes `dataset:` or this
                                      #   run's rows)
            batch_id: delivery-042    # required for extend / delete
            ids_dataset: /ids.parquet # optional delete-id table
            dst_path: /indexes/v2     # optional for compact
            alias: /indexes/pq_serving    # optional cutover pointer
          dedup:
            path: /stores/corpus_sigs # persisted MinHash signature store
            column: response          # text column to fingerprint
            id_expr: id
            family: md5               # md5 (default, oracle-backed) | sha1
            action: build             # build (default) | extend | delete
                                      #   | compact
            batch_id: crawl-042       # required for extend / delete
            ids_dataset: /ids.parquet # optional delete-id table
            dst_path: /stores/v2      # optional for compact
            alias: /stores/serving    # optional cutover pointer
          neardup:
            path: /stores/ref_vectors # persisted SRP-LSH embedding store
            dataset: /tables/emb.parquet  # optional vector source
            vec_col: embedding
            id_expr: id
            n_planes: 4               # default: corpus-scaled occupancy
            n_tables: 4
            dim: 64
            threshold: 0.45
            action: build             # build (default) | extend | delete
                                      #   | compact
            batch_id: crawl-042       # required for extend / delete
            ids_dataset: /ids.parquet # optional delete-id table
            dst_path: /stores/v2      # optional for compact
            alias: /stores/serving    # optional cutover pointer

    Every kind also accepts ``action: auto_compact`` (r15): read the
    store's own artifacts via ``maintenance_plan`` and compact only when
    a threshold is crossed — ``max_batches`` (default 8) committed
    deliveries, or ``max_tombstone_nanos`` (default 1e8 = 10%) dead rows.
    With ``alias:``, a skipped run swaps serving to ``path``; only a run
    that actually compacted swaps to ``dst_path``.

    Every kind also accepts ``action: snapshot`` (r17): clone the root's
    ledger-committed state to ``dst_path`` at the FILE level — committed
    ``batch=`` dirs, the spent-id manifest, a fresh consistent-cut
    ledger, meta last; crash debris and the lease dir never travel and
    nothing is decoded or shuffled, so the cost is IO bandwidth only (the
    serving-tier clone / pre-migration backup verb beside compaction's
    rewrite and gc's debris delete).  ``overwrite_dst: true`` replaces an
    existing destination; with ``alias:`` the pointer cuts over to the
    fresh snapshot after it commits.

    ``action: restore`` (r17) is the recovery half: bring a backup
    (``from_path``) back onto ``path`` — what the fsck audit's 'corrupt'
    verdict calls for.  The backup must classify as this block's kind,
    and restoring over a root that still has content requires the
    explicit ``overwrite_dst: true`` (a restore is destructive by
    design); both roots are leased for the copy.

    Both kinds share the commit-ledger crash posture: indexing is an EAGER
    action (it writes the artifacts), a config run that dies mid-delivery
    leaves the batch invisible to probes and re-running the same config
    re-commits it, and every base (re)build window is meta-less so a crash
    inside it fails probes loudly.  With `alias:` the whole zero-downtime
    loop is one config: rebuild/compact into `dst_path`, then the swap
    lands ONLY after the action completed — a run that dies mid-action
    leaves the alias serving the old root."""
    from chat_data_pipeline_spark.operators.maintenance import STORE_KINDS

    unknown = set(index_cfg) - set(STORE_KINDS)
    if unknown:
        raise ValueError(
            f"index: unknown index kind(s) {sorted(unknown)}; "
            f"supported: {sorted(STORE_KINDS)}"
        )
    for kind in STORE_KINDS:
        if kind not in index_cfg:
            continue
        spec = dict(index_cfg.get(kind) or {})
        if "path" not in spec:
            _run_index_action(spark, df, spec, kind)  # raises the config error
            continue
        # ONE writer lease per index block, covering EVERY action — not
        # just compact/rebuild: an extend or delete committing between a
        # concurrent compactor's ledger snapshot and its base rewrite
        # would be folded-over without its id being spent (the partition
        # dir survives but ledger_reset erases the commit marker — silent
        # loss), so every CLI mutation serializes against live writers.
        # A write-then-swap compact/rebuild (dst_path) mutates TWO roots;
        # a live stream on dst could otherwise race the dst base rewrite,
        # so both roots are leased, in sorted order (fixed global order =
        # no deadlock against another dual-root block).
        roots = {str(spec["path"])}
        if spec.get("dst_path") and str(spec.get("action", "build")) in (
            "compact", "rebuild", "auto_compact", "snapshot",
        ):
            roots.add(str(spec["dst_path"]))
        # restore READS from_path while a scheduled `maintain:` backup may
        # be replacing that same clone — lease it alongside the live root
        if spec.get("from_path") and str(spec.get("action", "build")) == "restore":
            roots.add(str(spec["from_path"]))
        with contextlib.ExitStack() as _stack:
            for _root in sorted(roots):
                _stack.enter_context(
                    _cli_lease(spark, _root, f"cli:index.{kind}", spec)
                )
            _run_index_action(spark, df, spec, kind)


def _finish_with_alias(spark: SparkSession, spec: dict, action: str) -> None:
    """Optional serving-alias cutover AFTER an index action lands — the ONE
    implementation of the 'dst_path only counts for the action that writes
    it' rule: a reused config carrying a stale dst_path with
    action=build/extend/delete must swap serving to `path`, never to
    whatever old root dst_path still names."""
    if not spec.get("alias"):
        return
    from chat_data_pipeline_spark.operators.store import swap_index_alias

    dst = str(spec["dst_path"]) if spec.get("dst_path") else None
    final = (
        dst if action in ("compact", "rebuild", "snapshot") and dst
        else str(spec["path"])
    )
    swap_index_alias(spark, str(spec["alias"]), final)


def _delete_ids_frame(spark: SparkSession, df: DataFrame, spec: dict, kind: str) -> DataFrame:
    """Victim-id frame for an `index.*` delete — the ONE implementation of
    the stale-`dataset:`-key guard (a reused extend config flipped to
    action=delete would otherwise tombstone the entire vector table
    silently) plus the ids_dataset/curated-rows source choice, previously
    copy-pasted across the vector-store handlers."""
    if spec.get("dataset"):
        raise ValueError(
            f"index.{kind} action=delete takes `ids_dataset`, not `dataset` "
            "(which names the build/extend vector source); remove the "
            "stale `dataset:` key or rename it"
        )
    id_expr = str(spec.get("id_expr", "id"))
    base = (
        spark.read.parquet(str(spec["ids_dataset"]))
        if spec.get("ids_dataset")
        else df
    )
    return base.select(F.expr(id_expr))


def _cli_lease(spark, path: str, label: str, spec: dict | None = None):
    """Per-root writer lease for CLI maintenance mutations (r16): a YAML
    compact against a root that a live delivery/takedown stream writes
    must serialize with its triggers, not race them.  The block may tune
    `lease_wait_seconds` (how long to queue behind a live writer before
    failing loudly — a scheduled job might prefer 0 and a retry next
    tick) and `lease_ttl_seconds` (crash-takeover horizon; keep it above
    the longest trigger/compaction on the root)."""
    from chat_data_pipeline_spark.operators.lease import (
        DEFAULT_TTL_SECONDS,
        DEFAULT_WAIT_SECONDS,
        writer_lease,
    )

    spec = spec or {}
    return writer_lease(
        spark, path, label,
        ttl_seconds=int(spec.get("lease_ttl_seconds", DEFAULT_TTL_SECONDS)),
        wait_seconds=float(spec.get("lease_wait_seconds", DEFAULT_WAIT_SECONDS)),
    )


def _run_auto_compact(spark: SparkSession, spec: dict, kind: str) -> str:
    """Shared `action: auto_compact` for all five index kinds (r15): read
    the store's own artifacts via `maintenance_plan`, compact only if a
    threshold is crossed (`max_batches`, default 8; `max_tombstone_nanos`,
    default 1e8 = 10% dead rows).  Returns the EFFECTIVE action so
    `_finish_with_alias` points a serving alias at dst_path only when the
    compaction actually wrote it — a skipped run swaps to the live
    `path`, never to a stale dst root."""
    from chat_data_pipeline_spark.operators.maintenance import (
        DEFAULT_MAX_BATCHES,
        DEFAULT_MAX_TOMBSTONE_NANOS,
        compact_if_needed,
    )

    # no lease here: every caller (the index-block dispatcher, the
    # maintain: block loop) already holds the root's writer lease, and
    # the lease is deliberately non-reentrant
    did = compact_if_needed(
        spark,
        str(spec["path"]),
        max_batches=int(spec.get("max_batches", DEFAULT_MAX_BATCHES)),
        max_tombstone_nanos=int(
            spec.get("max_tombstone_nanos", DEFAULT_MAX_TOMBSTONE_NANOS)
        ),
        dst_index=str(spec["dst_path"]) if spec.get("dst_path") else None,
    )
    logger.info(
        "index.%s: auto_compact %s %s",
        kind,
        "compacted" if did else "below thresholds, skipped",
        spec["path"],
    )
    return "compact" if did else "auto_compact_noop"


def _run_snapshot(spark: SparkSession, spec: dict, kind: str) -> None:
    """Shared `action: snapshot` for all five index kinds (r17): clone the
    root's ledger-committed state to `dst_path` at the file level —
    committed batch dirs + the spent-id manifest + a fresh consistent-cut
    ledger + meta last; crash debris and the lease dir never travel (see
    `operators/maintenance.snapshot_store`).  Runs under the dual-root
    lease the index-block dispatcher already takes for dst-writing
    actions, so a live stream on either root serializes with the copy."""
    from chat_data_pipeline_spark.operators.maintenance import snapshot_store

    if not spec.get("dst_path"):
        raise ValueError(f"index.{kind} action=snapshot needs `dst_path`")
    row = snapshot_store(
        spark,
        str(spec["path"]),
        str(spec["dst_path"]),
        overwrite=bool(spec.get("overwrite_dst", False)),
    ).first()
    logger.info(
        "index.%s: snapshot %s -> %s (%d committed batches, %d dirs)",
        kind, spec["path"], spec["dst_path"], row.n_batches,
        row.batch_dirs_copied,
    )


def _run_restore(spark: SparkSession, spec: dict, kind: str) -> None:
    """Shared `action: restore` for all five index kinds (r17): bring a
    backup (a root `action: snapshot` or `maintain: {snapshot_dir}` wrote
    earlier) back onto the live root — the recovery half of the backup
    loop, and what the fsck audit's 'corrupt' verdict tells the operator
    to do instead of compacting.  Mechanically a reversed snapshot:
    `snapshot_store(from_path -> path)` — file-level committed-state
    copy, fresh consistent-cut ledger, meta last — under the dual-root
    lease the dispatcher takes for restore (a `maintain:` run replacing
    the SAME backup dir mid-restore would otherwise hand back a
    half-written clone).  Guard rails: `from_path` must classify as this
    block's kind (a config pointing index.bm25 at an ivf backup is a
    typo, not a restore), and restoring over a root that still has
    content requires the explicit `overwrite_dst: true` — a restore is
    destructive by design, so the confirmation is part of the verb."""
    from chat_data_pipeline_spark.operators.maintenance import (
        snapshot_store,
        store_kind_and_meta,
    )

    if not spec.get("from_path"):
        raise ValueError(
            f"index.{kind} action=restore needs `from_path` (the backup "
            "root to restore from)"
        )
    src = str(spec["from_path"])
    src_kind, _meta = store_kind_and_meta(spark, src)
    if src_kind != kind:
        raise ValueError(
            f"index.{kind} action=restore: {src} is a {src_kind} store — "
            "restore refuses a cross-kind backup (wrong `from_path`?)"
        )
    row = snapshot_store(
        spark, src, str(spec["path"]),
        overwrite=bool(spec.get("overwrite_dst", False)),
    ).first()
    logger.info(
        "index.%s: restored %s <- %s (%d committed batches, %d dirs)",
        kind, spec["path"], src, row.n_batches, row.batch_dirs_copied,
    )


def _text_source(spark: SparkSession, df: DataFrame, spec: dict) -> DataFrame:
    """(id, text) of the curated rows, under the temp names the text
    stores' build and extend calls name."""
    return df.select(
        F.expr(str(spec.get("id_expr", "id"))).alias("__doc_id__"),
        F.col(str(spec.get("column", "response"))).alias("__text__"),
    )


def _vector_source(spark: SparkSession, df: DataFrame, spec: dict) -> DataFrame:
    """(id, vector) from `dataset:` (the common layout: embeddings beside
    the corpus, keyed by the same ids) or the curated rows, under temp
    names.  A fresh build OWNS the meta (normalized internal column
    names); a delivery passes the same temp names as OVERRIDES and the
    operator adopts the target's meta names itself — a config can extend
    a store built by any caller without the CLI pre-reading meta."""
    base = spark.read.parquet(str(spec["dataset"])) if spec.get("dataset") else df
    return base.select(
        F.expr(str(spec.get("id_expr", "id"))).alias("__vec_id__"),
        F.col(str(spec.get("vec_col", "embedding"))).alias("__vec__"),
    )


_VEC_COLS = {"id_col": "__vec_id__", "vec_col": "__vec__"}


def _build_bm25(source: DataFrame, path: str, spec: dict) -> None:
    from chat_data_pipeline_spark.operators.retrieval import build_text_index

    build_text_index(source, path, "__text__", "__doc_id__")


def _build_ivf(source: DataFrame, path: str, spec: dict) -> None:
    from chat_data_pipeline_spark.operators.similarity import build_ivf_index

    build_ivf_index(
        source,
        path,
        n_centroids=int(spec.get("n_centroids", 16)),
        coarse=str(spec.get("coarse", "md5")),
        dim=int(spec.get("dim", 64)),
        seed=int(spec.get("seed", 42)),
        **_VEC_COLS,
    )


def _build_ivfpq(source: DataFrame, path: str, spec: dict) -> None:
    from chat_data_pipeline_spark.operators.similarity import build_ivfpq_index

    build_ivfpq_index(
        source,
        path,
        n_centroids=int(spec.get("n_centroids", 16)),
        m=int(spec.get("m", 8)),
        n_codewords=int(spec.get("n_codewords", 16)),
        dim=int(spec.get("dim", 64)),
        **_VEC_COLS,
    )


def _build_dedup(source: DataFrame, path: str, spec: dict) -> None:
    from chat_data_pipeline_spark.operators.dedup_store import build_dedup_index

    build_dedup_index(
        source,
        path,
        column="__text__",
        id_col="__doc_id__",
        family=str(spec.get("family", "md5")),
        ngram_size=int(spec.get("ngram_size", 5)),
        num_perm=int(spec.get("num_perm", 16)),
        num_bands=int(spec.get("num_bands", 4)),
        threshold=float(spec.get("threshold", 0.7)),
        min_ngram_size=int(spec.get("min_ngram_size", 5)),
        seed=int(spec.get("seed", 42)),
    )


def _build_neardup(source: DataFrame, path: str, spec: dict) -> None:
    from chat_data_pipeline_spark.operators.neardup_store import (
        build_neardup_index,
    )

    build_neardup_index(
        source,
        path,
        # default None = the corpus-scaled occupancy rule (see the
        # operator docstring); an explicit n_planes pins it
        n_planes=int(spec["n_planes"]) if spec.get("n_planes") else None,
        n_tables=int(spec.get("n_tables", 4)),
        dim=int(spec.get("dim", 64)),
        threshold=float(spec.get("threshold", 0.45)),
        **_VEC_COLS,
    )


def _rebuild_ivf(spark: SparkSession, df, spec: dict, path: str, dst) -> None:
    """The drift repair: coarse-retrain over base+committed postings,
    re-assign, cut over (see ivf_index_drift_report's thresholds) — it
    reads no corpus."""
    from chat_data_pipeline_spark.operators.similarity import rebuild_ivf_index

    rebuild_ivf_index(
        spark,
        path,
        dst_index=dst,
        n_centroids=int(spec["n_centroids"]) if spec.get("n_centroids") else None,
        seed=int(spec.get("seed", 42)),
    )


def _rebuild_ivfpq(spark: SparkSession, df, spec: dict, path: str, dst) -> None:
    """PQ storage is lossy, so the rebuild REQUIRES the source corpus back
    (`dataset:` or this run's rows) and re-encodes it: tombstones made
    physical, folded ids spent, optional `n_centroids`/`m`/`n_codewords`
    re-shard."""
    from chat_data_pipeline_spark.operators.similarity import rebuild_ivfpq_index

    def _opt(key):
        return int(spec[key]) if spec.get(key) else None

    rebuild_ivfpq_index(
        spark,
        path,
        _vector_source(spark, df, spec),
        dst_index=dst,
        n_centroids=_opt("n_centroids"),
        m=_opt("m"),
        n_codewords=_opt("n_codewords"),
        **_VEC_COLS,
    )


class _IndexShape(NamedTuple):
    """The YAML-to-source shaping of one `index.<kind>` block: the source
    frame its build and extend read, the column kwargs its extend verb
    takes for that frame, its build, and its rebuild (None: the kind has
    no rebuild action)."""

    source: Callable
    extend_cols: dict
    build: Callable
    rebuild: Callable | None = None


_INDEX_SHAPES = {
    "bm25": _IndexShape(
        _text_source, {"text_col": "__text__", "id_col": "__doc_id__"},
        _build_bm25,
    ),
    "ivf": _IndexShape(_vector_source, _VEC_COLS, _build_ivf, _rebuild_ivf),
    "ivfpq": _IndexShape(_vector_source, _VEC_COLS, _build_ivfpq, _rebuild_ivfpq),
    "dedup": _IndexShape(
        _text_source, {"column": "__text__", "id_col": "__doc_id__"},
        _build_dedup,
    ),
    "neardup": _IndexShape(_vector_source, _VEC_COLS, _build_neardup),
}


def _run_index_action(
    spark: SparkSession, df: DataFrame, spec: dict, kind: str
) -> None:
    """One `index.<kind>` block, for all five kinds: validate, run the
    action, cut the alias over, log.  build / extend shape their source
    via ``_INDEX_SHAPES``; extend, delete and compact call the kind's verb
    from ``maintenance.STORE_KINDS``.  delete is a takedown delivery:
    victim ids come from `ids_dataset:` or this run's curated rows
    (:func:`_delete_ids_frame`).  compact folds committed deliveries (and
    tombstones, which become physical) into a fresh base and ignores this
    run's rows."""
    from chat_data_pipeline_spark.operators.maintenance import STORE_KINDS

    if "path" not in spec:
        raise ValueError(f"index.{kind} needs `path` (the store root)")
    path = str(spec["path"])
    action = str(spec.get("action", "build"))
    dst = str(spec["dst_path"]) if spec.get("dst_path") else None
    shape = _INDEX_SHAPES[kind]
    actions = ("build", "extend", "delete", "compact") + (
        ("rebuild",) if shape.rebuild else ()
    ) + ("auto_compact", "snapshot", "restore")
    if action not in actions:
        raise ValueError(
            f"index.{kind} action must be "
            f"{', '.join(map(repr, actions[:-1]))} or {actions[-1]!r}, "
            f"got {action!r}"
        )
    if action in ("extend", "delete") and "batch_id" not in spec:
        raise ValueError(f"index.{kind} action={action} needs `batch_id`")
    store = STORE_KINDS[kind]
    if action == "build":
        shape.build(shape.source(spark, df, spec), path, spec)
    elif action == "extend":
        store.extend(
            shape.source(spark, df, spec), path, spec["batch_id"],
            **shape.extend_cols,
        )
    elif action == "delete":
        store.delete(
            spark, path, _delete_ids_frame(spark, df, spec, kind), spec["batch_id"]
        )
    elif action == "compact":
        store.compact(spark, path, dst_index=dst)
    elif action == "rebuild":
        shape.rebuild(spark, df, spec, path, dst)
    elif action == "auto_compact":
        action = _run_auto_compact(spark, spec, kind)
    elif action == "snapshot":
        _run_snapshot(spark, spec, kind)
    else:
        _run_restore(spark, spec, kind)
    _finish_with_alias(spark, spec, action)
    logger.info("index.%s: %s %s", kind, action, path)


def _run_onboarding(spark: SparkSession, df: DataFrame, spec: dict) -> DataFrame:
    """Top-level `onboard:` block — cross-corpus near-dup subtraction
    against a persisted signature store, applied to the CURATED rows (after
    clean/filter/dedup, before reassembly), optionally writing the
    SURVIVORS' signatures back as a delivery so the next crawl onboards
    against the grown reference set:

        onboard:
          store: /stores/corpus_sigs     # built via index.dedup action=build
          column: response               # text column (default response)
          id_expr: id
          deliver_batch_id: crawl-042    # optional write-back

    The store must exist; its meta pins the fingerprint family and params,
    so "near-duplicate" means here exactly what it meant at build time."""
    from chat_data_pipeline_spark.operators import dedup_store as DS

    if "store" not in spec:
        raise ValueError("onboard needs `store` (the signature-store root)")
    store = str(spec["store"])
    column = str(spec.get("column", "response"))
    id_expr = str(spec.get("id_expr", "id"))
    # probe under a reserved temp id column: writing the store's meta
    # column names into df would silently OVERWRITE a curated column that
    # happens to share a name but maps a different expression (r14 review)
    src = df.withColumn("__onboard_id__", F.expr(id_expr))
    kept = DS.filter_against_dedup_index(
        spark, store, src, column=column, id_col="__onboard_id__"
    )
    if spec.get("deliver_batch_id"):
        # delivery is EAGER (it writes the store artifacts); the returned
        # plan stays lazy for the output write.  Leased: the store may
        # have a live delivery stream growing it.
        with _cli_lease(spark, store, "cli:onboard-deliver", spec):
            DS.extend_dedup_index(
                kept,
                store,
                spec["deliver_batch_id"],
                column=column,
                id_col="__onboard_id__",
            )
    logger.info("onboard: filtered against %s", store)
    return kept.drop("__onboard_id__")


def _run_semantic_onboarding(
    spark: SparkSession, df: DataFrame, spec: dict
) -> DataFrame:
    """Top-level `onboard_semantic:` block (r15) — the EMBEDDING twin of
    `onboard:`: drop curated rows that are semantic near-copies of a
    persisted SRP-LSH reference store's live entries:

        onboard_semantic:
          store: /stores/ref_vectors     # built via index.neardup
          dataset: /tables/emb.parquet   # (id, vector) side table; omit if
                                         # the curated rows carry vec_col
          vec_col: embedding
          id_expr: id
          deliver_batch_id: crawl-042    # optional survivor write-back

    The probe frame is the curated rows' ids joined to their vectors (a
    semi-join restricts a side table to this run's rows first); the
    curated output anti-joins the MATCHED ids, so a curated row whose id
    is MISSING from the side table passes through un-probed — the block
    only ever removes rows it positively matched (a lagging embedding
    job must not read as near-dup filtering).  With `deliver_batch_id`,
    the probed SURVIVORS' vectors land as a ledger-committed delivery so
    the next crawl onboards against the grown reference set — the
    grow-as-you-onboard loop, at the semantic level."""
    from chat_data_pipeline_spark.operators import neardup_store as NS

    if "store" not in spec:
        raise ValueError("onboard_semantic needs `store` (the neardup-store root)")
    store = str(spec["store"])
    vec_col = str(spec.get("vec_col", "embedding"))
    id_expr = str(spec.get("id_expr", "id"))
    src = df.withColumn("__onboard_id__", F.expr(id_expr))
    if spec.get("dataset"):
        vecs = spark.read.parquet(str(spec["dataset"])).select(
            F.expr(id_expr).alias("__onboard_id__"),
            F.col(vec_col).alias("__onboard_vec__"),
        )
        probe = vecs.join(
            src.select("__onboard_id__").distinct(), "__onboard_id__", "left_semi"
        )
    else:
        probe = src.select(
            "__onboard_id__", F.col(vec_col).alias("__onboard_vec__")
        )
    # pinned: the heavy probe (fingerprint UDF + collision join + cosine
    # verify) pays once, however many consumers follow (the optional
    # delivery below plus the curated output's anti-join)
    matched = NS.matched_against_neardup_index(
        spark, store, probe, id_col="__onboard_id__", vec_col="__onboard_vec__"
    ).localCheckpoint(eager=True)
    if spec.get("deliver_batch_id"):
        # leased like the lexical onboard's deliver-back: the store may
        # have a live delivery stream growing it
        with _cli_lease(spark, store, "cli:onboard-semantic-deliver", spec):
            NS.extend_neardup_index(
                probe.join(matched, "__onboard_id__", "left_anti"),
                store,
                spec["deliver_batch_id"],
                id_col="__onboard_id__",
                vec_col="__onboard_vec__",
            )
    out = src.join(matched, "__onboard_id__", "left_anti")
    logger.info("onboard_semantic: filtered against %s", store)
    return out.drop("__onboard_id__")


def _run_takedown(spark: SparkSession, df: DataFrame, spec: dict) -> DataFrame:
    """Top-level `takedown:` block (r15) — ONE victim table deleted from
    EVERY store that serves it, in one config:

        takedown:
          ids_dataset: /victims.parquet  # default: this run's curated rows
          id_expr: id
          batch_id: gdpr-0042            # one ledger id across the stores
          bm25: /indexes/corpus_bm25     # any non-empty subset of the five
          ivf: /indexes/corpus_ivf
          ivfpq: /indexes/corpus_ivfpq
          dedup: /stores/corpus_sigs
          neardup: /stores/ref_vectors

    The compliance shape at 100 TB: a deletion request must reach every
    derived artifact — the lexical index, both ANN stores, AND the
    signature store (whose reference entries would otherwise keep
    subtracting near-copies of content that no longer exists).  Without
    this block a config needs four index.* delete stanzas that can drift
    apart; here the id set and batch id are shared by construction.  Each
    store's delete is its own ledger-committed tombstone delivery (the
    ledgers are per-root, so one batch id is valid everywhere and replay
    stays idempotent per store); a crash between stores leaves the
    completed ones committed and the re-run re-delivers every store
    idempotently.  Returns the distinct victim-id frame for accounting."""
    from chat_data_pipeline_spark.operators.maintenance import STORE_KINDS

    if "batch_id" not in spec:
        raise ValueError("takedown needs `batch_id`")
    stores = [k for k in STORE_KINDS if spec.get(k)]
    if not stores:
        raise ValueError(
            "takedown needs at least one store root: bm25/ivf/ivfpq/dedup/neardup"
        )
    id_expr = str(spec.get("id_expr", "id"))
    base = (
        spark.read.parquet(str(spec["ids_dataset"]))
        if spec.get("ids_dataset")
        else df
    )
    if base is None:
        raise ValueError(
            "takedown without `datasets` needs `ids_dataset` (the victim table)"
        )
    victims = base.select(F.expr(id_expr).alias("doc")).distinct()
    # one deterministic id set for every store: the per-store deletes each
    # scan their own already-deleted sets, so pin the frame once
    victims = victims.localCheckpoint(eager=True)
    for kind in stores:
        # per-root writer lease (r16): a compliance run may fan into roots
        # that live delivery streams are writing — serialize per store
        with _cli_lease(spark, str(spec[kind]), "cli:takedown", spec):
            STORE_KINDS[kind].delete(
                spark, str(spec[kind]), victims, spec["batch_id"]
            )
        logger.info("takedown: %s %s", kind, spec[kind])
    return victims


def _run_maintenance(spark: SparkSession, spec: dict) -> DataFrame:
    """Top-level `maintain:` block (r15) — the scheduled fleet sweep:

        maintain:
          roots:
            - /indexes/corpus_bm25
            - /indexes/corpus_ivf
            - /stores/corpus_sigs
          max_batches: 8
          max_tombstone_nanos: 100000000
          fsck: true                          # audit integrity FIRST (r17)
          fsck_report_path: /out/fsck.parquet # optional audit sink
          gc: true                            # sweep crash debris (r17)
          gc_grace_seconds: 86400             # keep younger uncommitted dirs
          snapshot_dir: /backups/indexes      # file-level backup per root
                                              # (r17: {dir}/{root basename},
                                              # replaced each run)
          auto_compact: true                  # act, not just report
          report_path: /out/maintenance.parquet   # optional sink

    With `fsck`, the run AUDITS every root first (`fsck_sweep` —
    read-only FS metadata: missing committed artifacts, fold/ledger
    overlap, debris, lease health) and then refuses to auto-compact any
    root the audit called `corrupt`: compacting a root whose committed
    artifacts are already missing would fold the data loss into the base
    permanently — a corrupt root needs a rebuild or a snapshot restore,
    and the audit row (logged, and persisted via `fsck_report_path`)
    says which.  GC and snapshot still run on corrupt roots (GC touches
    only uncommitted debris; the snapshot preserves the evidence).

    Reads every root's own artifacts (`maintenance_sweep` — O(batches)
    per root, kind auto-detected), optionally GCs crash debris
    (uncommitted `batch=` dirs + crashed committers' `_temporary`
    staging, `gc_debris` — pure FS metadata, no rewrite) and compacts
    the flagged ones, and returns the sweep report (recomputed AFTER the
    mutations when `gc`/`auto_compact` acted, so the persisted report
    reflects the state the run left behind).  With `snapshot_dir`, every
    root is CLONED to `{snapshot_dir}/{basename}` (committed-state
    file-level copy, replacing last run's clone) BEFORE any compaction —
    the scheduled-backup loop: if this run's rewrite goes wrong, the
    pre-maintenance cut is on disk.  GC, snapshot and compaction run
    under ONE lease hold per root — a live delivery stream sharing the
    root serializes against the whole hygiene pass, not each third."""
    from chat_data_pipeline_spark.operators.maintenance import (
        DEFAULT_GC_GRACE_SECONDS,
        DEFAULT_MAX_BATCHES,
        DEFAULT_MAX_TOMBSTONE_NANOS,
        compact_if_needed,
        fsck_sweep,
        gc_debris_values,
        maintenance_sweep,
        snapshot_store,
    )

    roots = [str(r) for r in (spec.get("roots") or [])]
    if not roots:
        raise ValueError("maintain needs `roots` (a list of store roots)")
    mb = int(spec.get("max_batches", DEFAULT_MAX_BATCHES))
    mt = int(spec.get("max_tombstone_nanos", DEFAULT_MAX_TOMBSTONE_NANOS))
    do_gc = bool(spec.get("gc"))
    snap_dir = str(spec["snapshot_dir"]).rstrip("/") if spec.get("snapshot_dir") else None
    if snap_dir:
        basenames = [r.rstrip("/").rsplit("/", 1)[-1] for r in roots]
        if len(set(basenames)) != len(basenames):
            raise ValueError(
                "maintain.snapshot_dir maps each root to "
                "{snapshot_dir}/{basename} — the fleet's root basenames "
                f"must be distinct, got {sorted(basenames)}"
            )
    corrupt_roots: set[str] = set()
    if spec.get("fsck"):
        # audit the state AS FOUND, before any mutation below changes it
        # (read-only FS metadata — needs no lease, same as the sweep)
        audit = fsck_sweep(spark, roots)
        for row in audit.collect():
            if row.status != "ok":
                logger.warning(
                    "maintain: fsck %s on %s (missing_batch_dirs=%d, "
                    "fold_ledger_overlap=%d, orphan_dirs=%d, tmp_dirs=%d, "
                    "lease_stale=%s)",
                    row.status, row.root, row.missing_batch_dirs,
                    row.fold_ledger_overlap, row.orphan_dirs, row.tmp_dirs,
                    row.lease_stale,
                )
            if row.status == "corrupt":
                corrupt_roots.add(row.root)
        if spec.get("fsck_report_path"):
            from chat_data_pipeline_spark.sources.io import write_table

            write_table(audit, str(spec["fsck_report_path"]))
            logger.info("maintain: wrote %s", spec["fsck_report_path"])
    acted = False
    if do_gc or snap_dir or spec.get("auto_compact"):
        for root in roots:
            # per-root writer lease (r16): the fleet sweep may include
            # roots with live delivery/takedown streams — serialize the
            # gc + compaction decision+act against their triggers
            with _cli_lease(spark, root, "cli:maintain", spec):
                if do_gc:
                    g = gc_debris_values(
                        spark,
                        root,
                        int(
                            spec.get(
                                "gc_grace_seconds", DEFAULT_GC_GRACE_SECONDS
                            )
                        ),
                    )
                    if g.debris_removed or g.tmp_removed:
                        logger.info(
                            "maintain: gc removed %d uncommitted batch "
                            "dir(s) + %d _temporary dir(s) from %s "
                            "(%d kept in grace)",
                            g.debris_removed, g.tmp_removed, root,
                            g.debris_kept,
                        )
                        acted = True
                if snap_dir:
                    # backup BEFORE compaction: the clone is the cut to
                    # roll back to if this run's rewrite goes wrong
                    dst = f"{snap_dir}/{root.rstrip('/').rsplit('/', 1)[-1]}"
                    snapshot_store(spark, root, dst, overwrite=True)
                    logger.info("maintain: snapshotted %s -> %s", root, dst)
                    acted = True
                if spec.get("auto_compact"):
                    if root in corrupt_roots:
                        # compaction folds committed batches into a new
                        # base — on a root fsck found corrupt (missing
                        # committed artifacts / fold-ledger overlap) that
                        # would bake the damage in permanently
                        logger.error(
                            "maintain: refusing to auto-compact %s — fsck "
                            "reported it corrupt; rebuild the store or "
                            "restore a snapshot instead",
                            root,
                        )
                    elif compact_if_needed(spark, root, mb, mt):
                        logger.info("maintain: compacted %s", root)
                        acted = True
    report = maintenance_sweep(spark, roots, mb, mt)
    if spec.get("report_path"):
        from chat_data_pipeline_spark.sources.io import write_table

        write_table(report, str(spec["report_path"]))
        logger.info("maintain: wrote %s", spec["report_path"])
    if acted:
        logger.info("maintain: report reflects post-gc/compaction state")
    return report


def _serve_root(spark: SparkSession, spec: dict, kind: str) -> str:
    """An arm names its index by `path:` or by `alias:` (the serving
    pointer `index.*` cutovers maintain) — exactly one of the two."""
    if bool(spec.get("path")) == bool(spec.get("alias")):
        raise ValueError(f"serve.{kind} needs exactly one of `path` or `alias`")
    if spec.get("alias"):
        from chat_data_pipeline_spark.operators.store import resolve_index_alias

        return resolve_index_alias(spark, str(spec["alias"]))
    return str(spec["path"])


def _run_serving(spark: SparkSession, spec: dict) -> DataFrame:
    """Top-level `serve:` block — config-driven PROBING (r15: closes the
    last Python-only gap in the build→extend→delete→compact→serve loop):
    a query table served against named index roots, lexical and/or
    vector, fused with reciprocal-rank fusion when both arms are present:

        serve:
          queries: /tables/queries.parquet  # the query table
          k: 10                             # served result depth
          output_path: /out/hybrid.parquet  # optional sink (parquet/
                                            # json/csv/orc by extension)
          bm25:
            path: /indexes/corpus_bm25      # or alias: /indexes/serving
            query_id_expr: query_id
            terms_col: terms                # array<string>
            k: 20                           # arm depth (pre-fusion)
          ann:
            path: /indexes/corpus_ivf       # IVF or IVF-PQ root — the
                                            # flavor dispatches from meta
            query_id_expr: query_id
            vec_col: query_vec
            n_probe: 4
            k: 20
          rrf_k: 60                         # fusion constant (both arms)

    One arm serves that arm's top-k directly; two arms fuse with the
    integer-nano RRF the `docs_hybrid_rrf` operator path uses, so a
    config-served hybrid is bit-identical to the Python composition over
    the same roots.  Both arms read the SAME query table, so the fused
    query-id type matches by construction.  The probes stay
    listing-pruned and top-k-bounded; the fusion is query-sized."""
    if "queries" not in spec:
        raise ValueError("serve needs `queries` (the query table path)")
    q = spark.read.parquet(str(spec["queries"]))
    out = serve_frame(spark, q, spec)
    if spec.get("output_path"):
        from chat_data_pipeline_spark.sources.io import write_table

        write_table(out, str(spec["output_path"]))
        logger.info("serve: wrote %s", spec["output_path"])
    return out


def serve_frame(spark: SparkSession, q: DataFrame, spec: dict) -> DataFrame:
    """The `serve:` block's engine on an in-memory query FRAME — one
    implementation shared by the batch CLI path (reads the frame from
    `queries:`) and `streaming.streaming_query_serving` (each micro-batch
    of queries is the frame), so streamed serving is bit-identical per
    trigger to a batch serve of the same rows."""
    from chat_data_pipeline_spark.operators import retrieval as RT
    from chat_data_pipeline_spark.operators import similarity as SIM

    k = int(spec.get("k", 10))
    bm = spec.get("bm25")
    ann = spec.get("ann")
    if not bm and not ann:
        raise ValueError("serve needs at least one arm: `bm25` and/or `ann`")
    hybrid = bool(bm) and bool(ann)
    from chat_data_pipeline_spark.operators.maintenance import store_kind_and_meta

    arms: list[DataFrame] = []
    if bm:
        bm = dict(bm)
        root = _serve_root(spark, bm, "bm25")
        # structural kind check: a typo'd path (or an alias repointed at
        # the wrong root) must fail as a config error, not an opaque
        # missing-meta-field AttributeError mid-probe.  One meta read per
        # root per serve call — this path is per-micro-batch under
        # streaming_query_serving, so the kind check and any meta field a
        # probe needs share the same read.
        kind, _meta = store_kind_and_meta(spark, root)
        if kind != "bm25":
            raise ValueError(
                f"serve.bm25 root {root} is a {kind} store, not a BM25 index"
            )
        arm_k = int(bm.get("k", k))
        lex = RT.bm25_topk_indexed_batch(
            spark,
            root,
            q.select(
                F.expr(str(bm.get("query_id_expr", "query_id"))).alias("query_id"),
                F.col(str(bm.get("terms_col", "terms"))).alias("terms"),
            ),
            k=arm_k,
            k1=float(bm.get("k1", 1.2)),
            b=float(bm.get("b", 0.75)),
        )
        arms.append(lex.select("query_id", "doc_id", "bm25", "rank"))
    if ann:
        ann = dict(ann)
        root = _serve_root(spark, ann, "ann")
        kind, meta = store_kind_and_meta(spark, root)
        if kind not in ("ivf", "ivfpq"):
            raise ValueError(
                f"serve.ann root {root} is a {kind} store, not an ANN index"
            )
        arm_k = int(ann.get("k", k))
        qvec = q.select(
            F.expr(str(ann.get("query_id_expr", "query_id"))).alias("query_id"),
            F.col(str(ann.get("vec_col", "query_vec"))).alias("query_vec"),
        )
        probe = (
            SIM.ivfpq_topk_persisted if kind == "ivfpq" else SIM.ivf_topk_persisted
        )
        vec = probe(
            spark, root, qvec, k=arm_k, n_probe=int(ann.get("n_probe", 4))
        )
        # normalize the id column to doc_id so the arms union (the probe
        # serves whatever id name the index meta pinned)
        score_col = "approx_cosine" if kind == "ivfpq" else "cosine"
        arms.append(
            vec.select(
                "query_id",
                F.col(meta.id_col).alias("doc_id"),
                F.col(score_col),
                "rank",
            )
        )
    if hybrid:
        return RT.rrf_fuse(
            [a.select("query_id", "doc_id", "rank") for a in arms],
            id_col="doc_id",
            k=k,
            rrf_k=int(spec.get("rrf_k", 60)),
        )
    return arms[0].filter(F.col("rank") <= k)


def _tokenize_str_list(vals, key: str) -> list[str]:
    """Strict string-list validation for tokenizer vocab entries: YAML 1.1
    silently loads bare `on`/`no`/`yes`/`off` as BOOLEANS, and a str()
    coercion would turn them into literal 'True'/'False' pieces that never
    match real text — reject non-strings with the quoting remedy."""
    out = []
    for v in vals:
        if not isinstance(v, str):
            raise ValueError(
                f"tokenize.{key} entries must be strings, got {v!r} — "
                "quote YAML-1.1 boolean-like tokens ('on', 'no', 'yes', "
                "'off') and numbers"
            )
        out.append(v)
    return out


def _tokenize_merge_pairs(vals) -> list[tuple[str, str]]:
    """Strict [left, right] pair validation for a fixed BPE merge table.
    The stdlib mini-YAML fallback cannot parse nested lists (it would
    hand back fragment strings like '[e'), so malformed entries must fail
    loudly instead of silently applying a corrupted table."""
    pairs = []
    for m in vals:
        if (
            not isinstance(m, (list, tuple))
            or len(m) != 2
            or not all(isinstance(x, str) for x in m)
        ):
            raise ValueError(
                "tokenize.merges must be a list of [left, right] string "
                f"pairs, got {m!r} (note: without PyYAML the stdlib "
                "mini-YAML fallback cannot parse nested lists — install "
                "PyYAML or use `num_merges:` to train here)"
            )
        pairs.append((m[0], m[1]))
    return pairs


def _run_tokenize(spark: SparkSession, df: DataFrame, spec: dict) -> None:
    """Top-level ``tokenize:`` block (r17) — encode the CURATED rows with
    one of the engine's three subword schemes and persist the encoding,
    making the tokenizer family YAML-reachable the way indexes and
    serving already are:

        tokenize:
          scheme: bpe               # bpe | unigram | wordpiece
          column: response          # text column of the curated rows
          id_expr: id
          output_path: /out/tokens.parquet
          num_merges: 200           # bpe: learn this many merges here...
          merges: [[e, r], ...]     # ...or apply a FIXED table instead
          vocab_size: 512           # unigram trainer budget
          pieces: [the, "##ing"]    # wordpiece vocab; default: the ASCII
                                    # character floor (every ASCII word
                                    # encodes, non-ASCII reads [UNK])

    Output schema is uniform across schemes: ``(id, tokens, n_tokens,
    scheme)`` — tokens space-joined in word order.  BPE without a
    ``merges:`` table trains on THIS run's curated rows (the corpus the
    encoding will serve); unigram always trains here (its model is not a
    portable literal).  All three encodes run once per DISTINCT word /
    narrow Arrow pass — the registered rows' scale shapes, unchanged."""
    scheme = str(spec.get("scheme", "bpe"))
    column = str(spec.get("column", "response"))
    id_expr = str(spec.get("id_expr", "id"))
    out_path = spec.get("output_path")
    if not out_path:
        raise ValueError("tokenize needs `output_path`")
    source = df.select(
        F.expr(id_expr).alias("__tid__"), F.col(column).alias("__text__")
    )
    if scheme == "bpe":
        from chat_data_pipeline_spark.operators.bpe import (
            bpe_encode_fold,
            learn_bpe_merges,
        )

        # presence-based, not truthiness: an explicit `merges: []` pins
        # the zero-merge character-level table — it must not silently
        # fall back to training a run-dependent one
        if "merges" in spec:
            merges = _tokenize_merge_pairs(spec["merges"])
        else:
            merges = learn_bpe_merges(
                source,
                "__text__",
                num_merges=int(spec.get("num_merges", 50)),
                min_frequency=int(spec.get("min_frequency", 2)),
            )
        out = bpe_encode_fold(source, merges, "__text__", "__tid__").select(
            F.col("__tid__").alias("id"),
            F.col("bpe_text").alias("tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_tokens"),
        )
    elif scheme == "unigram":
        from chat_data_pipeline_spark.operators.unigram_lm import (
            train_unigram_lm,
            unigram_encode_tokens,
        )

        logp = train_unigram_lm(
            source, "__text__", vocab_size=int(spec.get("vocab_size", 512))
        )
        out = unigram_encode_tokens(source, logp, "__text__", "__tid__").select(
            F.col("__tid__").alias("id"),
            F.concat_ws(" ", F.col("pieces")).alias("tokens"),
            F.col("n_pieces").cast("long").alias("n_tokens"),
        )
    elif scheme == "wordpiece":
        from chat_data_pipeline_spark.operators.wordpiece import (
            DEFAULT_PIECES,
            wordpiece_encode,
        )

        # presence-based: an explicit `pieces: []` means "everything is
        # [UNK]" — the user's literal table, not the ASCII default
        if "pieces" in spec:
            pieces = _tokenize_str_list(spec["pieces"], "pieces")
        else:
            pieces = DEFAULT_PIECES
        out = wordpiece_encode(source, pieces, "__text__", "__tid__").select(
            F.col("__tid__").alias("id"),
            F.col("wp_text").alias("tokens"),
            F.col("n_wp_tokens").cast("long").alias("n_tokens"),
        )
    else:
        raise ValueError(
            "tokenize scheme must be 'bpe', 'unigram' or 'wordpiece', "
            f"got {scheme!r}"
        )
    from chat_data_pipeline_spark.sources.io import write_table

    write_table(out.withColumn("scheme", F.lit(scheme)), str(out_path))
    logger.info("tokenize: wrote %s encoding to %s", scheme, out_path)


def _index_block_is_corpus_free(index_cfg: dict) -> bool:
    """True when EVERY spec in the index block can run without this run's
    curated rows (r17, so a pure-maintenance config — e.g. a scheduled
    snapshot — needs no dummy `datasets:`): maintenance actions never
    read a corpus; the IVF rebuild re-trains from the store's own
    postings; vector kinds may source build/extend/rebuild from
    `dataset:`; deletes may source victims from `ids_dataset:`.  The
    text stores' build/extend always index the curated rows, so those
    keep requiring `datasets:`."""
    for kind, shape in _INDEX_SHAPES.items():
        spec = index_cfg.get(kind)
        if not spec:
            continue
        action = str(spec.get("action", "build"))
        if action in ("compact", "auto_compact", "snapshot", "restore"):
            continue
        if action == "rebuild" and kind == "ivf":
            # the IVF rebuild re-trains from the store's OWN committed
            # postings — it never reads a corpus (the ivfpq rebuild DOES:
            # PQ storage is lossy, so it needs `dataset:` back)
            continue
        if (
            shape.source is _vector_source
            and action in ("build", "extend", "rebuild")
            and spec.get("dataset")
        ):
            continue
        if action == "delete" and spec.get("ids_dataset"):
            continue
        return False
    return True


def run_config(spark: SparkSession, config: dict) -> DataFrame:
    """ref:main.py lifecycle A (SURVEY.md §3.1), lazily composed."""
    from chat_data_pipeline_spark.operators import conversation as CV
    from chat_data_pipeline_spark.operators.sampling import shuffle_rows
    from chat_data_pipeline_spark.sources import combine_sources

    serve_cfg = config.get("serve")
    takedown_cfg = config.get("takedown")
    maintain_cfg = config.get("maintain")
    corpus_free_index = bool(config.get("index")) and _index_block_is_corpus_free(
        config["index"]
    )
    if "datasets" not in config and config.get("tokenize"):
        # tokenize encodes THIS run's curated rows by definition — there
        # is no corpus-free variant, and silently skipping it on a
        # serve/maintain-only config would be worse than refusing
        raise ValueError(
            "the `tokenize:` block encodes this run's curated rows — add "
            "`datasets:` (tokenize has no corpus-free form)"
        )
    if "datasets" not in config and (
        serve_cfg or takedown_cfg or maintain_cfg or corpus_free_index
    ):
        # a pure SERVING / COMPLIANCE / MAINTENANCE job: no corpus to
        # curate — act on the named index roots and return (main()
        # writes/counts the rest).  Order: corpus-free index actions
        # (snapshot / compact / auto_compact, or source-supplied
        # deliveries) land first, then takedowns, then maintenance
        # (which may compact them physical), then probes.
        if corpus_free_index:
            _run_indexing(spark, None, config["index"])
            if not (serve_cfg or takedown_cfg or maintain_cfg):
                from chat_data_pipeline_spark.session import values_df

                return values_df(
                    spark,
                    [
                        (k, str((config["index"].get(k) or {}).get("action", "build")))
                        for k in config["index"]
                    ],
                    "kind string, action string",
                )
        if takedown_cfg:
            victims = _run_takedown(spark, None, dict(takedown_cfg))
            if not serve_cfg and not maintain_cfg:
                return victims
        if maintain_cfg:
            report = _run_maintenance(spark, dict(maintain_cfg))
            if not serve_cfg:
                return report
        return _run_serving(spark, dict(serve_cfg))
    if "datasets" not in config and config.get("index"):
        raise ValueError(
            "this `index:` block needs the run's curated rows — add "
            "`datasets:` (or use a corpus-free action: snapshot / compact "
            "/ auto_compact, a vector-kind build/extend/rebuild with "
            "`dataset:`, or a delete with `ids_dataset:`)"
        )
    if "datasets" not in config:
        raise ValueError(
            "this config has no `datasets:` and no dataset-free block "
            "(serve / maintain / takedown / corpus-free index) — nothing "
            "to run"
        )

    paths = [d["path"] if isinstance(d, dict) else d for d in config["datasets"]]
    df = combine_sources(spark, paths)

    df = CV.add_content_columns(CV.explode_conversations(df))

    gate_cfg = config.get("quality_gate")
    if gate_cfg:
        _apply_quality_gate(df, gate_cfg)

    train_cfg = config.get("train")
    if train_cfg:
        # trains BEFORE the filter chain so a filter in this same config can
        # reference the just-persisted weights_path — the one-YAML
        # train-then-gate loop
        _run_training(spark, df, train_cfg)

    response_cfg = config.get("response") or {}
    pre = _build_preprocessor("response", response_cfg)
    df = pre.run(df)

    instruction_cfg = config.get("instruction") or {}
    pre = _build_preprocessor("instruction", instruction_cfg, forbid_cleaners=True)
    df = pre.run(df)

    onboard_cfg = config.get("onboard")
    if onboard_cfg:
        # cross-corpus onboarding AFTER in-corpus curation: cheap junk is
        # already gone, so the store probe fingerprints only survivors
        df = _run_onboarding(spark, df, dict(onboard_cfg))

    sem_cfg = config.get("onboard_semantic")
    if sem_cfg:
        # the embedding-level onboarding pass — composable with the
        # lexical one (both subtract against their own reference stores)
        df = _run_semantic_onboarding(spark, df, dict(sem_cfg))

    index_cfg = config.get("index")
    if index_cfg:
        # indexes the CURATED rows (post clean/filter/dedup, pre-reassembly)
        # — the artifact a curation job should leave behind is an index of
        # what it kept, not of the raw feed
        _run_indexing(spark, df, index_cfg)

    tokenize_cfg = config.get("tokenize")
    if tokenize_cfg:
        # subword-encode the CURATED rows (same placement rationale as the
        # index block: tokenize what the run kept)
        _run_tokenize(spark, df, dict(tokenize_cfg))

    if takedown_cfg:
        # compliance delivery AFTER index maintenance: victims default to
        # this run's curated rows (curate-the-victims configs), and the
        # deletes land on the just-maintained roots
        _run_takedown(spark, df, dict(takedown_cfg))

    if maintain_cfg:
        # fleet sweep after deliveries/takedowns: compact what crossed
        # its thresholds this run, report the state left behind
        _run_maintenance(spark, dict(maintain_cfg))

    if serve_cfg:
        # curate-then-serve in one config: the probes run AFTER the index
        # block's deliveries landed, against the just-maintained roots;
        # the serve block writes its own sink (required here — the
        # config's output_path belongs to the curated rows)
        if not dict(serve_cfg).get("output_path"):
            raise ValueError(
                "serve alongside `datasets` needs serve.output_path "
                "(the config-level output_path is the curated corpus sink)"
            )
        _run_serving(spark, dict(serve_cfg))

    df = CV.to_chatml(df)
    return shuffle_rows(df, seed=int(config.get("seed", 42)))


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="chat-data-pipeline on Spark")
    parser.add_argument("--config_path", required=True)
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from chat_data_pipeline_spark import get_spark

    config = load_yaml(args.config_path)
    # only stop the session if this invocation created it — getOrCreate may
    # hand back a host application's session (tests, notebooks)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="cdp-cli", master=args.master)
    out = run_config(spark, config)
    output_path = config.get("output_path")
    if output_path:
        from chat_data_pipeline_spark.sources.io import write_table

        # sink format dispatches on the output extension (parquet default,
        # json/csv/orc supported) — the read_table symmetry.  The optional
        # `sink:` block controls output file shape at scale:
        #   sink:
        #     partition_by: [lang]          # hive-style pruning dirs
        #     target_files: 200             # pre-write repartition
        #     max_records_per_file: 500000  # cap the giants
        #     stringify_complex: true       # CSV: complex cols -> JSON text
        sink_cfg = config.get("sink") or {}
        write_table(
            out,
            output_path,
            partition_by=sink_cfg.get("partition_by"),
            max_records_per_file=sink_cfg.get("max_records_per_file"),
            target_files=sink_cfg.get("target_files"),
            stringify_complex=bool(sink_cfg.get("stringify_complex", False)),
        )
        logger.info("wrote %s", output_path)
    else:
        print(out.count())
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
