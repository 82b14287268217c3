"""Config-driven pipeline construction — the reference's Integrant
config map (``src/etlp/core.clj:40-73``: ``::mapper``/``::config``/
``::options``/``::connection`` wired by ``ig/init``) re-expressed as
a plain declarative dict (JSON/YAML-shaped) → ``Pipeline``.

The reference's users describe a pipeline as DATA and hand it to the
framework; switching engines means their configs must keep working
as data. This module is that surface: every source/transform/
expectation/sink is named by string and parameterized by plain
values, so a config can live in a file, a database row, or an API
payload — no Python in the hot seat.

Shape::

    {
      "name": "orders-clean",
      "source":   {"type": "file", "path": "/in", "reducer": "jsonl",
                   "options": {"schema": "id long, v double"}},
      "transforms": [
        {"op": "filter",  "expr": "v > 0"},
        {"op": "map",     "cols": {"v2": "v * 2"}},
        {"op": "explode", "col": "tags", "out": "tag"},
        {"op": "keep",    "expr": "get_json_object(raw, '$.k')",
                          "out": "k"},
        {"op": "mapping", "template": {...}},   # JUTE template (M1)
      ],
      "expectations": [
        {"check": "not_null", "cols": ["id"]},
        {"check": "in_range", "col": "v", "lo": 0, "hi": 100},
        {"check": "accepted_values", "col": "k", "values": ["a", "b"]},
        {"check": "matches", "col": "k", "pattern": "^[ab]$"},
        {"check": "unique", "cols": ["id"]},
      ],
      "sink":       {"type": "parquet", "path": "/out"},
      "error_sink": {"type": "parquet", "path": "/errors"},
    }

Unknown component names raise ``ValueError`` listing what IS
registered — the reference's ``IllegalArgumentException`` behavior
(``src/etlp/core.clj:28-30``).

YAML: any loader that yields this dict works (``yaml.safe_load``);
the module deliberately takes dicts, not files, so it has no parser
dependency.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from etlp_spark import expectations as X
from etlp_spark import ops
from etlp_spark.pipeline import Pipeline, split_by_expectations

_log = logging.getLogger(__name__)

__all__ = [
    "pipeline_from_config",
    "streaming_pipeline_from_config",
    "ConfiguredStream",
    "SOURCE_TYPES",
    "SINK_TYPES",
    "TRANSFORM_OPS",
    "STREAM_SOURCE_TYPES",
    "STREAM_STATEFUL_OPS",
]


def _file_source(cfg: dict[str, Any]):
    from etlp_spark.connectors.files import make_source

    return make_source(
        cfg["path"], reducer=cfg.get("reducer", "jsonl"), **cfg.get("options", {})
    )


def _snapshot_source(cfg: dict[str, Any]):
    from etlp_spark.connectors.snapshots import SnapshotSource

    return SnapshotSource(cfg["path"], version=cfg.get("version"))


def _http_source(cfg: dict[str, Any]):
    from etlp_spark.connectors.http import HttpPollingSource

    return HttpPollingSource(cfg["url"], **cfg.get("options", {}))  # api_url first


SOURCE_TYPES: dict[str, Callable[[dict[str, Any]], Any]] = {
    "file": _file_source,
    "snapshot": _snapshot_source,
    "http": _http_source,
}


def _parquet_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.files import ParquetSink

    return ParquetSink(
        cfg["path"],
        mode=cfg.get("mode", "overwrite"),
        partition_by=tuple(cfg.get("partition_by", ())),
    )


def _console_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.files import ConsoleSink

    return ConsoleSink(limit=cfg.get("limit", 20))


def _snapshot_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.snapshots import SnapshotSink

    return SnapshotSink(
        cfg["path"],
        mode=cfg.get("mode", "snapshot"),
        key_cols=cfg.get("key_cols"),
        stats_cols=cfg.get("stats_cols"),
        cluster_by=cfg.get("cluster_by"),
        cluster_files=cfg.get("cluster_files", 16),
    )


def _upsert_parquet_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.files import UpsertParquetSink

    return UpsertParquetSink(
        cfg["path"],
        key=tuple(cfg.get("key", ("id",))),
        version_col=cfg.get("version_col"),
    )


def _jdbc_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.jdbc import JdbcSink

    return JdbcSink(cfg["url"], cfg["table"], **cfg.get("options", {}))


def _bucketed_table_sink(cfg: dict[str, Any]):
    from etlp_spark.connectors.files import BucketedTableSink

    return BucketedTableSink(
        cfg["table"],
        keys=tuple(cfg["keys"]),
        n_buckets=cfg.get("n_buckets", 8),
        sort_cols=tuple(cfg.get("sort", ())),
        path=cfg.get("path"),
    )


SINK_TYPES: dict[str, Callable[[dict[str, Any]], Any]] = {
    "parquet": _parquet_sink,
    "console": _console_sink,
    "snapshot": _snapshot_sink,
    "upsert_parquet": _upsert_parquet_sink,
    "jdbc": _jdbc_sink,
    "bucketed_table": _bucketed_table_sink,
}


def _t_filter(cfg):
    return ops.where(F.expr(cfg["expr"]))


def _t_map(cfg):
    return ops.map_cols(**{k: F.expr(v) for k, v in cfg["cols"].items()})


def _t_explode(cfg):
    return ops.flatten(cfg["col"], cfg["out"], keep=cfg.get("keep"))


def _t_keep(cfg):
    return ops.keep(F.expr(cfg["expr"]), cfg["out"])


def _t_select(cfg):
    cols = list(cfg["cols"])
    return lambda df: df.select(*cols)


def _t_mapping(cfg):
    from etlp_spark.mapping import apply_template

    tmpl = cfg["template"]
    return lambda df: apply_template(df, tmpl)


TRANSFORM_OPS: dict[str, Callable[[dict[str, Any]], Any]] = {
    "filter": _t_filter,
    "map": _t_map,
    "explode": _t_explode,
    "keep": _t_keep,
    "select": _t_select,
    "mapping": _t_mapping,
}

_CHECKS: dict[str, Callable[[dict[str, Any]], X.Check]] = {
    "not_null": lambda c: X.not_null(*c["cols"]),
    "in_range": lambda c: X.in_range(c["col"], c["lo"], c["hi"]),
    "accepted_values": lambda c: X.accepted_values(c["col"], c["values"]),
    "matches": lambda c: X.matches(c["col"], c["pattern"]),
    "unique": lambda c: X.unique(*c["cols"]),
    "predicate": lambda c: X.predicate(
        c.get("name", "predicate"), lambda df, e=c["expr"]: F.expr(e)
    ),
}


def _lookup(registry: dict, kind: str, name: str):
    if name not in registry:
        raise ValueError(
            f"unknown {kind} {name!r}; registered: {sorted(registry)}"
        )
    return registry[name]


def _discriminator(cfg: dict[str, Any], key: str, kind: str) -> str:
    """Config dicts are EXTERNAL data (file/DB/API payload) — a
    missing discriminator must be a loud config error, not a bare
    KeyError from library internals."""
    if key not in cfg:
        raise ValueError(
            f"{kind} config is missing its {key!r} field: {cfg!r}"
        )
    return cfg[key]


def pipeline_from_config(cfg: dict[str, Any]) -> Pipeline:
    """Build a ``Pipeline`` from a declarative dict (see module doc).
    ``source`` is required; everything else optional. Registries are
    module-level dicts — extend ``SOURCE_TYPES`` / ``SINK_TYPES`` /
    ``TRANSFORM_OPS`` to plug in custom components, exactly the
    reference's ``etlp-component`` extension point
    (``src/etlp/core.clj:15-30``)."""
    if "source" not in cfg:
        raise ValueError(f"pipeline config is missing 'source': {cfg!r}")
    src_cfg = cfg["source"]
    source = _lookup(
        SOURCE_TYPES, "source type", _discriminator(src_cfg, "type", "source")
    )(src_cfg)
    transforms = [
        _lookup(TRANSFORM_OPS, "transform op", _discriminator(t, "op", "transform"))(t)
        for t in cfg.get("transforms", ())
    ]
    checks = [
        _lookup(_CHECKS, "expectation check",
                _discriminator(c, "check", "expectation"))(c)
        for c in cfg.get("expectations", ())
    ]
    sink = None
    if "sink" in cfg:
        sink = _lookup(
            SINK_TYPES, "sink type", _discriminator(cfg["sink"], "type", "sink")
        )(cfg["sink"])
    error_sink = None
    if "error_sink" in cfg:
        error_sink = _lookup(
            SINK_TYPES, "sink type",
            _discriminator(cfg["error_sink"], "type", "error_sink"),
        )(cfg["error_sink"])
    return Pipeline(
        source=source,
        transforms=transforms,
        sink=sink,
        name=cfg.get("name", "etlp-stream"),
        expectations=checks,
        error_sink=error_sink,
    )


# =====================================================================
# Streaming config surface — the same declarative shape over
# readStream/writeStream, so the config file reaches everything the
# programmatic StreamingPipeline API does: stream sources (file drop,
# rate, snapshot CDC tail), watermark, trigger, checkpoint, and the
# expectations quarantine applied PER MICRO-BATCH with exactly-once
# snapshot sinks.
#
# Shape::
#
#     {
#       "name": "events-live",
#       "source": {"type": "file_stream", "path": "/in",
#                  "schema": "id long, v double, ts timestamp",
#                  "format": "json", "max_files_per_trigger": 2},
#                 # or {"type": "rate", "rows_per_second": 10}
#                 # or {"type": "snapshot_stream", "path": "/store"}
#       "transforms": [...same ops as batch...],
#       "expectations": [...same checks as batch...],
#       "streaming": {
#         "watermark":   {"col": "ts", "delay": "10 minutes"},
#         "output_mode": "append",
#         "checkpoint":  "/ckpt",
#         "trigger":     {"availableNow": True},
#       },
#       "sink":       {"type": "snapshot", "path": "/out", "mode": "append"},
#       "error_sink": {"type": "parquet", "path": "/errors"},
#     }
# =====================================================================


def _file_stream_source(cfg: dict[str, Any]):
    from etlp_spark.streaming import file_stream

    return lambda spark: file_stream(
        spark,
        cfg["path"],
        cfg["schema"],
        fmt=cfg.get("format", "json"),
        max_files_per_trigger=cfg.get("max_files_per_trigger"),
    )


def _rate_source(cfg: dict[str, Any]):
    from etlp_spark.streaming import rate_stream

    return lambda spark: rate_stream(spark, cfg.get("rows_per_second", 10))


def _snapshot_stream_source(cfg: dict[str, Any]):
    def make(spark: SparkSession) -> DataFrame:
        from etlp_spark.connectors.snapshot_datasource import SnapshotDataSource

        spark.dataSource.register(SnapshotDataSource)
        return (
            spark.readStream.format("etlp-snapshots")
            .option("root", cfg["path"])
            .load()
        )

    return make


STREAM_SOURCE_TYPES: dict[str, Callable[[dict[str, Any]], Any]] = {
    "file_stream": _file_stream_source,
    "rate": _rate_source,
    "snapshot_stream": _snapshot_stream_source,
}


def _s_running_counts(c: dict[str, Any]):
    from etlp_spark.streaming import running_counts_tws

    return lambda df, _k=c["key"]: running_counts_tws(df, _k)


def _s_ewma(c: dict[str, Any]):
    from etlp_spark.streaming import ewma_tws

    return lambda df, _k=c["key"], _v=c["value"], _a=c.get("alpha", 0.5): (
        ewma_tws(df, _k, _v, alpha=_a)
    )


def _s_heavy_hitters(c: dict[str, Any]):
    from etlp_spark.streaming import heavy_hitters_tws

    return lambda df, _v=c["value"], _k=c.get("k", 10), _b=c.get("buckets", 16): (
        heavy_hitters_tws(df, _v, k=_k, buckets=_b)
    )


def _s_heavy_hitters_bounded(c: dict[str, Any]):
    from etlp_spark.streaming import heavy_hitters_spacesaving_tws

    return lambda df, _v=c["value"], _k=c.get("k", 10), _m=c.get("m", 64), _b=c.get("buckets", 16): (
        heavy_hitters_spacesaving_tws(df, _v, k=_k, m=_m, buckets=_b)
    )


def _s_session_gap(c: dict[str, Any]):
    from etlp_spark.streaming import session_gap_tws

    return lambda df, _k=c["key"], _t=c["ts"], _g=c.get("gap_seconds", 1800): (
        session_gap_tws(df, _k, _t, gap_seconds=_g)
    )


#: Stateful (transformWithStateInPandas) operators by config name —
#: the arbitrary-state family as declarative vocabulary. The op runs
#: AFTER transforms and the watermark; its own output mode contract
#: applies (counts/ewma/heavy-hitters emit in Update, session_gap in
#: Append), and the session needs the RocksDB state-store provider.
def _s_approx_distinct(c: dict[str, Any]):
    from etlp_spark.streaming import approx_distinct_tws

    return lambda df, _k=c["key"], _v=c["value"], _p=c.get("p", 8): (
        approx_distinct_tws(df, _k, _v, p=_p)
    )


def _s_ddsketch(c: dict[str, Any]):
    from etlp_spark.streaming import ddsketch_tws

    return lambda df, _k=c["key"], _v=c["value"], _q=tuple(
        c.get("qs", (0.5, 0.95, 0.99))
    ), _a=c.get("alpha", 0.01): ddsketch_tws(df, _k, _v, qs=_q, alpha=_a)


def _s_cusum(c: dict[str, Any]):
    from etlp_spark.streaming import cusum_tws

    return lambda df, _k=c["key"], _v=c["value"], _m=c["mu_e6"], _s=c.get(
        "slack_e6", 0
    ), _h=c.get("h_e6"): cusum_tws(df, _k, _v, mu_e6=_m, slack_e6=_s, h_e6=_h)


def _s_psi_drift(c: dict[str, Any]):
    from etlp_spark.streaming import psi_drift_tws

    return lambda df, _k=c["key"], _v=c["value"], _r=[
        int(x) for x in c["ref_counts"]
    ], _b=c["bin_width"], _t=c.get("threshold_e6", 200_000): psi_drift_tws(
        df, _k, _v, ref_counts=_r, bin_width=_b, threshold_e6=_t
    )


def _s_ks_drift(c: dict[str, Any]):
    from etlp_spark.streaming import ks_drift_tws

    return lambda df, _k=c["key"], _v=c["value"], _r={
        int(v): int(n) for v, n in c["ref_hist"].items()
    }, _c=c.get("c_alpha", 1.358102): ks_drift_tws(
        df, _k, _v, ref_hist=_r, c_alpha=_c
    )


def _s_mann_whitney(c: dict[str, Any]):
    from etlp_spark.streaming import mann_whitney_tws

    return lambda df, _k=c["key"], _v=c["value"], _r={
        int(v): int(n) for v, n in c["ref_hist"].items()
    }, _z=c.get("z_crit", 1.959964): mann_whitney_tws(
        df, _k, _v, ref_hist=_r, z_crit=_z
    )


def _s_bootstrap_ci(c: dict[str, Any]):
    from etlp_spark.streaming import bootstrap_ci_tws

    return lambda df, _k=c["key"], _v=c["value"], _i=c["id"], _n=c.get(
        "n_reps", 32
    ): bootstrap_ci_tws(df, _k, _v, _i, n_reps=_n)


def _s_conformal(c: dict[str, Any]):
    from etlp_spark.streaming import conformal_tws

    return lambda df, _k=c["key"], _v=c["value"], _i=c["id"]: conformal_tws(
        df, _k, _v, _i
    )


def _s_funnel(c: dict[str, Any]):
    from etlp_spark.streaming import funnel_tws

    return lambda df, _k=c["key"], _t=c["type"], _ts=c["ts"], _s=tuple(
        c.get("steps", ("signup", "click", "purchase"))
    ): funnel_tws(df, _k, _t, _ts, steps=_s)


def _s_paths(c: dict[str, Any]):
    from etlp_spark.streaming import paths_tws

    return lambda df, _k=c["key"], _t=c["type"], _ts=c["ts"], _i=c[
        "id"
    ], _g=int(c.get("gap_us", 1800 * 1_000_000)): paths_tws(
        df, _k, _t, _ts, _i, gap_us=_g
    )


def _s_cdc(c: dict[str, Any]):
    from etlp_spark.streaming import cdc_tws

    return lambda df, _k=c["key"], _o=c["op"], _s=c["seq"], _a=c[
        "attr"
    ], _n=c["num"], _ts=c.get("ts"), _l=c.get(
        "max_lateness_us"
    ): cdc_tws(
        df, _k, _o, _s, _a, _n, ts_col=_ts, max_lateness_us=_l
    )


STREAM_STATEFUL_OPS: dict[str, Callable[[dict[str, Any]], Any]] = {
    "running_counts": _s_running_counts,
    "ewma": _s_ewma,
    "heavy_hitters": _s_heavy_hitters,
    "heavy_hitters_bounded": _s_heavy_hitters_bounded,
    "session_gap": _s_session_gap,
    "approx_distinct": _s_approx_distinct,
    "ddsketch_quantiles": _s_ddsketch,
    "cusum": _s_cusum,
    "psi_drift": _s_psi_drift,
    "ks_drift": _s_ks_drift,
    "mann_whitney": _s_mann_whitney,
    "bootstrap_ci": _s_bootstrap_ci,
    "conformal": _s_conformal,
    "funnel": _s_funnel,
    "paths": _s_paths,
    "cdc": _s_cdc,
}


@dataclass
class ConfiguredStream:
    """A config-built streaming pipeline, ready to ``start``.

    With expectations (or a snapshot sink) the query runs through
    ``foreachBatch``: each micro-batch is quarantined by the data
    contract (clean rows → sink, violations wrapped in the ETLP error
    envelope → error sink), and a snapshot sink commits via
    ``write_batch``/``merge_batch`` — batch-id idempotent, so the
    snapshot sink is exactly-once under checkpointing. A parquet error
    sink is at-least-once: it appends once per batch, so a batch
    replayed after a crash between the error write and the streaming
    commit log appends its violations twice. Without expectations and with a native sink the plan goes straight
    to ``writeStream.format(...)`` (no Python in the hot path)."""

    pipeline: Any  # StreamingPipeline
    sink_cfg: dict[str, Any] | None
    error_sink_cfg: dict[str, Any] | None
    checks: list
    name: str
    #: per-batch count of expectation violations DROPPED because no
    #: error_sink was configured (driver-side dict: foreachBatch runs
    #: on the driver) — observable via ``stream.violation_counts``
    violation_counts: dict[int, int] = field(default_factory=dict)

    def _batch_writer(self, cfg: dict[str, Any] | None):
        """Resolve a sink config to a per-batch write callable.
        foreachBatch functions run on the DRIVER, so the snapshot
        closure reading ``self._current_batch_id`` (set by ``process``
        before any write) is plain shared state, not pickled."""
        if cfg is None:
            return lambda df: None
        kind = _discriminator(cfg, "type", "sink")
        if kind == "snapshot":
            from etlp_spark.connectors.snapshots import SnapshotStore

            store = SnapshotStore(cfg["path"])
            mode = cfg.get("mode", "append")
            if mode == "merge":
                # exactly-once streaming UPSERT — resolve key_cols at
                # STREAM-BUILD time so a missing key list fails before
                # the first micro-batch, not inside foreachBatch
                key_cols = cfg.get("key_cols")
                if not key_cols:
                    raise ValueError(
                        "streaming snapshot sink with mode='merge' "
                        "requires 'key_cols'"
                    )
                return lambda df, _s=store, _k=list(key_cols): _s.merge_batch(
                    df, _k, self._current_batch_id
                )
            return lambda df, _s=store, _m=mode: _s.write_batch(
                df, self._current_batch_id, mode=_m
            )
        if kind == "parquet":
            # per-batch parquet writes MUST append — an overwrite sink
            # would keep only the last micro-batch (silent data loss),
            # so an explicit "mode": "overwrite" is a config error, not
            # a preference to honor
            mode = cfg.get("mode", "append")
            if mode != "append":
                raise ValueError(
                    f"streaming parquet sink mode must be 'append', got "
                    f"{mode!r}: foreachBatch writes one micro-batch at a "
                    f"time, so any other mode would clobber prior batches"
                )
            sink = _parquet_sink({**cfg, "mode": "append"})
            return sink.write
        sink = _lookup(SINK_TYPES, "sink type", kind)(cfg)
        return sink.write

    def start(self, spark: SparkSession) -> StreamingQuery:
        needs_foreach = bool(self.checks) or any(
            c is not None and c.get("type") == "snapshot"
            for c in (self.sink_cfg, self.error_sink_cfg)
        )
        if not needs_foreach:
            kind = _discriminator(self.sink_cfg or {"type": "console"}, "type", "sink")
            if kind in ("memory", "console", "parquet"):
                target = (self.sink_cfg or {}).get("path") or (self.sink_cfg or {}).get("name")
                return self.pipeline.start(spark, (kind, target), query_name=self.name)
            # non-native sink without expectations still goes through
            # foreachBatch (e.g. jdbc)
        write_clean = self._batch_writer(self.sink_cfg)
        write_err = self._batch_writer(self.error_sink_cfg)
        checks = list(self.checks)

        def process(df: DataFrame, batch_id: int) -> None:
            self._current_batch_id = batch_id
            if checks:
                clean, violations = split_by_expectations(df, checks)
                write_clean(clean)
                if self.error_sink_cfg is not None:
                    write_err(violations)
                else:
                    # no error_sink: quarantined rows would vanish with
                    # no signal — count them and log, so the loss is at
                    # least observable (batch path returns them instead)
                    n_bad = violations.count()
                    self.violation_counts[batch_id] = n_bad
                    if n_bad:
                        _log.warning(
                            "stream %s batch %d: %d row(s) failed "
                            "expectations and were dropped (no error_sink "
                            "configured)", self.name, batch_id, n_bad,
                        )
            else:
                write_clean(df)

        return self.pipeline.start(spark, process, query_name=self.name)


def streaming_pipeline_from_config(cfg: dict[str, Any]) -> ConfiguredStream:
    """Build a streaming pipeline from a declarative dict (shape
    above). ``source`` is required and must name a
    ``STREAM_SOURCE_TYPES`` entry; ``streaming:`` carries watermark /
    output_mode / checkpoint / trigger; ``transforms`` and
    ``expectations`` reuse the batch registries unchanged — one config
    vocabulary for both execution modes. An optional ``stateful:``
    block names a ``STREAM_STATEFUL_OPS`` operator (running_counts /
    ewma / heavy_hitters / heavy_hitters_bounded / session_gap) that
    runs after transforms and the watermark — the
    transformWithStateInPandas family as plain config data (needs the
    RocksDB state-store provider on the session)."""
    from etlp_spark.streaming import StreamingPipeline, with_event_time

    if "source" not in cfg:
        raise ValueError(f"pipeline config is missing 'source': {cfg!r}")
    src_cfg = cfg["source"]
    source = _lookup(
        STREAM_SOURCE_TYPES, "stream source type",
        _discriminator(src_cfg, "type", "source"),
    )(src_cfg)
    transforms = [
        _lookup(TRANSFORM_OPS, "transform op", _discriminator(t, "op", "transform"))(t)
        for t in cfg.get("transforms", ())
    ]
    s_cfg = cfg.get("streaming", {})
    wm = s_cfg.get("watermark")
    if wm:
        transforms.append(
            lambda df, _c=wm["col"], _d=wm["delay"]: with_event_time(df, _c, _d)
        )
    st = cfg.get("stateful")
    if st:
        transforms.append(
            _lookup(
                STREAM_STATEFUL_OPS, "stateful op",
                _discriminator(st, "op", "stateful"),
            )(st)
        )
    checks = [
        _lookup(_CHECKS, "expectation check",
                _discriminator(c, "check", "expectation"))(c)
        for c in cfg.get("expectations", ())
    ]
    pipeline = StreamingPipeline(
        source=source,
        transforms=transforms,
        output_mode=s_cfg.get("output_mode", "append"),
        checkpoint=s_cfg.get("checkpoint"),
        trigger=s_cfg.get("trigger"),
    )
    return ConfiguredStream(
        pipeline=pipeline,
        sink_cfg=cfg.get("sink"),
        error_sink_cfg=cfg.get("error_sink"),
        checks=checks,
        name=cfg.get("name", "etlp-stream"),
    )
