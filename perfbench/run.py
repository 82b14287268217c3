"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` (cached in ``.perfbench_cache/``), sets up a ``local[nproc]``
session three times (the first set-up includes process start and JVM
launch; ``setup_s`` is the median), then runs one closed-loop client: a
cold pass over the workload's ops, an untimed pass that checks every
output, and warm passes for ``--seconds``. With ``--trace 0`` the last
stdout line carries the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` it carries the per-layer metrics of a traced run (spans
around each layer's public functions plus Spark's event log). The lines
before it give the full report: every metric with its unit, the
correctness result, the input sizes, the host probe and the
environment. Spans and the report are also written to
``.perfbench_out/``. Exits non-zero when an output is wrong.

Workloads: ``llm_corpus`` and ``etl_ingest`` (in BENCHMARK.json) and
``warehouse`` (see workloads.py).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("warehouse", "llm_corpus", "etl_ingest")
SETUP_REPEATS = 3
HEAP = "4g"

#: name -> unit: the end-to-end metrics BENCHMARK.json gates, on every
#: workload. Each is a median over a run's warm passes or set-ups.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
}
#: Printed with every run but not gated: single-sample or few-sample
#: figures that swing with the host from run to run, a ratio that is 0
#: on every correct run, and etl_ingest-only figures.
REPORT_ONLY = {
    "cold_pass_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "failed_ratio": "1",
    "host_probe_s": "s",
    "read_p50_s": "s",
    "write_amp": "1",
    "space_amp": "1",
}
_FN = ("dedup", "similarity", "ann_index", "text", "sketches", "graph")
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.load_table_s": "s",
    "io.scan_bytes": "bytes",
    "io.scan_rows": "rows",
    "io.scan_tasks": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.eager_jobs": "count",
    "queries.jobs": "count",
    "queries.tasks": "count",
    "queries.busy_ratio": "1",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.task_skew": "1",
    "queries.gc_s": "s",
    **{f"functions.{m}.exec_s": "s" for m in _FN},
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.verified_pairs": "count",
    "functions.dedup.lsh_precision": "1",
    "functions.similarity.ivf_scan_share": "1",
    "functions.python_bytes_sent": "bytes",
    "config.build_s": "s",
    "mapping.compile_s": "s",
    "mapping.apply_s": "s",
    "expectations.validate_s": "s",
    "expectations.violation_ratio": "1",
    "streaming.start_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.source_s": "s",
    "streaming.commit_s": "s",
    "connectors.snapshots.compact_s": "s",
    "connectors.snapshots.read_s": "s",
    "connectors.snapshots.time_travel_s": "s",
    "connectors.snapshots.versions": "count",
    "connectors.snapshots.live_files": "count",
    "connectors.snapshots.bytes_written": "bytes",
    "connectors.snapshots.commit_conflicts": "count",
    "pipeline.run_s": "s",
    "connectors.files.bytes_written": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric: the counters above, each layer's self
    time and the tracing overhead."""
    return {**PER_LAYER, **{f"{layer}.self_s": "s" for layer in tracing.LAYERS}, "trace.overhead_s": "s"}


# ---------------------------------------------------------------------------
# host measurements
# ---------------------------------------------------------------------------


def host_probe() -> float:
    """Median of three runs of a fixed pure-Python CPU loop: a record of
    the host's speed at that moment, not a property of the program."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, todo = {os.getpid()}, [os.getpid()]
        while todo:
            p = todo.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    todo.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def environment(spark, conf: dict[str, str]) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "session_conf": conf,
        "env": {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_WAREHOUSE", "JAVA_TOOL_OPTIONS")},
    }


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        # the engine's 24g default heap does not fit every host; the
        # benchmark's inputs are small
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        # one plain JSON-lines file per application, parsed at exit
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def set_up(conf: dict[str, str], check_inputs) -> tuple[object, float]:
    """get_spark + input check + Python worker pre-fork; returns the
    session and the get_spark time."""
    from etlp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="etlp-spark-perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    check_inputs()
    # Python workers are reused across tasks; fork them now so the first
    # Arrow / pandas op does not pay interpreter start-up.
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).mapInPandas(lambda it: it, "id long").count()
    return spark, get_spark_s


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input sizes (the benchmark's own smoke tests use 0.1)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etlp_spark", "session.py")):
        print("perfbench: run from the root of a checkout that holds etlp_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in (work, os.path.join(work, "tmp"), os.path.join(work, "eventlog"), out_dir):
        os.makedirs(d, exist_ok=True)
    # everything the program writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts: temp files in the checkout, no
    # hsperfdata in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None
    try:
        return _run(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str, out_dir: str) -> int:
    t0 = time.perf_counter()
    probe_before = host_probe()
    probe_s = time.perf_counter() - t0
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    with RssSampler() as rss:
        # ---- inputs (generation is cached and not part of set-up) ----
        t_gen = time.perf_counter()
        meta: dict = {}
        data_dir = ""
        if args.workload in W.SPECS:
            from etlp_spark.queries import QUERIES

            ops = W.WAREHOUSE_OPS if args.workload == "warehouse" else W.LLM_OPS
            spec = {k: v if k == "files" else max(1, int(v * args.scale)) for k, v in W.SPECS[args.workload].items()}
            data_dir, meta = gen.prepare(
                os.path.join(root, ".perfbench_cache"), args.workload, args.seed,
                spec, {n: QUERIES[n].oracle for n in ops},
            )
            report["inputs"] = {
                "tables": meta["stats"], "generate_s": meta["gen_s"], "oracle_s": meta["oracle_s"],
                "cached": meta["cached"],
                "rows": sum(s["rows"] for s in meta["stats"].values()),
                "bytes": sum(s["bytes"] for s in meta["stats"].values()),
                "files": sum(s["files"] for s in meta["stats"].values()),
            }
        gen_s = time.perf_counter() - t_gen

        def check_inputs() -> None:
            if not data_dir:
                return
            got = gen.input_stats(data_dir)
            if got != meta["stats"]:
                raise RuntimeError(f"generated inputs in {data_dir} do not match their recorded footers")

        # ---- set-up, several times; the first includes JVM launch ----
        conf = session_conf(work, bool(args.trace))
        tracer = tracing.Tracer()
        if args.trace:
            tracer.instrument()
        setups, get_spark_times = [], []
        spark = None
        for i in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = T_PROCESS + probe_s + gen_s if i == 0 else time.time()
            tracer.enabled = bool(args.trace)
            spark, gs = set_up(conf, check_inputs)
            tracer.enabled = False
            setups.append(time.time() - t0)
            get_spark_times.append(gs)
        report["setups_s"] = setups
        report["environment"] = environment(spark, conf)

        ctx = W.Ctx(spark, args.workload, args.seed, args.seconds, work,
                    report["environment"]["nproc"], tracer, bool(args.trace), data_dir, meta, args.scale)
        try:
            if args.workload == "etl_ingest":
                t, etl = W.run_etl(ctx)
            else:
                t = W.run_queries(ctx, ops)
            probes = {}
            if args.trace:
                if args.workload == "llm_corpus":
                    probes = W.llm_probes(ctx)
                if args.workload == "etl_ingest":
                    probes = {"mapping.apply_s": W.mapping_apply_probe(ctx, etl)}
        finally:
            tracer.restore()
            stop_jvm(spark)

        if args.workload == "etl_ingest":
            fp = etl.footprint()
            report["inputs"] = {"rows": etl.input_rows, "bytes": etl.input_bytes,
                                "files": etl.batch, "injected_violations": len(etl.injected)}
            report["etl"] = {**fp, "read_latest_p50_s": statistics.median(etl.read_latest),
                             "read_time_travel_p50_s": statistics.median(etl.read_tt)}
        if args.trace:
            if args.workload == "etl_ingest":
                layer = W.etl_layer_metrics(ctx, etl)
            else:
                layer = W.query_layer_metrics(ctx, tracing.read_event_logs(os.path.join(work, "eventlog")))
            layer.update(probes)
            layer["session.get_spark_s"] = statistics.median(get_spark_times)
            layer.update({f"{k}.self_s": v for k, v in tracing.self_times(tracer.spans).items()})
            layer["trace.overhead_s"] = statistics.median(t.traced_passes) - statistics.median(t.passes)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
    probe_after = host_probe()

    # ---- metrics ----
    pct = W.TAIL_PERCENTILE
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(t.passes),
        "op_p50_s": statistics.median(t.ops),
        "rows_per_s": t.warm_rows / t.warm_wall_s,
    }
    extra = {
        "cold_pass_s": t.cold_pass_s,
        "op_tail_s": W.nearest_rank(t.ops, pct),
        "peak_rss_mb": rss.peak / 2**20,
        "failed_ratio": t.failed / t.attempted,
        "host_probe_s": (probe_before + probe_after) / 2,
    }
    if args.workload == "etl_ingest":
        extra["read_p50_s"] = statistics.median(etl.reads)
        extra["write_amp"] = report["etl"]["write_amp"]
        extra["space_amp"] = report["etl"]["space_amp"]
    report["samples"] = {
        "ops": len(t.ops), "warm_passes": len(t.passes), "traced_passes": len(t.traced_passes),
        "op_tail_percentile": pct, "ops_above_tail": sum(1 for x in t.ops if x > extra["op_tail_s"]),
    }
    if t.op_names:
        by_op: dict[str, list[float]] = {}
        for n, x in zip(t.op_names, t.ops):
            by_op.setdefault(n, []).append(x)
        report["op_p50_by_name_s"] = {n: statistics.median(v) for n, v in by_op.items()}
    report["host_probe_s"] = {"before": probe_before, "after": probe_after}
    report["verify"] = t.extra.get("verify")
    report["errors"] = t.errors
    report["end_to_end"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    report["diagnostics"] = {k: {"value": v, "unit": REPORT_ONLY[k]} for k, v in extra.items()}
    if args.trace:
        units = per_layer_units()
        report["per_layer"] = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    for k, v in {**report["end_to_end"], **report["diagnostics"]}.items():
        print(f"{args.workload:<11} {k:<14} {v['value']:>14.6g} {v['unit']}")
    print("perfbench report: " + json.dumps(report, default=str))
    correct = t.failed == 0
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": t.attempted, "failed": t.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
