#!/usr/bin/env python3
"""Layer-by-layer benchmark of univer_ocr_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process with one
Spark session on local[<cores>] driven by one closed-loop client. Inputs
are generated from ``--seed`` and cached under ``.perfbench_work/``; every
file the run writes stays under that directory.

``--trace 0`` starts the session twice, each time in a fresh JVM, then
runs the fixed warm-up once (``setup_s`` is the median start plus the
warm-up), runs ops for ``--seconds``, checks every output and prints the
end-to-end metrics. ``--trace 1`` prints the per-layer metrics instead:
it times a few untraced ops, restarts the session with Spark's event log
on, repeats the op inside spans, runs the layer probes and attributes the
engine metrics of the log to the spans. The full span list is written to
``.perfbench_work/runs/``. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 2  # cold session starts per untraced run; setup_s takes their median

sys.path.insert(0, HERE)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def prepare_env() -> int:
    """Keep every file of the run inside the checkout; return the cores."""
    for d in ("tmp", "cache", "spark-local", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the spark-submit launcher JVM and the driver JVM write no temp files
    # outside the checkout (-XX:-UsePerfData: no /tmp/hsperfdata_<user>)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)
    return cores


def start_session(cores: int, conf: dict, event_dir: str | None = None):
    from univer_ocr_spark.spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
        **conf,
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(master=f"local[{cores}]", app_name="perfbench", extra_conf=extra)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until both have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_for_children()


def wait_for_children(timeout: float = 30) -> None:
    """Wait until no process started by this one is left (the JVM's
    Python workers can outlive the JVM briefly)."""
    from procs import tree

    deadline = time.monotonic() + timeout
    while len(tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            left = {p: open(f"/proc/{p}/cmdline").read()[:100] for p in tree(os.getpid())}
            raise RuntimeError(f"child processes still running: {left}")
        time.sleep(0.1)


def run_ops(wl, spark, sampler, seconds: float, min_ops: int, op) -> list:
    """Closed loop: ops back to back until ``seconds`` have passed and at
    least ``min_ops`` ran. An exception or a failed check fails the op."""
    from procs import OpMeter

    ops, t_start = [], time.perf_counter()
    while len(ops) < min_ops or time.perf_counter() - t_start < seconds:
        rec, meter = {"problems": []}, OpMeter(sampler)
        try:
            with meter:
                result = op()
            rec["problems"] = wl.check(spark, result)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["problems"] = [traceback.format_exc(limit=3)]
        rec.update(wall=meter.wall, cpu=meter.cpu, ext_busy=meter.ext_busy,
                   peak_rss=meter.peak_rss)
        ops.append(rec)
        log(f"op {len(ops)}: {meter.wall:.3f}s cpu {meter.cpu:.2f}s "
            f"rss {meter.peak_rss / 2**20:.0f}MB "
            f"ext-busy {meter.ext_busy:.2f} {'ok' if not rec['problems'] else rec['problems']}")
    return ops


def peak_rss_mb(ops: list) -> float:
    """Median over ops of each op's peak summed RSS of the process tree."""
    return statistics.median(o["peak_rss"] for o in ops) / 2**20


def set_up(wl, cores: int) -> tuple:
    """``SETUPS`` cold session starts, each in a fresh JVM that is shut down
    before the next one starts, then the fixed warm-up in the last session.
    Returns the session, the start times and the warm-up time."""
    starts, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            shutdown(spark)
        t0 = time.perf_counter()
        spark = start_session(cores, wl.conf)
        starts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    try:
        wl.warm_up(spark)
    except BaseException:
        shutdown(spark)
        raise
    return spark, starts, time.perf_counter() - t0


def untraced(wl, cores: int, seconds: float, sampler) -> tuple:
    spark, starts, warm_s = set_up(wl, cores)
    try:
        log(f"session starts: {[round(s, 3) for s in starts]}, warm-up {warm_s:.3f}s")
        ops = run_ops(wl, spark, sampler, seconds, wl.min_ops, lambda: wl.op(spark))
        audit = wl.audit(spark)
        if audit:
            log(f"audit: {audit}")
    finally:
        shutdown(spark)
    ok_walls = [o["wall"] for o in ops if not o["problems"]] or [o["wall"] for o in ops]
    krows = wl.rows * len(ops) / 1000
    metrics = {
        "setup_s": statistics.median(starts) + warm_s,
        "rows_per_s": wl.rows / statistics.median(ok_walls),
        "cpu_s_per_krow": sum(o["cpu"] for o in ops) / krows,
        "peak_rss_mb": peak_rss_mb(ops),
    }
    failed = sum(1 for o in ops if o["problems"]) + (1 if audit else 0)
    return metrics, len(ops) + 1, failed


def traced(wl, cores: int, seconds: float, sampler, run_id: str) -> tuple:
    """Untraced ops in one JVM, then as many ops inside spans in a second
    JVM with the event log on, then the layer probes. Both phases start
    from a fresh JVM and the same warm-up, so their op times compare."""
    from tracing import EventLog, Tracer

    m: dict = {}
    event_dir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(event_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, wl.conf)
        t1 = time.perf_counter()
        wl.warm_up(spark)
        m["session.start_s"] = t1 - t0
        m["session.warmup_s"] = time.perf_counter() - t1
        plain = run_ops(wl, spark, sampler, seconds / 2, 1, lambda: wl.op(spark))
        shutdown(spark)
        spark = start_session(cores, wl.conf, event_dir)
        wl.warm_up(spark)
        tracer = Tracer(run_id, spark)

        def traced_op():
            with tracer.span("op"), wl.instrument(tracer):
                return wl.op(spark)

        spanned = run_ops(wl, spark, sampler, 0, len(plain), traced_op)
        plain_s = statistics.median(o["wall"] for o in plain)
        m["rows_per_s"] = wl.rows / plain_s
        m["peak_rss_mb"] = peak_rss_mb(plain)
        with tracer.span("probes"):
            problems = wl.probes(spark, tracer, m)
        if problems:
            log(f"probe checks: {problems}")
    finally:
        if spark is not None:
            shutdown(spark)
    ev = EventLog(event_dir)
    op_id = tracer.by_name("op")[-1]
    descs = {f"{run_id}#{i}" for i in tracer.subtree(op_id)}
    m.update(ev.metrics(descs, tracer.wall(op_id), cores))
    wl.event_metrics(ev, tracer, m)
    m["trace.overhead_s"] = statistics.median(o["wall"] for o in spanned) - plain_s
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / plain_s
    m["python.workers_peak"] = sampler.workers_peak
    ops = plain + spanned
    failed = sum(1 for o in ops if o["problems"]) + (1 if problems else 0)
    m["failed_op_ratio"] = failed / (len(ops) + 1)
    spans = [
        {**s, "self_s": tracer.self_time(s["id"]),
         "spark": ev.metrics({f"{run_id}#{s['id']}"}, tracer.wall(s["id"]), cores)}
        for s in tracer.spans
    ]
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as fh:
        json.dump({"metrics": m, "spans": spans, "ops": ops}, fh, indent=1, default=str)
    return m, len(ops) + 1, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = prepare_env()
    try:
        import pyspark  # noqa: F401
        import univer_ocr_spark  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: the program is not importable here: {exc}")
        return 2
    import inputs
    from procs import TreeSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    cls = WORKLOADS[args.workload]
    build = getattr(inputs, cls.kind)
    inp = build(os.path.join(WORK, "cache"), args.seed, args.scale)
    log(f"input {inp.meta['key']}: {inp.meta['rows']} rows, "
        f"{inp.meta['bytes'] / 2**20:.1f} MB, generated in {inp.meta['gen_s']:.2f}s"
        f"{'' if inp.meta['generated_now'] else ' (cached)'}")
    wl = cls(inp, WORK, cores, args.seed, args.scale)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    with TreeSampler(os.getpid()) as sampler:
        if args.trace:
            metrics, attempted, failed = traced(wl, cores, args.seconds, sampler, run_id)
            metrics["generator.input_s"] = inp.meta["gen_s"]
            metrics["generator.input_rows"] = inp.meta["rows"]
            metrics["generator.input_mb"] = inp.meta["bytes"] / 2**20
            declared = spec["per_layer"]
        else:
            metrics, attempted, failed = untraced(wl, cores, args.seconds, sampler)
            declared = spec["end_to_end"]
    out = {
        d["name"]: {"value": float(metrics.get(d["name"], 0.0)), "unit": d["unit"]}
        for d in declared
    }
    # peak RSS is printed on every run but bounds nothing: a single JVM op's
    # peak moved by ±12% between runs with the heap growing lazily to 8g
    shown = {**{k: (v["value"], v["unit"]) for k, v in out.items()},
             "peak_rss_mb": (metrics["peak_rss_mb"], "MB")}
    shown.pop("failed_op_ratio", None)
    print(f"{args.workload} seed={args.seed} trace={args.trace} rows={wl.rows}: "
          + " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in shown.items())
          + f" failed_op_ratio={failed / attempted:.3g} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
