"""MOPSO engine benchmark: one closed-loop client on one local Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload scale_local --seed 1 --seconds 10 --trace 0

One client issues one operation at a time (a ``MopsoEngine.fit``, or one
post-fit report) until the operations' summed wall time reaches
``--seconds``; every operation runs whole, and a run makes at least
``MIN_OPS`` unless it nears ``RUN_DEADLINE_S``. Set-up - the session
build, the inputs and a warm-up - is timed separately as ``setup_s``.
Each operation's output is checked after it, outside its timed window; a
failed check or an exception counts as a failed operation.

``wall_s`` is the run's fastest operation. On a shared host other
tenants' load (CPU steal, and core sharing that shows as none) only ever
adds time to an operation, in episodes of seconds to minutes, so the
fastest of a few operations is the least disturbed reading of the
program's cost; the median of every operation is printed beside it.
``iter_s`` (seconds per MOPSO iteration, the fastest fit's; on report
the set-up fit's) is printed but is not in the result line: report runs
no fit of its own.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
engine's modules in spans (see ``spans.py``) and prints the per-layer
metrics instead; the spans are written to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import procmem

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"
#: wall_s is the fastest of at least this many timed operations
MIN_OPS = 2
#: issue no operation after this much wall time in the run, so that a
#: run on a slow host still ends within its time limit
RUN_DEADLINE_S = 120.0

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "front_hv": "ratio",
    "peak_rss_mb": "MB",
}

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def configure_env(work: str, ui: bool) -> None:
    """Keep every file Spark and its workers write inside ``work``, bind
    the session to loopback, and put the repository on the Python
    workers' import path (they start outside the repository root). The
    web UI, whose REST API the tracer reads, runs only when ``ui``."""
    tmp = os.path.join(work, "tmp")
    conf = os.path.join(work, "conf")
    for d in (tmp, conf):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            f"spark.local.dir {os.path.join(work, 'local')}\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
            "spark.driver.host 127.0.0.1\n"
            "spark.driver.bindAddress 127.0.0.1\n"
            "spark.ui.showConsoleProgress false\n"
            f"spark.ui.enabled {str(ui).lower()}\n"
            f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
        )
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(_LOG4J)
    os.environ.update(
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LOCAL_IP="127.0.0.1",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it and
    for the Python workers it forked."""
    children = procmem.tree(os.getpid())[1:]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(map(procmem.alive, children)) and time.monotonic() < deadline:
        time.sleep(0.05)


def run(args) -> dict:
    t_start = time.perf_counter()
    from mopso_engine.session import build_session

    import spans
    import workloads
    # a fixed ~0.2 s hash-aggregate job: its reading next to each
    # operation shows when the host was slow, not the program
    from bench import _micro_spark_calibration as calibrate

    ncpu = len(os.sched_getaffinity(0))
    spark = build_session(master=f"local[{ncpu}]", app_name="perfbench", driver_memory=DRIVER_MEMORY)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        wl = workloads.WORKLOADS[args.workload](spark, args.seed)
        wl.prepare()
        calibrate(spark)  # its first reading is a cold one
        setup_s = time.perf_counter() - t_start

        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        if args.trace:
            tracer.install()
        sampler = procmem.PeakSampler()
        ops: list[dict] = []
        busy = 0.0
        while not ops or (
            (len(ops) < MIN_OPS or busy < args.seconds)
            and time.perf_counter() - t_start < RUN_DEADLINE_S
        ):
            # host readings next to each operation: a fixed job's time,
            # the CPU time the hypervisor stole and the JVM's GC time
            rec = {"calib_s": calibrate(spark)}
            steal0, total0 = cpu_jiffies()
            gc0 = jvm_gc_s(spark)
            cpu0 = procmem.tree_cpu_s(os.getpid())
            sampler.start()
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.op") as root:
                    out = wl.operation(tracer)
                rec["wall_s"] = time.perf_counter() - t0
                rec["cpu_s"] = procmem.tree_cpu_s(os.getpid()) - cpu0
                steal1, total1 = cpu_jiffies()
                rec["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
                rec["gc_s"] = jvm_gc_s(spark) - gc0
                rec["peak_rss_mb"] = sampler.stop() / 1048576.0
                rec["span"] = root
                t_check = time.perf_counter()
                rec["ok"], rec["max_rel_err"] = wl.check(out)
                rec["check_s"] = time.perf_counter() - t_check
                rec.update(wl.figures(out))
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                rec.setdefault("wall_s", time.perf_counter() - t0)
                sampler.stop()
                traceback.print_exc()
                rec["ok"] = False
            busy += rec["wall_s"]
            ops.append(rec)
        if args.trace:
            tracer.uninstall()

        good = [r for r in ops if r["ok"]]
        result = {
            "correct": len(good) == len(ops),
            "attempted": len(ops),
            "failed": len(ops) - len(good),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "ncpu": ncpu,
            "setup_s": setup_s,
            "session_s": session_s,
            "ops": [{k: v for k, v in r.items() if k != "span"} for r in ops],
        }

        def median(rows, key):
            return statistics.median(r[key] for r in rows)

        if args.trace:
            jobs = tracer.job_stats()
            per_op = [tracer.op_metrics(r["span"], jobs) | {"rescore.max_rel_err": r["max_rel_err"]} for r in good]
            metrics = {
                name: {"value": median(per_op, name), "unit": unit}
                for name, (unit, _better, _moves) in spans.PER_LAYER.items()
            } if per_op else {}
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            values = {"setup_s": setup_s}
            if good:
                values["wall_s"] = min(r["wall_s"] for r in good)
                values.update({k: median(good, k) for k in ("front_hv", "peak_rss_mb")})
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        detail["failed_frac"] = result["failed"] / result["attempted"]
        print("detail " + json.dumps(detail, default=str))
        for name, m in metrics.items():
            print(f"metric {name} {m['value']:.6g} {m['unit']}")
        print(f"metric failed_frac {detail['failed_frac']:.6g} ratio")
        if not args.trace and good:
            print(f"metric iter_s {min(r['iter_s'] for r in good):.6g} s")
            print(f"metric wall_s.median {median(good, 'wall_s'):.6g} s")
            print(f"metric wall_s.samples {len(good)} count")
        result["metrics"] = metrics
        return result
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["scale_local", "report"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mopso_engine", "engine.py")):
        print(f"perfbench: no mopso_engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    configure_env(work, ui=bool(args.trace))
    try:
        result = run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
