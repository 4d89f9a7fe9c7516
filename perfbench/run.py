"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload interchange --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session on
``local[nproc]`` with driver memory taken from the host. The run

  1. generates (once per checkout) and registers the test tables;
     ``setup_s`` is the time from process start until every table is
     registered and readable;
  2. checks every operation's output in an untimed pass, which is also
     the cold warm-up pass;
  3. times whole passes until ``--seconds`` have elapsed (at least the
     workload's minimum number of passes) and reports medians over them.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See README.md in this
directory for the workloads, metrics and reference figures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")

PIPELINE_LAYER = ("build_s", "execute_s", "task_cpu_s", "shuffle_write_bytes")


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    from workloads import PIPELINES

    names = [
        ("session.start_s", "s"), ("catalog.register_s", "s"),
        ("catalyst_in.s", "s"),
        ("producer.s", "s"), ("producer.py4j_calls", "count"),
        ("wire.encode_s", "s"), ("wire.decode_s", "s"),
        ("wire.bytes", "bytes"),
        ("proto.dumps_s", "s"), ("proto.loads_s", "s"),
        ("proto.json_bytes", "bytes"),
        ("consumer.s", "s"), ("consumer.foreign_s", "s"),
        ("consumer.py4j_calls", "count"),
        ("catalyst_out.s", "s"), ("catalyst_out.analysis_s", "s"),
        ("catalyst_out.optimization_s", "s"),
        ("catalyst_out.planning_s", "s"),
        ("jvm.cpu_s", "s"), ("driver.cpu_s", "s"),
        ("execute.s", "s"), ("execute.task_cpu_s", "s"),
        ("execute.tasks", "count"), ("execute.shuffle_write_bytes", "bytes"),
        ("execute.spill_bytes", "bytes"), ("execute.exchanges", "count"),
        ("trace.pass_s", "s"), ("trace.coverage", "ratio"),
    ]
    for p in PIPELINES:
        for m in PIPELINE_LAYER:
            names.append((f"{p}.{m}", "bytes" if m.endswith("bytes") else "s"))
    return names


def host_spark_conf() -> tuple[int, str]:
    """Cores and driver memory from the host: every core this process may
    run on, and a quarter of physical memory between 1 and 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem_mb = int(min(max(phys // 4, 1 << 30), 4 << 30) // (1 << 20))
    return cores, f"{mem_mb}m"


def use_checkout() -> None:
    """Make the package importable here and in Spark's Python workers,
    which inherit PYTHONPATH, and keep every temporary file under OUT."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp


def start_session(event_dir: str | None):
    from pyspark.sql import SparkSession

    cores, mem = host_spark_conf()
    # JVM temp files stay in OUT like the block manager's (SPARK_LOCAL_DIRS)
    tmp = os.environ["TMPDIR"]
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", mem)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker
    it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, passes, events, setup) -> dict[str, float]:
    """Per-layer metrics: per timed pass, then the median over passes."""
    from workloads import PIPELINES

    spans = {p["no"]: tracer.layer_seconds(p["no"]) for p in passes}
    per_pass: dict[str, list[float]] = {}

    def put(name, value):
        per_pass.setdefault(name, []).append(value)

    for p in passes:
        no, ls = p["no"], spans[p["no"]]
        for span_name, metric in (
                ("catalyst_in", "catalyst_in.s"), ("producer", "producer.s"),
                ("wire.encode", "wire.encode_s"),
                ("wire.decode", "wire.decode_s"),
                ("proto.dumps", "proto.dumps_s"),
                ("proto.loads", "proto.loads_s"),
                ("consumer", "consumer.s"),
                ("consumer.foreign", "consumer.foreign_s"),
                ("catalyst_out", "catalyst_out.s"), ("execute", "execute.s")):
            put(metric, ls.get(span_name, 0.0))
        c = {k[1]: v for k, v in tracer.counts.items() if k[0] == no}
        put("producer.py4j_calls", c.get("producer.py4j_calls", 0))
        put("consumer.py4j_calls", c.get("consumer.py4j_calls", 0)
            + c.get("consumer.foreign.py4j_calls", 0))
        for name in ("wire.bytes", "proto.json_bytes",
                     "catalyst_out.analysis_s", "catalyst_out.optimization_s",
                     "catalyst_out.planning_s", "execute.exchanges"):
            put(name, c.get(name, 0))
        put("jvm.cpu_s", p["jvm_cpu"])
        put("driver.cpu_s", p["driver_cpu"])
        ev = [v for k, v in events.items() if k.split("|")[0] == str(no)]
        for m in ("task_cpu_s", "tasks", "shuffle_write_bytes", "spill_bytes"):
            put(f"execute.{m}", sum(v[m] for v in ev))
        put("trace.pass_s", p["wall"])
        # top-level spans run one after another on the driver thread
        covered = sum(s[2] - s[1] for s in tracer.spans
                      if s[4] == no and not s[3])
        put("trace.coverage", covered / p["wall"])
        for name in PIPELINES:
            op_spans = [s for s in tracer.spans if s[4] == no and s[5] == name]
            put(f"{name}.build_s", sum(s[2] - s[1] for s in op_spans
                                       if s[0] == "build"))
            put(f"{name}.execute_s", sum(s[2] - s[1] for s in op_spans
                                         if s[0] == "execute"))
            ev_op = events.get(f"{no}|{name}", {})
            put(f"{name}.task_cpu_s", ev_op.get("task_cpu_s", 0.0))
            put(f"{name}.shuffle_write_bytes",
                ev_op.get("shuffle_write_bytes", 0))
    out = {"session.start_s": setup["session"],
           "catalog.register_s": setup["register"]}
    out.update({k: median(v) for k, v in per_pass.items()})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("datafusion_substrait_spark/__init__.py",
                 "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    use_checkout()

    import datagen
    import tracing as tr
    from workloads import KNOWN_FAULTS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    data_dir = datagen.ensure(os.path.join(OUT, "data"), cls.sf)

    event_dir = tempfile.mkdtemp(prefix="eventlog-", dir=OUT) if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(event_dir)
    t1 = time.perf_counter()
    from datafusion_substrait_spark.sources.catalog import register_testdata

    # registration reads every table's parquet footer and schema
    register_testdata(spark, data_dir)
    setup = {"total": time.perf_counter() - T_START, "session": t1 - t0,
             "register": time.perf_counter() - t1}
    log(f"setup: {setup['total']:.2f}s")

    try:
        tracer = None
        if args.trace:
            import __spark_entry__ as entry

            tracer = tr.Tracer()
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
            if cls is not WORKLOADS["interchange"]:
                tracer.instrument_registry(spark, entry)
        wl = cls(spark, data_dir, args.seed, tracer)
        jvm_pid = spark.sparkContext._gateway.proc.pid

        if tracer:
            tracer.pass_no = -1
        w0 = time.perf_counter()
        wl.warm_up()
        log(f"warm-up: {time.perf_counter() - w0:.2f}s")
        passes = []
        t_meas = time.perf_counter()
        while (len(passes) < wl.min_passes
               or time.perf_counter() - t_meas < args.seconds):
            if tracer:
                tracer.pass_no = len(passes)
            cpu0, jvm0 = time.process_time(), tr.proc_cpu_seconds(jvm_pid)
            steal0 = tr.host_steal_seconds()
            p0 = time.perf_counter()
            wl.run_pass()
            p = {"no": len(passes), "wall": time.perf_counter() - p0,
                 "driver_cpu": time.process_time() - cpu0,
                 "jvm_cpu": tr.proc_cpu_seconds(jvm_pid) - jvm0}
            passes.append(p)
            log(f"timed pass {p['no']}: {p['wall']:.2f}s, cpu driver "
                f"{p['driver_cpu']:.2f}s jvm {p['jvm_cpu']:.2f}s, host steal "
                f"{tr.host_steal_seconds() - steal0:.2f}s")
        # The correctness pass runs after the timed passes, so that a fault
        # that shows only once the program's caches are filled is caught.
        if tracer:
            tracer.pass_no = -2
        c0 = time.perf_counter()
        bad = wl.check()
        log(f"check: {time.perf_counter() - c0:.2f}s")
    finally:
        stop_session(spark)

    for name, why in sorted(bad.items()):
        print(f"perfbench: {args.workload}/{name}: {why}", file=sys.stderr)
    n_ops = len(wl.ops)
    if args.trace:
        events = tr.parse_event_log(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        tracer.write(os.path.join(
            OUT, f"trace-{args.workload}-s{args.seed}.jsonl"))
        units = dict(per_layer_names())
        values = layer_metrics(tracer, passes, events, setup)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        wall = median([p["wall"] for p in passes])
        metrics = {
            "setup_s": {"value": setup["total"], "unit": "s"},
            "ops_per_s": {"value": n_ops / wall, "unit": "1/s"},
        }
    print(json.dumps({
        "correct": not (set(bad) - KNOWN_FAULTS),
        "attempted": len(passes) * n_ops,
        "failed": len(passes) * len(bad),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
