"""Layer trace taken from outside the program.

Spans are recorded by the benchmark around its own calls into the
program's public functions (and, on the relational workload, around the
module attributes the query registry calls through); nothing inside the
package is changed. A span is (name, start, end, parent, op); spans are
kept in memory and written out as JSON lines when the run ends.

py4j round trips are counted at the gateway client of this process and
attributed to the innermost open span. Memory commands (prefix ``m``) are
left out: they are object deletes sent whenever Python's garbage collector
runs, so their number depends on GC timing, not on the work.

Spark task metrics come from the event log the traced session writes; it
is parsed after the session stops. Jobs are labelled ``<pass>|<op>`` by the
job description, so every task is charged to one operation of one pass.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

COUNTED_SPANS = ("producer", "consumer", "consumer.foreign")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[tuple[int, str], float] = {}
        self.pass_no = -1
        self.op = ""
        self._local = threading.local()
        self._main = threading.get_ident()

    @property
    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack
        parent = stack[-1] if stack else ""
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((name, t0, t1, parent, self.pass_no, self.op))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def count_py4j(self, gateway_client) -> None:
        """Count call commands sent by this process's gateway client."""
        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            if (threading.get_ident() == self._main and self._stack
                    and not command.startswith("m\n")):
                layer = next((s for s in reversed(self._stack)
                              if s in COUNTED_SPANS), None)
                if layer is not None:
                    self.add(layer + ".py4j_calls", 1)
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted

    def add(self, name: str, value: float) -> None:
        key = (self.pass_no, name)
        self.counts[key] = self.counts.get(key, 0) + value

    def note_plan(self, jdf, force: bool) -> None:
        """Catalyst phase times and Exchange count of a built DataFrame;
        ``force`` builds its physical plan first, in a span of its own."""
        qe = jdf.queryExecution()
        if force:
            with self.span("catalyst_out"):
                qe.executedPlan()
        for phase, secs in catalyst_phases(qe).items():
            self.add(f"catalyst_out.{phase}_s", secs)
        self.add("execute.exchanges", qe.executedPlan().toString().count("Exchange"))

    def instrument_registry(self, spark, entry) -> None:
        """Time the interchange layers the query registry calls through.

        The registry's relational entries call ``spark.sql`` and
        ``serializer.roundtrip`` (producer, JSON codec, consumer); their
        foreign legs call ``consumer.from_substrait_plan``. Those module
        attributes are rebound to timed wrappers for this process only.
        """
        from datafusion_substrait_spark.plans import consumer, proto, serializer

        spark.sql = self.wrap("catalyst_in", spark.sql)
        serializer.to_substrait_plan = self.wrap(
            "producer", serializer.to_substrait_plan)
        serializer.from_substrait_plan = self.wrap(
            "consumer", serializer.from_substrait_plan)
        consumer.from_substrait_plan = self.wrap(
            "consumer.foreign", consumer.from_substrait_plan)
        dumps = proto.dumps

        def timed_dumps(p):
            with self.span("proto.dumps"):
                out = dumps(p)
            self.add("proto.json_bytes", len(out))
            return out

        proto.dumps = timed_dumps
        proto.loads = self.wrap("proto.loads", proto.loads)
        roundtrip = entry.roundtrip

        def timed_roundtrip(df, spark=None):
            # optimize before the producer asks for the optimized plan, so
            # the first Catalyst pass is timed apart from the producer walk
            with self.span("catalyst_in"):
                df._jdf.queryExecution().optimizedPlan()
            return roundtrip(df, spark)

        entry.roundtrip = timed_roundtrip

    def layer_seconds(self, pass_no: int) -> dict[str, float]:
        """Seconds per span name within one pass (spans of one name never
        nest in themselves, so summing durations does not double count)."""
        out: dict[str, float] = {}
        for name, t0, t1, _parent, p, _op in self.spans:
            if p == pass_no:
                out[name] = out.get(name, 0.0) + (t1 - t0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, p, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "pass": p,
                                    "op": op}) + "\n")


def proc_cpu_seconds(pid: int) -> float:
    """utime + stime of a process from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_steal_seconds() -> float:
    """Time the hypervisor gave this machine's CPUs to others (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics per job label: {label: {task_cpu_s, tasks,
    shuffle_write_bytes, spill_bytes}}."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"), "")
                    tm = ev.get("Task Metrics") or {}
                    acc = out.setdefault(label, {
                        "task_cpu_s": 0.0, "tasks": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0})
                    acc["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["tasks"] += 1
                    acc["shuffle_write_bytes"] += (tm.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
    return out


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds per phase of ``queryExecution().tracker()``."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
