"""One workload run, in a fresh process (started by ``run.py``).

Setup: start the session (``session.get_session``), import the registry
(``__spark_entry__.queries()``), then execute every op once untimed (a
``noop`` write and a collect of its DataFrame) and check its rows against
the DuckDB oracle expectation prepared by the launcher.

Timed phase: whole passes over the op list until ``--seconds`` have been
measured, and at least the workload's ``PASSES``; each op execution is
its registered callable ``fn(spark, inputs)`` plus a ``noop`` write of
the DataFrame it returns. Times are medians per op over the timed
passes.

End-to-end times are CPU seconds of the run's processes (this one, the
JVM and the Python workers), not wall-clock: on a virtual machine whose
hypervisor steals a varying share of the CPU, wall-clock follows that
share from run to run, while CPU time leaves it out. ``setup_s`` counts
all of it. An op's CPU leaves out the JVM's JIT compiler threads, which
are still compiling in every timed pass and whose share of a pass varied
most from run to run; their CPU is kept apart as ``jit_s``. Wall-clock
times are kept in the result file and reported by the traced run.

Writes one JSON result file; ``run.py`` prints the result line.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import layers  # noqa: E402
from workloads import PASSES, WORKLOADS  # noqa: E402

# an op execution slower than this is cancelled and counted as failed
OP_TIMEOUT_S = 90.0


def _cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by the processes of this session: this
    one, the JVM and the Python workers, with the reaped children each
    one has waited for. Time the hypervisor steals is not CPU time, so
    this leaves it out (a core slowed by its neighbours still counts)."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # the fields after "(comm)": state ppid pgrp session ...
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has gone
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads so far (the launcher
    keeps them alive for the whole run, so none of their time is lost)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if "CompilerThre" in st[: st.rindex(")")]:
            ticks += sum(int(x) for x in st.rsplit(")", 1)[1].split()[11:13])
    return ticks / CLK_TCK


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Watchdog:
    """Cancel the running op's jobs and streams once it overruns."""

    def __init__(self, spark, timeout: float):
        self.spark, self.timeout = spark, timeout
        self.fired = False
        self._timer = None

    def _fire(self):
        self.fired = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self.fired = False
        self._timer = threading.Timer(self.timeout, self._fire)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        return False


def _arrow_rows(table):
    """Rows of an Arrow result as Python values, timestamps tz-naive UTC
    (the DuckDB oracle's reading)."""
    import pyarrow as pa

    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col.to_pylist())
    return list(zip(*cols)) if cols else []


def check(expected: dict, table) -> str | None:
    """None when Spark's rows match the oracle's, else a reason."""
    from machine_learning_with_spark_streaming_spark.testing import rowset

    if "error" in expected:
        return f"oracle error: {expected['error']}"
    cols = list(table.column_names)
    rows = _arrow_rows(table)
    if len(rows) != expected["n"]:
        return f"rows spark={len(rows)} oracle={expected['n']}"
    if sorted(cols) != expected["cols"]:
        return f"cols spark={sorted(cols)} oracle={expected['cols']}"
    for i, (a, b) in enumerate(zip(rowset(cols, rows), expected["rows"])):
        if a != b:
            return f"row #{i}: spark={a!r} oracle={b!r}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    ops = WORKLOADS[args.workload]
    traced = bool(args.trace)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    with open(args.expected, "rb") as f:
        expected = pickle.load(f)

    spans: list[dict] = []

    def span(pass_no, op, phase, t0, t1, parent=None):
        if traced:
            spans.append({"workload": args.workload, "pass": pass_no, "op": op,
                          "phase": phase, "start": t0, "end": t1, "parent": parent})

    extra = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: heap resizing varied run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    if traced:
        extra.update(layers.event_log_conf(os.path.join(args.work, "eventlog")))

    t0 = time.time()
    from machine_learning_with_spark_streaming_spark.session import get_session

    spark = get_session(f"perfbench-{args.workload}", extra_conf=extra)
    t1 = time.time()
    import __spark_entry__ as entry

    queries = entry.queries()
    t2 = time.time()
    span("setup", None, "session", t0, t1)
    span("setup", None, "registry", t1, t2)
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    listener = layers.make_listener(spark) if traced else None
    dog = Watchdog(spark, OP_TIMEOUT_S)

    attempted = failed = mismatched = 0
    errors: dict[str, str] = {}

    def fail(op: str, reason: str) -> None:
        nonlocal failed
        failed += 1
        errors[op] = reason[:300]

    def execute(pass_no, op: str) -> dict | None:
        """One op execution through the timed path: the registered
        builder, then a ``noop`` write of its DataFrame."""
        nonlocal attempted
        attempted += 1
        spark.catalog.clearCache()
        if listener:
            listener.tag = f"{pass_no}|{op}"
        try:
            with dog:
                sc.setJobGroup(layers.group_id(pass_no, op, "build"), op)
                cpu_a, jit_a, a = cpu_s(), jit_cpu_s(jvm), time.time()
                df = queries[op](spark, args.inputs)
                b = time.time()
                sc.setJobGroup(layers.group_id(pass_no, op, "exec"), op)
                df.write.format("noop").mode("overwrite").save()
                c, cpu_c, jit_c = time.time(), cpu_s(), jit_cpu_s(jvm)
            if dog.fired:
                raise TimeoutError(f"{op} exceeded {OP_TIMEOUT_S} s")
        except Exception as exc:  # noqa: BLE001 - counted, and the run goes on
            traceback.print_exc()
            fail(op, f"{type(exc).__name__}: {exc}")
            return None
        span(pass_no, op, "build", a, b, parent="op")
        span(pass_no, op, "exec", b, c, parent="op")
        rec = {"pass": pass_no, "op": op, "build_s": b - a, "exec_s": c - b, "op_s": c - a,
               "cpu_s": cpu_c - cpu_a - (jit_c - jit_a), "jit_s": jit_c - jit_a}
        if traced:
            rec["phases"] = layers.catalyst_phases(df)
            tracker = sc.statusTracker()
            rec["tracker_jobs"] = sum(
                len(tracker.getJobIdsForGroup(layers.group_id(pass_no, op, ph)))
                for ph in ("build", "exec")
            )
            listener.settle()
        return rec

    # -- setup: one untimed execution per op, checked against the oracle.
    # It also takes the timed path once (a noop write of the same
    # DataFrame): a fresh JVM's first noop writes run measurably slower.
    oracle_s = oracle_cpu_s = 0.0
    for op in ops:
        attempted += 1
        spark.catalog.clearCache()
        if listener:
            listener.tag = f"check|{op}"
        sc.setJobGroup(layers.group_id("check", op, "build"), op)
        a = time.time()
        try:
            with dog:
                df = queries[op](spark, args.inputs)
                df.write.format("noop").mode("overwrite").save()
                table = df.toArrow()
            if dog.fired:
                raise TimeoutError(f"{op} exceeded {OP_TIMEOUT_S} s")
        except Exception as exc:  # noqa: BLE001 - counted, and the run goes on
            traceback.print_exc()
            fail(op, f"{type(exc).__name__}: {exc}")
            continue
        finally:
            b = time.time()
            span("check", op, "op", a, b)
        cpu_b = time.process_time()
        reason = check(expected[op], table)
        oracle_s += time.time() - b
        oracle_cpu_s += time.process_time() - cpu_b
        if reason:
            mismatched += 1
            fail(op, f"oracle mismatch: {reason}")
            print(f"MISMATCH {op}: {reason}", file=sys.stderr)
    t_setup_end = time.time()
    setup_s = t_setup_end - T_START - oracle_s
    setup_cpu_s = cpu_s() - oracle_cpu_s
    setup_jit_s = jit_cpu_s(jvm)

    # -- timed passes, until --seconds have been measured
    execs: list[dict] = []
    passes: list[float] = []
    cpu0 = _cpu_jiffies()
    t_meas = time.time()
    while len(passes) < PASSES[args.workload] or time.time() - t_meas < args.seconds:
        recs = [r for r in (execute(len(passes), op) for op in ops) if r]
        execs += recs
        passes.append(sum(r["op_s"] for r in recs))
    cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    sc.setJobGroup(None, None)
    spark.catalog.clearCache()

    peak_rss_mb = _hwm_mb("self") + _hwm_mb(jvm)

    def per_op(key):
        return {op: statistics.median(v) for op in ops
                if (v := [e[key] for e in execs if e["op"] == op])}

    per_op_s, per_op_cpu_s = per_op("op_s"), per_op("cpu_s")
    result: dict = {
        "workload": args.workload,
        "ops": ops,
        "attempted": attempted,
        "failed": failed,
        "mismatched": mismatched,
        "errors": errors,
        "passes": len(passes),
        "pass_times_s": passes,
        # share of the host's CPU time taken by the hypervisor while the
        # passes ran: a slow run with a high share was slowed from outside
        "host_steal_frac": cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else 0.0,
        "end_to_end": {
            # CPU seconds from process start to the first timed op
            "setup_s": setup_cpu_s,
            # one pass as the sum of its ops' medians
            "pass_cpu_s": sum(per_op_cpu_s.values()),
            # typical op cost: every op weighs the same, whatever its
            # length (a median over ops tracks the one middle op's noise)
            "op_cpu_s.geomean": statistics.geometric_mean(per_op_cpu_s.values()) if per_op_cpu_s else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "error_frac": failed / attempted,
        },
        "wall": {
            "setup_s": setup_s,
            "pass_s": sum(per_op_s.values()),
            "op_s.geomean": statistics.geometric_mean(per_op_s.values()) if per_op_s else 0.0,
        },
        "setup_jit_s": setup_jit_s,
        "setup_parts_s": {
            "session.start_s": t1 - t0,
            "registry.import_s": t2 - t1,
            "warmup_s": t_setup_end - t2 - oracle_s,
            "oracle_check_s": oracle_s,
        },
        "per_op_s": per_op_s,
        "per_op_cpu_s": per_op_cpu_s,
        "execs": [[e["pass"], e["op"], e["build_s"], e["exec_s"], e["cpu_s"], e["jit_s"]] for e in execs],
    }
    if traced:
        progress, runs = list(listener.progress), dict(listener.runs)
        spark.stop()  # flushes the event log
        groups = layers.read_event_log(os.path.join(args.work, "eventlog"))
        per_layer = layers.layer_metrics(execs, groups, progress, runs, cores)
        per_layer["session.start_s"] = t1 - t0
        per_layer["registry.import_s"] = t2 - t1
        per_layer["wall.setup_s"] = setup_s
        per_layer["wall.pass_s"] = result["wall"]["pass_s"]
        per_layer["trace.pass_cpu_s"] = result["end_to_end"]["pass_cpu_s"]
        per_layer["trace.census_mismatch"] = layers.census_mismatches(execs, groups)
        per_layer["error_frac"] = failed / attempted
        result["per_layer"] = per_layer
        result["per_op_layers"] = {
            op: layers.layer_metrics([e for e in execs if e["op"] == op], groups, progress, runs, cores)
            for op in ops
        }
        with open(os.path.join(os.path.dirname(args.out), f"spans-{args.workload}.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    # untraced, the launcher stops the JVM with the rest of this process group
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
