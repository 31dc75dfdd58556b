"""Per-layer readout for the traced run, from Spark's own hooks.

- an uncompressed event log (task, stage and job metrics, attributed to
  each op's build or write by its ``spark.jobGroup.id``), parsed after
  the session stops;
- a ``StreamingQueryListener`` that keeps every micro-batch progress;
- Catalyst phase times from ``queryExecution().tracker().phases()`` of
  the DataFrame each op returns (see ``catalyst_phases``).

Each op execution gets two job groups, ``<pass>|<op>|build`` and
``<pass>|<op>|exec``; the layer metrics of a pass are sums over its ops.
"""

from __future__ import annotations

import json
import os
import statistics
import time

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_METRICS = (PY_SENT, PY_RETURNED, PY_RUN, PY_START)

MB = 1 << 20


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
    }


def group_id(pass_no: int | str, op: str, phase: str) -> str:
    return f"{pass_no}|{op}|{phase}"


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimisation and planning ms of ``df``'s query execution.

    Read after the timed ``noop`` write. That write runs its command in
    a query execution of its own, which shares ``df``'s tracker only for
    analysis: ``analysis`` spans the builder's analysis and the write's.
    ``optimization`` and ``planning`` come from forcing ``df``'s own
    executed plan here, outside the timed path: a replan of the same
    logical plan, a proxy for the planning inside the write."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def make_listener(spark):
    """Register a listener that tags each stream progress with the op
    running when its query started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.tag = None
            self.owner: dict[str, str] = {}
            self.runs: dict[str, str] = {}
            self.progress: list[tuple[str, dict]] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            self.owner[str(event.id)] = self.tag
            # micro-batch jobs run under the query's runId as job group
            self.runs[str(event.runId)] = self.tag

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            self.progress.append((self.owner.get(p["id"], self.tag), p))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.id))

        def settle(self, timeout: float = 10.0) -> None:
            """Wait until every started query's events have arrived."""
            end = time.time() + timeout
            while set(self.owner) - self.terminated and time.time() < end:
                time.sleep(0.01)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and task metrics from the event log."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith((".", "appstatus"))]

    def order(path):  # rolling logs: events_<index>_<app id>
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name):
        return groups.setdefault(name, {
            "jobs": set(), "stages": set(), "tasks": 0, "failed_tasks": 0,
            "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "input": 0, "output": 0, "stage_task_ms": {},
            **{m: 0.0 for m in PY_METRICS},
        })

    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp(g)["jobs"].add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    rec = grp(g)
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec["stages"].add(ev["Stage ID"])
                    rec["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        rec["failed_tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    rec["run_ms"] += run
                    rec["stage_task_ms"].setdefault(ev["Stage ID"], []).append(run)
                    rec["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    rec["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    rec["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    rec["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    rec["output"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in PY_METRICS:
                            rec[acc["Name"]] += float(acc.get("Update") or 0)
    return groups


def layer_metrics(execs: list[dict], groups: dict[str, dict], progress: list,
                  runs: dict[str, str], cores: int) -> dict[str, float]:
    """Per-pass layer metrics (medians over the timed passes).

    ``execs`` holds one record per timed op execution: pass, op, build_s,
    exec_s and Catalyst phases; ``progress`` holds (tag, progress) pairs
    and ``runs`` maps each stream runId to a tag, tags being
    ``<pass>|<op>``. Micro-batch jobs (job group = runId) count in
    ``stream.jobs`` and in the Python, I/O and failed-task totals.
    """
    passes = sorted({e["pass"] for e in execs})
    per_pass: list[dict[str, float]] = []
    batch_ms: list[float] = []
    for p in passes:
        mine = [e for e in execs if e["pass"] == p]
        b = [groups.get(group_id(p, e["op"], "build"), {}) for e in mine]
        x = [groups.get(group_id(p, e["op"], "exec"), {}) for e in mine]
        tags = {f"{p}|{e['op']}" for e in mine}
        st = [groups.get(run, {}) for run, tag in runs.items() if tag in tags]

        def tot(recs, key):
            return sum(r.get(key, 0) for r in recs)

        def count(recs, key):
            return sum(len(r.get(key, ())) for r in recs)

        exec_s = sum(e["exec_s"] for e in mine)
        skew = 0.0
        for r in x:
            for ms in r.get("stage_task_ms", {}).values():
                med = statistics.median(ms)
                if len(ms) > 1 and med > 0:
                    skew = max(skew, max(ms) / med)
        every = b + x + st
        prog = [pr for tag, pr in progress if tag in tags]
        dur = [pr.get("durationMs") or {} for pr in prog]
        states = [s for pr in prog for s in pr.get("stateOperators") or []]
        last_states: dict[str, list] = {}
        for pr in prog:  # final state size per query: its last progress
            last_states[pr["id"]] = pr.get("stateOperators") or []
        trig = [d.get("triggerExecution", 0) for d in dur]
        batch_ms += trig
        per_pass.append({
            "build.s": sum(e["build_s"] for e in mine),
            "build.jobs": count(b, "jobs"),
            "catalyst.analysis_ms": sum(e["phases"]["analysis"] for e in mine),
            "catalyst.optimization_ms": sum(e["phases"]["optimization"] for e in mine),
            "catalyst.planning_ms": sum(e["phases"]["planning"] for e in mine),
            "jit.cpu_s": sum(e["jit_s"] for e in mine),
            "exec.s": exec_s,
            "exec.jobs": count(x, "jobs"),
            "exec.stages": count(x, "stages"),
            "exec.tasks": tot(x, "tasks"),
            "exec.core_util": tot(x, "run_ms") / 1000.0 / (exec_s * cores) if exec_s else 0.0,
            "exec.task_cpu_s": tot(x, "cpu_ns") / 1e9,
            "exec.gc_s": tot(x, "gc_ms") / 1000.0,
            "exec.shuffle_read_mb": tot(x, "shuffle_read") / MB,
            "exec.shuffle_write_mb": tot(x, "shuffle_write") / MB,
            "exec.spill_mb": tot(x, "spill") / MB,
            "exec.task_skew": skew,
            "exec.failed_tasks": tot(every, "failed_tasks"),
            "python.bytes_sent": tot(every, PY_SENT),
            "python.bytes_returned": tot(every, PY_RETURNED),
            "python.run_ms": tot(every, PY_RUN),
            "python.start_ms": tot(every, PY_START),
            "stream.batches": len(prog),
            "stream.jobs": count(st, "jobs"),
            "stream.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
            "stream.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
            "stream.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
            "stream.commit_offsets_ms": sum(d.get("commitOffsets", 0) for d in dur),
            "stream.get_batch_ms": sum(d.get("getBatch", 0) for d in dur),
            "stream_rows_per_s": (
                sum(pr.get("numInputRows", 0) for pr in prog) / (sum(trig) / 1000.0)
                if sum(trig) else 0.0
            ),
            "state.commit_ms": sum(s.get("commitTimeMs", 0) for s in states),
            "state.rows_total": sum(s.get("numRowsTotal", 0) for ss in last_states.values() for s in ss),
            "state.memory_mb": sum(s.get("memoryUsedBytes", 0) for ss in last_states.values() for s in ss) / MB,
            "state.partitions": sum(s.get("numShufflePartitions", 0) for ss in last_states.values() for s in ss),
            "io.input_mb": tot(every, "input") / MB,
            "io.output_mb": tot(every, "output") / MB,
        })
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in (per_pass[0] if per_pass else {})}
    out["batch_ms.p50"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["batch_ms.p90"] = (
        statistics.quantiles(batch_ms, n=10, method="inclusive")[8]
        if len(batch_ms) > 1 else out["batch_ms.p50"]
    )
    return out


def census_mismatches(execs: list[dict], groups: dict[str, dict]) -> int:
    """Op executions whose event-log job count (build + exec) differs from
    the status tracker's count for the same groups (the ``job_census``
    reading)."""
    bad = 0
    for e in execs:
        logged = sum(
            len(groups.get(group_id(e["pass"], e["op"], ph), {}).get("jobs", ()))
            for ph in ("build", "exec")
        )
        bad += logged != e["tracker_jobs"]
    return bad
