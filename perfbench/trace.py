"""Operation recorder and the traced-run layer ledger.

Every public call the benchmark makes goes through :class:`Recorder`,
which times it. In a traced run, a traced operation additionally gets

- a Spark job group per layer span (``<op>-read``, ``<op>-exec``,
  ``<op>-write``), resolved after the session stops from that run's
  event log: jobs, stages, tasks, task time, shuffle bytes, input rows
  and the union of job intervals;
- a py4j command census, by wrapping ``ClientServerConnection.send_command``;
- the planner time inside ``PaimonLakeRead.to_df()``, by wrapping the
  planner entry ``paimon_lake._pruned_entries`` that both
  ``PaimonLakeScan.plan()`` and ``to_df()`` call;
- a listing of the table directory before and after each write.

Untraced runs install none of this. Loop operations of a traced run
alternate between traced and untraced, and the hooks are installed only
around a traced operation, so the same run also measures what tracing
costs. The event log is the exception: it is on for the whole traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import time


def list_dir(path: str) -> dict:
    """{relative path: bytes} of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except FileNotFoundError:
                pass
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def busy_ms() -> float:
    """CPU time the whole machine has spent busy so far, in ms: the user,
    nice, system, irq and softirq columns of ``/proc/stat``. Time the
    hypervisor gave to other machines (steal) is not in it."""
    with open("/proc/stat") as f:
        v = f.readline().split()
    return sum(int(v[i]) for i in (1, 2, 3, 6, 7)) * 1000 / _CLK_TCK


def is_data_file(rel: str) -> bool:
    return any(p.startswith("bucket-") for p in rel.split(os.sep)[:-1])


class Py4jCensus:
    """Counts py4j commands the driver sends to the JVM while installed."""

    def __init__(self):
        self.count = 0
        self._original = None

    def install(self):
        from py4j.clientserver import ClientServerConnection

        original = self._original = ClientServerConnection.send_command
        census = self

        def send_command(conn, command, *a, **kw):
            census.count += 1
            return original(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    def uninstall(self):
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._original


class PlanHook:
    """Times the lake planner, while installed, and records what it
    returned."""

    def __init__(self):
        self.calls = []
        self._original = None

    def install(self):
        from paimon_python_spark import paimon_lake

        original = self._original = paimon_lake._pruned_entries
        hook = self

        def _pruned_entries(*a, **kw):
            t0 = time.perf_counter()
            entries = original(*a, **kw)
            hook.calls.append(
                {
                    "ms": (time.perf_counter() - t0) * 1000,
                    "files": len(entries),
                    "splits": len(
                        {(tuple(sorted(e.partition.items())), e.bucket) for e in entries}
                    ),
                }
            )
            return entries

        paimon_lake._pruned_entries = _pruned_entries

    def uninstall(self):
        from paimon_python_spark import paimon_lake

        paimon_lake._pruned_entries = self._original


class Recorder:
    """Runs and records operations. ``phase`` is ``setup``, ``loop`` or
    ``verify``; only ``loop`` operations feed the end-to-end metrics.

    A traced operation's ``outer_ms`` spans all its tracing work: the
    hooks, the job groups, the directory listings around a write and the
    live-file count after a read. Untraced operations run with no hook
    installed."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.phase = "setup"
        self.trace_setup = False
        self.ops = []
        self._kind_count = {}
        self.census = Py4jCensus()
        self.plans = PlanHook()

    # -- helpers --

    def _traced(self, kind: str) -> bool:
        if not self.trace:
            return False
        if self.phase == "setup":
            return self.trace_setup
        if self.phase == "verify":
            return True
        n = self._kind_count.get(kind, 0)
        self._kind_count[kind] = n + 1
        return n % 2 == 0

    def _group(self, gid):
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(gid, gid)

    def _op(self, kind, traced):
        op = {"id": f"op{len(self.ops)}", "kind": kind, "phase": self.phase,
              "traced": traced, "ok": True}
        self.ops.append(op)
        return op

    def _begin(self):
        self.census.install()
        self.plans.install()
        return time.perf_counter()

    def _end(self, op, outer0):
        self._group(None)
        self.census.uninstall()
        self.plans.uninstall()
        op["outer_ms"] = (time.perf_counter() - outer0) * 1000

    # -- operations --

    def write(self, kind: str, table_path: str, fn, rows_in: int = 0):
        """A write-layer call (``commit``, ``compact`` or ``expire``)."""
        traced = self._traced(kind)
        op = self._op(kind, traced)
        op["rows"] = rows_in
        if traced:
            outer0 = self._begin()
            before = list_dir(table_path)
            self._group(op["id"] + "-write")
            p0 = self.census.count
        c0 = busy_ms()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            op["ok"] = False
            raise
        finally:
            op["ms"] = (time.perf_counter() - t0) * 1000
            op["cpu_ms"] = busy_ms() - c0
            if traced:
                op["py4j"] = self.census.count - p0
                self._group(None)
                after = list_dir(table_path)
                op["added"] = {p: s for p, s in after.items() if p not in before}
                op["removed"] = [p for p in before if p not in after]
                self._end(op, outer0)
        return result

    def read(self, kind: str, make_read, action, live_files=None):
        """A read: ``make_read()`` returns a lake read whose ``to_df()``
        is timed as plan + construct, then ``action(df)`` (returning
        ``(result, rows_out)``) as exec. A traced read also records
        ``live_files()``, the file count it was planned against."""
        traced = self._traced(kind)
        op = self._op(kind, traced)
        if traced:
            outer0 = self._begin()
            self._group(op["id"] + "-read")
            p0 = self.census.count
            n_plans = len(self.plans.calls)
        c0 = busy_ms()
        t0 = time.perf_counter()
        try:
            df = make_read().to_df()
            t1 = time.perf_counter()
            if traced:
                op["py4j"] = self.census.count - p0
                self._group(op["id"] + "-exec")
            t1b = time.perf_counter()
            result, rows_out = action(df)
            t2 = time.perf_counter()
            op["cpu_ms"] = busy_ms() - c0
        except Exception:
            op["ok"] = False
            raise
        finally:
            if traced:
                self._group(None)
                if live_files is not None and op["ok"]:
                    op["live_files"] = live_files()
                self._end(op, outer0)
        op["construct_ms"] = (t1 - t0) * 1000
        op["exec_ms"] = (t2 - t1b) * 1000
        op["ms"] = op["construct_ms"] + op["exec_ms"]
        op["rows"] = rows_out
        if traced:
            op["plan"] = self.plans.calls[n_plans:]
        return result, op

    def loop_ops(self, kind: str):
        return [o for o in self.ops if o["phase"] == "loop" and o["kind"] == kind]

    def loop_ops_all(self):
        return [o for o in self.ops if o["phase"] == "loop"]


# -- event log --


def parse_event_log(event_dir: str) -> dict:
    """Per job group: jobs, stages, tasks, task ms, shuffle bytes, input
    rows and job intervals, from the run's uncompressed event log."""
    names = sorted(os.listdir(event_dir)) if os.path.isdir(event_dir) else []
    if not names:
        return {}
    path = os.path.join(event_dir, names[0])
    if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_N_<app>
        parts = sorted(p for p in os.listdir(path) if p.startswith("events_"))
        paths = [os.path.join(path, p) for p in parts]
    else:
        paths = [path]
    jobs, per_stage = {}, {}
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    jobs[ev["Job ID"]] = {
                        "group": group,
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sm = per_stage.setdefault(
                        ev["Stage ID"],
                        {"tasks": 0, "task_ms": 0, "shuffle_bytes": 0, "input_rows": 0},
                    )
                    sm["tasks"] += 1
                    sm["task_ms"] += m.get("Executor Run Time") or 0
                    sm["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sm["input_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    groups = {}
    for j in jobs.values():
        g = groups.setdefault(
            j["group"],
            {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
             "shuffle_bytes": 0, "input_rows": 0, "intervals": []},
        )
        g["jobs"] += 1
        if j["end"] is not None:
            g["intervals"].append((j["start"], j["end"]))
        for sid in j["stages"]:
            sm = per_stage.get(sid)
            if sm is None:
                continue  # skipped stage: its output was reused
            g["stages"] += 1
            for key in ("tasks", "task_ms", "shuffle_bytes", "input_rows"):
                g[key] += sm[key]
    return groups


def union_ms(intervals) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


# -- layer ledger --

_EMPTY_GROUP = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
                "shuffle_bytes": 0, "input_rows": 0, "intervals": []}


def unit_of(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("frac", "util", "per_row_out")):
        return "ratio"
    return "count"


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(rec: Recorder, groups: dict, cores: int, live: dict,
                  overhead_kind: str) -> dict:
    """The per-layer metrics of one traced run, each a mean per traced
    operation of its layer (``store.*_live`` describe the final table)."""
    traced = [o for o in rec.ops if o["traced"] and o["ok"]]

    def layer(pick):
        # a layer the loop touches is measured on the loop; one it does not
        # touch (writes in pk_read, reads in cdc_ingest) on set-up or checks
        ops = [o for o in traced if pick(o)]
        loop = [o for o in ops if o["phase"] == "loop"]
        return loop or ops

    reads = layer(lambda o: "exec_ms" in o)
    commits = layer(lambda o: o["kind"] == "commit")
    compacts = layer(lambda o: o["kind"] == "compact")
    expires = layer(lambda o: o["kind"] == "expire")

    def g(op, span):
        return groups.get(f"{op['id']}-{span}", _EMPTY_GROUP)

    m = {}
    plan_ms = [sum(c["ms"] for c in o["plan"]) for o in reads]
    m["plan.ms"] = _mean(plan_ms)
    m["plan.splits"] = _mean(sum(c["splits"] for c in o["plan"]) for o in reads)
    m["plan.files"] = _mean(sum(c["files"] for c in o["plan"]) for o in reads)
    m["plan.files_pruned_frac"] = _mean(
        1 - sum(c["files"] for c in o["plan"]) / max(1, o["live_files"]) for o in reads
    )
    m["read.construct_ms"] = _mean(o["construct_ms"] - p for o, p in zip(reads, plan_ms))
    m["read.py4j_cmds"] = _mean(o["py4j"] for o in reads)
    m["exec.ms"] = _mean(o["exec_ms"] for o in reads)
    for key in ("jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "input_rows"):
        m[f"exec.{key}"] = _mean(g(o, "exec")[key] for o in reads)
    exec_ms = sum(o["exec_ms"] for o in reads)
    m["exec.core_util"] = (
        sum(g(o, "exec")["task_ms"] for o in reads) / (exec_ms * cores) if exec_ms else 0.0
    )
    rows_out = sum(o["rows"] for o in reads)
    m["exec.rows_read_per_row_out"] = (
        sum(g(o, "exec")["input_rows"] for o in reads) / rows_out if rows_out else 0.0
    )
    job_ms = [union_ms(g(o, "write")["intervals"]) for o in commits]
    m["write.ms"] = _mean(o["ms"] for o in commits)
    m["write.jobs"] = _mean(g(o, "write")["jobs"] for o in commits)
    m["write.job_ms"] = _mean(job_ms)
    m["write.driver_ms"] = _mean(o["ms"] - j for o, j in zip(commits, job_ms))
    m["write.py4j_cmds"] = _mean(o["py4j"] for o in commits)
    m["write.tasks"] = _mean(g(o, "write")["tasks"] for o in commits)
    m["write.shuffle_bytes"] = _mean(g(o, "write")["shuffle_bytes"] for o in commits)
    for prefix, pick in (("data", True), ("meta", False)):
        m[f"store.{prefix}_files_added"] = _mean(
            sum(1 for p in o["added"] if is_data_file(p) == pick) for o in commits
        )
        m[f"store.{prefix}_bytes_added"] = _mean(
            sum(s for p, s in o["added"].items() if is_data_file(p) == pick)
            for o in commits
        )
    m["store.files_live"] = float(live["files"])
    m["store.bytes_live"] = float(live["bytes"])
    m["compact.ms"] = _mean(o["ms"] for o in compacts)
    m["compact.jobs"] = _mean(g(o, "write")["jobs"] for o in compacts)
    m["compact.bytes_rewritten"] = _mean(
        sum(s for p, s in o["added"].items() if is_data_file(p)) for o in compacts
    )
    m["expire.ms"] = _mean(o["ms"] for o in expires)
    m["expire.files_deleted"] = _mean(len(o["removed"]) for o in expires)
    loop = [o for o in rec.loop_ops(overhead_kind) if o["ok"]]
    on = [o["outer_ms"] for o in loop if o["traced"]]
    off = [o["ms"] for o in loop if not o["traced"]]
    m["trace.overhead_frac"] = (
        (statistics.median(on) - statistics.median(off)) / statistics.median(off)
        if on and off
        else 0.0
    )
    return m


def accounting(rec: Recorder, groups: dict) -> dict:
    """Per op kind, how well the traced layers account for untraced wall
    time: the median traced layer sum (plan + construct + exec for reads,
    job_ms + driver_ms for writes; each is the traced wall time) over the
    median untraced loop wall time of the same kind, and the share of
    traced wall time that Spark jobs cover. Reads also get the median
    split of their traced wall time: plan, construct (``to_df()`` minus
    plan) and exec, and for the ``to_df()`` span (``read``) and the
    action (``exec``) the time its Spark jobs cover and their summed task
    time."""
    out = {}
    for kind in sorted({o["kind"] for o in rec.ops}):
        ops = [o for o in rec.ops if o["kind"] == kind and o["ok"]]
        on = [o for o in ops if o["traced"] and o["phase"] == "loop"] or [
            o for o in ops if o["traced"]
        ]
        off = [o["ms"] for o in ops if not o["traced"] and o["phase"] == "loop"]
        if not on:
            continue
        is_read = "exec_ms" in on[0]
        spans = ("read", "exec") if is_read else ("write",)
        covered = [
            union_ms(
                [iv for s in spans
                 for iv in groups.get(f"{o['id']}-{s}", _EMPTY_GROUP)["intervals"]]
            ) / o["ms"]
            for o in on
        ]
        acc = {
            "traced": len(on),
            "untraced": len(off),
            "layers_over_untraced_wall": (
                statistics.median(o["ms"] for o in on) / statistics.median(off) if off else None
            ),
            "job_covered_share": statistics.median(covered),
        }
        if is_read:
            plan = [sum(c["ms"] for c in o["plan"]) for o in on]
            acc["wall_ms"] = statistics.median(o["ms"] for o in on)
            acc["plan_ms"] = statistics.median(plan)
            acc["construct_ms"] = statistics.median(
                o["construct_ms"] - p for o, p in zip(on, plan)
            )
            acc["exec_ms"] = statistics.median(o["exec_ms"] for o in on)
            for span in ("read", "exec"):
                gs = [groups.get(f"{o['id']}-{span}", _EMPTY_GROUP) for o in on]
                acc[f"{span}_job_ms"] = statistics.median(union_ms(g["intervals"]) for g in gs)
                acc[f"{span}_task_ms"] = statistics.median(g["task_ms"] for g in gs)
        out[kind] = acc
    return out
