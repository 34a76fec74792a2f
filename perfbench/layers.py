"""Measurement side of the benchmark: process-tree sampling, JVM counters,
spans around calls into the package's modules, and the Spark event-log
reader that turns one traced run into per-module metrics.

Nothing here changes what the program does. Spans are recorded from the
outside, around each call the benchmark makes into a package module; the
Spark side is read back from the event log after the session stops.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time

# The package's modules the benchmark calls, in the order the per-layer
# metrics are printed. Every workload prints all of them; a module the
# workload never calls reads 0.
MODULES = [
    "sources.io",
    "sources.manifest",
    "sql_surface",
    "operators.canonicalize",
    "operators.timeseries",
    "forecast",
    "pipeline",
    "operators.textanalysis",
    "operators.dedup",
    "operators.similarity",
    "operators.curation",
    "operators.bpe",
    "operators.mlpipeline",
]
MODULE_FIELDS = [
    ("build_s", "s"),
    ("plan_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("gap_s", "s"),
]
ENGINE_FIELDS = [
    ("session.start_s", "s"),
    ("jvm.jit_s", "s"),
    ("jvm.classes_loaded", "count"),
    ("jvm.gc_s", "s"),
    ("python.cpu_s", "s"),
    ("exec.spill_mb", "MB"),
    ("exec.fetch_wait_s", "s"),
    ("exec.task_retries", "count"),
    ("exec.busy_ratio", "ratio"),
    ("driver.collect_mb", "MB"),
    ("host.steal_s", "s"),
]
TRACE_FIELDS = [
    ("trace.wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.glue_s", "s"),
    ("trace.module_share", "ratio"),
]


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{m}.{f}", u) for m in MODULES for f, u in MODULE_FIELDS]
    return out + ENGINE_FIELDS + TRACE_FIELDS


# -- /proc sampling ---------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def process_start_s() -> float:
    """Boot-clock time at which this process started (from /proc)."""
    return int(_stat(os.getpid())[19]) / _TICK


def boot_clock() -> float:
    """Now, on the clock that process_start_s reads."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu(root: int, jvm_pid: int | None) -> tuple[float, float]:
    """(CPU-s of the whole tree under and including root, CPU-s of the
    Python processes under the JVM). Counts reaped children through the
    parents' cutime/cstime, so short-lived workers are not lost."""
    total = py = 0.0
    under_jvm = set(descendants(jvm_pid)) if jvm_pid else set()
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        cpu = sum(int(x) for x in st[11:15]) / _TICK
        total += cpu
        if pid in under_jvm and "python" in _cmdline(pid):
            py += cpu
    return total, py


def rss_hwm_mb(jvm_pid: int) -> dict[int, float]:
    """High-water RSS (VmHWM) in MB of the driver JVM and of every Python
    process under it (daemon and workers), by pid."""
    out = {}
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        out[pid] = kb / 1024.0
    return out


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def find_jvm(root: int) -> int | None:
    for pid in descendants(root):
        if "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid):
            return pid
    return None


# -- JVM counters ----------------------------------------------------------


class JvmCounters:
    """The counters jstat prints (compile time, classes loaded, GC time),
    read through the driver JVM's management beans over py4j — no extra
    process per sample."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._cls = mf.getClassLoadingMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def sample(self) -> dict:
        return {
            "jit_s": self._comp.getTotalCompilationTime() / 1000.0,
            "classes": int(self._cls.getTotalLoadedClassCount()),
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
        }


# -- spans -----------------------------------------------------------------


class Spans:
    """In-memory span log: (name, start, end, parent, run id) around every
    call the benchmark makes into a package module, plus the op phases.
    Written out once at exit."""

    def __init__(self, run_id: str, sc, enabled: bool):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.records: list[dict] = []
        self.stack: list[int] = []
        self.pass_idx = -1
        self.op = ""
        self.owner = ""
        self.phase = ""

    def describe(self, module: str) -> None:
        if self.enabled:
            self.sc.setJobDescription(f"{self.pass_idx}|{self.op}|{module}")

    def open(self, name: str, **kw) -> int:
        parent = self.stack[-1] if self.stack else None
        self.records.append(dict(
            name=name, start=time.time(), end=None, parent=parent,
            run=self.run_id, pass_idx=self.pass_idx, op=self.op, **kw,
        ))
        self.stack.append(len(self.records) - 1)
        return self.stack[-1]

    def close(self, idx: int) -> None:
        self.records[idx]["end"] = time.time()
        self.stack.pop()


class ModuleProxy:
    """Stands in for a package module (or an object such as a
    ManifestTable): every public callable reached through it is wrapped in
    a span named after the module, and its Spark jobs are tagged with it."""

    def __init__(self, target, module: str, spans: Spans):
        self._target, self._module, self._spans = target, module, spans

    def __getattr__(self, name):
        fn = getattr(self._target, name)
        if not callable(fn) or name.startswith("_"):
            return fn
        if isinstance(fn, type):  # a class: its instances are proxied too
            return ModuleProxy(fn, self._module, self._spans)
        return self._wrap(fn, name)

    def __call__(self, *a, **kw):
        obj = self._wrap(self._target, self._target.__name__)(*a, **kw)
        return ModuleProxy(obj, self._module, self._spans)

    def _wrap(self, fn, name):
        spans, module = self._spans, self._module

        def call(*a, **kw):
            if not spans.enabled:
                return fn(*a, **kw)
            # in the build phase a call's jobs belong to its own module; in
            # the plan/exec phase (a sink such as a write) to the op's owner
            outer = spans.phase
            if outer == "build":
                spans.describe(module)
            idx = spans.open(f"{module}.{name}", module=module, phase=outer)
            try:
                return fn(*a, **kw)
            finally:
                spans.close(idx)
                if outer == "build":
                    spans.describe("glue")

        return call


# -- event log -------------------------------------------------------------


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals keyed by the job description
    "<pass>|<op>|<module>" the benchmark set before each call."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    stage_tag: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(
                        "spark.job.description", "")
                    jobs[tag] = jobs.get(tag, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["start"] = info.get("Submission Time") or 0
                    st["end"] = info.get("Completion Time") or st["start"]
                    st["attempts"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    st["result"] += m.get("Result Size", 0)
                    st["fetch_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0)
                    st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["result_stage"] = ev.get("Task Type") == "ResultTask"
                    if info.get("Attempt", 0) > 0 or info.get("Failed"):
                        st["retries"] += 1
    for sid, st in stages.items():
        st["tag"] = stage_tag.get(sid, "")
        st["retries"] += max(0, st["attempts"] - 1)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return dict(start=0, end=0, attempts=0, cpu_ns=0, spill=0, result=0,
                fetch_ms=0, shuffle_w=0, result_stage=False, retries=0)


def layer_metrics(spans: list[dict], log: dict, passes: list[dict],
                  cores: int) -> tuple[dict, dict]:
    """Per-layer values for every traced timed pass, then the median over
    those passes. Returns (medians, per-pass detail)."""
    by_tag: dict[str, list[dict]] = {}
    for st in log["stages"].values():
        by_tag.setdefault(st["tag"], []).append(st)
    per_pass = []
    for p in passes:
        if not p["traced"] or not p["timed"]:
            continue
        i = p["index"]
        row = {f"{m}.{f}": 0.0 for m in MODULES for f, _ in MODULE_FIELDS}
        mod_stages: dict[str, list[dict]] = {m: [] for m in MODULES}
        all_stages = []
        for tag, sts in by_tag.items():
            parts = tag.split("|")
            if len(parts) != 3 or parts[0] != str(i):
                continue
            all_stages.extend(sts)
            if parts[2] in mod_stages:
                mod_stages[parts[2]].extend(sts)
                row[f"{parts[2]}.jobs"] += log["jobs"].get(tag, 0)
        for m, sts in mod_stages.items():
            row[f"{m}.stages"] = float(len(sts))
            row[f"{m}.task_cpu_s"] = sum(s["cpu_ns"] for s in sts) / 1e9
            row[f"{m}.shuffle_mb"] = sum(s["shuffle_w"] for s in sts) / 2**20
        module_total = 0.0
        for s in spans:
            if s["pass_idx"] != i or s.get("module") not in mod_stages:
                continue
            m, dur = s["module"], s["end"] - s["start"]
            field = {"build": "build_s", "plan": "plan_s", "exec": "exec_s"}.get(
                s.get("phase"))
            if field is None:
                continue
            if s.get("kind") == "phase" or s.get("phase") == "build":
                row[f"{m}.{field}"] += dur
                module_total += dur
                covered = _union_ms(
                    [(x["start"], x["end"]) for x in mod_stages[m]],
                    s["start"] * 1000, s["end"] * 1000,
                ) / 1000.0
                row[f"{m}.gap_s"] += max(0.0, dur - covered)
        task_cpu = sum(s["cpu_ns"] for s in all_stages) / 1e9
        row.update({
            "session.start_s": 0.0,
            "jvm.jit_s": p["jit_s"],
            "jvm.classes_loaded": float(p["classes"]),
            "jvm.gc_s": p["gc_s"],
            "python.cpu_s": p["py_cpu_s"],
            "exec.spill_mb": sum(s["spill"] for s in all_stages) / 2**20,
            "exec.fetch_wait_s": sum(s["fetch_ms"] for s in all_stages) / 1e3,
            "exec.task_retries": float(sum(s["retries"] for s in all_stages)),
            "exec.busy_ratio": task_cpu / (p["wall_s"] * cores),
            "driver.collect_mb": sum(
                s["result"] for s in all_stages if s["result_stage"]) / 2**20,
            "host.steal_s": p["steal_s"],
            "trace.wall_s": p["wall_s"],
            "trace.glue_s": p["wall_s"] - module_total,
            "trace.module_share": module_total / p["wall_s"],
        })
        per_pass.append(row)
    med = {k: statistics.median(r[k] for r in per_pass) for k in per_pass[0]}
    return med, {"passes": per_pass}


def op_percentiles(spans: list[dict]) -> dict:
    """Per-operation p50/p90 (nearest rank) of the op span over the traced
    timed passes: detail record only, not a printed metric."""
    by_op: dict[str, list[float]] = {}
    for s in spans:
        if s.get("kind") == "op" and s.get("timed"):
            by_op.setdefault(s["op"], []).append(s["end"] - s["start"])
    return {op: {"n": len(xs), "p50": _rank(xs, 0.5), "p90": _rank(xs, 0.9)}
            for op, xs in by_op.items()}


def _rank(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]
