"""Benchmark of the engine's batch jobs on one local session.

    python3 perfbench/run.py --workload taxi_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. One client (this process) drives one
``local[nproc]`` session and issues the workload's operations one after
another (a closed loop). A run is: generate the seeded inputs (cached),
set up the session, one cold pass (also the fixed warm-up), then a fixed
number of timed passes. The last line of stdout is one JSON object; see
perfbench/README.md for the metrics and the traced mode.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- output digests --------------------------------------------------------


def _py_norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return [_py_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _py_norm(x) for k, x in sorted(v.items(), key=str)}
    if hasattr(v, "asDict"):
        return _py_norm(v.asDict(recursive=True))
    return v


def value_digest(value) -> str:
    """Order-independent digest of a driver-side value (rows or a scalar)."""
    if isinstance(value, list):
        items = sorted(json.dumps(_py_norm(x), sort_keys=True, default=str)
                       for x in value)
        body = f"{len(items)}:" + "\n".join(items)
    else:
        body = json.dumps(_py_norm(value), sort_keys=True, default=str)
    return hashlib.sha1(body.encode()).hexdigest()[:16]


def frame_digest_df(df):
    """One-row aggregate: row count plus an order-independent content hash
    (sum and xor of per-row xxhash64, floats rounded to 6 places)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def norm(field):
        c, t = F.col(f"`{field.name}`"), field.dataType
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return F.round(c, 6)
        if isinstance(t, T.ArrayType) and isinstance(
                t.elementType, (T.FloatType, T.DoubleType)):
            return F.transform(c, lambda x: F.round(x, 6))
        if isinstance(t, T.MapType):
            return F.to_json(c)
        return c

    h = F.xxhash64(*[norm(f) for f in df.schema.fields]) if df.schema.fields \
        else F.lit(0)
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod("_h", F.lit(2147483647))).alias("s"),
        F.bit_xor("_h").alias("x"),
    )


# -- one pass --------------------------------------------------------------


class Pass:
    """Runs a workload's operations for one pass: build (the Python call
    into the package), plan, exec (the op's action or sink), then the
    correctness check. A failed op or check is counted and the pass goes
    on; ops that depend on a failed one fail in turn."""

    def __init__(self, run: "Run", index: int, workdir: str, timed: bool,
                 traced: bool):
        self.run, self.index, self.workdir = run, index, workdir
        self.timed, self.traced = timed, traced
        self.spark = run.spark

    def op(self, name: str, owner: str, build, sink="hash", check=None):
        run, spans = self.run, self.run.spans
        spans.enabled = self.traced
        spans.pass_idx, spans.op, spans.owner = self.index, name, owner
        run.attempted += 1
        op_span = spans.open(name, kind="op", module=owner, timed=self.timed) \
            if self.traced else None
        try:
            out = self._phase("build", None, build)
            if run.corrupt == name and self.index > 0:
                out = _corrupt(out)
            if sink == "value":
                result, digest = out, value_digest(out)
            elif sink == "object":  # a handle (e.g. a table), not an output
                result, digest = out, None
            else:
                df = frame_digest_df(out) if sink == "hash" else out
                if self.traced:
                    self._phase("plan", owner,
                                lambda: df._jdf.queryExecution().executedPlan())
                if sink == "hash":
                    row = self._phase("exec", owner, df.first)
                    result = (int(row["n"]), int(row["s"] or 0), int(row["x"] or 0))
                elif sink == "collect":
                    result = self._phase("exec", owner, df.collect)
                else:  # a sink callable, e.g. a write; it may return its output
                    result = self._phase("exec", owner, lambda: sink(df))
                digest = None if result is None else value_digest(result)
            self._phase("check", "glue", lambda: self._check(
                name, digest, result, check))
            return out
        except Exception as e:  # one failed op must not stop the workload
            run.failed += 1
            run.failures.append(f"pass {self.index} {name}: "
                                f"{type(e).__name__}: {str(e)[:300]}")
            log(run.failures[-1])
            return None
        finally:
            if op_span is not None:
                spans.close(op_span)

    def _phase(self, phase: str, module: str | None, fn):
        spans = self.run.spans
        spans.phase = phase
        if not self.traced:
            return fn()
        spans.describe(module or "glue")
        idx = spans.open(f"{spans.op}.{phase}", kind="phase", phase=phase,
                         module=module)
        try:
            return fn()
        finally:
            spans.close(idx)

    def _check(self, name, digest, result, check):
        ref = self.run.digests.setdefault(name, digest)
        if digest != ref:
            raise AssertionError(
                f"output digest {digest} differs from the first pass's {ref}")
        if check is not None:  # sees the digest tuple, rows or value
            check(result)

    def path(self, *parts) -> str:
        return os.path.join(self.workdir, *parts)


def _corrupt(out):
    """Drop one row (or perturb a value): used by the smoke check to prove
    that a wrong output fails the correctness check."""
    if hasattr(out, "exceptAll"):
        return out.exceptAll(out.limit(1))
    if isinstance(out, (list, tuple)):
        return list(out)[1:]
    if isinstance(out, (int, float)):
        return out + 1
    return None


# -- the run ---------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.area = os.path.join(self.root, ".perfbench")
        self.scratch = os.path.join(self.area, f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.digests: dict[str, str | None] = {}
        self.corrupt = args.corrupt
        self.spark = None
        self.spans = None
        self.hwm: dict[int, float] = {}  # peak VmHWM seen per pid

    # environment pinned before the JVM starts; recorded in the noise record
    def pin_env(self) -> dict:
        cores = os.cpu_count() or 1
        local_dirs = os.path.join(self.scratch, "local")
        tmp = os.path.join(self.scratch, "tmp")
        for d in (local_dirs, tmp):
            os.makedirs(d, exist_ok=True)
        # every file the run writes stays in its directory; the JVM's
        # perf-data file would go to /tmp (JVM counters come from MXBeans)
        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.scratch} "
                "-XX:+PerfDisableSharedMem",
        }
        if self.args.trace:
            ev = os.path.join(self.scratch, "eventlog")
            os.makedirs(ev, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
            })
        env = {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONHASHSEED": "0",
            "SPARK_LOCAL_DIRS": local_dirs,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell",
        }
        os.environ.update(env)
        return {"master": f"local[{cores}]", "driver_memory": DRIVER_MEM,
                "PYTHONHASHSEED": "0", "SPARK_LOCAL_DIRS": local_dirs}

    def sample(self) -> dict:
        # a worker that exits before the run ends still counts with the
        # peak it had at the last pass boundary it lived through
        for pid, mb in layers.rss_hwm_mb(self.jvm_pid).items():
            self.hwm[pid] = max(self.hwm.get(pid, 0.0), mb)
        cpu, py = layers.tree_cpu(os.getpid(), self.jvm_pid)
        s = {"cpu_s": cpu, "py_cpu_s": py,
             "steal_s": layers.host_steal_s()}
        s.update(self.jvm.sample())
        return s

    def execute(self) -> dict:
        import workloads

        args = self.args
        t_proc = layers.process_start_s()
        wl = workloads.WORKLOADS[args.workload](args.size)
        load0, steal0 = layers.loadavg(), layers.host_steal_s()

        t_gen = time.time()
        inputs = workloads.prepare_inputs(wl, args.seed, self.area)
        gen_s = time.time() - t_gen
        env = self.pin_env()

        # set-up: from the fresh process to a ready session with the inputs
        # registered; input generation belongs to the benchmark and is left out
        from aim357_2019_etl_and_ml_workshop_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{args.workload}")
        self.spans = layers.Spans(f"{args.workload}-{args.seed}",
                                  self.spark.sparkContext, False)
        state = wl.register(self.spark, inputs, self.spans)
        setup_s = layers.boot_clock() - t_proc - gen_s
        self.jvm_pid = layers.find_jvm(os.getpid())
        self.jvm = layers.JvmCounters(self.spark)

        # traced runs trace every other timed pass: the rest give the
        # untraced wall time of the same run, for the tracing overhead
        n_timed = max(3, round(args.seconds / wl.nominal_pass_s))
        # the cold pass is also the fixed warm-up
        plan = [("cold", False)] + [("timed", True)] * n_timed
        passes = []
        for i, (kind, timed) in enumerate(plan):
            traced = bool(args.trace) and (not timed or (i % 2 == 0))
            pdir = os.path.join(self.scratch, f"pass-{i}")
            os.makedirs(pdir)
            p = Pass(self, i, pdir, timed, traced)
            if args.trace:
                # the job description is a sticky local property: name this
                # pass so that an untraced pass's jobs keep no tag of the
                # traced pass before it
                self.spark.sparkContext.setJobDescription(f"{i}|-|glue")
            prev = self.sample()
            t0 = time.perf_counter()
            wl.run_pass(p, state)
            wall = time.perf_counter() - t0
            cur = self.sample()
            passes.append({
                "index": i, "kind": kind, "timed": timed, "traced": traced,
                "wall_s": wall,
                **{k: cur[k] - prev[k] for k in
                   ("cpu_s", "py_cpu_s", "steal_s", "jit_s", "gc_s")},
                "classes": cur["classes"] - prev["classes"],
            })
            log(f"pass {i} {kind}{' traced' if traced else ''}: {wall:.3f} s")
            # isolation: drop cached data and this pass's outputs
            self.spark.catalog.clearCache()
            wl.end_pass(p, state)
            shutil.rmtree(pdir, ignore_errors=True)
        jvm_mb = self.hwm.get(self.jvm_pid, 0.0)
        rss = sum(self.hwm.values())
        rss_parts = {"jvm": jvm_mb, "python": rss - jvm_mb,
                     "python_procs": len(self.hwm) - 1}

        timed = [p for p in passes if p["timed"]]
        plain = [p for p in timed if not p["traced"]]
        e2e = {
            "setup_s": setup_s,
            "cold_s": passes[0]["wall_s"],
            "wall_s": statistics.median(p["wall_s"] for p in plain),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
            "peak_rss_mb": rss,
        }
        warm = passes[1:]
        noise = {
            "loadavg_start": load0,
            "host_steal_s": layers.host_steal_s() - steal0,
            "env": env,
            "cold": {k: passes[0][k] for k in ("jit_s", "classes", "gc_s")},
            "warm_median": {k: statistics.median(p[k] for p in warm)
                            for k in ("jit_s", "classes", "gc_s")},
            "gen_s": gen_s,
            "peak_rss_parts_mb": rss_parts,
        }
        record = {"workload": args.workload, "seed": args.seed,
                  "size": args.size, "trace": args.trace, "e2e": e2e,
                  "noise": noise, "passes": passes,
                  "failures": self.failures}

        self.shutdown()
        if args.trace:
            log_data = layers.read_event_log(os.path.join(self.scratch,
                                                          "eventlog"))
            med, detail = layers.layer_metrics(
                self.spans.records, log_data, passes, os.cpu_count() or 1)
            med["session.start_s"] = setup_s
            traced_walls = [p["wall_s"] for p in timed if p["traced"]]
            med["trace.untraced_wall_s"] = e2e["wall_s"]
            med["trace.overhead_s"] = statistics.median(traced_walls) - e2e["wall_s"]
            record["layers"] = med
            record["layer_passes"] = detail["passes"]
            record["op_percentiles"] = layers.op_percentiles(self.spans.records)
            record["spans"] = self.spans.records
            metrics = {k: {"value": med[k], "unit": u}
                       for k, u in layers.per_layer_names()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        os.makedirs(os.path.join(self.area, "records"), exist_ok=True)
        with open(os.path.join(
                self.area, "records",
                f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump(record, f, default=str)
        log("noise " + json.dumps(noise, default=str))
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM and every process under
        it, and wait for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = layers.descendants(os.getpid())
        try:
            self.spark.stop()
        except Exception:
            pass
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        alive = [k for k in kids if os.path.exists(f"/proc/{k}")]
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [k for k in alive if os.path.exists(f"/proc/{k}")
                     and layers._stat(k) and layers._stat(k)[0] != "Z"]
        for k in alive:
            try:
                os.kill(k, 9)
            except OSError:
                pass
        self.spark = None

    def cleanup(self) -> None:
        self.shutdown()
        shutil.rmtree(self.scratch, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=("bench", "tiny"))
    ap.add_argument("--corrupt", default=None,
                    help="drop a row from this op's output after the first "
                         "pass (smoke check of the correctness gate)")
    args = ap.parse_args(argv)

    pkg = os.path.join(os.getcwd(), "aim357_2019_etl_and_ml_workshop_spark")
    if not os.path.isdir(pkg):
        log("run from the repository root: the package "
            "aim357_2019_etl_and_ml_workshop_spark/ is not here")
        return 2
    sys.path.insert(0, os.getcwd())
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
