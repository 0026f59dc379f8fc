"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process runs one workload: it builds
(or reuses) the generated inputs, starts Spark on local[nproc], sets the
workload up, makes one warm-up pass, then runs as many whole rounds of the
workload's operations as fit in `--seconds` (at least one).  Every answer
is checked.  The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.  Everything the
run writes goes under `.perfbench/` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import measure  # noqa: E402

SCALE = 0.1  # generated inputs: 600k lineitem, 150k orders, 5k documents
SETUP_REPS = 3
# the end-to-end metrics of an untraced run, with their units
E2E_UNITS = {"setup_s": "s", "query_mean_ms": "ms", "queries_per_s": "1/s"}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# what each cache depends on, relative to the repository root: the
# parquet inputs on the generator alone; the operator oracles and the
# pristine stores (tables, indexes and sample tables as the engine lays
# them out) also on the engine, the oracle tooling and the workloads
INPUT_SOURCES = ("perfbench/datagen.py",)
STORE_SOURCES = ("snappydata_spark", "tools/check_oracle.py", "perfbench/workloads.py")


def checksum(sources, salt: str, root: str = ROOT) -> str:
    """sha256 of `salt` and of every file under `sources` (path and bytes),
    compiled Python files left out."""
    h = hashlib.sha256(salt.encode())
    for src in sources:
        top = os.path.join(root, src)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "__pycache__" not in os.path.relpath(d, top).split(os.sep)
            for f in fs if not f.endswith(".pyc"))
        for path in files:
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()[:16]


def ensure_inputs(cache_dir: str) -> str:
    import datagen

    data = os.path.join(cache_dir, "data")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, SCALE)
        os.replace(tmp, data)
    return data


def configure_env(run_dir: str) -> None:
    """Keep every file Spark, Python workers and the engine write inside
    this run's directory, and let Python workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    # every JVM started from here (the launcher too): temp files in the
    # run directory, and no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def memory_mb(spark) -> dict[str, float]:
    """Peak resident memory of the Python driver and of the JVM, and the
    JVM heap that stays live after a full collection."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    out = {"py_hwm_mb": vm_hwm_kb(os.getpid()) / 1024.0, "jvm_hwm_mb": vm_hwm_kb(pid) / 1024.0}
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    out["jvm_live_heap_mb"] = heap.getUsed() / 2**20
    return out


class Runner:
    """Runs ops, times them, checks them and (traced) records layers."""

    def __init__(self, workload, tracer=None):
        self.wl = workload
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {"read": [], "write": []}
        self.layer_s: dict[str, float] = {}
        self.by_name: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, int] = {}
        self.layer_recs: list[dict] = []

    def run(self, make_op, record: bool) -> float:
        """Run one op; return the seconds spent outside the op itself."""
        c0 = time.perf_counter()
        op = make_op()
        session = self.wl.session
        cache0 = (session.plan_cache.hits, session.plan_cache.misses) if session else (0, 0)
        files0 = self._files() if self.tracer and op.kind == "write" else None
        gens0 = self._gens() if files0 is not None else 0
        group = self.tracer.begin(op.name) if self.tracer else None
        t0 = time.perf_counter()
        err = None
        try:
            out = df = op.build()
            t1 = time.perf_counter()
            if op.action is not None:
                out = op.action(df)
            t2 = time.perf_counter()
        except Exception as e:  # any engine failure is counted, not fatal
            err = type(e).__name__
            print(f"# {op.name} failed: {err}: {str(e)[:300]}", file=sys.stderr)
        c1 = time.perf_counter()
        self.attempted += 1
        rec = None
        if err is None and self.tracer:
            rec = self.tracer.end(group, op.name, t0, t1, t2, df)
        ok = err is None and self._check(op, out)
        if err is None and not ok:
            err = "WrongResult"
            print(f"# {op.name}: wrong result", file=sys.stderr)
        if err:
            self.failed += 1
            self.errors[err] = self.errors.get(err, 0) + 1
        elif record:
            self.samples[op.kind].append(t2 - t0)
            self.by_name.setdefault(op.name, []).append(t2 - t0)
            self.layer_s[op.layer] = self.layer_s.get(op.layer, 0.0) + t2 - t0
            if rec is not None:
                rec.update(self._extra(op, cache0, files0, gens0))
                self.layer_recs.append(rec)
        getattr(self.wl, "after_op", lambda _: None)(op)
        return (time.perf_counter() - c1) + (t0 - c0)

    def _check(self, op, out) -> bool:
        try:
            return bool(op.check(out))
        except Exception as e:  # a checker crash is a wrong answer
            print(f"# {op.name}: check raised {type(e).__name__}: {e}", file=sys.stderr)
            return False

    def _files(self) -> dict[str, int]:
        """Data files of the mutated table, with their sizes."""
        from workloads import files_under

        return files_under(os.path.join(self.wl.store, self.wl.table), ".parquet")

    def _gens(self) -> int:
        """Latest manifest generation of the mutated table."""
        return max((h["gen"] for h in self.wl.session.table_history(self.wl.table)), default=0)

    def _extra(self, op, cache0, files0, gens0) -> dict:
        s = self.wl.session
        out = {"kind": op.kind, "layer": op.layer, "rows": op.rows}
        if s is not None:
            out["cache_hits"] = s.plan_cache.hits - cache0[0]
            out["cache_misses"] = s.plan_cache.misses - cache0[1]
        if files0 is not None:
            files1 = self._files()
            added = set(files1) - set(files0)
            out["files_added"] = len(added)
            out["files_removed"] = len(set(files0) - set(files1))
            out["bytes_written"] = sum(files1[f] for f in added)
            out["live_files"] = len(files1)
            out["generations"] = self._gens() - gens0
        return out


def layer_metrics(recs: list[dict], overhead_ms: float) -> dict[str, tuple[float, str]]:
    def mean(key, rows=recs):
        vals = [r[key] for r in rows if key in r]
        return sum(vals) / len(vals) if vals else 0.0

    def total(key, rows=recs):
        return float(sum(r.get(key, 0) for r in rows))

    ops = [r for r in recs if r["layer"] == "operators"]
    sql = [r for r in recs if r["layer"] == "sql"]
    writes = [r for r in recs if r["kind"] == "write"]
    sink = [r for r in recs if r["layer"] == "sink"]
    bm25 = [r for r in recs if r["name"] == "bm25_search"]
    hits, misses = total("cache_hits"), total("cache_misses")
    m = {
        "op.wall_ms": (mean("wall_ms"), "ms"),
        "operators.build_ms": (mean("build_ms", ops), "ms"),
        "session.sql_ms": (mean("build_span_ms", sql), "ms"),
        "plans.cache_hits": (hits, "count"),
        "plans.cache_misses": (misses, "count"),
        "plans.cache_hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "catalyst.analysis_ms": (mean("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (mean("optimization_ms"), "ms"),
        "catalyst.planning_ms": (mean("planning_ms"), "ms"),
        "catalyst.ms": (mean("catalyst_ms"), "ms"),
        "exec.job_ms": (mean("jobs_ms"), "ms"),
        "exec.jobs": (mean("jobs"), "count"),
        "exec.stages": (mean("stages"), "count"),
        "exec.tasks": (mean("tasks"), "count"),
        "exec.executor_run_ms": (mean("executor_run_ms"), "ms"),
        "exec.executor_cpu_ms": (mean("executor_cpu_ms"), "ms"),
        "exec.input_bytes": (mean("input_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (mean("spill_bytes"), "bytes"),
        "exec.gc_ms": (mean("gc_ms"), "ms"),
        "driver.build_self_ms": (mean("build_ms"), "ms"),
        "driver.gap_ms": (mean("gap_ms"), "ms"),
        "mutate.jobs_per_write": (mean("jobs", writes), "count"),
        "catalog.files_added": (mean("files_added", writes), "count"),
        "catalog.files_removed": (mean("files_removed", writes), "count"),
        "catalog.bytes_written": (mean("bytes_written", writes), "bytes"),
        "catalog.live_files": (float(writes[-1]["live_files"]) if writes else 0.0, "count"),
        "catalog.generations_per_write": (mean("generations", writes), "count"),
        "sink.batch_ms": (mean("wall_ms", sink), "ms"),
        "sink.events_per_batch": (mean("rows", sink), "count"),
        "index.routed_share": (
            sum("__ann" in r["plan"] for r in bm25) / len(bm25) if bm25 else 0.0, "ratio"),
        "python.eval_nodes": (mean("python_nodes"), "count"),
        "cache.persisted_rdds": (max((r["persisted_rdds"] for r in recs), default=0), "count"),
        "cache.storage_mem_bytes": (max((r["storage_mem_bytes"] for r in recs), default=0), "bytes"),
        "trace.overhead_ms": (overhead_ms, "ms"),
    }
    for kind in ("put", "update", "delete", "insert"):
        m[f"mutate.{kind}_ms"] = (mean("wall_ms", [r for r in writes if r["layer"] == kind]), "ms")
    return m


def _ms(seconds):
    return None if seconds is None else seconds * 1e3


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "snappydata_spark")) or not os.path.isfile(
            os.path.join(ROOT, "tools", "check_oracle.py")):
        print("perfbench: run from a checkout that holds snappydata_spark/ and tools/",
              file=sys.stderr)
        return 2
    input_key = checksum(INPUT_SOURCES, f"scale={SCALE}")
    input_cache = os.path.join(WORK, "cache", f"inputs-{input_key}")
    store_cache = os.path.join(WORK, "cache", f"stores-{checksum(STORE_SOURCES, input_key)}")
    os.makedirs(store_cache, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    try:
        return run_spark(args, input_cache, store_cache, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_spark(args, input_cache: str, store_cache: str, run_dir: str, t_start: float) -> int:
    data_dir = ensure_inputs(input_cache)

    from snappydata_spark import get_spark
    from workloads import WORKLOADS, Env

    t_jvm = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    jvm_s = time.perf_counter() - t_jvm
    try:
        return measure_workload(args, spark, Env(spark, data_dir, store_cache, run_dir),
                                WORKLOADS[args.workload], jvm_s, t_start)
    finally:
        spark.stop()
        stop_jvm()


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure_workload(args, spark, env, workload_cls, jvm_s, t_start) -> int:
    wl = workload_cls(env)
    wl.prepare()
    setups = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t)
    rng = random.Random(args.seed)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, time.time() - time.perf_counter())
    runner = Runner(wl, tracer)
    t = time.perf_counter()
    for make_op in wl.warmup(rng):
        runner.run(make_op, record=False)
    warm_s = time.perf_counter() - t
    setup_s = jvm_s + measure.median(setups) + warm_s

    # whole rounds, as many as fit in --seconds (at least one)
    window = 0.0
    rounds = 0
    while rounds == 0 or window + window / rounds <= args.seconds:
        t = time.perf_counter()
        outside = sum(runner.run(make_op, record=True) for make_op in wl.round(rng))
        window += time.perf_counter() - t - outside
        rounds += 1
    try:
        extra = getattr(wl, "finish", dict)()
    except Exception as e:  # a failed final check counts, it does not abort
        print(f"# final check failed: {type(e).__name__}: {e}", file=sys.stderr)
        extra = {"final_table_ok": False}
    if "final_table_ok" in extra:
        runner.attempted += 1
        if not extra["final_table_ok"]:
            runner.failed += 1
            runner.errors["WrongFinalTable"] = 1

    reads, writes = runner.samples["read"], runner.samples["write"]
    values = {
        "setup_s": setup_s,
        "query_mean_ms": sum(reads) / len(reads) * 1e3,
        "queries_per_s": len(reads) / window,
    }
    e2e = {k: (values[k], unit) for k, unit in E2E_UNITS.items()}
    mem = memory_mb(spark)
    info = {
        # the median of a mix of templates jumps between their latency
        # clusters, and JVM heap growth moves peak RSS by a third between
        # identical runs: both printed, not gated
        "query_p50_ms": (measure.median(reads) * 1e3, "ms"),
        "peak_rss_mb": (mem["py_hwm_mb"] + mem["jvm_hwm_mb"], "MB"),
        "query_p90_ms": (_ms(measure.percentile(reads, 90)), "ms"),
        "query_samples": (len(reads), "count"),
        "write_p50_ms": (_ms(measure.median(writes) if writes else None), "ms"),
        "write_p90_ms": (_ms(measure.percentile(writes, 90)), "ms"),
        "write_samples": (len(writes), "count"),
        "writes_per_s": (len(writes) / window if writes else None, "1/s"),
        "store_bytes_per_live_byte": (extra.get("store_bytes_per_live_byte"), "ratio"),
        "error_share": (runner.failed / runner.attempted, "ratio"),
        "rounds": (rounds, "count"),
        "window_s": (window, "s"),
        "jvm_start_s": (jvm_s, "s"),
        "setup_data_s": (measure.median(setups), "s"),
        "warmup_s": (warm_s, "s"),
        "wall_s": (time.perf_counter() - t_start, "s"),
        **{k: (v, "MB") for k, v in mem.items()},
    }
    for layer, secs in sorted(runner.layer_s.items()):
        info[f"window_share.{layer}"] = (secs / window, "ratio")
    for name, vals in sorted(runner.by_name.items()):
        info[f"op.{name}.p50_ms"] = (measure.median(vals) * 1e3, "ms")
    if runner.errors:
        print(f"# errors: {runner.errors}", file=sys.stderr)

    if tracer:
        metrics = layer_metrics(runner.layer_recs, tracer.overhead_s * 1e3 / max(runner.attempted, 1))
        path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(path)
        print(f"# spans: {path}")
        split_err = max((abs(r["build_ms"] + r["catalyst_ms"] + r["jobs_ms"] + r["gap_ms"] - r["wall_ms"])
                         for r in runner.layer_recs), default=0.0)
        info["trace.max_split_error_ms"] = (split_err, "ms")
    else:
        metrics = e2e
    for name, (value, unit) in {**e2e, **info, **(metrics if tracer else {})}.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:34s} {shown:>14s} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
