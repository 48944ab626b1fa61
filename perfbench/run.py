"""Benchmark runner.

    python3 perfbench/run.py --workload query_sf01 --seed 1 --seconds 30 \
        --trace 0

Replicates the base tables 10x (cached under ``.perfbench/`` in the
checkout), sets the engine's session up several times (each a fresh
driver JVM plus one trivial action), then runs closed
loop passes over the workload's steps on ``local[nproc]``: one cold
pass, then warm passes (at least two) until ``--seconds`` is used.
Every step's output is checked. The last stdout line is the result
JSON; the line before it labels the run (hardware, Spark version,
source digest, seed). With ``--trace 1`` the run also writes a span
file and reports the per-layer metrics instead of the end-to-end ones.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# workload -> step list; both run on the sf0.1 set (the 10x replica of
# the sf0.01 base tables), or on the base tables with --small
WORKLOADS = {"query_sf01": "query", "lifecycle_sf01": "lifecycle"}
# Session set-ups per run; setup_s is their median. Each one launches a
# driver JVM (about 7 s on a 4-core host), so a third would put the
# runs of a full benchmark round close to its time limit.
SETUPS = 2
MIN_WARM = 2  # warm passes per run, at least
TAIL_Q = 90  # read_tail_s percentile


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 8.0


def host_env() -> dict:
    """Session settings fitted to the host, exported before Spark
    starts: cores from the CPU affinity mask (nproc), driver heap a
    quarter of RAM (at most 8 GB), the repo on the Python workers'
    path, and every scratch location inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _mem_total_gb()
    heap_gb = max(1, min(8, int(mem_gb // 4)))
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData")  # no hsperfdata files in /tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    submit = " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}"
                      for k, v in confs.items())
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "BODO_SPARK_EXACT": "0",
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    }
    os.environ.update(env)
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1),
            "driver_heap_gb": heap_gb}


def _read(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def git_commit() -> str | None:
    """Commit id when the checkout is a git tree."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    ref = _read(head)
    loose = os.path.join(ROOT, ".git", ref[5:])
    if ref.startswith("ref: ") and os.path.exists(loose):
        return _read(loose)
    return ref


def source_digest() -> str:
    """Digest of everything the cached tables and expected outputs are
    derived from: the engine (its queries and their oracle SQL), the
    scaling tool and the benchmark with its base tables."""
    paths = [os.path.join(ROOT, "tools", "scale_testdata.py")]
    for top in ("bodo_spark", "perfbench"):
        paths += [os.path.join(d, f)
                  for d, _dirs, files in os.walk(os.path.join(ROOT, top))
                  for f in files if f.endswith((".py", ".parquet"))]
    h = hashlib.sha1()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cache_dir(digest: str) -> str:
    """The work directory's cache for ``digest``; caches of other
    sources are removed, so a run never reads another version's tables
    or expected outputs."""
    root = os.path.join(WORK, "cache")
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):
        if d != digest:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return os.path.join(root, digest)


def _corrupt(out):
    """Deliberately wrong copy of a step output (for the smoke test)."""
    import pandas as pd
    if isinstance(out, pd.DataFrame) and len(out):
        return out.iloc[:-1]
    return "corrupted"


def run_step(sc, wl, spans, st, pass_id: int, index: int,
             root: str | None, corrupt: str | None) -> dict:
    """Run one step in the timed region, then (untimed) record its trace
    details and check its output. Returns the step record; ``error`` is
    set when the step raised or its output is wrong."""
    from perfbench import trace
    group = spans.step_id = f"p{pass_id}:{index}:{st.name}"
    snap = spans.enabled and st.kind == "write" and root
    before = trace.tree(root) if snap else None
    sc.setJobGroup(group, group)
    err, out = None, None
    wall0, t0 = time.time(), time.perf_counter()
    try:
        with spans.span("step"):
            out = st.run()
    except Exception as e:  # a failed step is counted, the run goes on
        err = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    dur = time.perf_counter() - t0
    sc.setJobGroup("", "")
    rec = {"group": group, "pass": pass_id, "name": st.name,
           "kind": st.kind, "init": st.init, "dur": dur, "start": wall0,
           "end": wall0 + dur}
    if spans.enabled:
        with spans.overhead():
            if wl.ctx.last_df is not None:
                rec["phases"] = trace.catalyst_phases(wl.ctx.last_df)
            if snap:
                rec["fs_bytes"], rec["fs_files"] = trace.written(
                    before, trace.tree(root))
            if st.stats is not None and err is None:
                rec.update(st.stats(out))
    wl.ctx.last_df = None
    t_check = time.perf_counter()
    if err is None:
        try:
            err = st.check(_corrupt(out) if corrupt == st.name else out)
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
    rec["check_s"] = time.perf_counter() - t_check
    if err is not None:
        rec["error"] = f"{group}: {err}"[:300]
    return rec


def pass_files(wl, root: str) -> dict:
    """On-disk state of a lifecycle pass before its tables are dropped."""
    from perfbench import trace
    files = trace.tree(root)
    rows = [p for p in files
            if any(p.startswith(d + os.sep) for d in wl.row_table_dirs())]
    return {"bytes_live": sum(v[0] for v in files.values()),
            "files_live": len(files),
            "row_bytes": sum(files[p][0] for p in rows),
            "orphan_dirs": trace.orphan_dirs(root)}


def run_passes(spark, wl, spans, seconds: float,
               corrupt: str | None) -> dict:
    """Cold pass, then warm passes while the time budget allows (at
    least MIN_WARM)."""
    sc = spark.sparkContext
    passes, steps, pass_fs = [], [], []
    t_start = time.perf_counter()
    while True:
        pass_id = spans.pass_id = len(passes)
        root = wl.pass_dir(pass_id)
        recs = [run_step(sc, wl, spans, st, pass_id, i, root, corrupt)
                for i, st in enumerate(wl.steps(pass_id))]
        if spans.enabled and root:
            pass_fs.append(pass_files(wl, root))
        wl.end_pass(pass_id)
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        steps += recs
        passes.append(sum(r["dur"] for r in recs))
        elapsed = time.perf_counter() - t_start
        if len(passes) > MIN_WARM and elapsed + passes[-1] > seconds:
            break
    failures = [r["error"] for r in steps if "error" in r]
    return {"passes": passes, "steps": steps, "attempted": len(steps),
            "failed": len(failures), "failures": failures, "fs": pass_fs,
            "check_s": sum(r["check_s"] for r in steps)}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python workers) and
    wait for it: Spark leaves it running after the session stops."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _tail(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[TAIL_Q - 1] \
        if len(xs) > 1 else xs[0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="run on the sf0.01 base set (smoke tests)")
    ap.add_argument("--corrupt", default=None,
                    help="deliberately corrupt this step's output "
                         "(checks the failure accounting)")
    args = ap.parse_args(argv)

    for need in ("bodo_spark/session.py", "tools/scale_testdata.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    t_run = time.perf_counter()
    marks: dict[str, float] = {}

    def mark(name):
        marks[name] = round(time.perf_counter() - t_run, 3)
    hw = host_env()
    os.chdir(os.path.join(WORK, "tmp"))  # Spark's cwd files land here
    sys.path.insert(0, ROOT)
    from perfbench import data, trace, workloads

    digest = source_digest()
    cache = cache_dir(digest)
    scaled = data.prepare(cache)
    mark("data")
    import pyspark
    from bodo_spark.session import get_spark

    wname = WORKLOADS[args.workload]
    spans = trace.Spans(args.workload, bool(args.trace))
    try:  # the JVM must not outlive the run, whatever happens in it
        # Each set-up is what a process pays at start: it launches the
        # driver JVM and runs one trivial action. Tearing the previous
        # one down is not timed.
        setups, starts, warmups, spark = [], [], [], None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                shutdown_jvm()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            spark.range(1).count()
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t1 - t0)
            warmups.append(t2 - t1)
        mark("setup")
        with trace.PeakRss() as rss:
            data_dir = data.BASE if args.small else scaled
            ctx = workloads.Ctx(spark, spans, data_dir, args.seed, WORK,
                                os.path.join(cache, "expected",
                                             os.path.basename(data_dir)))
            wl = workloads.make(wname, ctx)
            mark("workload_init")
            res = run_passes(spark, wl, spans, args.seconds, args.corrupt)
            res["overhead_s"] = spans.overhead_s  # in-pass tracing only
            layer = per_layer(spark, wl, spans, res, {
                "start_s": statistics.median(starts),
                "warmup_s": statistics.median(warmups)}) \
                if args.trace else None
            mark("passes")
            spark.stop()
    finally:
        shutdown_jvm()
    mark("stop")

    warm = res["passes"][1:]
    warm_steps = [s for s in res["steps"] if s["pass"] >= 1]
    reads = [s["dur"] for s in warm_steps if s["kind"] == "read"]
    if args.trace:
        # per-layer, not end-to-end: across runs these spread more than
        # any bound allows (JVM heap growth; the slowest of 10-30 reads)
        metrics = dict(layer, peak_rss_mb=(rss.peak_kb / 1024, "MB"),
                       read_tail_s=(_tail(reads), "s"))
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (res["passes"][0], "s"),
            "warm_pass_s": (statistics.median(warm), "s"),
            "read_p50_s": (statistics.median(reads), "s"),
        }
    label = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark": pyspark.__version__, "commit": git_commit(),
        "source": digest, **hw,
        "passes": len(res["passes"]), "read_samples": len(reads),
        "read_tail_percentile": TAIL_Q,
        "fail_frac": res["failed"] / max(1, res["attempted"]),
        "failures": res["failures"][:20], "timeline_s": marks,
        "check_s": round(res["check_s"], 3),
    }
    print(json.dumps({"context": label}))
    result = {"correct": res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"],
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    if args.trace:
        spans.write(os.path.join(WORK, "results", tag + ".spans.jsonl"))
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump({"context": label, "result": result,
                   "steps": [[s["pass"], s["name"], round(s["dur"], 4)]
                             for s in res["steps"]],
                   "counters": res.get("counters")}, f)
    print(json.dumps(result), flush=True)
    return 0


def per_layer(spark, wl, spans, res, session: dict) -> dict:
    """Per-layer metrics, per warm pass (sums over its steps, averaged
    over the warm passes). Layers a workload never enters read 0."""
    from perfbench import trace
    warm_ids = set(range(1, len(res["passes"])))
    n = len(warm_ids)
    steps = [s for s in res["steps"] if s["pass"] in warm_ids]
    with spans.overhead():
        counters = trace.spark_counters(spark.sparkContext, steps)
    res["counters"] = counters

    def csum(key):
        return sum(counters[s["group"]][key] for s in steps) / n

    def phase(p):
        return sum(s.get("phases", {}).get(p, 0.0) for s in steps) / n

    def stime(name):
        return spans.total(name, warm_ids) / n

    def named(prefix, key):
        return sum(s.get(key, 0) for s in steps
                   if s["name"].startswith(prefix)) / n

    writes = [s["dur"] for s in steps if s["kind"] == "write"]
    batch_bytes = sum(s.get("fs_bytes", 0) for s in steps
                      if s["kind"] == "write" and not s["init"]) / n
    fs = [f for i, f in enumerate(res["fs"]) if i in warm_ids] or [{}]
    live = statistics.mean(f.get("bytes_live", 0) for f in fs)
    row_live = statistics.mean(f.get("row_bytes", 0) for f in fs)
    selfs = spans.self_times(warm_ids)
    mor_out = [s for s in steps if s["name"].startswith("mor_maintain")]
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "queries.build_s": (stime("queries.build"), "s"),
        "catalyst.analysis_s": (phase("analysis"), "s"),
        "catalyst.optimization_s": (phase("optimization"), "s"),
        "catalyst.planning_s": (phase("planning"), "s"),
        "exec.sql_executions": (csum("sql_executions"), "count"),
        "exec.jobs": (csum("jobs"), "count"),
        "exec.stages": (csum("stages"), "count"),
        "exec.tasks": (csum("tasks"), "count"),
        "exec.in_job_s": (csum("in_job_s"), "s"),
        "exec.driver_gap_s": (csum("driver_gap_s"), "s"),
        "exec.run_s": (csum("run_s"), "s"),
        "exec.cpu_s": (csum("cpu_s"), "s"),
        "exec.gc_s": (csum("gc_s"), "s"),
        "exec.input_bytes": (csum("input_bytes"), "B"),
        "exec.shuffle_read_bytes": (csum("shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (csum("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (csum("spill_bytes"), "B"),
        "exec.collect_s": (stime("exec.collect"), "s"),
        "pyworker.bytes_sent": (csum("py_sent"), "B"),
        "pyworker.bytes_returned": (csum("py_returned"), "B"),
        "merge.partitioned_s": (stime("merge.partitioned"), "s"),
        "merge.cow_s": (stime("merge.cow"), "s"),
        "merge.touched_buckets": (named("merge_partitioned",
                                        "touched_buckets"), "count"),
        "mor.apply_s": (stime("mor.apply"), "s"),
        "mor.read_s": (stime("mor.read"), "s"),
        "mor.lookup_s": (stime("mor.lookup"), "s"),
        "mor.maintain_s": (stime("mor.maintain"), "s"),
        "mor.compactions": (named("mor_maintain", "compactions"), "count"),
        "mor.delta_segments": (statistics.mean(
            s.get("delta_segments", 0) for s in mor_out)
            if mor_out else 0, "count"),
        "sq.store_s": (stime("sq.store"), "s"),
        "sq.append_s": (stime("sq.append"), "s"),
        "sq.topk_s": (stime("sq.topk"), "s"),
        "fs.bytes_written": (sum(s.get("fs_bytes", 0) for s in steps) / n,
                             "B"),
        "fs.files_written": (sum(s.get("fs_files", 0) for s in steps) / n,
                             "count"),
        "fs.bytes_live": (live, "B"),
        "fs.files_live": (statistics.mean(f.get("files_live", 0)
                                          for f in fs), "count"),
        "fs.orphan_dirs": (sum(f.get("orphan_dirs", 0) for f in res["fs"]),
                           "count"),
        "write_p50_s": (statistics.median(writes) if writes else 0, "s"),
        "write_tail_s": (_tail(writes) if writes else 0, "s"),
        "write_amp": (batch_bytes / wl.change_bytes
                      if wl.change_bytes else 0, "ratio"),
        "space_amp": (row_live / wl.live_bytes()
                      if wl.live_bytes() else 0, "ratio"),
        "trace.warm_pass_s": (statistics.median(res["passes"][1:]), "s"),
        "trace.overhead_s": (res["overhead_s"] / len(res["passes"]), "s"),
    }
    for layer in ("step", "queries", "exec", "merge", "mor", "sq"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
