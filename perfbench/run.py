"""linkgraph benchmark runner.

    python3 perfbench/run.py --workload rank_refresh --seed 42 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload (see workloads.py) on ``local[<cores this process may
use>]``, from the root of a source checkout. Set-up starts the Spark
session and generates the workload's inputs from ``--seed`` three times
(the median counts). Then full passes repeat while ``--seconds`` allows
another one, at least one; every pass's outputs are checked outside its
timed region. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json (medians
over the passes), ``--trace 1`` its per-layer metrics, collected around
each layer call by spantrace.py; a traced run ends with one untraced
pass whose job count must equal the traced one. ``attempted``/``failed``
count layer calls and output checks; a call that raises or a check that
fails is failed. All files go to ``.bench_work/`` in the checkout and
are removed at exit. ``--smoke`` runs every workload at a tiny size,
traced and untraced, and asserts every declared metric is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class PeakRss:
    """Samples, on a background thread, the summed RSS of this Python
    process (the driver), the JVM it started, and the JVM's Python
    workers: the daemons and the workers they fork. It keeps the peak of
    the sum and of each part, and the peak number of worker processes.

    Other descendants are left out. They are short-lived helpers, and a
    process the JVM has just spawned shares the JVM's memory until it
    execs, so counting it would add the JVM's whole RSS a second time."""

    PARTS = ("driver", "jvm", "workers", "worker_count")

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.parts = dict.fromkeys(self.PARTS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.is_set():
            parts = self.sample()
            self.peak = max(self.peak, parts["driver"] + parts["jvm"] + parts["workers"])
            for k, v in parts.items():
                self.parts[k] = max(self.parts[k], v)
            self._stop.wait(self.interval)

    @staticmethod
    def sample() -> dict[str, int]:
        children, rss, comm = defaultdict(list), {}, {}
        page = os.sysconf("SC_PAGE_SIZE")
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except (OSError, ValueError):  # exited while we looked
                continue
            fields = tail.split()
            children[int(fields[1])].append(int(pid))
            rss[int(pid)] = int(fields[21]) * page
            comm[int(pid)] = head.split("(", 1)[-1]

        def python_children(pid):
            return [c for c in children.get(pid, ()) if comm[c].startswith("python")]

        me = os.getpid()
        parts = dict.fromkeys(PeakRss.PARTS, 0)
        parts["driver"] = rss.get(me, 0)
        for jvm in children.get(me, ()):
            if comm[jvm] != "java":
                continue
            parts["jvm"] += rss[jvm]
            for daemon in python_children(jvm):
                for pid in [daemon, *python_children(daemon)]:
                    parts["workers"] += rss[pid]
                    parts["worker_count"] += 1
        return parts


DRIVER_MEMORY = "2g"


def start_spark(cores: int, work: str):
    from linkgraph.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores, driver_memory=DRIVER_MEMORY,
        extra_conf={
            # The whole Java heap is committed and touched at JVM start.
            # Left to itself, G1 grows and shrinks the heap on GC-time
            # goals, so the JVM's peak RSS followed machine load (1.3-1.7
            # GiB over five seeds of rank_refresh). With the heap fixed,
            # peak_rss_mb moves with what the run allocates outside it:
            # the Python driver and workers, and the JVM's off-heap memory.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the status store must still hold a layer call's stages when
            # the call returns
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metrics ----------------------------------------------------------------

SUMMED = ("wall_s", "jobs", "idle_s", "task_s", "shuffle_write_bytes",
          "spill_bytes", "rows_out", "store_bytes", "stored_edges",
          "bytes_written", "verified", "candidates")


def layer_metrics(records: list[dict]) -> dict[str, float]:
    """Per-layer values of one pass: counters summed over the calls of
    a layer, per-call ratios as their median."""
    by = defaultdict(list)
    for r in records:
        by[r["name"]].append(r)
    m = {}
    for name, recs in by.items():
        tot = {k: sum(r.get(k, 0) for r in recs) for k in SUMMED}
        for k in SUMMED:
            m[f"{name}.{k}"] = tot[k]
        if recs[0].get("pages"):
            m[f"{name}.pages_per_s"] = sum(r["pages"] for r in recs) / tot["wall_s"]
        if tot["candidates"]:
            m[f"{name}.useful_ratio"] = tot["verified"] / tot["candidates"]
        if tot["stored_edges"]:
            m[f"{name}.store_bytes_per_edge"] = tot["store_bytes"] / tot["stored_edges"]
        if "iterations" in recs[0]:
            m[f"{name}.iterations"] = median(r["iterations"] for r in recs)
        if "step_s_median" in recs[0]:  # flat pagerank
            m[f"{name}.step_s_median"] = median(r["step_s_median"] for r in recs)
        if "steps" in recs[0]:  # blocked pagerank: SuperstepInfo list
            secs = [s.seconds for r in recs for s in r["steps"]]
            m[f"{name}.steps_s"] = sum(secs)
            m[f"{name}.prep_s"] = tot["wall_s"] - sum(secs)
            m[f"{name}.step_s_median"] = median(secs)
        if "stats" in recs[0]:  # blocked components / labelprop / louvain
            step = [s for r in recs for s in r["stats"]["step_secs"]]
            kern = [s for r in recs for s in r["stats"].get("kernel_secs", ())]
            m[f"{name}.steps"] = sum(r["stats"]["steps"] for r in recs)
            m[f"{name}.step_s_median"] = median(step)
            if kern:
                m[f"{name}.kernel_s"] = sum(kern)
                m[f"{name}.coord_s"] = sum(step) - sum(kern)
        if "update_vs_build" in recs[0]:
            m[f"{name}.update_vs_build"] = median(r["update_vs_build"] for r in recs)
        if "delta_edges" in recs[0]:
            m[f"{name}.bytes_written_per_delta_edge"] = median(
                r["bytes_written"] / r["delta_edges"] for r in recs)
    return m


def declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def emit(correct: bool, attempted: int, failed: int, values: dict, kind: str) -> None:
    metrics = {
        d["name"]: {"value": float(values.get(d["name"], 0.0)), "unit": d["unit"]}
        for d in declared(kind)
    }
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


# -- one benchmark run -------------------------------------------------------

def run(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spantrace import Spans
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every file the engine writes lands inside the checkout
    for var, sub in (("TMPDIR", "tmp"), ("LINKGRAPH_LOCAL_DIR", "spark-local"),
                     ("SPARK_LOCAL_DIRS", "spark-local"),
                     ("LINKGRAPH_NATIVE_DIR", "native"), ("LINKGRAPH_NPY_DIR", "npy")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.chmod(os.environ["LINKGRAPH_NATIVE_DIR"], 0o700)

    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    attempted = failed = 0
    passes: list[dict] = []
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_spark(cores, work)
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, work, args.seed, cores, args.size, trace)
            gen_s = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.generate()
                gen_s.append(time.perf_counter() - t)
            setup_s = session_s + median(gen_s)
            print(f"setup: session {session_s:.2f}s, inputs {gen_s}",
                  file=sys.stderr, flush=True)

            untraced_group, reference, untraced_jobs = "perfbench-untraced", None, 0

            def one_pass(spans, group=None) -> dict:
                nonlocal attempted, failed
                if group:
                    spark.sparkContext.setJobGroup(group, group)
                t = time.perf_counter()
                try:
                    out = wl.run(spans)
                finally:
                    attempted += len(spans.records)
                    if group:
                        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                p = {"run_s": time.perf_counter() - t, "records": spans.records,
                     "out": {k: out[k] for k in ("pagerank_iters", "step_s",
                                                 "step_edges", "refresh_s") if k in out}}
                checks = wl.check(out)
                wl.release(out)
                p["persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
                p["checks"] = checks
                attempted += len(checks)
                failed += sum(not ok for _, ok in checks)
                return p

            start = time.perf_counter()
            while True:
                passes.append(one_pass(Spans(spark, trace, tag=f"pass{len(passes)}")))
                p = passes[-1]
                print(f"pass {len(passes)}: {p['run_s']:.2f}s; layer, wall_s, jobs: "
                      f"{[(r['name'], round(r['wall_s'], 2), r.get('jobs')) for r in p['records']]}",
                      file=sys.stderr, flush=True)
                spent = time.perf_counter() - start
                if spent + spent / len(passes) > args.seconds:
                    break
            if trace:
                # one more pass, untraced, with all its jobs in one group:
                # tracing must not change the number of jobs a pass runs
                reference = one_pass(Spans(spark, trace=False), untraced_group)
                untraced_jobs = Spans(spark, False).job_count(untraced_group)
            after = wl.after_check()
            attempted += len(after)
            failed += sum(not ok for _, ok in after)
            checks = ([c for p in passes + [reference] if p for c in p["checks"]]
                      + after)
    except Exception:
        traceback.print_exc()
        failed += 1
        attempted += 1
        checks = [("no_exception", False)]
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:  # another run still uses it
            pass

    mib = {k: v / 2**20 for k, v in rss.parts.items() if k != "worker_count"}
    print(f"peak rss MiB: total {rss.peak / 2**20:.0f}, "
          + ", ".join(f"{k} {v:.0f}" for k, v in mib.items())
          + f"; python worker processes {rss.parts['worker_count']}",
          file=sys.stderr, flush=True)
    bad = [name for name, ok in checks if not ok]
    if bad:
        print(f"failed checks: {bad}", file=sys.stderr)
    if not passes:
        emit(False, max(attempted, 1), max(failed, 1), {},
             "per_layer" if trace else "end_to_end")
        return 0

    if not trace:
        run_s = median(p["run_s"] for p in passes)
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "edges_per_s": wl.input_edges / run_s,
            "pagerank_iters": median(p["out"]["pagerank_iters"] for p in passes),
            "peak_rss_mb": rss.peak / 2**20,
        }
        emit(not bad, attempted, failed, values, "end_to_end")
        return 0

    per_pass = []
    for p in passes:
        m = layer_metrics(p["records"])
        layer_wall = sum(r["wall_s"] for r in p["records"])
        jobs = sum(r["jobs"] for r in p["records"])
        m.update({
            "workload.run_s": p["run_s"],
            "workload.attributed_frac": layer_wall / p["run_s"],
            "workload.idle_s": sum(r["idle_s"] for r in p["records"]),
            "workload.jobs": jobs,
            "workload.refresh_s": median(p["out"].get("refresh_s", ())),
            "workload.pagerank_edges_per_s_per_step":
                p["out"]["step_edges"] / p["out"]["step_s"],
            "spark.persisted_rdds": p["persisted_rdds"],
        })
        if jobs != untraced_jobs:
            print(f"traced pass ran {jobs} jobs, untraced {untraced_jobs}", file=sys.stderr)
            bad.append("trace_adds_no_jobs")
            failed += 1
        attempted += 1
        per_pass.append(m)
    values = {k: median(m.get(k, 0.0) for m in per_pass) for k in set().union(*per_pass)}
    values["workload.ops_failed_frac"] = failed / attempted
    values.update({
        "memory.driver_peak_rss_mb": mib["driver"],
        "memory.jvm_peak_rss_mb": mib["jvm"],
        "memory.workers_peak_rss_mb": mib["workers"],
        "memory.worker_processes": rss.parts["worker_count"],
    })
    emit(not bad, attempted, failed, values, "per_layer")
    return 0


def smoke() -> int:
    """Every workload at the tiny size, untraced and traced: each run must
    exit 0, pass its checks and print every declared metric."""
    for kind, trace in (("end_to_end", 0), ("per_layer", 1)):
        names = {d["name"] for d in declared(kind)}
        for wl in ("crawl_ingest", "rank_refresh"):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--size", "tiny"]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                 check=True, timeout=600)
            out = json.loads(res.stdout.strip().splitlines()[-1])
            if not out["correct"] or out["failed"]:
                raise SystemExit(f"smoke {wl} trace={trace}: failed {out}")
            if set(out["metrics"]) != names:
                raise SystemExit(f"smoke {wl} trace={trace}: metric names differ: "
                                 f"{sorted(names ^ set(out['metrics']))}")
            print(f"smoke {wl} trace={trace}: ok, {len(names)} metrics", flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("crawl_ingest", "rank_refresh"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
