#!/usr/bin/env python3
"""Benchmark of the engine's product path and analyst path.

    python3 perfbench/run.py --workload pipeline_delta|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from --seed,
starts one fresh session process (worker.py: a fresh JVM at
local[nproc]), checks every output, and prints as its last line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The lines
before it name the same figures the way the workloads define them, and
the per-stage breakdown. Everything the run writes stays under
.perfbench/ in the checkout; the heavy parts are removed at the end.

A run measures one cold pass of its workload in the fresh JVM, which
cannot be cut short; --seconds is recorded but does not shorten it.
See perfbench/README.md for the workloads, metrics and checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import corpus as C  # noqa: E402
import checks  # noqa: E402
import eventlog as EV  # noqa: E402

# One corpus shape for every seed: 25 distinct texts x 20 replicas = 500
# pages (10 per host group), 250 distinct clustered vectors x 8 replicas.
# Small on purpose: a cold pipeline run is ~140 Spark jobs whose cost is
# mostly per-job work, and the benchmark's time budget admits one cold
# pass per fresh JVM.
SHAPE = {"n_distinct": 25, "replicas": 20, "n_vec": 250, "emb_replicas": 8}
# pipeline_delta resumes a complete prior run over the corpus of this seed;
# the run is built once per checkout and copied into every run, and --seed
# chooses which host groups the delta snapshot changes
PRIOR_SEED = 0
DELTA_SHARE = 0.10
DRIVER_MEM = "1g"
RUN_DEADLINE_S = 170
WORKLOADS = ("pipeline_delta", "query_mix")
MB = 1024 * 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _descendants() -> set[int]:
    """Every live descendant of this process, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.update(kids)
        frontier += kids
    return tree


def _become_subreaper() -> None:
    """Orphans of the session (the JVM, PySpark's daemon, which runs in a
    process group of its own) are re-parented to this process instead of
    init, so _reap can find and wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0,
                                            0)


def _reap() -> None:
    """Stop every process this run started and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        sent = False
        for _ in range(50):
            while True:  # collect exited children
                try:
                    if os.waitpid(-1, os.WNOHANG)[0] == 0:
                        break
                except ChildProcessError:
                    break
            left = _descendants()
            if not left:
                return
            if not sent:
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            time.sleep(0.1)


class RssPeak(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python UDF workers) from /proc. Each process counts its
    proportional share (Pss) of pages it shares, so workers forked from
    one daemon are not counted once per fork."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._done = threading.Event()

    def _tree_rss(self) -> int:
        tree = _descendants() | {os.getpid()}
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f
                                  if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total * 1024

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.period)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# one session
# ---------------------------------------------------------------------------

def run_worker(root: Path, out: Path, spec: dict, deadline: float) -> dict:
    """Run worker.py and wait for it and everything it started."""
    out.mkdir(parents=True, exist_ok=True)
    for d in ("tmp", "local", "eventlog"):
        (out / d).mkdir(exist_ok=True)
    spec = {**spec, "root": str(root), "out": str(out), "cores": cores(),
            "result": str(out / "worker.json")}
    (out / "spec.json").write_text(json.dumps(spec))
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               [str(root)] + [p for p in os.environ.get(
                   "PYTHONPATH", "").split(os.pathsep) if p]),
           "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable,
           "SPARK_DRIVER_MEM": DRIVER_MEM,
           "SPARK_LOCAL_DIRS": str(out / "local"),
           "TMPDIR": str(out / "tmp")}
    mon = RssPeak()
    mon.start()
    with open(out / "worker.log", "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(out / "spec.json")],
            cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap()
    peak = mon.stop()
    res_path = out / "worker.json"
    if rc != 0 or not res_path.exists():
        tail = (out / "worker.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"session process failed (rc={rc}):\n{tail}")
    res = json.loads(res_path.read_text())
    res["peak_rss_mb"] = peak / MB
    return res


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it; the maximum when there are ten or fewer samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # ten samples above index k
    return 100.0 * (k + 1) / n, xs[k]


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "op_p50_s": "s",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "bucketed.layout_s": "s", "driver.plan_s": "s",
    "driver.py4j_calls": "count", "spark.jobs": "count",
    "spark.tasks": "count", "spark.task_s": "s", "spark.skew": "ratio",
    "spark.shuffle_bytes": "bytes", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes", "udf.python_s": "s",
    "udf.arrow_bytes": "bytes", "trace.overhead_s": "s",
}


def layer_metrics(workload: str, res: dict, log: dict) -> tuple[dict, dict]:
    """(per-layer metrics both workloads share, per-stage detail)."""
    spans = res["spans"]
    stats = [EV.window_stats(log, s["start_ms"], s["end_ms"])
             for s in spans]
    total = {k: sum(st[k] for st in stats) for k in stats[0]}
    detail: dict = {}
    if workload == "pipeline_delta":
        passes = res["passes"]
        for phase, p in passes.items():
            span = next(s for s in spans if s["name"] == f"pipeline.{phase}")
            detail.update(_pipeline_detail(phase, p, span, log))
        layout_s = detail["resume.layout_s"]
        detail["resume.merge_order.share"] = (
            detail["resume.merge_order.wall_s"] / passes["resume"]["wall_s"])
    else:
        layout_s = res["layout_s"]
        detail.update(_query_detail(spans, stats))
    layers = {
        "session.start_s": res["session_start_s"],
        "bucketed.layout_s": layout_s,
        "driver.plan_s": total["driver_s"],
        "driver.py4j_calls": sum(s["py4j_calls"] for s in spans),
        "spark.jobs": total["jobs"],
        "spark.tasks": total["tasks"],
        "spark.task_s": total["task_s"],
        "spark.skew": max(stats, key=lambda st: st["task_s"])["skew"],
        "spark.shuffle_bytes": total["shuffle_bytes"],
        "spark.gc_s": total["gc_s"],
        "spark.spill_bytes": total["spill_bytes"],
        "udf.python_s": total["python_s"],
        "udf.arrow_bytes": total["arrow_bytes"],
    }
    return layers, detail


def _pipeline_detail(phase: str, p: dict, span: dict, log: dict) -> dict:
    """<phase>.<stage>.{wall_s, units_run, task_s, ...} for one
    run_pipeline call; <phase>.layout_s is its wall minus its stages."""
    d = {f"{phase}.wall_s": p["wall_s"],
         f"{phase}.layout_s": p["wall_s"] - sum(s["wall_s"]
                                                for s in p["stages"])}
    for s in p["stages"]:
        d[f"{phase}.{s['stage']}.wall_s"] = s["wall_s"]
        d[f"{phase}.{s['stage']}.units_run"] = s["units_run"]
    for stage, t0, t1 in EV.pipeline_windows(log, {**span,
                                                   "stages": p["stages"]}):
        st = EV.window_stats(log, t0, t1)
        for k in ("jobs", "task_s", "skew", "shuffle_bytes", "python_s",
                  "arrow_bytes", "driver_s"):
            d[f"{phase}.{stage}.{k}"] = st[k]
    if "units_changed" in p:
        ran = sum(s["units_run"] for s in p["stages"])
        changed = sum(p["units_changed"].values())
        for stage, n in p["units_changed"].items():
            d[f"{phase}.{stage}.units_changed"] = n
        d["manifest.units_run"] = ran
        d["manifest.useful_rerun_ratio"] = changed / ran if ran else 1.0
    return d


def _query_detail(spans: list[dict], stats: list[dict]) -> dict:
    d: dict = {}
    by_stage: dict[str, list] = {}
    for s, st in zip(spans, stats):
        by_stage.setdefault(s["stage"], []).append((s, st))
    for name, recs in by_stage.items():
        for r, (s, st) in enumerate(recs):
            p = f"query.{name}.{'cold' if r == 0 else f'warm{r}'}"
            d[f"{p}.py4j_calls"] = s["py4j_calls"]
            for k in ("wall_s", "task_s", "shuffle_bytes", "driver_s",
                      "python_s", "arrow_bytes"):
                d[f"{p}.{k}"] = st[k]
    rounds = sorted({s["round"] for s in spans})
    for r in rounds:
        d[f"query.round{r}_s"] = sum(st["wall_s"] for s, st in
                                     zip(spans, stats) if s["round"] == r)
    return d


def pipeline_metrics(res: dict) -> dict:
    resume = res["passes"]["resume"]
    return {
        "setup_s": res["setup_s"],
        "cold_s": resume["wall_s"],
        "op_p50_s": statistics.median(s["wall_s"]
                                      for s in resume["stages"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def query_metrics(res: dict) -> dict:
    cold = [v["s"] for v in res["rounds"][0].values()]
    return {
        "setup_s": res["setup_s"],
        "cold_s": sum(cold),
        "op_p50_s": statistics.median(cold),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def named_figures(workload: str, m: dict, res: dict, failures: dict,
                  attempted: int) -> dict:
    """The end-to-end figures under the names each workload defines."""
    out = {"setup_s": (m["setup_s"], "s")}
    if workload == "pipeline_delta":
        out["resume_wall_s"] = (m["cold_s"], "s")
        out["stage_p50_s[n=6]"] = (m["op_p50_s"], "s")
    else:
        cold = [v["s"] for v in res["rounds"][0].values()]
        pct, val = tail(cold)
        out["query_cold_round_s"] = (m["cold_s"], "s")
        out[f"query_cold_p50_s[n={len(cold)}]"] = (m["op_p50_s"], "s")
        out[f"query_cold_tail_s[p{pct:.0f},n={len(cold)}]"] = (val, "s")
    out["peak_rss_mb"] = (m["peak_rss_mb"], "MB")
    out["failed_share"] = (len(failures) / attempted, "ratio")
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def host_info() -> dict:
    import pandas
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal"))
    return {"cores": cores(), "mem_gb": round(mem_kb / 1024 ** 2, 1),
            "machine": platform.machine(),
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "driver_mem": DRIVER_MEM}


def untraced_baseline(history: Path, workload: str) -> float:
    """Median cold_s of this checkout's untraced runs; without
    any, the medians recorded in baseline.json (the steadiness runs on a
    4-core, 15 GB host)."""
    xs = []
    if history.exists():
        with history.open() as f:
            xs = [r["cold_s"] for r in map(json.loads, f)
                  if r["workload"] == workload]
    if not xs:
        rec = json.loads((HERE / "baseline.json").read_text())
        xs = [rec["medians"][workload]["cold_s"]]
    return statistics.median(xs)


def ensure_prior(root: Path, deadline: float) -> tuple[Path, dict]:
    """The complete prior run every pipeline_delta run resumes: the corpus
    of PRIOR_SEED and a workdir after one cold run_pipeline over it, built
    once per checkout in its own fresh JVM. Returns (dir, record)."""
    prior = root / ".perfbench" / "prior"
    ready = prior / "ready.json"
    # a prior run made by another version of the package is not reused
    h = hashlib.sha1()
    pkg = root / "setsm_postprocessing_python_spark"
    for f in sorted(pkg.rglob("*.py")):
        h.update(f.read_bytes())
    key = {"shape": SHAPE, "seed": PRIOR_SEED, "source": h.hexdigest()}
    if ready.exists():
        rec = json.loads(ready.read_text())
        if rec.get("key") == key:
            return prior, rec
    # remove-incomplete: a build without ready.json is redone from scratch
    shutil.rmtree(prior, ignore_errors=True)
    C.make_corpus(prior / "corpus", PRIOR_SEED, **SHAPE)
    res = run_worker(root, prior / "session", {
        "workload": "pipeline", "trace": False,
        "workdir": str(prior / "workdir"),
        "phases": [["cold", str(prior / "corpus")]]}, deadline)
    if res["failures"]:
        raise RuntimeError(f"prior run failed: {res['failures']}")
    shutil.rmtree(prior / "session")
    rec = {"key": key, "cold": res["passes"]["cold"],
           "setup_s": res["setup_s"]}
    ready.write_text(json.dumps(rec))
    return prior, rec


def measure(root: Path, args, run_dir: Path, corpus_dir: Path,
            stats: dict, deadline: float) -> tuple:
    """One session process and its checks:
    (worker result, end-to-end metrics, failures, attempted)."""
    trace = bool(args.trace)
    spec = {"workload": args.workload, "trace": trace,
            "corpus": str(corpus_dir)}
    if args.workload == "pipeline_delta":
        prior = corpus_dir.parent
        spec["workdir"] = str(run_dir / "workdir")
        shutil.copytree(prior / "workdir", spec["workdir"])
        # traced runs add a re-run over the same snapshot (the warm
        # lineage-check path, per-layer detail only)
        spec["phases"] = [["resume", str(run_dir / "delta")]] + \
            [["noop", str(run_dir / "delta")]] * trace
        stats["delta"] = C.make_delta(corpus_dir, run_dir / "delta",
                                      args.seed, DELTA_SHARE)
        spec["changed_groups"] = stats["delta"]["changed_groups"]
    else:
        spec["layout"] = str(run_dir / "layout")
        # traced runs add a warm round: per-stage warm latencies and the
        # check that every stage reproduces round 0
        spec["rounds"] = 1 + trace
    res = run_worker(root, run_dir, spec, deadline)
    if args.workload == "pipeline_delta":
        failures = res["failures"]
        attempted = len(res["passes"])
        if res["passes"].get("resume", {}).get("stages") is None:
            raise RuntimeError(f"pipeline did not complete: {failures}")
        metrics = pipeline_metrics(res)
    else:
        failures = checks.query_mix(res["rounds"], run_dir / "results",
                                    corpus_dir, stats)
        attempted = sum(len(r) for r in res["rounds"])
        metrics = query_metrics(res)
    return res, metrics, failures, attempted


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S

    root = Path.cwd()
    if not (root / "setsm_postprocessing_python_spark").is_dir() or \
            not (root / "bench.py").is_file():
        print("perfbench: run from the root of a checkout of the engine "
              "(setsm_postprocessing_python_spark/ and bench.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    _become_subreaper()

    history = root / ".perfbench" / "history.jsonl"
    base = root / ".perfbench" / "runs" / \
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": host_info()}
    if args.workload == "pipeline_delta":
        prior, info["prior"] = ensure_prior(root, deadline)
        deadline = time.time() + RUN_DEADLINE_S
        corpus_dir = prior / "corpus"
        stats = C.make_corpus(corpus_dir, PRIOR_SEED, **SHAPE)
    else:
        corpus_dir = base / "corpus"
        stats = C.make_corpus(corpus_dir, args.seed, **SHAPE)
    info["corpus"] = stats
    base.mkdir(parents=True, exist_ok=True)
    try:
        res, metrics, failures, attempted = measure(
            root, args, base / "session", corpus_dir, stats, deadline)
        info["spark"] = res["spark_version"]
        if args.workload == "pipeline_delta":
            info["units_run"] = {s["stage"]: s["units_run"]
                                 for s in res["passes"]["resume"]["stages"]}
        if args.trace:
            base_e2e = untraced_baseline(history, args.workload)
            log_file = next((base / "session" / "eventlog").iterdir())
            layers, info["detail"] = layer_metrics(
                args.workload, res, EV.load(log_file))
            layers["trace.overhead_s"] = metrics["cold_s"] - base_e2e
            if args.workload == "pipeline_delta":
                # the cold pipeline this checkout ran once (the prior run)
                cold = info["prior"]["cold"]
                walls = {s["stage"]: s["wall_s"] for s in cold["stages"]}
                info["detail"]["prior.cold.wall_s"] = cold["wall_s"]
                info["detail"]["prior.cold.merge_order.share"] = (
                    walls["merge_order"] / cold["wall_s"])
            out_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                           for k, v in layers.items()}
        else:
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                           for k, v in metrics.items()}
            with history.open("a") as f:
                f.write(json.dumps({"workload": args.workload,
                                    "seed": args.seed, **metrics}) + "\n")
    finally:
        # keep only the summary; inputs, workdirs and logs are removed
        for d in base.iterdir():
            shutil.rmtree(d, ignore_errors=True)
    named = named_figures(args.workload, metrics, res, failures, attempted)
    info.update(end_to_end=metrics, failures=failures,
                named={k: v for k, (v, _) in named.items()})
    (base / "summary.json").write_text(json.dumps(info, indent=1))

    print("perfbench: " + " ".join(f"{k}={v:.4f}{'' if u == 'ratio' else u}"
                                   for k, (v, u) in named.items()))
    print("perfbench-info: " + json.dumps(
        {k: v for k, v in info.items() if k != "detail"}))
    if "detail" in info:
        print("perfbench-layers: " + json.dumps(info["detail"]))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
