"""One benchmark session: a fresh Python process and a fresh JVM.

Started by run.py with the path of a JSON spec; writes its measurements to
the spec's `result` path. Only public entry points of the package are
called: session.get_spark, sources.bucketed.ensure_bucketed_pages /
activate_bucketed_pages, plans.pipeline.run_pipeline and the stage
callables of bench.headline_queries(). Every timed call is recorded as a
span (name, start, end in epoch ms); run.py matches them against the Spark
event log in traced runs.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time
import traceback
from pathlib import Path


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start / ticks


PROC_START = _process_start()


class Spans:
    """Timed calls, kept in memory and written out with the result."""

    def __init__(self, py4j=None):
        self.rows: list[dict] = []
        self.py4j = py4j

    def timed(self, name: str, fn, **attrs):
        """Run fn() as one span; returns (result, seconds, error)."""
        calls0 = self.py4j.calls if self.py4j else 0
        t0 = time.time()
        try:
            out, err = fn(), None
        except Exception:  # a failed operation is counted, not fatal
            out, err = None, traceback.format_exc(limit=3)
        t1 = time.time()
        row = {"name": name, "start_ms": t0 * 1000, "end_ms": t1 * 1000,
               **attrs}
        if self.py4j:
            row["py4j_calls"] = self.py4j.calls - calls0
        if err:
            row["error"] = err
        self.rows.append(row)
        return out, t1 - t0, err


class Py4jCounter:
    """Counts driver -> JVM round trips by wrapping the py4j client's
    send_command on this process's gateway."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command
        self.calls = 0

        def send_command(*a, **kw):
            self.calls += 1
            return inner(*a, **kw)

        client.send_command = send_command


def _session(spec: dict):
    from setsm_postprocessing_python_spark.session import get_spark

    out = Path(spec["out"])
    java_opts = (f"-Djava.io.tmpdir={out / 'tmp'} "
                 f"-Dderby.system.home={out}")
    conf = {
        "spark.local.dir": str(out / "local"),
        "spark.sql.warehouse.dir": str(out / "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if spec["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(out / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(parallelism=spec["cores"], app_name="perfbench",
                     extra_conf=conf)


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

def _pages(sf_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "n_chars"]).to_pandas()


def run_pipeline_phases(spark, spec: dict, spans: Spans) -> dict:
    """run_pipeline once per phase on one workdir. Phases: `cold` (a fresh
    workdir: every unit runs), `resume` (a new snapshot: exactly the
    changed host groups are stale for the group-keyed stages) and `noop`
    (the same snapshot again: nothing recomputes)."""
    import checks
    from setsm_postprocessing_python_spark.plans.pipeline import run_pipeline

    workdir = Path(spec["workdir"])
    passes: dict = {}
    failures: dict = {}
    for phase, sf_dir in spec["phases"]:
        if phase == "resume" and spec["trace"]:
            before = checks.unit_digests(workdir)
        stages, wall, err = spans.timed(
            f"pipeline.{phase}",
            lambda sf_dir=sf_dir: run_pipeline(spark, sf_dir, str(workdir)),
            workdir=str(workdir))
        passes[phase] = {"wall_s": wall, "stages": stages}
        if err:
            failures[phase] = err.strip().splitlines()[-1]
            break
        bad = checks.pipeline_state(workdir, _pages(sf_dir))
        ran = {s["stage"]: s["units_run"] for s in stages}
        if phase == "cold" and any(s["units_run"] != s["units_total"]
                                   for s in stages):
            bad.append("a fresh workdir skipped units")
        if phase == "noop" and any(ran.values()):
            bad.append(f"re-run over an unchanged snapshot recomputed {ran}")
        if phase == "resume":
            n = len(spec["changed_groups"])
            bad += [f"{s} re-ran {ran[s]} units for {n} changed groups"
                    for s in ("geocode", "merge_order") if ran[s] != n]
            if spec["trace"]:
                after = checks.unit_digests(workdir)
                passes[phase]["units_changed"] = {
                    s: sum(before[s].get(u) != d for u, d in after[s].items())
                    for s in after}
        if bad:
            failures[phase] = "; ".join(bad)
    return {"passes": passes, "failures": failures}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def run_query_mix(spark, spec: dict, spans: Spans) -> dict:
    import bench

    from digest import frame_digest

    stages = bench.headline_queries()
    corpus = spec["corpus"]
    results = Path(spec["out"]) / "results"
    results.mkdir(exist_ok=True)
    rounds: list[dict] = []
    for r in range(spec["rounds"]):
        row = {}
        for name, fn in stages.items():
            pdf, dt, err = spans.timed(
                f"query.{name}",
                lambda fn=fn: fn(spark, corpus).toPandas(),
                stage=name, round=r)
            rec = {"s": dt, "error": err}
            if pdf is not None:
                rec["rows"] = len(pdf)
                rec["digest"] = frame_digest(pdf)
                if r == 0:  # checked against the oracle (checks.query_mix)
                    with open(results / f"{name}.pkl", "wb") as f:
                        pickle.dump(pdf, f)
            row[name] = rec
        rounds.append(row)
    return {"rounds": rounds}


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    sys.path.insert(0, spec["root"])
    spark = _session(spec)
    session_ready = time.time()
    counter = Py4jCounter(spark) if spec["trace"] else None
    spans = Spans(counter)
    res: dict = {"session_start_s": session_ready - PROC_START}
    try:
        if spec["workload"] == "query_mix":
            from setsm_postprocessing_python_spark.sources.bucketed import (
                activate_bucketed_pages, ensure_bucketed_pages)

            t = time.time()
            ensure_bucketed_pages(spark, spec["corpus"], spec["layout"],
                                  table="perfbench_pages", n_buckets=8)
            activate_bucketed_pages(spark, "perfbench_pages", spec["corpus"])
            res["layout_s"] = time.time() - t
            res["setup_s"] = time.time() - PROC_START
            res.update(run_query_mix(spark, spec, spans))
        else:
            res["setup_s"] = session_ready - PROC_START
            res.update(run_pipeline_phases(spark, spec, spans))
    finally:
        res["spans"] = spans.rows
        res["spark_version"] = spark.version
        spark.stop()
        Path(spec["result"]).write_text(json.dumps(res))


if __name__ == "__main__":
    main()
