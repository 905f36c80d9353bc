#!/usr/bin/env python
"""Round-7 plan capture: write .explain('formatted') for every headline
bench stage (and optionally a stage-time probe with the noop sink) to
plans/r07/<stage>_<tag>.txt. Usage:

    python scripts/r07_plans.py before [stage ...]
    python scripts/r07_plans.py after  [stage ...]
    TIME=1 python scripts/r07_plans.py probe stage ...   # noop-sink timing

Uses the same session/layout protocol as bench.py (bucketed pages table,
amplified input) so the captured plans are the plans the bench runs.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench  # noqa: E402  (reuses amplified_dir + headline_queries)
from setsm_postprocessing_python_spark.plans.planview import (  # noqa: E402
    formatted_plan)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    from setsm_postprocessing_python_spark.session import get_spark

    spark = get_spark(parallelism=bench.CPUS, app_name=f"r07plans-{tag}")
    bench_dir = bench.amplified_dir(spark, bench.SF_DIR, bench.AMP,
                                    bench.EMB_AMP)
    if bench.LAYOUT == "bucketed":
        from setsm_postprocessing_python_spark.sources.bucketed import (
            activate_bucketed_pages, ensure_bucketed_pages)

        ensure_bucketed_pages(spark, bench_dir, f"{bench_dir}/pages_layout",
                              table="bench_pages_bucketed", n_buckets=32)
        activate_bucketed_pages(spark, "bench_pages_bucketed", bench_dir)
    out_dir = REPO / "plans" / "r07"
    out_dir.mkdir(parents=True, exist_ok=True)
    timing = os.environ.get("TIME") == "1"
    for name, fn in bench.headline_queries().items():
        if only and name not in only:
            continue
        df = fn(spark, bench_dir)
        if tag != "probe":
            plan = formatted_plan(df)
            (out_dir / f"{name}_{tag}.txt").write_text(plan)
            print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange)")
        if timing or tag == "probe":
            spark.sparkContext.setJobDescription(f"r07 {tag} {name}")
            ts = []
            for _ in range(4):
                t = time.time()
                bench.materialize(fn(spark, bench_dir))
                ts.append(round(time.time() - t, 3))
            print(f"{name}: {ts} min={min(ts)}")
    spark.stop()


if __name__ == "__main__":
    main()
