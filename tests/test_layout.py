"""Pages layout: cell-range predicates reach the parquet scan of the
day-partitioned bucketed table, and the pushed range returns the same
rows as the flat derivation."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_predicate_pushdown_reaches_scan(spark, tmp_path):
    from setsm_postprocessing_python_spark.plans.planview import (
        formatted_plan)
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_layout_cell_range"
    try:
        tbl, _ = B.ensure_bucketed_pages_by_day(
            spark, SF, str(tmp_path / "pages"), table=table, n_buckets=4)
        cells = sorted(r.cell for r in tbl.select("cell").collect())
        lo, hi = cells[len(cells) // 4], cells[3 * len(cells) // 4]
        scan = tbl.where(F.col("cell").between(lo, hi))
        plan = formatted_plan(scan)
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(cell" in plan
        assert "LessThanOrEqual(cell" in plan
        flat = B.blocked_pages(spark, SF).where(F.col("cell").between(lo, hi))
        assert scan.count() == flat.count() == len(
            [c for c in cells if lo <= c <= hi]) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
