"""Physical-plan inspection helpers shared by the plan-shape tests and
the layout benches — one implementation so the pytest pin and the
published bench numbers can never drift apart."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The text of the public `df.explain(mode="formatted")`, captured."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()[:-1]  # drop print()'s trailing newline


def n_exchanges(plan_or_df) -> int:
    """Distinct Exchange operators. Formatted mode prints each node twice
    (tree + details), so count unique node ids, not substring hits."""
    plan = (plan_or_df if isinstance(plan_or_df, str)
            else formatted_plan(plan_or_df))
    return len(set(re.findall(r"\((\d+)\) Exchange", plan)))
