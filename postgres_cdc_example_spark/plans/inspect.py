"""Plan inspection utilities — the engine's own plan-quality assertions.

Used by tests/test_plans.py and available for ad-hoc tuning sessions:
``explain_str`` captures any explain mode as a string; the predicates below
encode the scale rules this repo holds every operator to (see README
"Designed for 100 TB").
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_exchange(df: DataFrame) -> bool:
    """True when the plan contains any shuffle or broadcast Exchange.
    Bucketed / co-partitioned plans should return False. (ReusedExchange
    markers are stripped first — reuse isn't an extra shuffle.)"""
    return "Exchange" in explain_str(df).replace("ReusedExchange", "")

