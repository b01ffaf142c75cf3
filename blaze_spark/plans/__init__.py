"""Plan inspection & scale hygiene helpers.

The reference's optimizer (blaze/expr/optimize.py — lean projection,
broadcast fusion) is subsumed by Catalyst (SURVEY.md §4.1); what remains
useful at 100 TB is *verifying* the physical plan is the one you want:
filters reaching the scan, projections pruned, small sides broadcast,
codegen spans wide.  These helpers make those assertions testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core import Table


def _df(t) -> DataFrame:
    return t.df if isinstance(t, Table) else t


def physical_plan(t) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _df(t).explain("formatted")
    return buf.getvalue()


def pushed_filters(t) -> str:
    """Substring of the formatted plan showing scan-level pushdown."""
    plan = physical_plan(t)
    return "\n".join(l for l in plan.splitlines()
                     if "PushedFilters" in l or "ReadSchema" in l)


def has_pushed_filter(t, fragment: str) -> bool:
    return fragment in pushed_filters(t)


def scan_columns(t) -> list[str]:
    """Columns actually read from the source (column-pruning check)."""
    import re
    plan = physical_plan(t)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            if ":" in part:
                cols.add(part.split(":")[0].strip())
    return sorted(cols)


def uses_broadcast_join(t) -> bool:
    return "BroadcastHashJoin" in physical_plan(t)


def codegen_stage_count(t) -> int:
    """Number of distinct whole-stage-codegen spans in the physical plan."""
    import re

    plan = physical_plan(t)
    ids = set(re.findall(r"\[codegen id : (\d+)\]", plan))
    return len(ids)


def exchange_count(t) -> int:
    """Number of shuffle (hash-partitioning) Exchanges in the plan —
    broadcast exchanges excluded.  The first scale question for any
    operator: how many times does the data cross the network?"""
    return physical_plan(t).count("Arguments: hashpartitioning")


def python_eval_count(t) -> int:
    """Number of Python evaluation nodes in the plan (ArrowEvalPython,
    BatchEvalPython, MapInPandas/MapInArrow, FlatMapGroupsInPandas, ...).
    Each one costs a Python worker session per partition it runs on —
    a fixed startup cost whatever the row count — and chained nodes in
    one stage run concurrently, multiplying live workers."""
    import re

    ids = {i for i, name in re.findall(r"^\((\d+)\) (\w+)",
                                       physical_plan(t), re.M)
           if any(k in name for k in ("Python", "InPandas", "InArrow"))}
    return len(ids)
