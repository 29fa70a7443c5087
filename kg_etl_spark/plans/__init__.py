"""Plan inspection helpers: assert pushdown/pruning/broadcast actually
happened — the at-scale discipline SURVEY §4 calls for."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def codegen_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    return buf.getvalue()


def has_whole_stage_codegen(df: DataFrame) -> bool:
    out = codegen_plan(df)
    return "WholeStageCodegen subtrees" in out and "Found 0" not in out.split("\n")[1]


def has_pushed_filters(df: DataFrame) -> bool:
    return "PushedFilters: [" in physical_plan(df) and "PushedFilters: []" not in physical_plan(df)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)
