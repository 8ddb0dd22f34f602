"""User-facing plan & footprint introspection — the engine's observability
surface, mirroring the reference's only observability ops (PrintMemUsage,
hnsw.cc:370-433, and the SizeTest footprint phases, hnsw.cc:435-483) in
Spark terms: what did this query's physical plan do (shuffles, joins,
pushdown, codegen), and what do the cached index artifacts occupy.

``plan_summary`` is the single source of truth for plan facts —
tools/gen_plans.py renders PLANS.md from it, and tests assert against it,
so the evidence file and the library can never diverge.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def _read_schemas(plan: str) -> list[str]:
    """Extract every ``ReadSchema: struct<...>`` body with a bracket-depth
    scan — the naive ``struct<([^>]*)>`` regex stops at the first ``>`` of a
    nested generic (``struct<a:struct<x:int>>``, ``array<int>``) and emits
    phantom column names."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<", plan):
        # The schema body always lives on ONE explain line — scope the
        # bracket scan to it, else a schema truncated by
        # spark.sql.maxMetadataStringLength (the same clipping PLANS.md
        # shows on long PushedFilters) never closes its '>' and the scan
        # would swallow later plan lines — or worse, a stray '>' in a
        # later Filter would close it spuriously (r7 ADVICE).
        eol = plan.find("\n", m.end())
        line = plan[m.end():eol if eol != -1 else len(plan)]
        depth, i = 1, 0
        while i < len(line) and depth:
            if line[i] == "<":
                depth += 1
            elif line[i] == ">":
                depth -= 1
            i += 1
        if depth:
            # truncated: drop the '...' marker and keep only the complete
            # top-level fields before the cut. _top_level_columns ignores
            # an unterminated nested tail by construction (no depth-0
            # comma ever closes it).
            body = line.rstrip(". ")
            body = body[:max(body.rfind(","), 0)]
            if body:
                out.append(body)
            continue
        out.append(line[:i - 1])
    return out


def _top_level_columns(schema: str) -> list[str]:
    """Names before the top-level ``:`` of each top-level comma-separated
    field (nested commas/colons inside <...> are part of the type)."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            field = schema[start:i]
            if field.strip():
                cols.append(field.split(":")[0].strip())
            start = i + 1
    return cols


def plan_summary(df: DataFrame) -> dict:
    """Load-bearing facts of the EXECUTED physical plan (AQE-final when
    available): exchange counts, join strategies, top-k operator, codegen
    spans, Python stages, bucket pruning, pushed filters, read schemas."""
    return summarize_plan(df._jdf.queryExecution().executedPlan().toString())


def summarize_plan(plan: str) -> dict:
    """:func:`plan_summary`'s facts of a physical plan's tree string."""
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
              if p.strip()]
    schemas = _read_schemas(plan)
    sel = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    return {
        "shuffle_exchanges": len(re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            plan)),
        "broadcast_exchanges": len(re.findall(r"BroadcastExchange", plan)),
        "join_strategies": sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)", plan))),
        "take_ordered_topk": "TakeOrderedAndProject" in plan,
        "grouping_sets_expand": "Expand" in plan,
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_stages": bool(re.search(r"Python|InPandas", plan)),
        "bucket_pruning": (f"{sel.group(1)}/{sel.group(2)}" if sel else None),
        "partition_filters": sorted(
            {p.strip() for p in
             re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
             if p.strip()}),
        "pushed_filters": sorted(set(pushed)),
        "columns_read": sorted({c for sch in schemas
                                for c in _top_level_columns(sch)}),
    }


def cache_footprint(spark: SparkSession) -> dict:
    """Bytes held by materialized cache blocks across the JVM, per RDD —
    the in-memory half of SizeTest's phase-by-phase printout (bench.py
    records the same number as index_mem_bytes_* deltas per build)."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    per = {info.name(): int(info.memSize()) for info in infos}
    return {"total_bytes": sum(per.values()), "per_rdd": per}
