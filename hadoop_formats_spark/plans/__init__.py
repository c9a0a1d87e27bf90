"""Physical-plan inspection utilities (SURVEY §4: no custom Catalyst
rules are needed — this package is for *verifying* that Catalyst did
what the 100 TB design expects: pushdown, pruning, broadcasts, partial
aggregation).  Used by tests/test_queries.py and ad-hoc tuning."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The formatted physical plan after AQE planning.  Once AQE has
    run, each adaptive node prints its "Final Plan" and then its
    "Initial Plan"; only the final one is kept, or every exchange would
    be counted twice."""
    marker = "+- == Initial Plan =="
    kept, cut = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        if cut is not None and not line[: cut + 1].strip(" :|"):
            continue  # inside the initial plan's subtree
        cut = line.find(marker) if marker in line else None
        if cut is None:
            kept.append(line)
    return "\n".join(kept)


@dataclass
class ScanInfo:
    read_columns: list[str]
    pushed_filters: bool
    line: str


def parquet_scans(df: DataFrame) -> list[ScanInfo]:
    """Every parquet FileScan in the plan with its pruned column list
    and whether any filters were pushed into the scan."""
    out = []
    for line in executed_plan(df).splitlines():
        if "FileScan parquet" not in line:
            continue
        cols: list[str] = []
        lb, rb = line.find("["), line.find("]")
        if 0 <= lb < rb:
            cols = [c.split("#")[0] for c in line[lb + 1 : rb].split(",") if c]
        out.append(
            ScanInfo(
                read_columns=cols,
                pushed_filters="PushedFilters: [" in line
                and "PushedFilters: []" not in line,
                line=line.strip(),
            )
        )
    return out


def post_execution_plan(df: DataFrame) -> str:
    """Execute the SAME DataFrame (collect — a derived ``count()`` plans
    a different query) and return the FINAL adaptive plan.  This is the
    plan that tells the truth about iterative lineages: the static plan
    is an upper bound that counts each repeated identical subtree once
    per reference, while AQE's exchange reuse collapses them at runtime
    (``ReusedExchange``) — the difference that made "fixing" the
    PageRank scan-count flag with persist() 4.5x slower (SCALE.md r12)."""
    df.collect()
    plan = executed_plan(df)
    if "isFinalPlan=false" in plan:
        # explicit raise, not assert: under ``python -O`` an assert
        # vanishes and the regression guards built on this helper would
        # silently validate a non-final plan (ADVICE r13).
        raise RuntimeError("collect() did not finalize AQE")
    return plan


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Partial (map-side) + final aggregate pair present.  Covers all
    three physical aggregates (Hash/ObjectHash/Sort — e.g. string min
    has no mutable buffer and plans as SortAggregate)."""
    plan = executed_plan(df)
    return "partial_" in plan or plan.count("HashAggregate") >= 2


def shuffle_count(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges in the plan — the metric to
    minimize.  Counts only data shuffles (hash / range / round-robin /
    single-partition): ``BroadcastExchange`` is deliberately excluded
    (broadcasting a dimension is the thing we *want* instead of a
    shuffle), as is ``ReusedExchange`` (a reuse is the absence of a new
    shuffle).  The round-4 fix: the old substring count inflated q5's
    broadcast-dim join tree to "14 exchanges" when it has 5 broadcasts
    and 2 data shuffles."""
    import re

    return len(
        re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|"
            r"RoundRobinPartitioning|SinglePartition)",
            executed_plan(df),
        )
    )


def broadcast_count(df: DataFrame) -> int:
    """Number of BroadcastExchange nodes (dimension-sized data shipped
    to every executor instead of shuffling the fact side)."""
    return executed_plan(df).count("BroadcastExchange ")
