"""Registry-wide physical-plan audit: the scale-killer sweep, automated.

Walks every registered query, builds its plan at the given SF, and flags
the patterns that break at 100 TB:

- ``Exchange SinglePartition`` feeding a data-sized operator (global
  windows/sorts that funnel the table through one task);
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` on data tables;
- ``BatchEvalPython`` (row-at-a-time Python UDFs — the slow path; Arrow
  ``ArrowEvalPython``/``mapInPandas`` stages are fine and NOT flagged).

Known-benign single-partition shapes are allow-listed with the reason
(metadata-grain inputs: block totals, ≤10 decile rows, bounded spines).
Exit code 1 if an un-allow-listed hit appears — wire into CI or run
before each snapshot:

    python scripts/plan_audit.py [--sf /root/testdata/sf0.001] [name ...]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Queries where a SinglePartition exchange is metadata-grain by
# construction — the reason is the contract; revisit if inputs grow.
SINGLE_PARTITION_OK = {
    # ≤10 decile rows feed the cumulative-share window
    "orders_pareto_deciles": "window over 10 decile rows (exact_ntile output)",
    # global sort of a ≤k-row top-k result for presentation
    "text_bm25_topk": "TakeOrderedAndProject emits k rows; final sort is k-row",
    # per-partition offsets: one row per partition (metadata)
    "pipeline_export_shards": "shard offsets: one row per partition",
    "pipeline_token_budget": "block totals: one row per block (64x reduction)",
    "pipeline_weighted_resample": "block totals: one row per block",
    "pipeline_sequence_packing": "block-offset fold: two-long rows, one per "
    "64-doc block (documented packed_bins design)",
    "orders_backlog_series": "running sum over O(days) day-grain rows",
    "pipeline_dataset_card": "share window over |sources|x|langs| cells",
    "pipeline_mixture_weights": "share window over |sources| rows",
}

# Streaming / fixture-building queries run side effects on invocation; the
# audit still builds their final DataFrame but notes the class.
SKIP = {
    # fixture-driving queries mutate temp tables when invoked twice in one
    # session; their plan shapes are pinned in tests/test_plans.py instead
}


def _bad_single_partitions(plan: str) -> int:
    """Count ``Exchange SinglePartition`` nodes whose CONSUMER is a Sort or
    Window — the data-funnel shape that serializes the table through one
    task. The final stage of a global aggregate (HashAggregate above a
    SinglePartition exchange of map-side partials) is the normal pattern
    and scale-safe: the single task sees pre-aggregated partials, not rows.
    CollectLimit / TakeOrderedAndProject tops are k-row-bounded."""
    lines = plan.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        depth = len(line) - len(line.lstrip(" +-:*("))
        for j in range(i - 1, -1, -1):
            pdepth = len(lines[j]) - len(lines[j].lstrip(" +-:*("))
            if pdepth < depth and lines[j].strip():
                parent = lines[j]
                if re.search(r"\b(Sort|Window|WindowGroupLimit)\b", parent):
                    bad += 1
                break
    return bad


def _bad_nested_loops(plan: str) -> int:
    """Count BroadcastNestedLoopJoin nodes whose broadcast side is NOT a
    global aggregate. A single-row aggregate broadcast (scalar subquery,
    min/max bounds frame, grand total) is the standard bounded pattern —
    the loop body runs once per probe row against one broadcast row."""
    lines = plan.splitlines()
    bad = 0
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        depth = len(line) - len(line.lstrip(" +-:*("))
        # scan the join's subtree (deeper lines until depth returns) for a
        # broadcast exchange whose child is a final HashAggregate with an
        # empty grouping (single row): printed as HashAggregate(keys=[], ...)
        bounded = False
        for j in range(i + 1, len(lines)):
            jdepth = len(lines[j]) - len(lines[j].lstrip(" +-:*("))
            if lines[j].strip() and jdepth <= depth:
                break
            if "HashAggregate(keys=[]" in lines[j] or re.search(
                r"Range \(0, 1,", lines[j]
            ):
                bounded = True
                break
        if not bounded:
            bad += 1
    return bad


# BroadcastNestedLoopJoin sites where the broadcast side is bounded by
# construction — the reason is the contract; revisit if inputs grow.
NESTED_LOOP_OK = {
    "ann_pq_topk": "bounded query set broadcast (PQ scan)",
    "ann_pq_filtered_topk": "bounded query set broadcast (PQ scan over the "
    "metadata-pre-filtered encoded corpus)",
    "dedup_threshold_sweep": "bounded threshold grid x cluster stats",
    "embedding_centroid_confusion": "centroid x centroid grid (<=65k rows)",
    "dormant_customers_q22": "TPC-H scalar subquery (single-row aggregate)",
    "nation_revenue_share_q11": "TPC-H scalar subquery (single-row aggregate)",
    "analyze_table_profile": "single-row global stats joined to per-column "
    "profile rows",
    "dq_referential_check": "single-row count aggregates unioned",
    "sketch_kmv_overlap": "|event_types|^2 pair grid (bounded label space)",
}


def audit(names: list[str] | None, sf_dir: str) -> int:
    from horaedb_spark.core.session import get_spark
    from horaedb_spark.queries.registry import queries_map

    spark = get_spark()
    qs = queries_map()
    targets = names or sorted(qs)
    failures = 0
    flagged: list[str] = []
    for name in targets:
        if name in SKIP:
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must keep walking
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:120]}")
            failures += 1
            continue
        hits = []
        n_bad_single = _bad_single_partitions(plan)
        if n_bad_single and name not in SINGLE_PARTITION_OK:
            hits.append(f"SinglePartition->Sort/Window x{n_bad_single}")
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            hits.append("BatchEvalPython(row-at-a-time UDF)")
        bnl = _bad_nested_loops(plan)
        if bnl and name not in NESTED_LOOP_OK:
            hits.append(f"BroadcastNestedLoopJoin x{bnl}")
        if hits:
            flagged.append(name)
            print(f"FLAG {name}: {', '.join(hits)}")
        else:
            ok_note = (
                f" (allow-listed: {SINGLE_PARTITION_OK[name]})"
                if n_bad_single and name in SINGLE_PARTITION_OK
                else ""
            )
            print(f"ok   {name}{ok_note}")
    print(
        f"\n{len(targets) - len(flagged) - failures}/{len(targets)} clean, "
        f"{len(flagged)} flagged, {failures} errors"
    )
    return 1 if (flagged or failures) else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sys.exit(audit(args.names or None, args.sf))
