#!/usr/bin/env python
"""Forced-distributed bench sidecar (r20, VERDICT r19 item 2).

The r19 optimization round size-gated ~20 bench rows behind single-task
kernels, so at the bench scale factors the DISTRIBUTED (100 TB) plans
are test-asserted but never *timed* — a plan regression on the scale
path would be invisible to BENCH/PERF until a larger-SF run. This tool
re-times exactly those rows with EVERY kernel gate forced to 0 (the
distributed branch of the same registered builder), and records each
row's initial-plan exchange counts so plan-shape regressions are
diffable against the committed record.

This is a tools-level sidecar, deliberately OUTSIDE bench.py: the
driver's one-line JSON contract and its timed regions are untouched.
Run it per round and commit the output next to the sweep:

    python tools/bench_distributed.py > bench_snapshots/r{N}_distributed_timings.json
    python tools/bench_distributed.py --counts-only --sf-dir /root/testdata/sf0.001

Methodology mirrors bench.py where it matters: same session factory
(local[$SPARK_GRAFT_CPUS]), same data dir env ($SPARK_GRAFT_SF_DIR),
same noop-sink timed action, 2 reps per row keeping the min (the warm
rep; the distributed plans at sf0.1 are dominated by job dispatch, so
rep-2 is the stable reading). `--counts-only` skips timing and emits
only the exchange counts (used by tests/test_scale_plans.py as the
committed plan-shape guard at sf0.001 — counts at other SFs can differ
legitimately via size-based join planning, so the guard pins sf0.001).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: The size-gated bench/registry rows whose distributed plans the r19/r20
#: kernels replaced below their gates (kernel inventory as of r20).
GATED_ROWS = (
    "tpch_q1_pricing_summary",
    "bi_rank_customers_by_order_count",
    "bi_rank_customers_by_revenue",
    "bi_rank_parts_by_shipped_qty",
    "bi_rank_suppliers_by_region_revenue",
    "graph_louvain",
    "graph_louvain_weighted",
    "graph_pagerank",
    "graph_connected_components",
    "llm_semdedup",
    "llm_minhash_lsh",
    "llm_incremental_dedup",
    "llm_curation_pipeline",
    "llm_cross_source_dups",
    "llm_knn_bruteforce",
    "llm_knn_pq",
    "llm_knn_pq_rerank",
    "llm_hybrid_rrf",
    "llm_coreset_kcenter",
    "llm_mmr_rerank",
    "llm_ccnet_buckets",
    "llm_span_dedup_rebuild",
    "llm_embedding_covariance",
)

#: Every size-gate constant (module attr) the kernels dispatch on.
GATE_CONSTANTS = (
    ("dedup", "LOCAL_DEDUP_DOCS"),
    ("graph", "LOCAL_MOVE_EDGES"),
    ("relational", "LOCAL_TPCH_ROWS"),
    ("similarity", "LOCAL_SEMDEDUP_ROWS"),
    ("similarity", "LOCAL_KNN_QUERIES"),
    ("similarity", "LOCAL_KNN_ROWS"),
    ("similarity", "LOCAL_KCENTER_ROWS"),
    ("star", "LOCAL_RANK_ROWS"),
    ("star", "LOCAL_STAR_ROWS"),
    ("stats", "LOCAL_MOMENT_ROWS"),
    ("textml", "LOCAL_TEXT_DOCS"),
)


def _modules():
    from ut_data_engineering_group_project_2022_spark.operators import (
        dedup,
        graph,
        relational,
        similarity,
        star,
        stats,
        textml,
    )

    return {
        "dedup": dedup,
        "graph": graph,
        "relational": relational,
        "similarity": similarity,
        "star": star,
        "stats": stats,
        "textml": textml,
    }


def disable_kernels():
    """Force every size gate to 0 so each builder takes its distributed
    branch; returns the original values for restoration."""
    mods = _modules()
    saved = []
    for mod_name, attr in GATE_CONSTANTS:
        mod = mods[mod_name]
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, 0)
    return saved


def restore_kernels(saved) -> None:
    for mod, attr, val in saved:
        setattr(mod, attr, val)


def exchange_counts(df) -> dict:
    """Shuffle/broadcast exchange counts from the INITIAL physical plan
    (no execution; AQE re-planning is not captured — the guard pins the
    planned shape, which is what the code determines)."""
    return plan_exchange_counts(df._jdf.queryExecution().executedPlan().toString())


def plan_exchange_counts(plan: str) -> dict:
    """Count exchange nodes in a plan tree string by the node name that
    heads each line. A ``ReusedExchange`` reads another exchange's
    output, so it is neither a shuffle nor a broadcast of its own; its
    line also names the exchange it reuses, which is why only the line
    head counts."""
    names = re.findall(
        r"^[\s:+\-]*(BroadcastExchange|ReusedExchange|Exchange)\b", plan, re.M
    )
    return {
        "shuffle_exchanges": names.count("Exchange"),
        "broadcast_exchanges": names.count("BroadcastExchange"),
    }


def main() -> None:
    counts_only = "--counts-only" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")

    from ut_data_engineering_group_project_2022_spark.plans import all_queries
    from ut_data_engineering_group_project_2022_spark.session import get_spark

    spark = get_spark("ut-dwh-bench-distributed")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    saved = disable_kernels()
    try:
        rows = {}
        for name in GATED_ROWS:
            spark.sparkContext.setJobDescription(f"distributed: {name}")
            df = queries[name].spark(spark, sf_dir)
            entry = exchange_counts(df)
            if not counts_only:
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    queries[name].spark(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    runs.append(round(time.perf_counter() - t0, 3))
                entry["runs"] = runs
                entry["sec"] = min(runs)
                print(f"[dist] {name}: {entry['sec']}s {runs}", file=sys.stderr)
            rows[name] = entry
        payload = {
            "mode": "forced_distributed",
            "sf": sf,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "rows": rows,
        }
        if not counts_only:
            # the star loader's distributed first batch, timed like the
            # bench's star_load region (gates are already 0)
            from ut_data_engineering_group_project_2022_spark.operators import (
                star,
            )
            from ut_data_engineering_group_project_2022_spark.plans.star_queries import (
                synthetic_staging,
            )

            spark.sparkContext.setJobDescription("distributed: star_load")
            t0 = time.perf_counter()
            star.load_batch(star.empty_star(spark), *synthetic_staging(spark, sf_dir))
            payload["star_load_seconds"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(payload, indent=1))
    finally:
        restore_kernels(saved)


if __name__ == "__main__":
    main()
