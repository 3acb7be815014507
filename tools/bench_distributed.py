#!/usr/bin/env python
"""Forced-distributed bench sidecar.

Below their size gates (``operators.fits``) the gated registry rows run
single-task kernels, so at the bench scale factors the DISTRIBUTED
(100 TB) plans are test-asserted but never *timed* — a plan regression
on the scale path would be invisible to the bench until a larger-SF
run. This tool re-times exactly those rows with EVERY kernel gate
forced to -1, so no input fits, not even an empty one (the distributed
branch of the same registered builder), and records each row's
initial-plan exchange counts so plan-shape regressions are diffable
against the committed record.

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

import importlib
import json
import os
import pkgutil
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: Every registry row whose build reaches a kernel size gate at sf0.001
#: (found by spying on ``operators.fits`` over all registry rows).
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
    "llm_neardup_clusters",
    "llm_soft_dedup",
    "star_q01_authors_by_papers_in_domain",
)


def gate_constants() -> list[tuple[object, str]]:
    """``(module, name)`` of every ``LOCAL_*`` int ceiling in the
    operator modules — the values the kernel gates pass to ``fits``."""
    from ut_data_engineering_group_project_2022_spark import operators

    found = []
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for attr, val in vars(mod).items():
            if attr.startswith("LOCAL_") and type(val) is int:
                found.append((mod, attr))
    return found


def disable_kernels():
    """Force every size gate to -1 so each builder takes its distributed
    branch; returns the original values for restoration. The star
    queries' loaded-state cache is swapped for an empty one too, so a
    star row loads its warehouse through the distributed loader instead
    of reusing a kernel-built state."""
    from ut_data_engineering_group_project_2022_spark.plans import star_queries

    saved = [(star_queries, "_STATE_CACHE", star_queries._STATE_CACHE)]
    star_queries._STATE_CACHE = {}
    for mod, attr in gate_constants():
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, -1)
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
            # bench's star_load region (gates are already -1)
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
