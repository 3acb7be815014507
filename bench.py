#!/usr/bin/env python
"""Benchmark harness: runs the bench-flagged headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "headline_suite_wall_seconds", "value": <total sec>,
   "unit": "sec", "queries": {"<name>": sec, ...}, "cold_total": ...,
   "star_load_seconds": ..., "noise_probe_seconds": ...,
   "job_latency_ms_start": ..., "r1_suite_total": ..., "sf": <sf>}

Each query is forced end-to-end with the `noop` sink (full computation,
no driver-side collect). Progress goes to stderr; stdout carries only
the JSON line. The full record, plus every raw pass per query
(`queries_runs`), lands in the untracked sidecar BENCH_local.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from ut_data_engineering_group_project_2022_spark.plans import all_queries  # noqa: E402
from ut_data_engineering_group_project_2022_spark.session import get_spark  # noqa: E402

# The headline suite's original 14 queries. `value` covers the full
# current suite, while `r1_suite_total` sums only these so totals stay
# comparable against the round-1 anchor in BASELINE.md.
R1_SUITE = {
    "bi_rank_customers_by_order_count", "bi_rank_customers_by_revenue",
    "bi_rank_parts_by_shipped_qty", "bi_rank_suppliers_by_region_revenue",
    "graph_pagerank", "llm_knn_bruteforce", "llm_minhash_lsh",
    "metric_hindex", "star_q01_authors_by_papers_in_domain",
    "tpch_q10_returned_items", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    spark = get_spark("ut-dwh-bench")
    # Keep stderr readable: dim-sized global-rank windows fire Spark's
    # single-partition WindowExec warning on every bi_* query (documented
    # as intentional at plans/bi_queries.py); only errors are informative
    # in a timed run.
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm the JVM (codegen, shuffle machinery) so the first timed query
    # doesn't absorb session startup cost.
    noop(spark.range(1_000_000).groupBy((F.col("id") % 16).alias("k")).count())

    # CPU probe: a fixed single-stage CPU-bound reference job.
    def probe() -> float:
        t0 = time.monotonic()
        noop(spark.range(50_000_000).select(F.sum(F.hash("id").cast("bigint")).alias("s")))
        return round(time.monotonic() - t0, 3)

    # Dispatch probe: a tiny 2-stage job, which reads task-dispatch
    # latency rather than CPU throughput. min-of-5 with the first rep
    # discarded: one rep is one scheduler round trip and single samples
    # swing on wakeup jitter, and the first rep on a fresh JVM also pays
    # the probe job's own codegen.
    def job_probe() -> float:
        reps = []
        for _ in range(5):
            t0 = time.monotonic()
            noop(spark.range(10_000).groupBy((F.col("id") % 8).alias("k")).count())
            reps.append(time.monotonic() - t0)
        return round(min(reps[1:]) * 1000, 1)

    # Quiet-minute gate: while either probe is over its bar, wait 25 s
    # and re-probe, bounded by $SPARK_GRAFT_QUIET_WAIT_S so a permanently
    # loud host still produces a record. The recorded probes are the
    # last minute's readings, the one the suite runs in. The CPU probe is
    # min-of-2 because a fresh JVM's first probe reads ~2-3x slow on its
    # own codegen, which is not host load.
    quiet_bar = float(os.environ.get("SPARK_GRAFT_QUIET_BAR_S", "0.70"))
    quiet_job_bar = float(os.environ.get("SPARK_GRAFT_QUIET_JOB_MS", "100"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_S", "600"))
    noise_probe = min(probe(), probe())
    job_latency_start = job_probe()
    waited = 0.0
    print(
        f"[bench] host-noise probe (fixed job): {noise_probe:.3f}s,"
        f" job latency {job_latency_start:.0f}ms",
        file=sys.stderr,
    )
    while (
        noise_probe > quiet_bar or job_latency_start > quiet_job_bar
    ) and waited < wait_budget:
        time.sleep(25)
        waited += 25
        noise_probe = min(probe(), probe())
        job_latency_start = job_probe()
        print(
            f"[bench] loud minute (cpu > {quiet_bar:.2f}s or job >"
            f" {quiet_job_bar:.0f}ms) — waited {waited:.0f}s, probe now"
            f" {noise_probe:.3f}s / {job_latency_start:.0f}ms",
            file=sys.stderr,
        )
    # Warm the Arrow Python-worker path too (fork + Arrow IPC setup is
    # ~2-3 s on first use and would otherwise land on whichever
    # mapInPandas-using query runs first in the cold pass).
    noop(spark.range(1_000).mapInPandas(lambda it: it, "id long"))

    # Pre-build the star warehouse and report its load time as its own
    # metric: star.load_batch is the session's one-time ETL shared by all
    # star_q*/bi_* queries via a state cache, so a real warehouse
    # amortizes it exactly like this, outside every query row.
    from ut_data_engineering_group_project_2022_spark.plans.star_queries import (
        _star_views,
    )

    t0 = time.monotonic()
    _star_views(spark, sf_dir)
    star_load = round(time.monotonic() - t0, 3)
    print(f"[bench] star warehouse load: {star_load:.3f}s", file=sys.stderr)

    specs = {n: s for n, s in all_queries().items() if s.bench}
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    # Two timed executions per query, min reported: the host is shared
    # and a single pass can absorb 2-3x external noise, and min-of-2 also
    # reflects warm-path behavior for stateful queries. When the two runs
    # disagree by >40% one more pass runs and the MEDIAN of 3 is reported
    # (a min-of-3 would bias exactly the noisy rows downward). Every raw
    # pass is kept as `queries_runs` in the sidecar.
    for name in sorted(specs):
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            noop(specs[name].spark(spark, sf_dir))
            runs.append(round(time.monotonic() - t0, 3))
        if max(runs) > 1.4 * min(runs):
            t0 = time.monotonic()
            noop(specs[name].spark(spark, sf_dir))
            runs.append(round(time.monotonic() - t0, 3))
        raw[name] = runs
        timings[name] = min(runs) if len(runs) == 2 else sorted(runs)[1]
        print(f"[bench] {name}: {timings[name]:.3f}s (runs: {runs})", file=sys.stderr)

    payload = {
        "metric": "headline_suite_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold_total": round(sum(r[0] for r in raw.values()), 3),
        "star_load_seconds": star_load,
        "noise_probe_seconds": noise_probe,
        "job_latency_ms_start": job_latency_start,
        "r1_suite_total": round(sum(t for n, t in timings.items() if n in R1_SUITE), 3),
        "sf": sf,
    }
    # The driver captures only the tail of stdout, so stdout carries
    # exactly ONE compact line, printed last; the raw passes go to the
    # gitignored sidecar. To record a round, copy the sidecar into
    # bench_snapshots/ and commit the copy.
    detail = dict(payload, queries_runs=raw)
    Path(_REPO, "BENCH_local.json").write_text(json.dumps(detail, indent=1) + "\n")
    spark.stop()
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
