#!/usr/bin/env python3
"""The engine's benchmark: closed-loop workloads with one client, driven
only through the engine's public entry points, end-to-end metrics from an
untraced run and per-layer counters from a traced one.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. It prints one JSON run record (inputs,
versions, setups, every op with its latency and check) and, as the last
stdout line, the result object ``{"correct", "attempted", "failed",
"metrics"}``. Workloads and metrics are explained in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".bench_build" / "perfbench"
PKG = "ut_data_engineering_group_project_2022_spark"

#: query_mix reads one fixed sf0.1-shaped dataset; its seed orders the ops.
QUERY_MIX_DATA_SEED = 20_260_101
#: Sessions started per run; setup_s is their median.
SETUPS = 3
#: etl_incremental: the BI reads that follow every micro-batch.
ETL_READS = (
    "star_q01_authors_by_papers_in_domain",
    "star_q03_authors_by_hindex",
    "star_q06_affiliations_by_papers",
)
#: scale_paths (run by hand only, see README): rows whose distributed plans
#: the 2x inputs reach by size, plus CC, which stays on its kernel.
SCALE_OPS = (
    "graph_louvain",
    "graph_pagerank",
    "graph_connected_components",
    "llm_minhash_lsh",
)

END_TO_END = ("setup_s", "pass_s", "op_p50_s", "read_p50_s")

# Layers the runner calls into, and which of their counters BENCHMARK.json
# lists (the run record carries every counter of every layer).
LAYERS = (
    "sources", "operators.transforms", "operators.star",
    "plans.star_queries", "plans.bi_queries", "plans.tpch_queries",
    "plans.graph_queries", "plans.llm_ops", "plans.metric_queries",
    "plans.operator_queries",
)
COUNTS = ("jobs", "tasks", "input_rows", "shuffle_bytes", "python_bytes")
TIMES = ("wall_s", "driver_s", "executor_s")
ETL_BATCH_COUNTS = ("jobs", "tasks", "partitions")


def per_layer_names(n_batches: int) -> list[str]:
    """Per-layer metric names, in BENCHMARK.json order. Times are listed
    only for the layers both listed workloads call (a layer a workload
    never calls reads 0 there); counts for every layer."""
    names = ["session.start_s", "session.python_start_s", "session.peak_rss_mb"]
    for layer in LAYERS:
        times = {"operators.star": TIMES,
                 "plans.star_queries": TIMES + ("build_s", "exec_s")}.get(layer, ())
        kernel = ("kernel_ops",) if layer.startswith("plans.") or layer == "operators.star" else ()
        names += [f"{layer}.{m}" for m in times + COUNTS + kernel]
    for b in range(n_batches):
        names += [f"operators.star.batch{b}.{m}" for m in ETL_BATCH_COUNTS]
    names += ["trace.overhead_s", "trace.pass_s"]
    return names


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _source_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _layer_of(spec) -> str:
    """Engine module that defines a registry builder (``plans.<module>``)."""
    for cell in spec.spark.__closure__ or ():
        if callable(cell.cell_contents):
            return cell.cell_contents.__module__.removeprefix(PKG + ".")
    raise ValueError(f"cannot find the builder of {spec.name}")


def _sql_body(spec) -> str:
    """The SELECT a ``star_q*`` builder runs: its DuckDB oracle is the
    loader replay CTE chain followed by exactly that statement."""
    body = spec.oracle.rsplit("\n)\n", 1)[1]
    if not body.lstrip().startswith("SELECT"):
        raise ValueError(f"unexpected oracle layout for {spec.name}")
    return body


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Run:
    """One benchmark invocation: sessions, the op loop and its tallies."""

    def __init__(self, args):
        from ut_data_engineering_group_project_2022_spark.plans import all_queries

        self.args = args
        self.specs = all_queries()
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.stopped = []  # stopped contexts stay referenced: caches key on id()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setups: list[dict] = []
        self.check_s = 0.0  # untimed correctness checks between ops

    # -- sessions -----------------------------------------------------------
    def start_session(self, bootstrap_dir: str | None, final: bool) -> None:
        from ut_data_engineering_group_project_2022_spark.plans.registry import (
            ensure_worker_imports,
        )
        from ut_data_engineering_group_project_2022_spark.session import get_spark
        from tracing import Tracer

        if self.spark is not None:
            self.stopped.append(self.spark.sparkContext)
            self.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ensure_worker_imports(spark)
        spark.range(1_000).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        t2 = time.perf_counter()
        self.spark = spark
        tracer = Tracer(spark, enabled=final and self.args.trace == 1)
        if bootstrap_dir is not None:
            # The star_q* builders load the bootstrap warehouse once per
            # session (eagerly, inside the builder); building one query
            # without running it is that load.
            spec = self.specs["star_q05_papers_by_citations"]
            tracer.call("operators.star", "bootstrap_load",
                        lambda: spec.spark(spark, bootstrap_dir))
        t3 = time.perf_counter()
        self.setups.append({"setup_s": t3 - t0, "start_s": t1 - t0,
                            "python_start_s": t2 - t1})
        if final:
            self.tracer = tracer

    def setup(self, bootstrap_dir: str | None) -> None:
        for i in range(SETUPS):
            self.start_session(bootstrap_dir, final=i == SETUPS - 1)

    def stop(self) -> None:
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- ops ----------------------------------------------------------------
    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why}")
        print(f"[perfbench] FAILED {op}: {why}", file=sys.stderr)

    def timed(self, layer: str, name: str, build, execute=None):
        """One attempted op; returns its value and record, or (None, None)."""
        self.attempted += 1
        try:
            return self.tracer.call(layer, name, build, execute)
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            self.fail(name, repr(e)[:500])
            return None, None


def _digest_failure(run: Run, name: str, table, want: dict) -> None:
    from check import digest, mismatch

    t = time.perf_counter()
    why = mismatch(digest(table), want)
    run.check_s += time.perf_counter() - t
    if why:
        run.fail(name, why)


# -- workloads ----------------------------------------------------------------


def registry_loop(run: Run, sf_dir: str, ops: list[str], seed: int,
                  seconds: float, bootstrap: bool):
    """query_mix / scale_paths: set up, then passes over ``ops`` in a
    seed-shuffled order until ``seconds`` have been measured (at least one
    pass). Each op builds its plan and collects the result as Arrow; the
    result's digest is then compared with the DuckDB oracle's."""
    from check import OracleCache

    oracle = OracleCache(sf_dir)
    # Oracle digests are computed before any timing (cached per dataset).
    t = time.perf_counter()
    want = {n: oracle.expected(n, run.specs[n].oracle) for n in ops}
    oracle.close()
    run.check_s += time.perf_counter() - t
    run.setup(sf_dir if bootstrap else None)
    layer = {n: _layer_of(run.specs[n]) for n in ops}
    rng = random.Random(seed)
    passes, op_s, read_s = [], [], []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        order = list(ops)
        rng.shuffle(order)
        total = 0.0
        for name in order:
            spec = run.specs[name]
            table, rec = run.timed(
                layer[name], name,
                lambda spec=spec: spec.spark(run.spark, sf_dir),
                lambda df: df.toArrow(),
            )
            if rec is None:
                continue
            _digest_failure(run, name, table, want[name])
            total += rec["wall_s"]
            op_s.append(rec["wall_s"])
            if name.startswith("star_q"):
                read_s.append(rec["wall_s"])
        passes.append(total)
    return passes, op_s, read_s


def _etl_expectations(etl_dir: str, n_batches: int):
    """Per batch: (distinct papers loaded so far, author-bridge rows so far)
    computed from the generated records, not from the engine."""
    seen, pairs, out = set(), 0, []
    for b in range(n_batches):
        with open(os.path.join(etl_dir, f"batch{b}", "part-0.json")) as f:
            for line in f:
                r = json.loads(line)
                if len(r["title"] or "") > 1000 or r["id"] in seen:
                    continue
                seen.add(r["id"])
                pairs += len({a["full_name"] for a in r["authors_merged"]})
        out.append((len(seen), pairs))
    return out


def _hg_mismatches(state) -> int:
    """Authors whose stored h/g-index differs from a recomputation with
    ``functions.metrics`` over the final state."""
    from pyspark.sql import functions as F

    from ut_data_engineering_group_project_2022_spark.functions.metrics import (
        gindex_agg,
        hindex_agg,
    )

    cites = state.bridge_author_group.join(
        state.paper_fact.select("author_group_key", "citation_count"),
        "author_group_key",
    ).select("author_key", "citation_count")
    joined = (
        state.dim_author.join(hindex_agg(cites, "author_key", "citation_count"),
                              "author_key", "left")
        .join(gindex_agg(cites, "author_key", "citation_count"), "author_key", "left")
    )
    return joined.filter(
        ~F.col("h_index").eqNullSafe(F.col("hindex"))
        | ~F.col("g_index").eqNullSafe(F.col("gindex"))
    ).count()


def etl_loop(run: Run, etl_dir: str, n_batches: int, seconds: float, record: dict):
    """etl_incremental: passes from an empty warehouse through the bootstrap
    batch and the incremental micro-batches, each load followed by the BI
    reads; the state invariants and the reads' oracle digests are checked
    after every batch, outside the timed calls."""
    import duckdb
    from check import digest, state_invariants

    from ut_data_engineering_group_project_2022_spark.operators import star
    from ut_data_engineering_group_project_2022_spark.operators.transforms import (
        prepare_for_staging,
        reject_overlong_titles,
    )
    from ut_data_engineering_group_project_2022_spark.schemas import ENRICHED_RECORD
    from ut_data_engineering_group_project_2022_spark.sources.connectors import read_json

    expect = _etl_expectations(etl_dir, n_batches)
    bodies = {n: _sql_body(run.specs[n]) for n in ETL_READS}
    tables = [f.name for f in dataclasses.fields(star.StarState)]
    run.setup(None)
    spark = run.spark

    def staging(df):
        accepted, _rejected = reject_overlong_titles(df)
        return prepare_for_staging(accepted)

    passes, op_s, read_s, batches = [], [], [], []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        total = 0.0
        state = None
        for b in range(n_batches):
            path = os.path.join(etl_dir, f"batch{b}")
            df, r1 = run.tracer.call("sources", f"read_json[{b}]",
                                     lambda: read_json(spark, path, ENRICHED_RECORD))
            staged, r2 = run.tracer.call("operators.transforms", f"staging[{b}]",
                                         lambda: staging(df))
            prev = state
            state, r3 = run.timed("operators.star", f"load_batch[{b}]", lambda: star.load_batch(
                prev if prev is not None else star.empty_star(spark), *staged))
            if state is None:
                break
            load_s = r1["wall_s"] + r2["wall_s"] + r3["wall_s"]
            total += load_s
            op_s.append(load_s)
            info = {"batch": b, "load_s": load_s}
            if run.tracer.enabled:
                info.update(jobs=r3["jobs"], tasks=r3["tasks"], partitions=sum(
                    getattr(state, t).rdd.getNumPartitions() for t in tables))
            for t in tables:
                getattr(state, t).createOrReplaceTempView(f"star_{t}")
            results = {}
            for name, body in bodies.items():
                res, rec = run.timed("plans.star_queries", name,
                                     lambda body=body: spark.sql(body),
                                     lambda d: d.toArrow())
                if rec is not None:
                    results[name] = res
                    total += rec["wall_s"]
                    read_s.append(rec["wall_s"])
            # Untimed checks over the state collected into DuckDB.
            t_check = time.perf_counter()
            con = duckdb.connect()
            for t in tables:
                arrow = getattr(state, t).toArrow()
                con.register(t, arrow)
                con.register(f"star_{t}", arrow)
            bad = state_invariants(con, *expect[b])
            if bad:
                run.fail(f"load_batch[{b}]", "; ".join(bad))
            for name, res in results.items():
                _digest_failure(run, name, res, digest(con.sql(bodies[name]).arrow()))
            con.close()
            run.check_s += time.perf_counter() - t_check
            info["read_s"] = read_s[-len(results):] if results else []
            batches.append(info)
        if state is not None:
            t_check = time.perf_counter()
            bad_hg = _hg_mismatches(state)
            run.check_s += time.perf_counter() - t_check
            if bad_hg:
                run.fail(f"load_batch[{n_batches - 1}]",
                         f"{bad_hg} authors' h/g-index differ from functions.metrics")
        passes.append(total)
    record["batches"] = batches
    return passes, op_s, read_s


def _check_scale_gates(sf_dir: str) -> dict:
    """Prove from parquet footers, against the gate constants as the engine
    has them now, that scale_paths' gated rows exceed their ceilings."""
    import pyarrow.parquet as pq

    from ut_data_engineering_group_project_2022_spark.operators import dedup, graph

    n_li = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    n_docs = pq.ParquetFile(os.path.join(sf_dir, "documents.parquet")).metadata.num_rows
    gates = {
        "graph_louvain": (2 * n_li, graph.LOCAL_MOVE_EDGES),
        "graph_pagerank": (2 * n_li, graph.LOCAL_MOVE_EDGES),
        "llm_minhash_lsh": (n_docs, dedup.LOCAL_DEDUP_DOCS),
    }
    for name, (size, ceiling) in gates.items():
        if size <= ceiling:
            raise RuntimeError(f"{name}: input {size} does not exceed its gate {ceiling}")
    return {n: {"size": s, "ceiling": c} for n, (s, c) in gates.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "etl_incremental", "scale_paths"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    sys.path.insert(0, str(ROOT))
    # Everything Spark and Python write (shuffle files, package zips,
    # temporary files) stays inside the checkout.
    tmp = CACHE / f"tmp-{os.getpid()}"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    )

    run = None
    try:
        import gen  # noqa: I001 — perfbench's own modules

        import duckdb
        import numpy
        import pyarrow
        import pyspark

        run = Run(args)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": _commit(), "source_sha256": _source_sha256(),
            "nproc": run.cpus, "python": platform.python_version(),
            "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                         "numpy": numpy.__version__, "duckdb": duckdb.__version__},
        }
        t_gen = time.perf_counter()
        if args.workload == "etl_incremental":
            data_dir, stats = gen.ensure_dataset(str(CACHE), "etl", args.seed)
        elif args.workload == "scale_paths":
            data_dir, stats = gen.ensure_dataset(str(CACHE), "scale", args.seed)
            record["gates"] = _check_scale_gates(data_dir)
        else:
            data_dir, stats = gen.ensure_dataset(str(CACHE), "base", QUERY_MIX_DATA_SEED)
        record["inputs"] = stats
        record["input_s"] = time.perf_counter() - t_gen

        if args.workload == "etl_incremental":
            passes, op_s, read_s = etl_loop(run, data_dir, gen.ETL_BATCHES,
                                            args.seconds, record)
        else:
            ops = (
                list(SCALE_OPS) if args.workload == "scale_paths" else sorted(
                    n for n, s in run.specs.items() if s.bench or n.startswith("star_q"))
            )
            passes, op_s, read_s = registry_loop(
                run, data_dir, ops, args.seed, args.seconds,
                bootstrap=args.workload == "query_mix")
        rss = _jvm_peak_rss_mb(run.spark)
        tracer = run.tracer
        metrics_e2e = {
            "setup_s": _median([s["setup_s"] for s in run.setups]),
            "pass_s": _median(passes),
            "op_p50_s": _median(op_s),
            "read_p50_s": _median(read_s),
        }
        layers = tracer.layer_metrics(LAYERS) if tracer.enabled else {}
        record.update(
            setups=run.setups, passes=passes, end_to_end=metrics_e2e,
            ops=tracer.ops, layers=layers, failures=run.failures, check_s=run.check_s,
            peak_rss_mb=rss,
            failed_ratio=run.failed / max(run.attempted, 1),
        )
        if args.trace == 1:
            layers["session.start_s"] = _median([s["start_s"] for s in run.setups])
            layers["session.python_start_s"] = _median(
                [s["python_start_s"] for s in run.setups])
            layers["session.peak_rss_mb"] = rss
            for info in record.get("batches", []):
                for m in ETL_BATCH_COUNTS:
                    layers[f"operators.star.batch{info['batch']}.{m}"] = float(info[m])
            layers["trace.overhead_s"] = tracer.overhead_s
            layers["trace.pass_s"] = metrics_e2e["pass_s"]
            record["trace_overhead_s"] = tracer.overhead_s
            names = per_layer_names(gen.ETL_BATCHES)
            metrics = {n: {"value": layers.get(n, 0.0),
                           "unit": _per_layer_unit(n)} for n in names}
        else:
            metrics = {n: {"value": metrics_e2e[n], "unit": "s"} for n in END_TO_END}
        record["branches"] = {o["op"]: o["branch"] for o in tracer.ops if "branch" in o}
        run.stop()
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        print(json.dumps({"record": record}, default=str))
        print(json.dumps(result), flush=True)
        return 0
    except Exception:
        import traceback

        traceback.print_exc()
        return 1
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _per_layer_unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_bytes"):
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
