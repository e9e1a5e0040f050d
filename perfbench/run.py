"""Campaign benchmark for the blueetl_spark pipeline.

    python3 perfbench/run.py --workload campaign_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates a seeded synthetic campaign,
starts one Spark session, sets the workload up (one warm-up pass of the
whole pipeline, which also fills the cache), then runs one timed pass and
issues the pass's queries again, in order, until ``--seconds`` seconds of
queries (and at least 40) have been timed, and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
untraced and then one traced pass, without the repeated queries, and
reports the per-layer metrics of the traced one, plus the tracing
overhead: traced over untraced pass time, minus 1.  Spans are written to
``.perfbench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
# a run must end within 180 s; give up (non-zero exit, no result) before that
DEADLINE_S = 170
# p75 needs at least 10 samples beyond it
MIN_QUERIES = 40


def percentile(values: list[float], p: int) -> float:
    """Quantile by the same rule as ``statistics.quantiles`` (exclusive)."""
    return statistics.quantiles(values, n=100)[p - 1]


def pin_environment(work: Path) -> None:
    """Everything the session reads at start-up, set before the JVM starts."""
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={local}",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        # a fixed-size heap: with a growable one, peak RSS follows the
        # collector's sizing decisions more than the program
        "spark.driver.extraJavaOptions=-Xms1g",
    ]
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_CONF=";".join(conf),
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
        # every JVM, the spark-submit launcher too: temp files in the
        # checkout, no perf-data file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=":".join(dict.fromkeys(paths)),
    )
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def layer_metrics(tracer, jobs, wl, tid: str, res) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    import pyarrow.parquet as pq

    from workloads import TABLES

    c = tracer.counters
    steps = tracer.durations(tid, "cache.step.")

    def span_s(prefix: str) -> float:
        return sum(tracer.durations(tid, prefix).values())

    def rows(table: str) -> int:
        path = wl.cache / "spikes" / f"{table}.parquet"
        if not path.exists():
            return 0
        return sum(pq.read_metadata(p).num_rows for p in path.glob("part-*.parquet"))

    out = {f"cache.step_s.{t}": steps.get(f"cache.step.{t}", 0.0) for t in TABLES}
    hits, misses = c.get("cache.fetch_hits", 0), c.get("cache.fetch_misses", 0)
    udf_tables = [t for t in TABLES if t.startswith("features_udf_")]
    groups = sum(rows(t) for t in udf_tables)
    udf_s = sum(out[f"cache.step_s.{t}"] for t in udf_tables)
    groups_all = [g for g in jobs.groups if g == tid or g.startswith(tid + ".")]
    query_groups = [g for g in groups_all if g != tid]
    n_jobs, n_stages, n_tasks = jobs.totals(groups_all)
    q_jobs = jobs.totals(query_groups)[0] if query_groups else 0
    out.update({
        "cache.bytes_written": c.get("cache.bytes_written", 0),
        "cache.files_written": c.get("cache.files_written", 0),
        "cache.fetch_s": span_s("cache.fetch"),
        "cache.load_s": span_s("cache.load"),
        "cache.fetch_hits": hits,
        "cache.fetch_misses": misses,
        "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "cache.plan_invalidation_s": span_s("cache.plan_invalidation"),
        "cache.step_share": sum(steps.values()) / res.pass_s,
        "qdsl.compile_calls": c.get("qdsl.compile_calls", 0),
        "qdsl.compile_us": c.get("qdsl.compile_us", 0.0),
        "qdsl.is_subfilter_calls": c.get("qdsl.is_subfilter_calls", 0),
        "qdsl.is_subfilter_us": c.get("qdsl.is_subfilter_us", 0.0),
        "analysis.apply_filter_s": span_s("analysis.apply_filter"),
        "analysis.queries": len(res.query_s),
        "extraction.plan_s": span_s("extraction.plan."),
        "windows.materialize_s": span_s("windows.materialize"),
        "extraction.report_rows": rows("report"),
        "extraction.neurons_rows": rows("neurons"),
        "features.plan_s": span_s("features.plan."),
        "features.groups": groups,
        "features.groups_per_s": groups / udf_s if udf_s else 0.0,
        "spark.jobs": n_jobs,
        "spark.stages": n_stages,
        "spark.tasks": n_tasks,
        "spark.jobs_per_query": q_jobs / len(query_groups) if query_groups else 0.0,
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a few hundred spikes, for the harness self-test")
    args = ap.parse_args(argv)

    if not (ROOT / "blueetl_spark" / "__init__.py").is_file():
        print(f"blueetl_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    def on_term(signum, frame):
        raise SystemExit(128 + signum)  # unwinds through the session cleanup

    signal.signal(signal.SIGALRM, on_deadline)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(DEADLINE_S)
    units = {
        m["name"]: m["unit"]
        for key in ("end_to_end", "per_layer")
        for m in json.loads((ROOT / "BENCHMARK.json").read_text())[key]
    }

    work = WORK_ROOT / f"{args.workload}-s{args.seed}-{os.getpid()}"
    t_setup = time.perf_counter()
    pin_environment(work)
    import gen
    from tracing import JobCounter, Patcher, RssSampler, Tracer, dir_usage
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    scale = gen.Scale(5000, 16) if args.scale == "full" else gen.Scale(60, 4)

    spark = sampler = None
    try:
        camp = gen.generate(args.seed, scale, work / "inputs", cls.features)
        from blueetl_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t0
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()

        tracer = Tracer()
        jobs = JobCounter(spark.sparkContext)
        patcher = Patcher(tracer)
        wl = cls(spark, camp, work)
        setup_res = wl.setup()
        setup_s = time.perf_counter() - t_setup

        attempted, failed = 1, int(bool(setup_res.errors))
        errors = list(setup_res.errors)
        plain_s, traced_s, query_s, layers = [], [], [], []
        sampler.reset()
        for i in range(1 + args.trace):
            traced = i == 1
            tid = f"pass{i}"
            if traced:
                tracer.begin(tid)
                patcher.install()
                wl.jobs = jobs
            try:
                res = wl.run_pass(tid)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                errors.append(f"{tid}: exception")
                continue
            finally:
                patcher.uninstall()
                wl.jobs = None
            attempted += 1 + len(res.query_s)
            failed += res.queries_failed
            errors.extend(res.errors)
            query_s.extend(res.query_s)
            if traced:
                traced_s.append(res.pass_s)
                layers.append(layer_metrics(tracer, jobs, wl, tid, res))
            else:
                plain_s.append(res.pass_s)
        # untraced: the pass's queries again, in order, until the run has
        # timed --seconds of queries (and enough for the percentiles)
        while not args.trace and plain_s and wl.reads and (
            sum(query_s) < args.seconds or len(query_s) < MIN_QUERIES
        ):
            res = wl.replay()
            attempted += 1
            failed += res.queries_failed
            errors.extend(res.errors)
            query_s.extend(res.query_s)
        peak_rss_mb = sampler.peak_mb
        cache_bytes = dir_usage(wl.cache)[0]

        for e in errors[:20]:
            print(f"[perfbench] error: {e}", file=sys.stderr)
        if not plain_s or len(query_s) < 2:
            raise RuntimeError("no pass completed")
        print(
            f"[perfbench] {args.workload} seed={args.seed}: {len(plain_s)} untraced + "
            f"{len(traced_s)} traced passes, {len(query_s)} queries, "
            f"{camp.n_events} input events, setup {setup_s:.2f} s, passes "
            f"{' '.join(f'{p:.2f}' for p in plain_s)} s",
            file=sys.stderr,
        )
        if args.trace:
            metrics = {
                k: statistics.median(m[k] for m in layers) for k in layers[0]
            }
            metrics["session.start_s"] = session_start_s
            metrics["trace.overhead_frac"] = (
                statistics.median(traced_s) / statistics.median(plain_s) - 1.0
            )
            tracer.dump(WORK_ROOT / f"trace-{args.workload}-s{args.seed}.json")
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(plain_s),
                "query_p50_ms": statistics.median(query_s) * 1000.0,
                "query_p75_ms": percentile(query_s, 75) * 1000.0,
                "ok_frac": 1.0 - failed / attempted,
                "cache_bytes_per_event": cache_bytes / camp.n_events,
                "peak_rss_mb": peak_rss_mb,
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
            },
        }
    finally:
        signal.alarm(0)
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
