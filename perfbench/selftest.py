"""Tiny-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. The oracle accepts exact answers and rejects corrupted ones (no Spark).
2. Each workload, untraced and traced, at tiny scale: the last stdout line
   is a result that names every metric of ``BENCHMARK.json`` with its unit,
   and the run is correct.
3. A run whose report extraction silently drops spikes is reported as not
   correct, with failures counted.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


def oracle_checks() -> None:
    import pandas as pd

    import gen

    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        camp = gen.generate(7, gen.Scale(60, 4), Path(tmp), [])
    limit = camp.scale.class_limit
    neurons = pd.DataFrame(
        [(cid, cls, gid)
         for (cid, cls), pool in gen.class_members(camp).items()
         for gid in pool[:limit]],
        columns=["circuit_id", "neuron_class", "gid"],
    )
    check(gen.check_neurons(camp, neurons) == [], "oracle accepts a valid neuron selection")
    check(gen.check_neurons(camp, neurons.iloc[1:]) != [], "oracle rejects a missing neuron")
    wrong = neurons.copy()
    wrong.loc[0, "gid"] = neurons.gid.max() + 10_000
    check(gen.check_neurons(camp, wrong) != [], "oracle rejects a gid outside its class")

    exp = gen.expected_report_counts(camp, neurons)
    check(gen.compare_counts(exp, exp.copy(), "report") == [], "oracle accepts exact counts")
    bad = exp.copy()
    bad.loc[bad.index[0], "n"] += 1
    check(gen.compare_counts(exp, bad, "report") != [], "oracle rejects a changed count")
    check(gen.compare_counts(exp, exp.iloc[1:], "report") != [], "oracle rejects a dropped group")

    sizes = neurons.groupby(["circuit_id", "neuron_class"]).size()
    spikes = exp.groupby(["simulation_id", "window", "neuron_class"]).n.sum().reset_index()
    spikes["circuit_id"] = spikes.simulation_id % 2
    trials = spikes.window.map(lambda w: gen.WINDOW_SHAPE[w][0])
    size = [sizes[(c, k)] for c, k in zip(spikes.circuit_id, spikes.neuron_class)]
    spikes["mean_of_mean_spike_counts"] = spikes.n / (trials * size)
    check(gen.check_by_neuron_class(exp, neurons, spikes) == [],
          "oracle accepts exact by_neuron_class means")
    spikes.loc[0, "mean_of_mean_spike_counts"] *= 1.001
    check(gen.check_by_neuron_class(exp, neurons, spikes) != [],
          "oracle rejects a changed by_neuron_class mean")

    duration = spikes.window.map(lambda w: gen.WINDOW_SHAPE[w][1])
    spikes["rate_hz"] = spikes.n * 1000.0 / (trials * size * duration)
    check(gen.check_window_rates(exp, neurons, spikes) == [],
          "oracle accepts exact Python-feature rates")
    check(gen.check_window_rates(exp, neurons, spikes.iloc[1:]) != [],
          "oracle rejects a missing Python-feature group")


def run(args: list[str]) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, *args], cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def harness_checks() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run([str(HERE / "run.py"), "--workload", wl["name"], "--seed", "3",
                             "--seconds", "1", "--trace", str(trace), "--scale", "tiny"])
            what = f"{wl['name']} --trace {trace}"
            check(code == 0 and res is not None, f"{what}: exits 0 with a result line")
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{what}: result has exactly the four keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{what}: correct, nothing failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{what}: every {key} metric, each with its unit")


def corrupted_run() -> None:
    """Drop the first 200 ms of simulation 0 from the report."""
    from pyspark.sql import functions as F

    from blueetl_spark import analysis
    from blueetl_spark.operators import extraction

    original = extraction.extract_report

    def lossy(*args, **kwargs):
        df = original(*args, **kwargs)
        return df.filter(~((F.col("simulation_id") == 0) & (F.col("time") < 200.0)))

    extraction.extract_report = analysis.extract_report = lossy
    import run as bench

    sys.exit(bench.main(sys.argv[2:]))


def main() -> None:
    if sys.argv[1:2] == ["--corrupt-child"]:
        corrupted_run()
    oracle_checks()
    harness_checks()
    code, res = run([str(HERE / "selftest.py"), "--corrupt-child", "--workload",
                     "campaign_cold", "--seed", "3", "--seconds", "1", "--scale", "tiny"])
    check(code == 0 and res is not None and not res["correct"] and res["failed"] > 0,
          "a run with a lossy report extraction is reported as not correct")
    print("selftest passed")


if __name__ == "__main__":
    main()
