"""Seeded synthetic campaign and its numpy-side oracle.

One ``numpy.random.Generator`` seeded from ``--seed`` makes everything the
pipeline reads: a nodes table for two circuits, a spike table for every
simulation of the campaign, and the analysis config.  The program only
receives the parquet files and the config; the oracle below recomputes the
expected answers from the same arrays without Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

LAYERS = (2, 4, 5, 6)
SYNAPSE_CLASSES = ("EXC", "INH")
CA_VALUES = (1.05, 1.1, 1.15, 1.2)
# w1 covers [0, 1000) ms; evoked is 10 trials of [0, 100) ms from 1000 ms on
W1 = (0.0, 1000.0)
EVOKED_OFFSET, EVOKED_STEP, EVOKED_TRIALS = 1000.0, 100.0, 10
# window -> (trials, duration in ms)
WINDOW_SHAPE = {"w1": (1, W1[1] - W1[0]), "evoked": (EVOKED_TRIALS, EVOKED_STEP)}


@dataclass(frozen=True)
class Scale:
    nodes_per_circuit: int
    simulations: int
    duration_ms: float = 2000.0
    mean_rate_hz: float = 5.0
    gamma_shape: float = 2.0

    @property
    def class_limit(self) -> int:
        # binds for the EXC classes (~20% of a circuit each), not for INH
        return self.nodes_per_circuit // 10


@dataclass
class Campaign:
    """Generated inputs: paths for the program, arrays for the oracle."""

    seed: int
    scale: Scale
    root: Path
    nodes: pd.DataFrame
    events: pd.DataFrame
    config: dict = field(default_factory=dict)

    @property
    def nodes_path(self) -> str:
        return str(self.root / "nodes.parquet")

    @property
    def events_path(self) -> str:
        return str(self.root / "events.parquet")

    @property
    def n_events(self) -> int:
        return len(self.events)


def campaign_rows(n_sims: int) -> list[dict]:
    """Campaign table: circuits alternate; 16 simulations cover the 4 x 4
    grid of (seed, ca)."""
    return [
        {
            "simulation_path": f"/campaign/sim{s:03d}",
            "circuit_config": f"/circuits/c{s % 2}",
            "seed": s % 4,
            "ca": CA_VALUES[s // 4 % len(CA_VALUES)],
        }
        for s in range(n_sims)
    ]


def analysis_config(scale: Scale, features: list[dict]) -> dict:
    classes = {
        f"L{layer}_{sc}": {"query": {"synapse_class": sc, "layer": layer}}
        for sc in SYNAPSE_CLASSES
        for layer in LAYERS
    }
    return {
        "version": 4,
        "simulation_campaign": {"data": campaign_rows(scale.simulations)},
        "analysis": {
            "spikes": {
                "extraction": {
                    "report": {"type": "spikes"},
                    "neuron_classes": classes,
                    "limit": scale.class_limit,
                    "windows": {
                        "w1": {"bounds": list(W1)},
                        "evoked": {
                            "bounds": [0.0, EVOKED_STEP],
                            "initial_offset": EVOKED_OFFSET,
                            "n_trials": EVOKED_TRIALS,
                            "trial_steps_value": EVOKED_STEP,
                        },
                    },
                },
                "features": features,
            }
        },
    }


def generate(seed: int, scale: Scale, root: Path, features: list[dict]) -> Campaign:
    """Write ``nodes.parquet`` and ``events.parquet`` under ``root``."""
    rng = np.random.default_rng(seed)
    n = scale.nodes_per_circuit
    nodes = []
    for circuit in (0, 1):
        layer = rng.choice(LAYERS, n, p=[0.3, 0.25, 0.25, 0.2])
        exc = rng.random(n) < 0.8
        nodes.append(
            pd.DataFrame(
                {
                    "circuit_id": np.full(n, circuit, dtype="int16"),
                    "node_id": np.arange(n, dtype="int64"),
                    "synapse_class": np.where(exc, "EXC", "INH"),
                    "layer": layer.astype("int32"),
                    "mtype": [
                        f"L{lay}_{'PC' if e else 'BC'}" for lay, e in zip(layer, exc)
                    ],
                }
            )
        )
    nodes_df = pd.concat(nodes, ignore_index=True)

    sims = []
    seconds = scale.duration_ms / 1000.0
    for sim in range(scale.simulations):
        rates = rng.gamma(scale.gamma_shape, scale.mean_rate_hz / scale.gamma_shape, n)
        counts = rng.poisson(rates * seconds)
        gid = np.repeat(np.arange(n, dtype="int64"), counts)
        time = rng.uniform(0.0, scale.duration_ms, len(gid))
        order = np.argsort(time, kind="stable")
        sims.append(
            pd.DataFrame(
                {
                    "simulation_id": np.full(len(gid), sim, dtype="int16"),
                    "gid": gid[order],
                    "time": time[order],
                }
            )
        )
    events_df = pd.concat(sims, ignore_index=True)

    root.mkdir(parents=True, exist_ok=True)
    camp = Campaign(seed, scale, root, nodes_df, events_df,
                    analysis_config(scale, features))
    nodes_df.to_parquet(camp.nodes_path, index=False)
    events_df.to_parquet(camp.events_path, index=False, row_group_size=1 << 18)
    return camp


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def class_members(camp: Campaign) -> dict[tuple[int, str], np.ndarray]:
    """(circuit_id, class) -> sorted node ids matching the class query."""
    out = {}
    nd = camp.nodes
    for (cid, sc, layer), grp in nd.groupby(["circuit_id", "synapse_class", "layer"]):
        out[(int(cid), f"L{layer}_{sc}")] = np.sort(grp.node_id.to_numpy())
    return out


def check_neurons(camp: Campaign, neurons: pd.DataFrame) -> list[str]:
    """Selected gids: exact class sizes after ``limit``, all true members."""
    errors = []
    limit = camp.scale.class_limit
    members = class_members(camp)
    got = {k: g.gid.to_numpy() for k, g in neurons.groupby(["circuit_id", "neuron_class"])}
    for key, pool in members.items():
        sel = got.get(key, np.empty(0, dtype="int64"))
        if len(sel) != min(limit, len(pool)):
            errors.append(f"neurons {key}: {len(sel)} rows, expected {min(limit, len(pool))}")
        elif len(np.unique(sel)) != len(sel) or not np.isin(sel, pool).all():
            errors.append(f"neurons {key}: gids outside the class or duplicated")
    if set(got) - set(members):
        errors.append(f"neurons: unexpected classes {sorted(set(got) - set(members))}")
    return errors


def expected_report_counts(camp: Campaign, neurons: pd.DataFrame) -> pd.DataFrame:
    """Report rows per (simulation_id, window, trial, neuron_class), derived
    from the raw spike arrays and the selected gids."""
    ev = camp.events
    circuit = ev.simulation_id.to_numpy() % 2
    frames = []
    for cls, grp in neurons.groupby("neuron_class"):
        for cid, g in grp.groupby("circuit_id"):
            mask = (circuit == cid) & np.isin(ev.gid.to_numpy(), g.gid.to_numpy())
            frames.append(pd.DataFrame({
                "simulation_id": ev.simulation_id.to_numpy()[mask],
                "time": ev.time.to_numpy()[mask],
                "neuron_class": cls,
            }))
    sel = pd.concat(frames, ignore_index=True)
    t = sel.time.to_numpy()
    parts = []
    in_w1 = (t >= W1[0]) & (t < W1[1])
    parts.append(sel[in_w1].assign(window="w1", trial=0))
    trial = np.floor((t - EVOKED_OFFSET) / EVOKED_STEP)
    in_ev = (trial >= 0) & (trial < EVOKED_TRIALS)
    parts.append(sel[in_ev].assign(window="evoked", trial=trial[in_ev].astype(int)))
    rows = pd.concat(parts, ignore_index=True)
    return (
        rows.groupby(["simulation_id", "window", "trial", "neuron_class"])
        .size()
        .rename("n")
        .reset_index()
    )


def compare_counts(expected: pd.DataFrame, got: pd.DataFrame, what: str) -> list[str]:
    keys = ["simulation_id", "window", "trial", "neuron_class"]
    e = expected.astype({"simulation_id": int, "trial": int}).set_index(keys).n
    g = got.astype({"simulation_id": int, "trial": int}).set_index(keys).n
    e, g = e.align(g, fill_value=0)
    bad = e[e != g]
    if len(bad):
        return [f"{what}: {len(bad)} (simulation, window, trial, class) counts differ"]
    return []


def _spikes_and_sizes(expected: pd.DataFrame, neurons: pd.DataFrame):
    """Spikes per (simulation, window, class) and class size per
    (circuit, class)."""
    spikes = expected.groupby(["simulation_id", "window", "neuron_class"]).n.sum()
    return spikes, neurons.groupby(["circuit_id", "neuron_class"]).size()


def check_by_neuron_class(
    expected: pd.DataFrame, neurons: pd.DataFrame, got: pd.DataFrame
) -> list[str]:
    """``mean_of_mean_spike_counts`` = spikes / (trials × class size)."""
    spikes, sizes = _spikes_and_sizes(expected, neurons)
    errors = []
    seen = 0
    for row in got.itertuples(index=False):
        key = (int(row.simulation_id), row.window, row.neuron_class)
        trials = WINDOW_SHAPE[row.window][0]
        want = spikes.get(key, 0) / (trials * sizes[(int(row.circuit_id), row.neuron_class)])
        seen += spikes.get(key, 0) > 0
        if not np.isclose(row.mean_of_mean_spike_counts, want, rtol=1e-9, atol=1e-12):
            errors.append(f"by_neuron_class {key}: {row.mean_of_mean_spike_counts} != {want}")
    if seen != int((spikes > 0).sum()):
        errors.append(f"by_neuron_class: {seen} groups with spikes, expected {(spikes > 0).sum()}")
    return errors


def check_window_rates(
    expected: pd.DataFrame, neurons: pd.DataFrame, got: pd.DataFrame
) -> list[str]:
    """Python feature ``rate_hz`` = spikes × 1000 / (size × trials × duration)."""
    spikes, sizes = _spikes_and_sizes(expected, neurons)
    errors = []
    for row in got.itertuples(index=False):
        trials, duration = WINDOW_SHAPE[row.window]
        n = spikes.get((int(row.simulation_id), row.window, row.neuron_class), 0)
        want = n * 1000.0 / (sizes[(int(row.circuit_id), row.neuron_class)] * trials * duration)
        if not np.isclose(row.rate_hz, want, rtol=1e-9):
            errors.append(f"udf_window {row.simulation_id}/{row.window}/{row.neuron_class}: "
                          f"rate {row.rate_hz} != {want}")
    if len(got) != int((spikes > 0).sum()):
        errors.append(f"udf_window: {len(got)} groups, expected {(spikes > 0).sum()}")
    return errors
