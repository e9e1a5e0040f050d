"""Reference-shaped Python feature run by the ``campaign_cold`` workload.

It uses the reference calling convention ``fn(repo, key, df, params)`` and
is resolved by dotted path (``udf_feats.window_rates``), so the engine runs
it through ``apply_feature`` / ``applyInPandas`` with a ``CompatRepo``
handle.  Groups stay coarse: one per (simulation, circuit, class, window).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WINDOW_SCHEMA = (
    "simulation_id smallint, circuit_id smallint, neuron_class string, "
    "window string, rate_hz double, psth_peak_bin bigint, fano double"
)


def window_rates(repo, key, df, params):
    """Per (simulation, circuit, class, window): population rate, PSTH peak
    bin and the Fano factor of per-trial spike counts."""
    n_neurons = repo.neuron_count(key.circuit_id, key.neuron_class)
    n_trials = repo.windows.get_number_of_trials(key.window)
    t_start, t_stop = repo.windows.get_bounds(key.window)
    bin_size = float(params.get("bin_size", 10.0))
    edges = np.arange(t_start, t_stop + bin_size, bin_size)
    hist, _ = np.histogram(df["time"].to_numpy(), bins=edges)
    per_trial = np.bincount(df["trial"].to_numpy(), minlength=n_trials).astype(float)
    mean = per_trial.mean()
    return pd.DataFrame(
        {
            "rate_hz": [len(df) * 1000.0 / (n_neurons * n_trials * (t_stop - t_start))],
            "psth_peak_bin": [int(hist.argmax())],
            "fano": [float(per_trial.var() / mean) if mean > 0 else 0.0],
        }
    )


FEATURES = [
    {
        "function": "udf_feats.window_rates",
        "name": "udf_window",
        "schema": WINDOW_SCHEMA,
        "params": {"bin_size": 10.0},
    },
]
