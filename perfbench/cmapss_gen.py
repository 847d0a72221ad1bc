"""Deterministic CMAPSS-format input for the cmapss_etl workload.

Writes one headerless, whitespace-separated ``train_<dataset>.txt`` per
dataset, in the layout of the NASA turbofan files: unit number, cycle,
three operational settings and 21 sensors (26 columns), with the two
trailing spaces the originals carry. Six sensors are planted constant
in every dataset, so the variable-sensor set the ETL must detect is
known exactly, and every unit's length is drawn from the seed, so the
expected row counts and RUL values are known too.

The same seed gives byte-identical files. ``manifest.json`` beside them
records what the checks compare against.

Usage: python3 perfbench/cmapss_gen.py <out_dir> <seed> [units [datasets]]
"""
import json
import os
import sys

import numpy as np

DATASETS = ("FD001", "FD002", "FD003", "FD004")
N_SENSORS = 21
# The sensors that are flat in the real FD001 data.
CONSTANT_SENSORS = (1, 5, 10, 16, 18, 19)
MIN_CYCLES, MAX_CYCLES = 128, 362
UNITS_PER_DATASET = 40

# Per-sensor base level and how far it drifts over a unit's life.
_BASE = np.array([518.67, 642.0, 1589.0, 1400.0, 14.62, 21.61, 554.0,
                  2388.0, 9050.0, 1.3, 47.5, 522.0, 2388.0, 8140.0,
                  8.42, 0.03, 392.0, 2388.0, 100.0, 38.9, 23.3])
_DRIFT = np.array([0.0, 1.2, 12.0, 15.0, 0.0, 0.0, -2.5, 0.15, 20.0, 0.0,
                   1.1, -2.4, 0.15, 25.0, 0.09, 0.0, 4.0, 0.0, 0.0, -0.8,
                   -0.45])
_NOISE = np.array([0.0, 0.5, 5.0, 9.0, 0.0, 0.005, 0.9, 0.07, 15.0, 0.0,
                   0.27, 0.73, 0.07, 19.0, 0.04, 0.0, 1.5, 0.0, 0.0, 0.18,
                   0.11])


def variable_sensors():
    """Names of the sensors the ETL must keep (the non-constant ones)."""
    return [f"sensor{i}" for i in range(1, N_SENSORS + 1)
            if i not in CONSTANT_SENSORS]


def unit_lengths(seed, units=UNITS_PER_DATASET, datasets=len(DATASETS)):
    """Cycles per unit for each dataset, drawn from the seed alone."""
    rng = np.random.default_rng([seed, 0])
    return {ds: [int(x) for x in
                 rng.integers(MIN_CYCLES, MAX_CYCLES + 1, size=units)]
            for ds in DATASETS[:datasets]}


def _dataset_text(rng, lengths):
    lines = []
    for unit, n in enumerate(lengths, start=1):
        life = np.arange(1, n + 1) / n
        settings = np.round(rng.normal(0.0, [0.002, 0.0003, 0.0], (n, 3)), 4)
        settings[:, 2] = 100.0
        wear = np.outer(life ** 2, _DRIFT)
        sensors = _BASE + wear + rng.normal(0.0, 1.0, (n, N_SENSORS)) * _NOISE
        for s in CONSTANT_SENSORS:
            sensors[:, s - 1] = _BASE[s - 1]
        for c in range(n):
            fields = [str(unit), str(c + 1)]
            fields += [f"{v:.4f}" for v in settings[c]]
            fields += [f"{v:.4f}" for v in sensors[c]]
            lines.append(" ".join(fields) + "  \n")
    return "".join(lines)


def generate(out_dir, seed, units=UNITS_PER_DATASET, datasets=len(DATASETS)):
    """Write the dataset files and manifest; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    lengths = unit_lengths(seed, units, datasets)
    manifest = {"seed": seed, "units_per_dataset": units,
                "variable_sensors": variable_sensors(),
                "rows": {}, "bytes": {}}
    for i, ds in enumerate(lengths):
        rng = np.random.default_rng([seed, i + 1])
        text = _dataset_text(rng, lengths[ds]).encode("ascii")
        with open(os.path.join(out_dir, f"train_{ds}.txt"), "wb") as f:
            f.write(text)
        manifest["rows"][ds] = sum(lengths[ds])
        manifest["bytes"][ds] = len(text)
    manifest["unit_lengths"] = lengths
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    units = int(sys.argv[3]) if len(sys.argv) > 3 else UNITS_PER_DATASET
    n = int(sys.argv[4]) if len(sys.argv) > 4 else len(DATASETS)
    m = generate(sys.argv[1], int(sys.argv[2]), units, n)
    print(json.dumps({"rows": sum(m["rows"].values()),
                      "bytes": sum(m["bytes"].values())}))
