"""Seeded input generator for the lcbench workloads.

Writes everything the library is given -- `.dat` light curves, the tuning
grid and the search query file -- into a LightCurvesClassifier project
layout, plus `labels.json` and `meta.json`, which only the benchmark's own
output checks read. The same (workload, seed) always gives byte-identical
files; nothing here calls the library.

    python3 lcbench/gen.py --workload search-scan --seed 7 --out /tmp/inputs
"""
import argparse
import json
import os
import zlib

import numpy as np

SEARCHED = "periodic"    # the searched class: sinusoids with noise
CONTAM = "walk"          # the contamination class: random walks

# Per workload: stars per training class, archive stars, searched share of
# the archive, and star names per search query (`files_to_load`).
SIZES = {
    "train-grid": dict(train=60, archive=200, searched_frac=0.5, per_query=100),
    "search-scan": dict(train=40, archive=300, searched_frac=0.05, per_query=100),
}

# The grid searched by make-filter: 2 x 2 = 4 tuning rows. The variogram
# costs O(bins^2) per star and bins = baseline / days_per_bin, so the values
# keep 20-80 bins over the 800-day baseline.
GRID_HEADER = ["VariogramSlopeDescr:days_per_bin", "QDADec:threshold"]
GRID_VALUES = [["10", "40"], ["0.4", "0.6"]]
# The one-row tuning file of the fixed filter the search workloads use.
FIXED_ROW = ["20", "0.5"]


def _curve(rng, cls):
    n = int(rng.integers(180, 221))
    t = np.sort(rng.uniform(0.0, 800.0, n)) + 50000.0
    err = rng.uniform(0.01, 0.05, n)
    if cls == SEARCHED:
        period = rng.uniform(0.5, 20.0)
        amp = rng.uniform(0.3, 1.0)
        phase = rng.uniform(0.0, 2 * np.pi)
        mag = 15.0 + amp * np.sin(2 * np.pi * t / period + phase) + rng.normal(0, 0.05, n)
    else:
        steps = rng.normal(0.0, 0.06, n) * np.sqrt(np.diff(t, prepend=t[0]) + 0.1)
        mag = 15.0 + np.cumsum(steps) + rng.normal(0, 0.02, n)
    return t, mag, err


def _write_dat(path, t, mag, err):
    lines = ["# time mag err"]
    lines += ["%.5f %.3f %.3f" % row for row in zip(t, mag, err)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out` (a project dir)."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    inp = os.path.join(out, "inp_lcs")
    archive = os.path.join(out, "archive")
    for d in (os.path.join(inp, SEARCHED), os.path.join(inp, CONTAM), archive,
              os.path.join(out, "tun_params"), os.path.join(out, "queries")):
        os.makedirs(d, exist_ok=True)

    # training samples: one directory per class, as the CLI expects
    for cls in (SEARCHED, CONTAM):
        for i in range(size["train"]):
            _write_dat(os.path.join(inp, cls, "%s%05d.dat" % (cls[0], i)), *_curve(rng, cls))

    # the archive to search: class assignment shuffled over the star names
    n = size["archive"]
    n_searched = int(round(n * size["searched_frac"]))
    classes = np.array([SEARCHED] * n_searched + [CONTAM] * (n - n_searched))
    rng.shuffle(classes)
    labels = {}
    for i, cls in enumerate(classes):
        name = "lc%06d" % i
        labels[name] = str(cls)
        _write_dat(os.path.join(archive, name + ".dat"), *_curve(rng, cls))

    # query file: `files_to_load` lists of `per_query` names, in a seeded order
    names = sorted(labels)
    order = rng.permutation(len(names))
    per = size["per_query"]
    rows = ["#path,suffix,files_to_load"]
    for q in range(0, len(names), per):
        chunk = [names[j] for j in order[q:q + per]]
        rows.append("%s,dat,%s" % (archive, ";".join(chunk)))
    with open(os.path.join(out, "queries", "search.txt"), "w") as f:
        f.write("\n".join(rows) + "\n")

    grid = [[]]
    for values in GRID_VALUES:
        grid = [row + [v] for row in grid for v in values]
    for name, table in (("grid.txt", grid), ("fixed.txt", [FIXED_ROW])):
        with open(os.path.join(out, "tun_params", name), "w") as f:
            f.write("\n".join(["#" + ";".join(GRID_HEADER)] + [";".join(r) for r in table]) + "\n")

    with open(os.path.join(out, "labels.json"), "w") as f:
        json.dump(labels, f, sort_keys=True)
    meta = dict(workload=workload, seed=seed, searched=SEARCHED, contamination=CONTAM,
                train_per_class=size["train"], archive_stars=n,
                archive_searched=n_searched, queries=len(rows) - 1,
                stars_per_query=per, tuning_rows=len(grid))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, os.path.abspath(a.out)), sort_keys=True))


if __name__ == "__main__":
    main()
