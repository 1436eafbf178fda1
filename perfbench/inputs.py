"""Seeded inputs for the ANN workloads.

Vectors are weakly clustered: a point is a Gaussian centroid plus
Gaussian noise of comparable scale, so neighbourhoods overlap and an
HNSW search at ef=64 misses some true neighbours (recall@10 < 1).
Coordinates are rounded to multiples of 1/1024, which float32 and a
JSON decimal both hold exactly, so the vectors the harness sends over
HTTP are bit-identical to the ones the checks use.
"""
import json
import os

import numpy as np

# name -> (base rows, queries, dim, clusters, noise sigma)
SIZES = {
    "ann_batch": dict(n=4000, q=200, dim=48, clusters=64, sigma=1.6),
    "ann_serve": dict(n=3000, q=500, dim=48, clusters=64, sigma=1.6),
}


def quantize(x):
    return (np.round(x * 1024.0) / 1024.0).astype(np.float32)


def vectors(seed, n, q, dim, clusters, sigma):
    rng = np.random.default_rng(seed)
    cents = rng.normal(0.0, 1.0, (clusters, dim))
    base = cents[rng.integers(0, clusters, n)] + rng.normal(0.0, sigma, (n, dim))
    qs = cents[rng.integers(0, clusters, q)] + rng.normal(0.0, sigma, (q, dim))
    return quantize(base), quantize(qs)


def write(workload, seed, out_dir):
    """Write base.f32 / queries.f32 (little-endian, row-major) and
    meta.json into out_dir; return (base, queries)."""
    p = SIZES[workload]
    base, qs = vectors(seed, **p)
    if not (np.isfinite(base).all() and np.isfinite(qs).all()):
        raise ValueError("generated vectors are not finite")
    os.makedirs(out_dir, exist_ok=True)
    base.astype("<f4").tofile(os.path.join(out_dir, "base.f32"))
    qs.astype("<f4").tofile(os.path.join(out_dir, "queries.f32"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(dict(p, seed=seed, workload=workload), f)
    return base, qs


def read(out_dir):
    with open(os.path.join(out_dir, "meta.json")) as f:
        m = json.load(f)
    base = np.fromfile(os.path.join(out_dir, "base.f32"), dtype="<f4")
    qs = np.fromfile(os.path.join(out_dir, "queries.f32"), dtype="<f4")
    return base.reshape(m["n"], m["dim"]), qs.reshape(m["q"], m["dim"]), m
