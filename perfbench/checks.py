"""Correctness checks, computed apart from the program under test.

* k-NN results (both ANN workloads): exact k-NN brute-forced here over
  the generated vectors. Every returned distance must equal this
  module's own L2^2 for that id, each result list must be sorted by
  distance with distinct ids and exactly k entries, and mean recall@k
  must reach the workload's floor.
* Curation rows: each row's Spark output must equal the DuckDB result
  of its oracle SQL on the same fixtures (columns by name, rows as a
  multiset, values exactly).

`selftest.py` plants wrong answers in tiny inputs and asserts that
each check rejects them.
"""
import glob
import os

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# A returned distance may differ from the reference only by float64
# reassociation error (~1e-15 relative); 1e-9 still rejects float32
# accumulation and any approximate (e.g. quantized) distance.
DIST_RTOL = 1e-9

# Mean recall@10 floors; README.md gives the measured values.
RECALL_FLOOR = {"hnsw": 0.90, "ivf": 0.60, "serve": 0.90}


def l2sq(q, x):
    """Squared L2 of row pairs, accumulated in float64 in coordinate
    order (the library's own kernel order)."""
    q = np.asarray(q, dtype=np.float32).astype(np.float64)
    x = np.asarray(x, dtype=np.float32).astype(np.float64)
    acc = np.zeros(q.shape[0])
    for i in range(q.shape[1]):
        d = q[:, i] - x[:, i]
        acc += d * d
    return acc


def exact_topk(base, queries, k, chunk=256):
    """Exact top-k base-row indices per query, ordered by (dist, index)."""
    b = base.astype(np.float64)
    bn = (b * b).sum(1)
    out = np.empty((len(queries), k), dtype=np.int64)
    margin = min(len(base), k + 16)
    for s in range(0, len(queries), chunk):
        q = queries[s:s + chunk].astype(np.float64)
        d = bn[None, :] - 2.0 * q @ b.T + (q * q).sum(1)[:, None]
        cand = np.argpartition(d, margin - 1, axis=1)[:, :margin]
        for r in range(len(q)):
            c = cand[r]
            dd = l2sq(np.repeat(queries[s + r][None, :], len(c), 0), base[c])
            order = np.lexsort((c, dd))
            out[s + r] = c[order[:k]]
    return out


def check_knn(results, base, queries, k, recall_floor, label):
    """results: [(query index, [(base row index, dist), ...] in returned
    order)], a query may repeat. Returns (errors, mean recall@k)."""
    errors = []
    if not results:
        return [f"{label}: no results"], 0.0
    qidx = sorted({qi for qi, _ in results})
    truth = dict(zip(qidx, exact_topk(base, queries[qidx], k)))
    want = min(k, len(base))
    hits = 0
    for qi, res in results:
        ids = [i for i, _ in res]
        if len(res) != want:
            errors.append(f"{label} q{qi}: {len(res)} results, want {want}")
            continue
        if len(set(ids)) != len(ids):
            errors.append(f"{label} q{qi}: duplicate ids {ids}")
            continue
        if any(i < 0 or i >= len(base) for i in ids):
            errors.append(f"{label} q{qi}: unknown id in {ids}")
            continue
        got = np.array([d for _, d in res], dtype=np.float64)
        ref = l2sq(np.repeat(queries[qi][None, :], len(ids), 0), base[ids])
        bad = np.abs(got - ref) > DIST_RTOL * np.maximum(1.0, ref)
        if bad.any():
            j = int(np.argmax(bad))
            errors.append(f"{label} q{qi}: id {ids[j]} dist {got[j]!r} "
                          f"!= {ref[j]!r}")
            continue
        if (np.diff(got) < 0).any():
            errors.append(f"{label} q{qi}: not sorted by distance {got}")
            continue
        hits += len(set(ids) & set(truth[qi].tolist()))
    recall = hits / (want * len(results))
    if recall < recall_floor:
        errors.append(f"{label}: recall@{k} {recall:.4f} below floor "
                      f"{recall_floor}")
    return errors, recall


def duckdb_on(fixtures):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(fixtures, t + ".parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def read_parquet_dir(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    frames = [pd.read_parquet(f) for f in files]
    return pd.concat(frames, ignore_index=True)


def compare_frames(spark_df, oracle_df):
    """None when equal (columns by name, rows as a sorted multiset,
    values exactly), else a one-line description of the difference."""
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = oracle_df.reindex(sorted(oracle_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows vs {len(d)}"
    if len(s) == 0:
        return None
    def key(df):  # float columns by float64 value, so both sides agree
        norm = df.copy()
        for c in norm.columns:
            if norm[c].dtype.kind in "fc":
                norm[c] = norm[c].astype(float).map(repr)
        return norm.astype(str).agg("\x1f".join, axis=1)
    s = s.iloc[np.argsort(key(s).to_numpy(), kind="stable")].reset_index(drop=True)
    d = d.iloc[np.argsort(key(d).to_numpy(), kind="stable")].reset_index(drop=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind in "fc" or dv.dtype.kind in "fc":
            a, b = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
            diff = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        else:
            diff = (sv.astype(str) != dv.astype(str)).to_numpy()
        if diff.any():
            i = int(np.argmax(diff))
            return f"column {c}: {int(diff.sum())} values differ, " \
                   f"e.g. row {i}: {sv.iloc[i]!r} vs {dv.iloc[i]!r}"
    return None
