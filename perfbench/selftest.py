#!/usr/bin/env python3
"""Self-test of the correctness checks on tiny inputs: each check must
accept a right answer and reject a planted wrong one (a perturbed
distance, a dropped true neighbour, an altered oracle row). run.py
calls this before every run; `python3 perfbench/selftest.py` runs it
alone.
"""
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


class SelfTestFailed(AssertionError):
    pass


def expect(cond, what):
    if not cond:
        raise SelfTestFailed(f"check self-test: {what}")


def _knn_case():
    rng = np.random.default_rng(7)
    base = (np.round(rng.normal(0, 1, (40, 6)) * 1024) / 1024).astype(np.float32)
    queries = (np.round(rng.normal(0, 1, (3, 6)) * 1024) / 1024).astype(np.float32)
    k = 2
    exact = checks.exact_topk(base, queries, k)
    brute = [np.lexsort((np.arange(len(base)),
                         ((base.astype(np.float64) - q) ** 2).sum(1)))[:k]
             for q in queries]
    expect(all((e == b).all() for e, b in zip(exact, brute)),
           "exact_topk disagrees with a full sort")

    def answer(qi, ids):
        d = checks.l2sq(np.repeat(queries[qi][None, :], len(ids), 0), base[ids])
        return (qi, list(zip([int(i) for i in ids], d.tolist())))
    right = [answer(qi, exact[qi]) for qi in range(len(queries))]
    return base, queries, k, exact, right, answer


def test_knn():
    base, queries, k, exact, right, answer = _knn_case()
    errors, recall = checks.check_knn(right, base, queries, k, 1.0, "right")
    expect(not errors and recall == 1.0, f"right answer rejected: {errors}")

    # a distance off by one part in 1e6 (float32-level error)
    qi, res = right[1]
    bad = [(i, d * (1 + 1e-6)) if n == k - 1 else (i, d) for n, (i, d) in enumerate(res)]
    errors, _ = checks.check_knn(right[:1] + [(qi, bad)] + right[2:], base,
                                 queries, k, 0.0, "perturbed")
    expect(errors, "perturbed distance accepted")

    # the true nearest neighbour dropped, the next one moved up: every
    # distance is right and sorted, only recall can see it
    rank = np.lexsort((np.arange(len(base)),
                       checks.l2sq(np.repeat(queries[0][None, :], len(base), 0), base)))
    dropped = answer(0, rank[1:k + 1])
    for name, floor in checks.RECALL_FLOOR.items():
        errors, _ = checks.check_knn([dropped], base, queries, k, floor, name)
        expect(errors, f"dropped true neighbour accepted at the {name} floor")

    # results out of distance order, a short list, a duplicate id
    qi, res = right[2]
    for name, wrong in (("unsorted", res[::-1]), ("short", res[:-1]),
                        ("duplicate", [res[0]] + res[:-1])):
        errors, _ = checks.check_knn(right[:2] + [(qi, wrong)], base, queries,
                                     k, 0.0, name)
        expect(errors, f"{name} result list accepted")


def test_oracle_compare():
    import pandas as pd
    oracle = pd.DataFrame({"doc_id": [3, 1, 2], "score": [0.5, 0.25, 0.125],
                           "text": ["c", "a", "b"]})
    spark = oracle.iloc[[1, 2, 0]][["text", "score", "doc_id"]].reset_index(drop=True)
    expect(checks.compare_frames(spark, oracle) is None,
           "equal frames in another row and column order rejected")
    altered = oracle.copy()
    altered.loc[1, "score"] = 0.2500001
    expect(checks.compare_frames(spark, altered), "altered oracle value accepted")
    altered = oracle.copy()
    altered.loc[2, "text"] = "x"
    expect(checks.compare_frames(spark, altered), "altered oracle string accepted")
    expect(checks.compare_frames(spark, oracle.iloc[:2]), "missing oracle row accepted")
    expect(checks.compare_frames(spark, oracle.rename(columns={"text": "t"})),
           "renamed column accepted")


def test_oracle_duckdb(tmp):
    """The oracle path end to end: DuckDB over a parquet table, stored
    and read back as the run does, against a planted wrong row."""
    import duckdb
    import pandas as pd
    t = pd.DataFrame({"k": [1, 2, 2, 3], "v": [1.5, 2.0, 3.0, 4.0]})
    src = os.path.join(tmp, "t.parquet")
    t.to_parquet(src, index=False)
    con = duckdb.connect()
    got = con.execute(f"SELECT k, sum(v) AS s FROM '{src}' GROUP BY k").fetchdf()
    spark_like = pd.DataFrame({"s": [5.0, 1.5, 4.0], "k": [2, 1, 3]})
    expect(checks.compare_frames(spark_like, got) is None, "DuckDB result rejected")
    spark_like.loc[0, "s"] = 5.5
    expect(checks.compare_frames(spark_like, got), "altered row accepted vs DuckDB")


def run_all():
    import tempfile
    test_knn()
    test_oracle_compare()
    work = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work, prefix="selftest-") as tmp:
        test_oracle_duckdb(tmp)


if __name__ == "__main__":
    run_all()
    print("check self-test: ok")
