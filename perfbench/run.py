#!/usr/bin/env python3
"""Run one benchmark workload and print its result as JSON.

    python3 perfbench/run.py --workload <ann_batch|ann_serve|curation_rows>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
library and the harness and makes the curation fixtures and oracle
results (see build.py); later runs reuse them. A run then:

1. runs the checks' self-test (selftest.py);
2. writes the workload's seeded inputs;
3. starts one JVM (`perfbench.Harness`, local[nproc]) that calls the
   library and measures;
4. checks every output against computations made here (checks.py);
5. prints a detail line (workload, seed, nproc, operations per kind,
   every metric) and, as the last line, the result object:
   {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
   metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
   per_layer ones.

Any failure in building, input generation, the JVM or a check exits
nonzero; a wrong output also prints "correct": false first. A traced
run leaves its spans in <build dir>/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import selftest  # noqa: E402

WORKLOADS = ("ann_batch", "ann_serve", "curation_rows")
K = 10
HEAP = "4g"
JVM_SECONDS = 170
# Layers each workload calls into; per-layer metrics of other layers
# are 0 on it because that layer does no work there.
EXERCISED = {
    "ann_batch": ("hnsw.", "ivf.", "ann.", "shardcache.", "spark.", "jvm."),
    "ann_serve": ("http.", "collections.", "ann.", "hnsw.", "shardcache.",
                  "spark.", "jvm."),
    "curation_rows": ("row.", "sharedstate.", "spark.", "jvm."),
}


class CheckFailed(RuntimeError):
    pass


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, tmp, log_path, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(cp, HEAP, tmp) + ["perfbench.Harness"] + args
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness JVM exceeded {timeout:.0f} s")
    if code != 0:
        with open(log_path) as lf:
            tail = lf.read()[-6000:]
        raise RuntimeError(f"harness JVM exited {code}:\n{tail}")


def parse_join(path):
    """qid -> [(id, dist)] in rank order; ranks must be 1..n."""
    by_q = {}
    with open(path) as f:
        for line in f:
            qid, i, d, r = line.rstrip("\n").split("\t")
            by_q.setdefault(int(qid), []).append((int(r), int(i), float(d)))
    out = []
    for qid, rows in by_q.items():
        rows.sort()
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)):
            raise CheckFailed(f"{path} q{qid}: ranks {[r for r, _, _ in rows]}")
        out.append((qid, [(i, d) for _, i, d in rows]))
    return out


def check_ann_batch(out, base, queries, res):
    errors, recalls = [], {}
    rounds = int(res["attempted"]["hnsw_join"])
    for kind in ("hnsw", "ivf"):
        for r in range(rounds):
            results = parse_join(os.path.join(out, f"{kind}_{r}.tsv"))
            if len(results) != len(queries):
                errors.append(f"{kind} round {r}: {len(results)} of "
                              f"{len(queries)} queries answered")
            e, rec = checks.check_knn(results, base, queries, K,
                                      checks.RECALL_FLOOR[kind], f"{kind} r{r}")
            errors += e
            recalls.setdefault(kind, []).append(rec)
    metrics = {"hnsw_recall_at_10": recalls["hnsw"][-1],
               "ivf_recall_at_10": recalls["ivf"][-1]}
    metrics["recall_at_10"] = (metrics["hnsw_recall_at_10"] +
                               metrics["ivf_recall_at_10"]) / 2
    return errors, 0, metrics


def serve_rows(body):
    return json.loads(body)["rows"]


def check_ann_serve(out, base, queries, res):
    """Searches: exact-distance, order and recall checks over the base
    rows. Read-your-write: the new row must come back at distance 0 —
    a miss counts as a failed operation, not as a wrong answer."""
    import numpy as np
    dim = base.shape[1]
    far = {}

    def vec_of(tag):
        if tag.startswith("b"):
            return base[int(tag[1:])]
        if tag.startswith("w"):
            j = int(tag[1:])
            if j not in far:
                v = np.full(dim, 9.0, dtype=np.float32)
                v[0] = 9.0 + 0.5 * j
                far[j] = v
            return far[j]
        raise CheckFailed(f"unknown row tag {tag!r}")

    errors, searches, failed = [], [], 0
    counts = {"search": 0, "insert": 0, "read_your_write": 0}
    with open(os.path.join(out, "requests.tsv")) as f:
        for line in f:
            kind, _round, idx, _ms, body = line.rstrip("\n").split("\t", 4)
            counts[kind] += 1
            idx = int(idx)
            if kind == "insert":
                if json.loads(body) != {"inserted": 1}:
                    errors.append(f"insert w{idx}: response {body[:200]}")
                continue
            rows = serve_rows(body)
            if kind == "search":
                tags = [r["data"] for r in rows]
                if not all(t.startswith("b") for t in tags):
                    errors.append(f"search q{idx}: non-base rows {tags}")
                    continue
                ids = [r["id"] for r in rows]
                if len(set(ids)) != len(ids):
                    errors.append(f"search q{idx}: duplicate ids {ids}")
                    continue
                searches.append((idx, [(int(t[1:]), r["distance"])
                                       for t, r in zip(tags, rows)]))
            else:  # read_your_write
                w = vec_of(f"w{idx}")
                got = [(r["data"], r["distance"]) for r in rows]
                for tag, d in got:
                    ref = checks.l2sq(w[None, :], vec_of(tag)[None, :])[0]
                    if abs(d - ref) > checks.DIST_RTOL * max(1.0, ref):
                        errors.append(f"read_your_write w{idx}: {tag} "
                                      f"dist {d!r} != {ref!r}")
                if any(a[1] > b[1] for a, b in zip(got, got[1:])):
                    errors.append(f"read_your_write w{idx}: unsorted {got}")
                if (f"w{idx}", 0.0) not in got:
                    failed += 1
    for kind, n in counts.items():
        if n != res["attempted"][kind]:
            errors.append(f"{kind}: {n} logged, {res['attempted'][kind]} attempted")
    e, recall = checks.check_knn(searches, base, queries, K,
                                 checks.RECALL_FLOOR["serve"], "search")
    return errors + e, failed, {"recall_at_10": recall}


def check_curation(out, oracle):
    errors = []
    for q, path in sorted(oracle.items()):
        try:
            got = checks.read_parquet_dir(os.path.join(out, "rows", q))
        except FileNotFoundError as e:
            errors.append(f"{q}: {e}")
            continue
        import pandas as pd
        diff = checks.compare_frames(got, pd.read_parquet(path))
        if diff:
            errors.append(f"{q}: {diff}")
    exact = 1.0 - len(errors) / len(oracle)
    return errors, 0, {"recall_at_10": exact}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    selftest.run_all()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    cp, stamp = build.ensure_classes()
    n = nproc()
    fixtures = oracle = None
    if a.workload == "curation_rows":
        fixtures, fx_stamp = build.ensure_fixtures(cp, n)
        oracle = build.ensure_oracle(build.ensure_oracle_sql(cp, stamp),
                                     fixtures, fx_stamp)
    t_ready = time.time()
    build.log(f"self-test and build check: {t_ready - t_start:.1f} s")

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out, tmp = (os.path.join(run_dir, d) for d in ("in", "out", "tmp"))
    try:
        base = queries = None
        if a.workload != "curation_rows":
            base, queries = inputs.write(a.workload, a.seed, in_dir)
        jvm_args = ["--workload", a.workload, "--in", in_dir, "--out", out,
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--nproc", str(n)]
        if fixtures:
            jvm_args += ["--fixtures", fixtures]
        run_jvm(cp, jvm_args, tmp, os.path.join(run_dir, "harness.log"),
                JVM_SECONDS - (time.time() - t_ready))
        t_jvm = time.time()
        build.log(f"harness JVM: {t_jvm - t_ready:.1f} s")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        if a.workload == "ann_batch":
            errors, failed, extra = check_ann_batch(out, base, queries, res)
        elif a.workload == "ann_serve":
            errors, failed, extra = check_ann_serve(out, base, queries, res)
        else:
            errors, failed, extra = check_curation(out, oracle)
        build.log(f"checks: {time.time() - t_jvm:.1f} s")
        for e in errors[:20]:
            print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)

        units = {"recall_at_10": "fraction", "hnsw_recall_at_10": "fraction",
                 "ivf_recall_at_10": "fraction"}
        everything = {}
        for group in ("e2e", "detail", "layer"):
            everything.update({k: v for k, v in res[group].items()})
        for k, v in extra.items():
            everything[k] = {"value": v, "unit": units[k]}

        metrics = {}
        for m in spec["per_layer" if a.trace else "end_to_end"]:
            nm = m["name"]
            if nm in everything:
                value = everything[nm]["value"]
            elif a.trace and not nm.startswith(EXERCISED[a.workload]):
                value = 0
            else:
                raise RuntimeError(f"the run did not report {nm}")
            metrics[nm] = {"value": value, "unit": m["unit"]}

        ops = {k: {"attempted": int(v), "failed": 0}
               for k, v in res["attempted"].items()}
        if a.workload == "ann_serve":
            ops["read_your_write"]["failed"] = failed
        attempted = sum(o["attempted"] for o in ops.values())
        detail = {"workload": a.workload, "seed": a.seed, "nproc": n,
                  "trace": a.trace, "ops": ops, "metrics": everything,
                  "wall_s": time.time() - t_start}
        print(json.dumps(detail))
        print(json.dumps({"correct": not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        if errors:
            sys.exit(1)
    finally:
        spans = os.path.join(out, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
