"""Build step of the benchmark: compile the library and the harness with
the Scala compiler that ships in the Spark jars directory (no sbt), and
make the fixed curation fixtures plus their DuckDB oracle results.

Everything lands under the build directory (``$CARGO_TARGET_DIR`` when
set, else ``.bench_build``) and is keyed by a hash of its inputs, so a
checkout builds once and later runs reuse the outputs.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(RuntimeError):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def repo_root():
    return os.getcwd()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(repo_root(), d))


def _read_build_sbt():
    p = os.path.join(repo_root(), "build.sbt")
    if not os.path.isfile(p):
        raise BuildError("build.sbt not found: run from the repository root")
    with open(p) as f:
        return f.read()


def jars_dir():
    """The Spark jars directory, taken from build.sbt's unmanagedBase."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read_build_sbt())
    if not m:
        raise BuildError("build.sbt has no unmanagedBase := file(...)")
    d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"Spark jars directory {d} does not exist")
    if not any(n.startswith("scala-compiler-") for n in os.listdir(d)):
        raise BuildError(f"no scala-compiler jar in {d}")
    return d


def jvm_flags():
    """build.sbt's --add-opens list and its -XX flags (the options sbt
    would pass to a forked run)."""
    sbt = _read_build_sbt()
    opens = re.findall(r'"(java\.base/[A-Za-z0-9_.]+)"', sbt)
    xx = re.findall(r'"(-XX:[^"]+)"', sbt)
    if not opens:
        raise BuildError("build.sbt lists no --add-opens packages")
    flags = []
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + xx


def _files(root, exts):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, repo_root()).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:20]


def _run(cmd, what, timeout, log_path):
    t0 = time.time()
    with open(log_path, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=timeout)
    if r.returncode != 0:
        with open(log_path) as lf:
            tail = lf.read()[-4000:]
        raise BuildError(f"{what} failed (exit {r.returncode}):\n{tail}")
    log(f"{what}: {time.time() - t0:.1f} s")


def _scalac(jars, classpath, out, sources, log_path):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    _run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
          "-cp", os.path.join(jars, "*"),
          "scala.tools.nsc.Main", "-nowarn", "-d", out,
          "-classpath", classpath, "@" + argfile],
         f"scalac -> {os.path.basename(out)}", 600, log_path)


def ensure_classes():
    """Compile the library (src/main) and the harness; return the
    classpath. Rebuilds only when a source file changed."""
    root = repo_root()
    main_scala = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_scala):
        raise BuildError("src/main/scala not found: nothing to benchmark")
    jars = jars_dir()
    lib_src = _files(main_scala, (".scala",))
    java_src = _files(os.path.join(root, "src", "main"), (".java",))
    harness_src = _files(os.path.join(HERE, "harness"), (".scala",))
    resources = os.path.join(root, "src", "main", "resources")
    stamp = _digest(lib_src + java_src + harness_src)
    bdir = os.path.join(build_dir(), "classes-" + stamp)
    lib_out = os.path.join(bdir, "lib")
    harness_out = os.path.join(bdir, "harness")
    done = os.path.join(bdir, "DONE")
    jar_cp = os.path.join(jars, "*")
    if not os.path.exists(done):
        base = build_dir()
        os.makedirs(base, exist_ok=True)
        for old in os.listdir(base):  # one library build per checkout
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        _scalac(jars, jar_cp, lib_out, lib_src + java_src,
                os.path.join(bdir, "scalac-lib.log"))
        if java_src:
            _run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-d", lib_out, "-cp",
                  lib_out + os.pathsep + jar_cp] + java_src,
                 "javac", 600, os.path.join(bdir, "javac.log"))
        _scalac(jars, lib_out + os.pathsep + jar_cp, harness_out,
                harness_src, os.path.join(bdir, "scalac-harness.log"))
        with open(done, "w") as f:
            f.write(stamp + "\n")
    cp = [harness_out, lib_out]
    if os.path.isdir(resources):
        cp.append(resources)
    return os.pathsep.join(cp + [jar_cp]), stamp


def java_cmd(classpath, heap, tmpdir):
    # -UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData"] + jvm_flags() +
            [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath])


def ensure_fixtures(classpath, nproc):
    """The curation fixtures: `graft.tools.SynthData mult=1`, the
    sf0.1-sized ten-table corpus, generated once per generator version."""
    gen = os.path.join(repo_root(), "src", "main", "scala", "graft", "tools",
                       "SynthData.scala")
    if not os.path.isfile(gen):
        raise BuildError("graft.tools.SynthData source not found")
    stamp = _digest([gen], "mult=1")
    base = build_dir()
    fx = os.path.join(base, "fixtures-" + stamp)
    if os.path.exists(os.path.join(fx, "DONE")):
        return fx, stamp
    for old in os.listdir(base):
        if old.startswith("fixtures-"):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    tmp = os.path.join(base, "tmp-fixtures")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _run(java_cmd(classpath, "3g", tmp) +
         ["graft.tools.SynthData", f"out={fx}", "mult=1", f"cpus={nproc}"],
         "fixtures (SynthData mult=1)", 600,
         os.path.join(base, "fixtures.log"))
    shutil.rmtree(tmp, ignore_errors=True)
    from checks import TABLES
    for t in TABLES:
        if not os.path.exists(os.path.join(fx, t + ".parquet")):
            raise BuildError(f"fixture table {t} was not written")
    with open(os.path.join(fx, "DONE"), "w") as f:
        f.write(stamp + "\n")
    return fx, stamp


def ensure_oracle_sql(classpath, stamp):
    """The curation rows' DuckDB oracle SQL, dumped once per build by
    `perfbench.Harness --workload oracle-sql`."""
    path = os.path.join(build_dir(), "classes-" + stamp, "oracle_sql.json")
    if not os.path.exists(path):
        tmp = os.path.join(build_dir(), "tmp-oracle-sql")
        os.makedirs(tmp, exist_ok=True)
        _run(java_cmd(classpath, "1g", tmp) +
             ["perfbench.Harness", "--workload", "oracle-sql",
              "--out", path + ".tmp"],
             "oracle SQL dump", 120, os.path.join(build_dir(), "oracle-sql.log"))
        shutil.rmtree(tmp, ignore_errors=True)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def oracle_path(sql, fixture_stamp):
    h = hashlib.sha256((fixture_stamp + "\n" + sql).encode()).hexdigest()[:24]
    return os.path.join(build_dir(), "oracle", h + ".parquet")


def ensure_oracle(sqls, fixtures, fixture_stamp):
    """DuckDB results of each row's oracle SQL on the fixtures, cached
    by (SQL text, fixture version). Returns {row: path}."""
    import checks
    out = {}
    con = None
    for name, sql in sorted(sqls.items()):
        p = oracle_path(sql, fixture_stamp)
        out[name] = p
        if os.path.exists(p):
            continue
        if con is None:
            con = checks.duckdb_on(fixtures)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        t0 = time.time()
        df = con.execute(sql).fetchdf()
        df.to_parquet(p + ".tmp", index=False)
        os.replace(p + ".tmp", p)
        log(f"oracle {name}: {len(df)} rows, {time.time() - t0:.1f} s")
    return out


def save_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
