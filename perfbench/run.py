#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one JVM.

Run from the repository root:

    python3 perfbench/run.py --workload tail_small_batches --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs the workload in a fresh JVM, checks its
outputs, and prints one JSON line last on stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Everything it writes stays under .bench_build/ in the
working directory.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BUILD = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads: engine sources, build files, benchmark."""
    roots = ["src/main", "perfbench/src"]
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/run.py"]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles with sbt unless the stamp matches; returns the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest and os.path.exists(ARCHIVE):
            return s["classpath"]
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    log("building engine and benchmark with sbt")
    opts = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.exists(SBT_REPOS):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOS} {opts}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS", opts))
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    cp = [l for l in p.stdout.splitlines() if "perfbench_" in l and ".jar" in l
          and not l.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt did not print the benchmark classpath")
    classpath = cp[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    dump_class_archive(classpath)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


def dump_class_archive(classpath):
    """Records the classes one short serve_reads run loads into a class-data
    sharing archive, which every run maps instead of loading and verifying
    those classes again (about 3 s less JVM and session start-up). The
    build fails when the archive cannot be made, so no run starts without
    it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work", "class-archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(classpath, "serve_reads", 0, 1, 0, work, os.path.join(work, "result.json"),
            [f"-XX:ArchiveClassesAtExit={os.path.abspath(ARCHIVE)}"])
    if not os.path.exists(ARCHIVE):
        die("the class archive run wrote no archive")
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, workload, seed, seconds, trace, work, result, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.abspath(os.path.join(work, "spark-local")))
    for k in ("GRAFT_MASTER", "GRAFT_EXTRA_CONF", "SPARK_CONF_DIR"):
        env.pop(k, None)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false", *extra,
           "-cp", classpath, "perfbench.Main",
           workload, str(seed), str(seconds), str(trace), os.path.abspath(work),
           os.path.abspath(result)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s and was stopped")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"the benchmark JVM exited with code {rc}")


def norm(v):
    """Value normalisation of scripts/oracle_check.py."""
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, int):
        return f"{v:.9g}"
    return str(v)


def check_catalog(tables, outputs):
    """Compares each query's Spark output with its oracle SQL in DuckDB.
    Returns the names of the queries whose outputs differ."""
    with open(os.path.join(outputs, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    queries = sorted(d for d in os.listdir(outputs) if d != "oracle_sql.json")
    try:
        import duckdb
    except ImportError:
        log("duckdb is not importable by this python3: catalog outputs cannot be checked")
        return [q for q in queries if q in oracle] or ["<duckdb missing>"]
    con = duckdb.connect()
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}/*.parquet')")
    bad = []
    for q in queries:
        sdf = con.execute(f"SELECT * FROM read_parquet('{outputs}/{q}/*.parquet')").df()
        if q not in oracle:
            if len(sdf) == 0:
                bad.append(q)
            continue
        try:
            odf = con.execute(oracle[q]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            log(f"{q}: oracle SQL error {e}")
            bad.append(q)
            continue
        cols = sorted(sdf.columns)
        if cols != sorted(odf.columns) or len(sdf) != len(odf):
            log(f"{q}: columns/rows differ: spark {cols} {len(sdf)}, oracle "
                f"{sorted(odf.columns)} {len(odf)}")
            bad.append(q)
            continue
        sh = sorted("|".join(norm(v) for v in r) for r in sdf[cols].itertuples(index=False))
        oh = sorted("|".join(norm(v) for v in r) for r in odf[cols].itertuples(index=False))
        if sh != oh:
            log(f"{q}: values differ")
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        die("engine sources not found: run from the root of a checkout of the repository")
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {a.workload}")
    if a.seconds < 1:
        die("--seconds must be at least 1")

    classpath = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    # -Xshare:on: the JVM refuses to start rather than run without the archive
    run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, work, result,
            ["-Xshare:on", f"-XX:SharedArchiveFile={os.path.abspath(ARCHIVE)}"])
    with open(result) as fh:
        res = json.load(fh)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    ctx = res["context"]
    problems = list(ctx.get("problems", []))
    if a.workload == "catalog_sf" and "catalog_outputs" in ctx:
        bad = check_catalog(ctx["catalog_tables"], ctx["catalog_outputs"])
        if bad:
            problems.append(f"catalog outputs differ from the oracle: {bad}")
            failed += len(bad) * max(1, int(ctx.get("catalog_passes", 1)))
        ctx["catalog_mismatches"] = bad

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    complete = True
    for m in bench[section]:
        v = res["metrics"].get(m["name"])
        if v is None:
            complete = False
            problems.append(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = complete and failed == 0 and attempted >= 1 and not problems
    ctx["failed_frac"] = failed / attempted if attempted else 1.0

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"metrics": res["metrics"], "context": ctx, "problems": problems}, fh, indent=1)
    for k, v in list(res["metrics"].items()) + list(ctx.items()):
        if k != "problems":
            log(f"{k} = {v}")
    for p in problems:
        log(f"PROBLEM: {p}")
    if attempted == 0:  # nothing ran: the run itself is the one failed op
        attempted, failed = 1, 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
