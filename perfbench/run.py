#!/usr/bin/env python3
"""The repo benchmark: LEXam serving, experiment lifecycle, bulk curation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run compiles the library's
sources together with the benchmark (perfbench/src) into
.bench_build/perfbench with the Scala compiler that ships among Spark's
jars; later runs reuse the build while the sources are unchanged. Each run
starts one JVM (perfbench.Main) that generates the workload's inputs from
the seed, measures for --seconds, checks every output, and writes its
result. This script then runs the checks that need Python (the DuckDB
oracle for the curation chains, the response digests pinned per seed for
the LEXam workloads) and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports every end_to_end metric of BENCHMARK.json, --trace 1
every per_layer metric (a layer the workload does not call reads 0), and
writes the spans to .bench_build/perfbench/run-<workload>/spans.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850
# JDK 17 needs these for a SparkSession outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not (lib / "graft").is_dir():
        sys.exit("perfbench: library sources (src/main/scala/graft) not found")
    return sorted(str(p) for d in (lib, HERE / "src" / "main" / "scala")
                  for p in d.rglob("*.scala"))


def build():
    """Compile library + benchmark once per source state; return the classpath."""
    srcs = sources()
    jars = spark_jars()
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(s.encode())
        stamp.update(Path(s).read_bytes())
    stamp = stamp.hexdigest()
    classes = BUILD / "classes"
    cp = [str(classes)] + sorted(glob.glob(str(jars / "*.jar")))
    stamp_file = BUILD / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp
    log(f"compiling {len(srcs)} sources (first run in this checkout)")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    scalac_cp = ":".join(str(jars / f"scala-{m}-2.13.17.jar")
                         for m in ("compiler", "library", "reflect"))
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-d", str(classes), "-classpath", ":".join(cp[1:]), "-nowarn"] + srcs))
    t0 = time.time()
    r = subprocess.run([java_bin(), "-Xss8m", "-Xmx2g", "-cp", scalac_cp,
                        "scala.tools.nsc.Main", f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    stamp_file.write_text(stamp)
    log(f"compiled in {time.time() - t0:.0f}s")
    return cp


def run_jvm(cp, args, work, deadline):
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java_bin(), "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-cp", ":".join(cp), *ADD_OPENS,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=str(work))
    try:
        proc.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    path = work / "result.json"
    if proc.returncode != 0 or not path.exists():
        sys.exit(f"perfbench: benchmark JVM failed ({proc.returncode})")
    return json.loads(path.read_text())


# ------------------------------------------------------------ oracle check

def canon_hash(df):
    """Row hash as the engine's own oracle gate computes it: columns sorted
    by name, rows sorted, values rendered with repr for floats."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(repr(v) if isinstance(v, float) else str(v)
                           for v in row) + "\n").encode())
    return f"{len(df)}:{h.hexdigest()}"


def oracle_check(result, seed, smoke):
    """Compare each chain's output with the DuckDB oracle on the same
    corpus. Oracle digests are cached per (seed, corpus, SQL)."""
    import duckdb
    import pandas as pd
    corpus = result["extra"]["corpus"]
    cache_file = BUILD / "oracle_cache.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    con = None
    bad = []
    for chain, out in result["extra"].get("outputs", {}).items():
        sql = result["extra"]["oracle_sql"][chain]
        key = hashlib.sha256(json.dumps(
            [seed, smoke, corpus["documents"], corpus["embeddings"], sql]
        ).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                tmp = BUILD / "duckdb_tmp"
                tmp.mkdir(parents=True, exist_ok=True)
                con.execute(f"SET temp_directory='{tmp}'")
                con.execute("SET threads=4")
                con.execute("SET memory_limit='3GB'")
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{corpus['dir']}/{t}.parquet/*.parquet')")
            t0 = time.time()
            cache[key] = canon_hash(con.execute(sql).fetchdf())
            log(f"oracle {chain}: {time.time() - t0:.1f}s")
            cache_file.write_text(json.dumps(cache))
        spark = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{out}/*.parquet"))]) \
            if glob.glob(f"{out}/*.parquet") else None
        got = canon_hash(spark) if spark is not None else "no output"
        if got != cache[key]:
            bad.append(f"{chain}: spark {got[:24]} != oracle {cache[key][:24]}")
    return bad


def pinned_check(result, workload, seed):
    """Compare response digests with those pinned for this seed, if any."""
    pins = json.loads((HERE / "pinned_digests.json").read_text())
    want = pins.get(workload, {}).get(str(seed))
    if want is None:
        return []
    got = result["extra"].get("digests", {})
    return [f"{ep}: digest {got.get(ep)} != pinned {d}" for ep, d in want.items()
            if got.get(ep) != d]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: the benchmark's own test")
    args = ap.parse_args()
    start = time.time()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    cp = build()
    work = BUILD / f"run-{args.workload}"
    result = run_jvm(cp, args, work, time.time() + JVM_TIMEOUT_S)
    failures = list(result["failures"])
    failed = result["failed"]
    checks = []
    if args.workload == "curation_bulk":
        checks = oracle_check(result, args.seed, args.smoke)
    elif not args.smoke:
        checks = pinned_check(result, args.workload, args.seed)
    if checks:
        failed += len(checks)
        failures += checks
    with open(BUILD / "digests.jsonl", "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "smoke": args.smoke,
                            "digests": result["extra"].get("digests", {})}) + "\n")
    for f in failures:
        log("FAILED", f)

    measured = result["metrics"]
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in declared:
        name = m["name"]
        src = name[len("trace."):] if args.trace and name.startswith("trace.") else name
        if src in measured:
            metrics[name] = {"value": measured[src]["value"], "unit": m["unit"]}
        elif args.trace:
            metrics[name] = {"value": 0, "unit": m["unit"]}  # layer not called
        else:
            missing.append(name)
    if missing:
        failures.append(f"metrics not measured: {missing}")
        log("FAILED", failures[-1])
    log(f"{args.workload} seed={args.seed}: {result['attempted']} ops, {failed} failed, "
        f"{time.time() - start:.1f}s wall, extra={json.dumps(result['extra'])[:400]}")
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": result["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
