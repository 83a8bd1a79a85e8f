#!/usr/bin/env python3
"""The repo benchmark: the paper's daily pipeline plus a query mix.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload pipeline|query_mix --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt (skipped when the
sources are unchanged since the last build under .bench_build/), runs one
workload in a fresh JVM (graft.perfbench.Main), checks every output, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. Query outputs are checked here, outside the
timing: against DuckDB on the same parquet files where the query has oracle
SQL, otherwise cold result against warm result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
STATE = ROOT / ".bench_build" / "perfbench"
TMP = STATE / "tmp"
SPEC = ROOT / "BENCHMARK.json"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
DATA = HERE / "data" / "sf0.01"
# A fixed-size heap under the throughput collector, and C1 and C2 compiling
# at lower invocation and back-edge counts than HotSpot's defaults: with
# these a run's warm units are past most of the JIT's warm-up and vary less
# between runs (perfbench/README.md).
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:Tier3InvocationThreshold=100",
            "-XX:Tier3CompileThreshold=500",
            "-XX:Tier3BackEdgeThreshold=15000",
            "-XX:Tier4InvocationThreshold=500",
            "-XX:Tier4CompileThreshold=750",
            "-XX:Tier4BackEdgeThreshold=10000"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's
# javaOptions carry the same list for `sbt run`).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def check_layout():
    """The benchmark needs the engine's sources and its own data files."""
    need = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
            HERE / "build.sbt", SPEC]
    need += [DATA / f"{t}.parquet" for t in TABLES]
    missing = [str(p) for p in need if not p.exists()]
    if missing:
        raise BenchError("not a checkout of the engine with its benchmark; "
                         f"missing: {', '.join(missing[:5])}")


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for base in roots:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file()
            and "target" not in p.relative_to(base).parts
            and "project" not in p.relative_to(base).parts[:-1])
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt, offline; returns the runtime classpath."""
    stamp, cp_file = STATE / "stamp", STATE / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    STATE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = STATE / "build.log"
    with open(log, "w") as out:
        code = run_process(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], out, BUILD_LIMIT_S,
            cwd=HERE, env=env)
    lines = log.read_text().splitlines()
    if code != 0 or not lines or lines[-1].startswith("["):
        raise BenchError(f"build failed (exit {code}); see {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(want)
    return lines[-1]


def run_process(cmd, out, limit_s, **kw):
    """Runs cmd in its own process group; kills the group after limit_s."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True,
                         **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} did not finish within {limit_s:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(classpath, main, *args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(java), *JVM_OPTS, *opens, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false",
            "-cp", classpath, main, *args]


def jvm_env():
    """Keeps the JVM's and Spark's scratch files inside the checkout."""
    TMP.mkdir(parents=True, exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=str(TMP))


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, limit_s):
    work = STATE / f"work-{args.workload}-{args.seed}-{args.trace}"
    out = STATE / f"result-{args.workload}-{args.seed}-{args.trace}.json"
    log = STATE / f"run-{args.workload}-{args.seed}-{args.trace}.log"
    out.unlink(missing_ok=True)
    cmd = java_cmd(classpath, "graft.perfbench.Main",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--cores", str(cores()), "--data", str(DATA),
                   "--work", str(work), "--out", str(out))
    with open(log, "w") as f:
        code = run_process(cmd, f, limit_s, env=jvm_env())
    if code != 0 or not out.exists():
        tail = "\n".join(log.read_text().splitlines()[-20:])
        raise BenchError(f"benchmark JVM failed (exit {code}):\n{tail}")
    result = json.loads(out.read_text())
    if result["spans"]:
        spans = STATE / f"spans-{args.workload}-{args.seed}.json"
        spans.write_text(json.dumps(result["spans"]))
        print(f"perfbench: {len(result['spans'])} spans in {spans}",
              file=sys.stderr)
    return result, work


# ---- output checks -------------------------------------------------------

def normalize(df):
    """tools/check_oracle.py's normalisation: columns by name, rows sorted."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_differ(got, want):
    """None when equal as check_oracle.py compares them, else why not."""
    import pandas as pd
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(normalize(got), normalize(want),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0] if str(e) else "values differ"
    return None


def rows_differ(got, want):
    """Order-independent equality of two results of the same engine."""
    def rows(df):
        df = df[sorted(df.columns)]
        return sorted(repr(tuple(r)) for r in df.itertuples(index=False))
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    return None if rows(got) == rows(want) else "values differ"


def check_queries(queries, data_dir):
    """[(query, reason)] for every sampled query whose output is wrong."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")

    def read(path):
        return con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").df()

    wrong = []
    for q in queries:
        want_outputs = ("warm",) if q.get("sql") else ("cold", "warm")
        if not all(q.get(k) for k in want_outputs):
            continue  # the JVM already counted the failed output
        try:
            warm = read(q["warm"])
            if q.get("sql"):
                why = frames_differ(warm, con.execute(q["sql"]).df())
            else:
                why = rows_differ(read(q["cold"]), warm)
        except Exception as e:  # noqa: BLE001 - any error is a wrong result
            why = f"{type(e).__name__}: {e}"
        if why:
            wrong.append((q["name"], why))
    return wrong


def assemble(result, wrong_queries, spec, trace):
    """The benchmark's result line from the JVM's measurements."""
    metrics = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    names = [m["name"] for m in metrics]
    if set(got) != set(names):
        raise BenchError(
            f"metric set differs from BENCHMARK.json: missing "
            f"{sorted(set(names) - set(got))}, extra "
            f"{sorted(set(got) - set(names))}")
    runs = {q["name"]: q["runs"] for q in result["queries"]}
    failed = len(result["failures"]) + sum(
        max(1, runs.get(name, 1)) for name, _ in wrong_queries)
    return {
        "correct": failed == 0,
        "attempted": int(result["attempted"]),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": float(got[m["name"]]),
                                "unit": m["unit"]} for m in metrics},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        check_layout()
        spec = json.loads(SPEC.read_text())
        if args.workload not in [w["name"] for w in spec["workloads"]]:
            raise BenchError(f"unknown workload {args.workload}")
        result, work = run_jvm(build(), args, RUN_LIMIT_S)
        wrong = check_queries(result["queries"], result["data"])
        line = assemble(result, wrong, spec, args.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for f in result["failures"]:
        print(f"FAILED {f}")
    for name, why in wrong:
        print(f"WRONG query {name}: {why}")
    print(f"failed_frac {line['failed'] / line['attempted']:.6f} "
          f"({line['failed']}/{line['attempted']})")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
