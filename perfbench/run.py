#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload ingest|table_ops|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the
benchmark (graft's sources plus perfbench/src) with sbt into
perfbench/target; later runs reuse the build while no source is newer.
Each run starts one JVM, which sets up the workload, measures for S
seconds from one client thread, and checks its outputs. For analytics
the runner then compares every query's result with its DuckDB oracle.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The line before it names every end-to-end figure of the
workload. A failed check makes the exit code 1; a run that cannot build
or start exits 2 without a result line.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt unless the recorded classpath is newer than
    every source."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt is not on PATH")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def run_jvm(cp, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    for line in stderr.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    result = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        causes = [l for l in stderr.splitlines()
                  if "Exception" in l and not l.lstrip().startswith("at ")]
        sys.stderr.write("\n".join(causes[-5:]) + "\n")
        die(f"benchmark JVM failed (exit {proc.returncode})")
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def canon(df):
    import datetime
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            nn = s.dropna()
            if len(nn) and isinstance(nn.iloc[0], datetime.date):
                df[c] = pd.to_datetime(s, errors="coerce").astype("datetime64[us]")
            else:
                df[c] = s.map(lambda v: tuple(v) if hasattr(v, "__len__") and
                              not isinstance(v, (str, bytes)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def oracle_check(state):
    """Compare each analytics query's Spark result with its DuckDB
    oracle over the same generated parquet. Returns mismatch lines."""
    import duckdb
    import pandas as pd
    data, results = os.path.join(state, "data"), os.path.join(state, "results")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(os.listdir(data)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}/*.parquet')")
    bad = []
    for q, sql in sorted(oracles.items()):
        try:
            a = canon(pd.read_parquet(os.path.join(results, q)))
            b = canon(con.execute(sql).df())
            if list(a.columns) != list(b.columns) or len(a) != len(b):
                bad.append(f"{q}: shape {list(a.columns)}x{len(a)} vs oracle {list(b.columns)}x{len(b)}")
                continue
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=1e-9, atol=1e-9)
        except AssertionError as e:
            bad.append(f"{q}: values differ: {str(e).splitlines()[-1]}")
        except Exception as e:  # an oracle that cannot run is a failed check too
            bad.append(f"{q}: {type(e).__name__}: {e}")
    return bad


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or name.endswith("_per_result") or name.endswith("_per_rpc"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "table_ops", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/ (run from the root of a graft checkout)")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(
            os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME must name a Spark install")
    cp = build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    try:
        res = run_jvm(cp, args, work, out)
        attempted, failed = res["attempted"], res["failed"]
        mismatches = list(res["mismatches"])
        if args.workload == "analytics":
            state = res["state_dir"]
            bad = oracle_check(state)
            attempted += len(json.load(open(os.path.join(state, "results", "oracle_sql.json"))))
            failed += len(bad)
            mismatches += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in mismatches[:20]:
        print(f"[perfbench] mismatch: {m}", file=sys.stderr)
    named = dict(res["named"])
    named["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "named": named, "tails": res["tails"], "setup": res["setup"]}
    if args.trace:
        summary["self_time"] = res["self_time"]
    print(json.dumps(summary))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = res["metrics"]
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
