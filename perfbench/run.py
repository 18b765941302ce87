#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <lake_refresh|star_query|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --compare <result.json> <result.json>

A run builds the program from source together with the harness (first run
only, or when a source changed), starts one JVM that runs the workload as a
closed loop on local[n] (n = min(4, usable cores)), checks its outputs and
prints a readable report followed, as the last line of stdout, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The full
result, and with --trace 1 the span tree, are kept under perfbench/work/.

--compare prints the end-to-end ratios of two results and refuses when their
core counts or input sizes differ (a missing field counts as different).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("lake_refresh", "star_query", "corpus_dedup")
JVM_LIMIT_S = 155        # the JVM's whole run, set-up included
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every source and build file the benchmark compiles."""
    files = []
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src", "main")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def run_bounded(cmd, cwd, env, limit_s, stdout=None):
    """Run a command in its own process group; kill the group at the limit,
    or when this script is terminated."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)

    def terminate(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(digest, env):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building the program and the harness (sbt) ...", file=sys.stderr)
    sbt = shutil.which("sbt") or fail("sbt is not on PATH")
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "writeClasspath"], BENCH, env, BUILD_LIMIT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def oracle_check(result_dir, table_dir):
    """Compare each query's Spark result with its DuckDB oracle SQL over the
    same generated tables. Returns the names that do not match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(result_dir, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].map(lambda v: hasattr(v, "__len__") and not isinstance(v, str)).any():
                df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet({files})").fetchdf())
            exp = norm(con.execute(sql).fetchdf())
            assert list(got.columns) == list(exp.columns), f"columns {list(got.columns)} vs {list(exp.columns)}"
            assert len(got) == len(exp), f"rows {len(got)} vs {len(exp)}"
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
        except Exception as e:  # a mismatch or an unreadable result
            bad.append(f"{name}: {str(e).splitlines()[0] if str(e) else type(e).__name__}")
    return bad, len(oracle)


def listed(result, kind):
    """The result's metrics of one kind that BENCHMARK.json lists, in its
    order; all of them when there is no BENCHMARK.json or it does not list
    the workload (star_query, run by hand)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return result[kind]
    spec = json.load(open(path))
    if result["workload"] not in [w["name"] for w in spec["workloads"]]:
        return result[kind]
    names = [m["name"] for m in spec[kind]]
    missing = [n for n in names if n not in result[kind]]
    if missing:
        fail(f"the run did not measure {', '.join(missing)}", code=1)
    return {n: result[kind][n] for n in names}


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def compare(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    for key in ("cpus", "inputs"):
        va, vb = a.get("meta", {}).get(key), b.get("meta", {}).get(key)
        if va is None or vb is None or va != vb:
            fail(f"refusing to compare: {key} differs ({va!r} vs {vb!r})", code=3)
    if a.get("workload") != b.get("workload"):
        fail(f"refusing to compare: workloads {a.get('workload')} and {b.get('workload')}", code=3)
    for name, m in a["end_to_end"].items():
        other = b["end_to_end"].get(name, {}).get("value")
        ratio = other / m["value"] if other is not None and m["value"] else float("nan")
        print(f"{name:16s} {m['value']:.6g} -> {other if other is None else format(other, '.6g')}"
              f" {m['unit']} (x{ratio:.3f})")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar="RESULT")
    args = p.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.workload is None or args.seed is None or args.seconds is None:
        p.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC)}: run from the root of a graft checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    digest = source_digest()
    build(digest, env)

    cpus = min(4, len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", open(CLASSPATH).read().strip(), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", WORK, "--out", out]
    started = time.time()
    rc = run_bounded(cmd, WORK, env, JVM_LIMIT_S, stdout=sys.stdout)
    if rc != 0 or not os.path.exists(out):
        fail(f"the benchmark JVM failed (exit {rc})", code=1)
    sys.stdout.flush()
    result = json.load(open(out))

    results_dir = os.path.join(WORK, args.workload, "results")
    if os.path.exists(os.path.join(results_dir, "oracle_sql.json")):
        bad, n = oracle_check(results_dir, os.path.join(WORK, args.workload, "tables"))
        print(f"[perfbench] DuckDB oracle: {n - len(bad)}/{n} queries match")
        result["failed"] += len(bad)
        result["failures"] += [f"oracle mismatch {b}" for b in bad]
        for b in bad:
            print(f"[perfbench] FAIL oracle mismatch {b}")
    result["meta"]["commit"] = git_commit()
    result["meta"]["source_sha256"] = digest
    result["wall_s"] = time.time() - started
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)

    metrics = listed(result, "per_layer" if args.trace else "end_to_end")
    correct = result["failed"] == 0 and result.get("aborted") is None
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
