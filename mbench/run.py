#!/usr/bin/env python3
"""mbrainz benchmark runner.

    python3 mbench/run.py --workload import|harness-resolve \
        --seed N --seconds S --trace 0|1 [--scale X] [--inject-wrong]

Run from the root of a checkout. Builds the benchmark (the program's
sources plus mbench/src) with sbt on first use, runs one workload in one
JVM, checks its outputs (harness-resolve outputs are compared with the
DuckDB oracle here), and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. Details go to stderr.
Exits non-zero if the build fails, the run fails or any check fails.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "mbench-classpath.txt")
TMP = os.path.join(TARGET, "tmp")  # temp files stay inside the checkout too
RUN_TIMEOUT_S = 170
# The program's own JVM settings (build.sbt): default tiered JIT and a 1g
# code cache, so whole-stage codegen classes keep getting compiled. The
# heap is 3g rather than build.sbt's 32g default, to share a 4-core,
# 15 GB host.
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + TMP,
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def log(*a):
    print("[mbench]", *a, file=sys.stderr, flush=True)


def sources():
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            for f in files:
                yield os.path.join(dirpath, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt unless the classpath stamp is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("program sources (src/main/scala) not found next to", HERE)
        return None
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH_FILE) as f:
                return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL)
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and "classes" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        return None
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


# ── DuckDB oracle for harness-resolve (the comparison tools/check.py makes:
# columns sorted by name, rows sorted by printed value, exact compare) ──
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rows_of(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(str(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    return cols, rows


def oracle_check(data_dir, out_dir, inject_wrong):
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            ocols, orows = rows_of(con.execute(sql).fetchdf())
            if inject_wrong and i == 0 and orows:
                orows[0] = orows[0][:-1] + ("~",)
            files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
            scols, srows = rows_of(pq.read_table(files).to_pandas())
        except Exception as e:  # an unreadable output or oracle error fails the query
            failures.append(f"{name}: {e}")
            continue
        if ocols != scols or orows != srows:
            failures.append(f"{name}: output differs from the oracle "
                            f"({len(srows)} rows vs {len(orows)})")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["import", "harness-resolve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float)
    ap.add_argument("--inject-wrong", action="store_true",
                    help="make one expected value wrong; the run must then fail")
    ap.add_argument("--work", default=os.path.join(TARGET, "work"))
    a = ap.parse_args()

    cp = build()
    if cp is None:
        return 2
    work = os.path.abspath(os.path.join(a.work, a.workload))
    os.makedirs(TMP, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-cp", cp, "graft.mbench.Main", "run",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    if a.scale is not None:
        cmd += ["--scale", str(a.scale)]
    if a.inject_wrong:
        cmd += ["--inject-wrong"]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 3
    lines = [l for l in p.stdout.splitlines() if l.startswith("MBENCH_RESULT ")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        log(f"no result (exit {p.returncode})")
        return 4
    r = json.loads(lines[-1][len("MBENCH_RESULT "):])
    attempted, failed = r["attempted"], r["failed"]
    failures = list(r.get("failures", []))
    if a.workload == "harness-resolve":
        n, bad = oracle_check(r["info"]["harness_checked_data"], r["info"]["harness_out"],
                              a.inject_wrong)
        failed += len(bad)
        failures += bad
        r["info"]["oracle_checked"] = n
    if a.trace == 1 and "failed_frac" in r["metrics"]:
        r["metrics"]["failed_frac"]["value"] = failed / max(1, attempted)
    log("info", json.dumps(r["info"]))
    for f in failures:
        log("FAILED", f)
    correct = failed == 0 and p.returncode == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": r["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
