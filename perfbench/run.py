"""Store-and-query benchmark launcher.

    python3 perfbench/run.py --workload <volume_rw|slice_mix|query_mix> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. Builds the engine and the benchmark driver
with sbt on first use (perfbench/build.sbt), generates the query corpus for
query_mix, runs the driver JVM, checks query results against DuckDB, and
prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it lists the workload's metrics under the
names of perfbench/README.md.

    python3 perfbench/run.py --report [--seed n] [--seconds s] [--smoke]

runs every workload untraced and traced and prints every metric by name
with its unit, and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["volume_rw", "slice_mix", "query_mix"]
QUERY_SF = 0.01
SMOKE_SF = 0.001
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp() -> str:
    """Hash of every input of the build, so an unchanged tree is not rebuilt."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compile with sbt when sources changed; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under src/main/scala/graft; run from the repository root")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "stamp.txt")
    stamp = source_stamp()
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.server.forcestart=false "
            "-Xmx2g -XX:-UsePerfData"))
        log = os.path.join(HERE, "out", "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as lf:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                  "compile", "writeClasspath"],
                                 cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(cp_file):
            fail(f"build failed (rc={rc}), see {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip()


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_hash(df) -> str:
    """Order-independent hash of a canonicalized frame."""
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def oracle_check(tables: str, out: str) -> dict:
    """DuckDB runs each query's oracle SQL on the same parquet; returns
    {query: error} for every query whose rows or hash differ."""
    import glob

    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = {}
    for q, text in sorted(sql.items()):
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        if not files:
            bad[q] = "no spark output"
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            want = canon(con.sql(text).df())
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            bad[q] = f"oracle SQL error: {e}"
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad[q] = f"shape {list(got.columns)}x{len(got)} != {list(want.columns)}x{len(want)}"
        elif frame_hash(got) != frame_hash(want):
            bad[q] = f"hash {frame_hash(got)} != {frame_hash(want)}"
    return bad


def run_one(workload: str, seed: int, seconds: float, trace: int, smoke: bool) -> dict:
    classpath = build()
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        pre = 0.0
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", work, "--smoke", "1" if smoke else "0",
                "--out", os.path.join(HERE, "out")]
        tables = os.path.join(work, "tables")
        if workload == "query_mix":
            t0 = time.time()
            os.makedirs(tables)
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import tables as gen
            gen.generate(tables, seed, SMOKE_SF if smoke else QUERY_SF)
            pre = time.time() - t0
            args += ["--tables", tables, "--pre-setup-s", f"{pre:.6f}"]
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false",
                  "-cp", classpath, "perfbench.Main"] + args)
        log = os.path.join(HERE, "out", f"jvm-{workload}-{seed}-{trace}.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as lf:
            try:
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                   stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S, text=True)
            except subprocess.TimeoutExpired:
                fail(f"driver JVM exceeded {JVM_TIMEOUT_S} s, see {log}")
        lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH ")]
        if p.returncode != 0 or not lines:
            fail(f"driver JVM failed (rc={p.returncode}), see {log}")
        res = json.loads(lines[-1][len("PERFBENCH "):])
        if workload == "query_mix":
            bad = oracle_check(tables, os.path.join(work, "oracle"))
            for q, why in bad.items():
                res["errors"].append(f"{q}: oracle {why}")
                # a query whose result is wrong fails its set-up check and
                # every timed op of it
                res["failed"] += 1 + res.get("op_counts", {}).get(q, 0)
                res["attempted"] += 1
            res["correct"] = res["failed"] == 0
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(seed: int, seconds: float, smoke: bool) -> None:
    for w in WORKLOADS:
        plain = run_one(w, seed, seconds, 0, smoke)
        traced = run_one(w, seed, seconds, 1, smoke)
        print(f"== {w}: correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']}")
        for name, m in sorted({**plain["named"], **plain["metrics"]}.items()):
            print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
        for name, m in sorted(traced["metrics"].items()):
            line = f"  {name:34s} {m['value']:14.4f} {m['unit']}"
            base = plain["metrics"].get(name[len("traced."):]) if name.startswith("traced.") else None
            if base and base["value"]:
                line += f"   (tracing overhead {100 * (m['value'] / base['value'] - 1):+.1f}%)"
            print(line)
        for e in plain["errors"] + traced["errors"]:
            print(f"  ERROR {e}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny grid and corpus, every op and check")
    ap.add_argument("--report", action="store_true", help="print every metric of every workload")
    a = ap.parse_args()
    if a.report:
        report(a.seed, a.seconds, a.smoke)
        return
    if not a.workload:
        fail("--workload is required")
    res = run_one(a.workload, a.seed, a.seconds, a.trace, a.smoke)
    for e in res["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    if a.trace == 0:
        print(json.dumps({"workload": a.workload, "named": res["named"],
                          "ops": res["ops"], "cycles": res["cycles"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
