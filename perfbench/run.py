#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload ep1_etl --seed 1 --seconds 16 --trace 0

Run from the root of a source tree. The script builds the engine and the
harness from source (sbt, offline) on first use, makes the workload's inputs
from the seed, runs one closed-loop client in one ``local[<nproc>]`` session
for ``--seconds`` seconds, checks the outputs, and prints one JSON object as
the last line of standard output. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it reports the per-layer metrics of a
traced run. See perfbench/NOTES.md for the workloads and metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # one EP1 month (lineitem + events) per iteration, 4 months in rotation
    "ep1_etl": {"kind": "months", "size": {"months": 4, "rows": 25_000, "events": 2000}},
    # one pass over the query mix per iteration, over fixed sf0.01-sized tables
    "report_mix": {"kind": "tables", "size": {"sf": 0.01}},
}
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return files


def build(root, work):
    """Compile engine + harness with sbt when any source changed since the
    last build in this tree; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("no engine sources under src/main/scala/graft: run from the root of the source tree")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(work, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("sources") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def jvm_command(work, classpath, args):
    # the driver heap of the engine's own run configuration (build.sbt)
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", classpath, "perfbench.Harness"] + [str(a) for a in args]
    return cmd


def run_jvm(work, classpath, args, log_path, timeout=JVM_TIMEOUT_S):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    env.pop("GRAFT_JDBC_URL", None)  # the JDBC sink is not part of the benchmark
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(work, classpath, args), cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM exited with {rc}")


def check_ep1(out, manifest, months_run):
    """EP2's analysis CSV must equal the same SQL in DuckDB over the month,
    and Σ total_lines must agree between supplier_stats and bucket_stats."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false; SET autoload_known_extensions=false")
    failures = []
    for month in sorted(set(months_run)):
        src = os.path.join(manifest["dir"], month, "lineitem.parquet")
        want = con.execute(
            f"""SELECT l_returnflag, l_linestatus, COUNT(*), ROUND(AVG(l_extendedprice), 2)
                FROM read_parquet('{src}') GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
        csvs = glob.glob(os.path.join(out, "ep1", "reports", month, "analysis", "*.csv"))
        got = con.execute(f"SELECT * FROM read_csv('{csvs[0]}', header=true)").fetchall() if csvs else []
        same = len(got) == len(want) and all(
            g[0] == w[0] and g[1] == w[1] and g[2] == w[2] and abs(g[3] - w[3]) <= 0.0100001
            for g, w in zip(got, want))
        if not same:
            failures.append(f"{month}: analysis {got} != duckdb {want}")
        art = os.path.join(out, "ep1", month)
        sums = [con.execute(f"SELECT SUM(total_lines) FROM read_parquet('{art}/{t}/*.parquet')")
                .fetchone()[0] for t in ("supplier_stats", "bucket_stats")]
        if sums[0] != sums[1] or not sums[0]:
            failures.append(f"{month}: total_lines supplier_stats {sums[0]} != bucket_stats {sums[1]}")
    return failures


def check_mix(mix, checks):
    """Every mix query's row count and digest must match the ones
    recorded for the mix; queries listed as not run-to-run deterministic
    are checked by row count only."""
    failures = []
    got = checks.get("mix_digests", {})
    for name in mix["queries"]:
        if name not in got:
            failures.append(f"{name}: no digest")
            continue
        rows, digest = got[name]
        want = mix["expected"][name]
        if rows != want["rows"]:
            failures.append(f"{name}: {rows} rows, recorded {want['rows']}")
        elif name not in mix["rows_only"] and digest != want["digest"]:
            failures.append(f"{name}: digest {digest}, recorded {want['digest']}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)

    wl = WORKLOADS[a.workload]
    seed = gen.MIX_SEED if wl["kind"] == "tables" else a.seed
    data_dir, manifest = gen.ensure(os.path.join(work, "inputs"), wl["kind"], seed, wl["size"])
    manifest["dir"] = data_dir
    out = os.path.join(work, "runs", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = [a.workload, data_dir, out, a.seconds, a.trace, a.seed]
    if a.workload == "report_mix":
        with open(os.path.join(HERE, "mix.json")) as f:
            mix = json.load(f)
        args.append(",".join(mix["queries"]))
    run_jvm(work, classpath, args, os.path.join(out, "jvm.log"))
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    # attempted: every iteration the run made, plus every output check
    runs = res["warmup"] + res["iterations"] + res["traced_iterations"]
    failures = [f"iteration {x['label']} failed" for x in runs if not x["ok"]]
    checks = len(res["checks"])
    failures += [f"check {k} failed" for k, v in res["checks"].items() if v is False]
    if res["failed_stages"]:
        failures.append(f"{res['failed_stages']} Spark stages failed")
    if a.workload == "ep1_etl":
        months = sorted({x["label"] for x in runs})
        checks += len(months)
        failures += check_ep1(out, manifest, months)
        failures += [f"{x['label']}: {x['units']} input rows, generated "
                     f"{manifest['files'][x['label'] + '/lineitem.parquet']['rows']}"
                     for x in runs
                     if x["units"] != manifest["files"][x["label"] + "/lineitem.parquet"]["rows"]]
    elif a.workload == "report_mix":
        checks += len(mix["queries"]) - 1  # one digest check per query
        failures += check_mix(mix, res["checks"])
    for f_ in failures:
        print(f"[perfbench] {f_}", file=sys.stderr)
    attempted = len(runs) + checks

    if a.trace:
        trace = layers.load(os.path.join(out, "trace.jsonl"))
        metrics = layers.per_layer(trace, res, layers.file_modules(root))
        units = layers.PER_LAYER_UNITS
    else:
        metrics = stats.end_to_end(res)
        units = stats.UNITS
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
