#!/usr/bin/env python3
"""Benchmark of the S3->Kinesis pipeline and the catalog's query operators.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 2 --trace 0

Builds the engine with the benchmark harness (perfbench/build.sbt, output in
.bench_build/) when its sources changed, runs one workload in a fresh JVM,
checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. The full
artifact (environment stamp, per-query failures) goes to
.bench_build/runs/.

    python3 perfbench/run.py --steady 5 [--workloads a,b] [--seconds 2]

repeats each workload with seeds 1..5 and prints each metric's median and
quartiles. --master local[1] runs single-threaded.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ["ingest_backlog", "catalog_gen", "curate_x4"]
RUN_TIMEOUT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: no engine sources at {engine}; run from a full checkout")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    if not any(f.startswith(engine) for f in files):
        sys.exit("perfbench: engine source tree is empty")
    return files


def spark_home():
    """SPARK_HOME, else the install that the `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark install found (set SPARK_HOME)")
    return home


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log("perfbench: building engine + harness")
    r = subprocess.run(["sbt", "--batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def java_cmd(args, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap: no run-to-run drift in adaptive heap sizing
    cmd += ["-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main"] + args
    return cmd


def canon(v):
    """A cell as a comparable, hashable value (lists become tuples)."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else float(v)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # DuckDB types some date arithmetic DATE where Spark keeps TIMESTAMP
        # (date_trunc); the repository's parity check compares them as equal
        v = datetime.datetime.combine(v, datetime.time())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def oracle_check(work):
    """Each query result that has a DuckDB oracle equals the oracle's rows.
    The JVM lists, per query, the SQL, the input tables and the written result.
    Returns ({query: problem}, number checked)."""
    manifest = os.path.join(work, "results", "oracle.json")
    if not os.path.exists(manifest):
        return {"oracle": "no oracle manifest written"}, 1
    oracle = json.load(open(manifest))
    bad = {}
    for name, o in sorted(oracle.items()):
        problem = compare(o["corpus"], o["result"], o["sql"])
        if problem:
            bad[name] = problem
    return bad, len(oracle)


def compare(corpus, out, sql):
    """None when the result under `out` equals the oracle's rows as a
    multiset (columns matched by name), else what differs."""
    import duckdb
    files = glob.glob(os.path.join(out, "*.parquet"))
    if not files:
        return "no result written"
    con = duckdb.connect()
    for t in sorted(glob.glob(os.path.join(corpus, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    try:
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gcols = [d[0] for d in got_rel.description]
        got = got_rel.fetchall()
        exp_rel = con.sql(sql)
        ecols = [d[0] for d in exp_rel.description]
        exp = exp_rel.fetchall()
    except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
        return f"oracle: {type(e).__name__}: {e}"[:300]
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} != {sorted(ecols)}"
    gi = [gcols.index(c) for c in sorted(gcols)]
    ei = [ecols.index(c) for c in sorted(ecols)]
    g = sorted((tuple(canon(r[i]) for i in gi) for r in got), key=repr)
    x = sorted((tuple(canon(r[i]) for i in ei) for r in exp), key=repr)
    return None if g == x else f"rows differ ({len(g)} vs {len(x)} oracle rows)"


def one_run(workload, seed, seconds, trace, master):
    digest = build()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "runs", tag + ".json")
    shutil.rmtree(work, ignore_errors=True)
    load0 = loadavg()
    t0 = time.time()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--work", work, "--out", out, "--master", master], tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # also on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc is None:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {workload} did not finish in {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {workload} JVM failed ({rc})")
    jvm_s = time.time() - t0
    res = json.load(open(out))
    failures = list(res["failures"])
    failed = int(res["failed"])
    attempted = int(res["attempted"])
    if workload in ("catalog_gen", "curate_x4"):
        t1 = time.time()
        bad, checked = oracle_check(work)
        res["oracle_s"] = time.time() - t1
        attempted += checked
        failed += len(bad)
        failures += [f"{k}: {v}" for k, v in bad.items()]
    shutil.rmtree(work, ignore_errors=True)
    load1 = loadavg()
    cpus = os.cpu_count() or 1
    try:
        nproc = subprocess.run(["nproc"], capture_output=True, text=True).stdout.strip()
    except OSError:
        nproc = ""
    metrics = res["metrics"]
    names = spec_names(trace)
    if names:
        # a layer a workload never enters reads 0 (e.g. pipeline.* on curate_x4)
        metrics = {n: metrics.get(n, 0.0) for n in names}
    res.update(
        workload=workload, seed=seed, seconds=seconds, trace=trace, master=master,
        failures=failures, failed=failed, attempted=attempted,
        error_frac=failed / max(attempted, 1),
        env=dict(res["env"], cpus=cpus, nproc=nproc, source_sha256=digest,
                 git_sha=git_sha(), loadavg_before=load0, loadavg_after=load1,
                 loaded_box=load0 > cpus / 2, wall_s=time.time() - t0, jvm_s=jvm_s))
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    if load0 > cpus / 2:
        log(f"perfbench: pre-run loadavg {load0} exceeds half of {cpus} cores")
    for f in failures[:10]:
        log("perfbench: FAIL", f)
    units = spec_units(trace)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in sorted(metrics.items())}}


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def spec():
    p = os.path.join(ROOT, "BENCHMARK.json")
    return json.load(open(p)) if os.path.exists(p) else {}


def spec_names(trace):
    return [m["name"] for m in spec().get("per_layer" if trace else "end_to_end", [])]


def spec_units(trace):
    return {m["name"]: m["unit"] for m in spec().get("per_layer" if trace else "end_to_end", [])}


def steady(n, workloads, seconds, master):
    for w in workloads:
        vals = {}
        for seed in range(1, n + 1):
            r = one_run(w, seed, seconds, 0, master)
            log(f"perfbench: {w} seed {seed} correct={r['correct']} " +
                " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()))
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        for k, xs in sorted(vals.items()):
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            print(json.dumps({"workload": w, "metric": k, "n": len(xs), "median": q2,
                              "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
                              "values": xs}))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec().get("run_seconds", 10))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--steady", type=int, default=0)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    if a.steady:
        steady(a.steady, a.workloads.split(","), a.seconds, a.master)
    elif a.workload:
        print(json.dumps(one_run(a.workload, a.seed, a.seconds, a.trace, a.master)))
    else:
        ap.error("--workload or --steady is required")


if __name__ == "__main__":
    main()
