#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: SPARQL endpoint, RSP stream and
batch jobs, driven from one JVM that also hosts the server.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source with sbt; later runs reuse the build while the sources
are unchanged. Each run generates its own corpus from the seed under a
private directory, which it deletes on exit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See e2ebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "bench.classpath")
STAMP = os.path.join(HARNESS, "target", "bench.stamp")
RUNS = os.path.join(ROOT, ".e2ebench_run")
OUT = os.path.join(ROOT, ".e2ebench_out")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# One JVM per run costs about 15 s of cold start, and a run of every phase
# (about 80 s) does not fit the run budget, so each workload pairs one kind
# of online client with one batch job set. Counts are fixed per run, so two
# builds always do the same work.
CORPUS = dict(sf=0.002, ticks_per_day=96, events_per_tick=3)
# the harness's request counts fill about this many seconds of measurement
# on a 4-core host; --seconds scales them
CALIBRATED_SECONDS = 30

# workload and metric names and units are BENCHMARK.json's; the harness
# (Main.scala) holds the job sets and which phase metric each one reports
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads: program and harness sources and
    the build definitions."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless an up-to-date build exists."""
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    log("building program and harness with sbt")
    # sbt's temp files and server socket stay in the checkout; the path is
    # relative because a socket path may not exceed 107 bytes
    tmp = os.path.join("target", "sbt-tmp")
    env = dict(os.environ, TMPDIR=os.path.join(HARNESS, tmp))
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
                                "-XX:-UsePerfData"]).strip()
    os.makedirs(os.path.join(HARNESS, tmp), exist_ok=True)
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HARNESS, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=850)
    finally:
        shutil.rmtree(os.path.join(HARNESS, tmp), ignore_errors=True)
    if r.returncode != 0:
        raise RuntimeError(f"sbt build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f} s")


def run_jvm(args, run_dir, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    # TCP_NODELAY on the server's sockets: without it each SSE marker can
    # wait up to 40 ms for the reader's delayed ACK (Nagle), which made the
    # engine latencies bimodal (3 ms or 45 ms) from run to run
    cmd = ["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dsun.net.httpserver.nodelay=true"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Main", "--workload", args.workload, "--run-dir", run_dir,
            "--trace", str(args.trace),
            "--cores", str(os.cpu_count() or 1),
            "--scale", str(args.seconds / CALIBRATED_SECONDS)]
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# names of what a JVM, Spark, sbt, RocksDB, DuckDB or graft would leave in
# /tmp; other processes on the host may create other entries meanwhile
TMP_LEAKS = ("spark", "blockmgr", "hsperfdata", "graft", "sbt", ".sbt", "temporary-", "jna",
             "rocksdb", "librocksdb", "snappy", "zstd", "lz4", "duckdb", "e2ebench")


def tmp_entries():
    try:
        return {n for n in os.listdir("/tmp") if n.lower().startswith(TMP_LEAKS)}
    except OSError:
        return set()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=CALIBRATED_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout of the repository")
            return 2
    tmp_before = tmp_entries()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        build()
        built = time.time()
        import gen
        import oracle
        corpus = os.path.join(run_dir, "corpus")
        gen.generate(corpus, args.seed, **CORPUS)
        log(f"corpus ready at {time.time() - started:.1f} s")
        # a cold first run may spend most of its budget building; the
        # checks after the JVM take under 10 s
        code = run_jvm(args, run_dir, started + (165.0 if built - started < 5 else 880.0))
        log(f"harness done at {time.time() - started:.1f} s")
        result_path = os.path.join(run_dir, "out", "result.json")
        if code != 0 or not os.path.exists(result_path):
            log(f"harness failed (exit code {code})")
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
        attempted, failed = int(res["attempted"]), int(res["failed"])
        errors = list(res["errors"])
        ora = oracle.Oracle(corpus)
        for chk in res["checks"]:
            attempted += 1
            try:
                why = ora.check(chk, os.path.join(run_dir, "out"), res["oracle_sql"])
            except Exception as e:  # a check that cannot run is a failed check
                why = f"{chk['name']}: check error {e!r}"
            if why:
                failed += 1
                errors.append(why)
        log(f"checks done at {time.time() - started:.1f} s")
        m = res["metrics"]
        m["ok_ratio"] = 1.0 - failed / attempted
        os.makedirs(OUT, exist_ok=True)
        if args.trace:
            shutil.copy(os.path.join(run_dir, "out", "trace.json"),
                        os.path.join(OUT, f"trace_{args.workload}.json"))
        with open(os.path.join(OUT, f"last_{args.workload}_trace{args.trace}.json"), "w") as fh:
            json.dump({"counts": res["counts"], "errors": errors, "metrics": m}, fh, indent=1)
        for e in errors:
            log(f"FAILED {e}")
        wanted = PER_LAYER if args.trace else END_TO_END
        missing = [k for k in wanted if k not in m]
        if missing:
            log(f"metrics not measured: {missing}")
            return 1
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": m[k], "unit": u} for k, u in wanted.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    left = sorted(tmp_entries() - tmp_before)
    if left:
        log(f"new entries under /tmp after the run: {left}")
        out["correct"] = False
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
