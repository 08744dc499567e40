#!/usr/bin/env python3
"""graft benchmark: builds the working tree, runs one workload and prints
one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run it from the root of a checkout. Each run compiles `src/main/scala`
and the harness with the Scala compiler that ships in the Spark jars
(once per source tree), makes the workload's input from the seed (once
per seed), runs the harness JVM (set-up, a cold pass, warm passes for
`--seconds`), checks every operation's result
against DuckDB or an independent property (see checks.py) and deletes
the run's temp dir, working dir and warehouse. Everything it writes
lives under `.perfbench/` in the checkout.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones. `--smoke` runs every workload on sf0.001 in one traced JVM and
prints every metric of both kinds.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SPARK_JARS = os.environ.get("PERFBENCH_SPARK_JARS", "/opt/spark/jars")
SCALA = "2.13.17"

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # sub-second relational queries and scalar codec gates over sf0.1 as
    # given: planning, codegen and the per-job floor dominate
    "interactive": [
        "dq01_scan_filter_project", "dq02_typed_projection", "dq03_multi_predicate",
        "dq07_ttl_filter", "dq09_validation", "dq15_bitmask_flags", "dq17_b64_roundtrip",
        "dq19_hash_agg", "dq21_count_distinct", "dq25_topk", "dq27_json_scalar",
        "dq33_percentiles", "ig_mac_format", "ig_dns_decode", "ig_xtea_roundtrip",
        "ig_tlv_roundtrip"],
    # the beacon decode DAG with its daily landings, and a streaming replay
    # with windowed state and a checkpoint, over seeded events
    "beacon_ingest": ["ig_beacon_dag", "ig_stream_windows"],
}
GENERATED = {"beacon_ingest"}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# a fixed heap, touched while the JVM starts (so inside set-up): first
# touches of fresh memory cost about 1 s per GB on a VM whose host backs
# guest memory lazily, and would otherwise land in whichever pass first
# grows into that part of the heap
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 150


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise BenchError(f"no Scala sources under {ROOT}/src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def build():
    """Compiles graft and the harness into one class directory, keyed by a
    hash of every source file, and returns it."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(WORK, "build", key)
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise BenchError(f"Scala compiler jars missing: {missing}")
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(SPARK_JARS, "*")] + srcs,
        capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    open(os.path.join(tmp, "_OK"), "w").close()
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def base_dir(smoke):
    d = os.path.join(TESTDATA, "sf0.001" if smoke else "sf0.1")
    if not os.path.isdir(d):
        raise BenchError(f"test data not found at {d} (set PERFBENCH_TESTDATA)")
    return d


def input_dir(workload, seed, smoke):
    base = base_dir(smoke)
    if workload not in GENERATED:
        return base
    tag = "smoke" if smoke else "sf0.1"
    return gen.generate(workload, seed, base,
                        os.path.join(WORK, "inputs", f"{workload}-{tag}-seed{seed}"))


def jvm(classes, run_dir, args):
    """Runs the harness JVM in a fresh temp dir, working dir and warehouse
    under `run_dir`; returns its metrics.json."""
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_HEAP + ["-Dfile.encoding=UTF-8",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
              "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}", "perfbench.Harness",
              f"spawn_ms={int(time.time() * 1000)}", f"out={run_dir}/out"] + args)
    # flush the generated inputs and the last run's deletions first, so
    # their writeback does not overlap the measurement
    os.sync()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    metrics = os.path.join(run_dir, "out", "metrics.json")
    if rc != 0 or not os.path.exists(metrics):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited with {rc}:\n{tail}")
    with open(metrics) as f:
        return json.load(f)


def run(workload, seed, seconds, trace, smoke=False):
    t0 = time.time()
    classes = build()
    t1 = time.time()
    if smoke:
        ops = [(n, input_dir(w, seed, True)) for w, wops in WORKLOADS.items() for n in wops]
    else:
        ops = [(n, input_dir(workload, seed, False)) for n in WORKLOADS[workload]]
    t2 = time.time()
    d = os.path.join(WORK, "runs", f"{os.getpid()}")
    try:
        m = jvm(classes, d, [f"seconds={seconds}", f"trace={1 if trace else 0}",
                             "ops=" + ",".join(f"{n}@{s}" for n, s in ops)])
        with open(os.path.join(d, "out", "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        t3 = time.time()
        verdicts = {n: checks.check(n, s, os.path.join(d, "out", "results", n),
                                    oracle_sql, os.path.join(WORK, "oracle"))
                    for n, s in ops}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    log(f"build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
        f"harness {t3 - t2:.1f} s, checks {time.time() - t3:.1f} s; cold s per op: "
        + " ".join(f"{n}={m['ops'][n]['cold_s']:.2f}" for n, _ in ops))
    failed = 0
    for n, _ in ops:
        o = m["ops"][n]
        ok, why = verdicts[n]
        if "error" in o:
            ok, why = False, o["error"]
        if not ok:
            log(f"FAIL {n}: {why}")
            failed += int(o["attempts"])
        else:
            failed += int(o["mismatched"])
            if o["mismatched"]:
                log(f"FAIL {n}: {int(o['mismatched'])} warm passes differ from the cold pass")
    e2e = {"setup_s": m["setup_s"], "cold_pass_s": m["cold_pass_s"],
           "warm_pass_s": statistics.median(m["warm_pass_s"]), "op_p50_s": m["op_p50_s"]}
    metrics = {}
    if not trace or smoke:
        metrics.update({x["name"]: {"value": e2e[x["name"]], "unit": x["unit"]}
                        for x in SPEC["end_to_end"]})
    if trace:
        layers = dict(m["layers"], **{"session.start_s": m["session_start_s"]})
        metrics.update({x["name"]: {"value": layers[x["name"]], "unit": x["unit"]}
                        for x in SPEC["per_layer"]})
    return {"correct": failed == 0, "attempted": int(m["attempted"]),
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    try:
        if a.smoke:
            result = run(None, a.seed, 0, True, smoke=True)
        else:
            result = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
