#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.sbt, sbt offline) and caches the classpath under
perfbench/.work/ keyed by a digest of the sources; every run then starts a
fresh JVM (graft.perfbench.Main) with fresh temp roots for the artifact
directory, checkpoints and release state, all inside perfbench/.work/.

The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (a traced run also reports the tracing overhead against the
untraced runs recorded in this checkout, 0 if there are none yet, and for
cdc_stream one rate step at local[1] as a single-thread baseline). Earlier
lines describe the run:
box facts, the workload's own metrics by name and unit, and its steps.
"""
import argparse
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
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # a run must end within 180 s, its build aside

END_TO_END = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms", "fresh_p50_ms": "ms",
    "rate_per_s": "1/s", "cpu_s": "s",
}
PHASES = ["fold.b0", "readout.cold", "readout.warm", "compact"]
PHASE_COUNTERS = [
    ("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_ms", "ms"), ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("output_bytes", "bytes"), ("files_added", "count"),
    ("crc_files_added", "count"), ("async_jobs", "count"), ("collect_jobs", "count"),
    ("driver_gap_ms", "ms"),
]
PER_LAYER = dict(
    [("api.request_ms_p50", "ms"), ("api.conn_wait_ms_p50", "ms"), ("api.gen_late_ms_max", "ms"),
     ("api.requests", "count"), ("api.failed", "count"),
     ("store.get_calls", "count"), ("store.get_hit_ratio", "ratio"), ("store.get_us_p50", "us"),
     ("store.put_calls", "count"), ("store.put_us_p50", "us"), ("store.del_calls", "count"),
     ("store.del_us_p50", "us"), ("store.keys_end", "count"),
     ("stream.batches", "count"), ("stream.rows_per_batch_p50", "count"),
     ("stream.batch_ms_p50", "ms"), ("stream.addBatch_ms_p50", "ms"),
     ("stream.latestOffset_ms_p50", "ms"), ("stream.queryPlanning_ms_p50", "ms"),
     ("stream.walCommit_ms_p50", "ms"), ("stream.commitOffsets_ms_p50", "ms"),
     ("stream.backlog_files_max", "count"),
     ("cdc.records_in", "count"), ("cdc.keys_invalidated", "count"),
     ("cdc.del_useful_ratio", "ratio")]
    + [(f"{p}.{c}", u) for p in PHASES for c, u in PHASE_COUNTERS]
    + [("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"), ("jvm.peak_rss_mb", "MB"), ("proc.cpu_s", "s"),
       ("proc.cpu_util", "ratio"), ("trace.spans", "count"), ("trace.overhead_pct", "%")])

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest():
    """Digest of everything the build reads: both builds and all sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if os.path.isfile(p) and not p.endswith((".class", ".jar")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no program here: expected build.sbt and src/main/scala/graft at the checkout root")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    key = digest()
    cache = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(cache, "digest"), os.path.join(cache, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == key:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"  # never resolve from the network
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, no sbt server, and no JVM temp files outside the checkout
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={tmp}"]).strip()
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=700)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (sbt exit {proc.returncode})", 1)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(key)
    return classpath


def box():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = v.strip()
    return {"nproc": len(os.sched_getaffinity(0)), "mem_available": mem.get("MemAvailable"),
            "load1": os.getloadavg()[0]}


def harness(classpath, conf, workload, seed, seconds, trace, cpus, params, deadline):
    """One fresh JVM over fresh temp roots; returns (result, setup_s)."""
    run = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-XX:-UsePerfData", f"-Xmx{conf['heap']}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    out = os.path.join(run, "result.json")
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cpus", str(cpus),
            "--work", os.path.join(run, "work"), "--artifacts", os.path.join(run, "artifacts"),
            "--out", out]
    for k, v in params.items():
        cmd += ["--param", f"{k}={','.join(str(x) for x in v) if isinstance(v, list) else v}"]
    env = dict(os.environ)
    env["GRAFT_ARTIFACT_DIR"] = os.path.join(run, "artifacts")
    env["SPARK_LOCAL_DIRS"] = tmp
    log_path = os.path.join(run, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload} did not finish in time; log kept at {log_path}", 1)
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if "Exception" in l or "Error" in l)[-3000:])
        die(f"{workload} harness exited {code}; log kept at {log_path}", 1)
    with open(out) as f:
        result = json.load(f)
    if trace:
        spans = os.path.join(run, "work", "spans.jsonl")
        if os.path.isfile(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl"))
    shutil.rmtree(run, ignore_errors=True)
    return result, result["setup_end_s"] - t0


def history(workload, value=None):
    """Untraced latency_p50_ms values recorded in this checkout."""
    path = os.path.join(WORK, "history", f"{workload}.jsonl")
    if value is not None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps({"latency_p50_ms": value}) + "\n")
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(l)["latency_p50_ms"] for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    try:
        with open(os.path.join(HERE, "workloads.json")) as f:
            conf = json.load(f)
    except OSError as e:
        die(f"cannot read workloads.json: {e}")
    if args.workload not in conf["workloads"]:
        die(f"unknown workload {args.workload}; known: {', '.join(conf['workloads'])}")
    spec = conf["workloads"][args.workload]
    harness_name = "release_fold" if args.workload == "release_table" else args.workload
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    facts = box()
    run = lambda trace, cpus=conf["cpus"], params=spec["params"], seconds=args.seconds: harness(
        classpath, conf, harness_name, args.seed, seconds, trace, cpus, params, deadline)

    if not args.trace:
        result, setup_s = run(False)
        metrics = dict(result["common"], setup_s=setup_s)
        history(args.workload, metrics["latency_p50_ms"])
        order = END_TO_END
    else:
        # the tracing overhead compares with the untraced runs of this
        # workload in this checkout; it reads 0 until there is one
        untraced = history(args.workload)
        result, setup_s = run(True)
        metrics = {k: result["per_layer"].get(k, 0.0) for k in PER_LAYER}
        metrics["trace.spans"] = result["detail"].get("spans", 0)
        metrics["trace.overhead_pct"] = 100.0 * (
            result["common"]["latency_p50_ms"] / statistics.median(untraced) - 1.0) if untraced else 0.0
        extra = {k: v for k, v in result["per_layer"].items()
                 if k not in PER_LAYER and not k.startswith("self_ms.")}
        if args.workload == "cdc_stream":
            base_params = dict(spec["params"], rates=spec["params"]["rates"][:1])
            base, _ = run(False, cpus=1, params=base_params,
                          seconds=max(2, args.seconds // len(spec["params"]["rates"])))
            extra["baseline.local1.latency_p50_ms"] = base["common"]["latency_p50_ms"]
            extra["baseline.local1.batch_ms_p50"] = base["per_layer"]["stream.batch_ms_p50"]
        print("perfbench: per-layer metrics beyond the benchmark's list " + json.dumps(extra, sort_keys=True))
        order = PER_LAYER
        print("perfbench: self time per span (ms): " + json.dumps(
            {k[len("self_ms."):]: round(v, 3) for k, v in result["per_layer"].items()
             if k.startswith("self_ms.")}, sort_keys=True))

    facts.update(result["box"])
    print("perfbench: box " + json.dumps(facts, sort_keys=True))
    print("perfbench: " + args.workload + " metrics " + json.dumps(
        {k: f"{v['value']} {v['unit']}" for k, v in sorted(result["named"].items())}))
    print("perfbench: detail " + json.dumps(result["detail"], sort_keys=True))
    print("perfbench: checks " + json.dumps(result["checks"]))
    print(f"perfbench: run took {time.time() - start:.1f} s; spark ready after "
          f"{result['spark_ready_s'] - (result['setup_end_s'] - setup_s):.1f} s")
    clean = lambda v: v if isinstance(v, (int, float)) and v == v else 0.0
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": clean(metrics[k]), "unit": order[k]} for k in order},
    }))


if __name__ == "__main__":
    main()
