#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness (perfbench/harness, its own sbt build) and generates the dataset
(perfbench/gen_data.py) into .bench_build/; later runs reuse both while
their inputs match. One JVM then runs the workload at local[4]: set-up
(session, table scans, streaming staging, the workload's process caches,
one warm-up pass), then whole measured passes of the workload's queries,
each pass in an order drawn from --seed, each query's output checked
against its pinned digest. The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1 (which
also writes the span tree and per-query layer table to .bench_build/traces/).
Diagnostics go to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
import gen_data  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the same list graft's build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def is_checkout():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")))


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project/build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project/build.properties")]
    for base in (os.path.join(ROOT, "src/main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile graft and the harness with sbt unless the sources are unchanged
    since the last build in this checkout."""
    stamp_path = os.path.join(BUILD, "build.stamp")
    stamp = _source_stamp()
    try:
        with open(stamp_path) as f:
            if f.read() == stamp and os.path.isfile(CLASSPATH):
                return
    except OSError:
        pass
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "harness/writeClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isfile(CLASSPATH):
        raise RuntimeError(f"sbt build failed (rc={rc}); see {BUILD}/logs/build.log")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def ensure_data():
    path = os.path.join(BUILD, "data")
    t0 = time.time()
    if gen_data.ensure(path):
        log(f"generated the dataset in {time.time() - t0:.1f} s")
    return path


def run_harness(config, log_path, deadline):
    """Start the harness JVM on `config`, wait for it, return its exit code."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(config["work"], "tmp")
    os.makedirs(tmp)
    cfg_path = os.path.join(config["work"], "config.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Harness", cfg_path])
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=config["work"], stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness did not finish in time; see {log_path}")


def make_config(spec, name, mode, seed, seconds, trace, data, work, pins):
    w = spec[name]
    return {
        "mode": mode, "workload": name, "data": data, "work": work,
        "out": os.path.join(work, "result.json"),
        "trace_out": os.path.join(BUILD, "traces", f"{name}-seed{seed}.json"),
        "queries": w["queries"], "caches": w["caches"], "stage": w["stage"],
        "scans": w["scans"], "pins": pins, "seed": seed, "seconds": seconds,
        "trace": bool(trace)}


def fresh_workdir(tag):
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def report(result, log_path, trace_path):
    d = result.get("diagnostics", {})
    for k, m in result["metrics"].items():
        log(f"{k:32s} {m['value']:14.4f} {m['unit']}")
    tail = d.get("query_tail", {})
    log(f"passes={d.get('passes')} samples={d.get('measured_samples')} "
        f"fail_ratio={d.get('fail_ratio')} (failed / attempted, warm-up included)")
    log(f"query_tail_s: " + (f"p{tail['percentile']:.0f} = {tail['value_s']:.4f} s"
                             if "percentile" in tail else
                             f"needs more than 10 samples, have {tail.get('samples')}")
        + f"; max {tail.get('max_s', 0):.4f} s")
    log("pass wall s: " + " ".join(f"{x:.2f}" for x in d.get("pass_wall_s", [])))
    log(f"set-up s: session {d.get('session_s', 0):.2f}, scans {d.get('scan_s', 0):.2f}, "
        f"staging {d.get('stage_s', 0):.2f}")
    log(f"cpu probe s: start {d.get('cpu_probe_start_s', 0):.4f} "
        f"end {d.get('cpu_probe_end_s', 0):.4f}")
    for c, s in d.get("cache_build_s", {}).items():
        log(f"cache {c}: {s:.2f} s")
    with open(log_path, errors="replace") as f:
        paths = sorted({m.group(0) for m in re.finditer(r"exact-verify attach: .*", f.read())})
    for p in paths:
        log(p)
    for e in d.get("errors", []):
        log(f"ERROR {e}")
    if trace_path and os.path.isfile(trace_path):
        with open(trace_path) as f:
            per_query = json.load(f)["per_query"]
        cols = ["latency_s", "build_s", "action_s", "driver_s", "jobs", "stages",
                "stage_floor_s", "task_cpu_s", "cpu_util", "shuffle_write_mb", "input_mb"]
        log("per query (median of traced samples): " + " ".join(cols))
        for q, v in per_query.items():
            log(f"  {q:34s} " + " ".join(f"{v[c]:9.3f}" for c in cols))
        log(f"trace written to {trace_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not is_checkout():
        log(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
        return 2
    spec = load_spec()
    if args.workload not in spec:
        log(f"unknown workload {args.workload}; have {sorted(spec)}")
        return 2
    try:
        ensure_built()
        data = ensure_data()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 3
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = fresh_workdir(tag)
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    config = make_config(spec, args.workload, "bench", args.seed, args.seconds, args.trace,
                         os.path.abspath(data), work, pins)
    # the run's own time limit starts after any build and data generation
    deadline = time.time() + RUN_LIMIT_S
    try:
        rc = run_harness(config, log_path, deadline)
        with open(config["out"]) as f:
            result = json.load(f)
    except (RuntimeError, OSError, ValueError) as e:
        log(f"run failed: {e}; see {log_path}")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(result, log_path, config["trace_out"] if args.trace else None)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if rc == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
