#!/usr/bin/env python3
"""Regenerate perfbench/pins.json through graft's DuckDB oracle.

    python3 perfbench/pin.py [workload ...]

For each workload (default: all), runs the harness in pin mode on the
generated dataset: every query's output is dumped as parquet next to its
oracle SQL, and the digest of the dump is recorded together with every
digest the same run observed (warm-up and a fresh re-run). Then
tools/check_oracle.py compares each dump with DuckDB. A query is pinned only
if its dump PASSES the oracle compare and all observed digests agree with
the dump's; anything else is printed and nothing is pinned for it, and the
script exits non-zero. A digest that differs between runs of the same code
is a determinism finding: record it, do not drop the query.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def pin_workload(spec, name, pins):
    data = os.path.abspath(run.ensure_data())
    work = run.fresh_workdir(f"pin-{name}")
    log_path = os.path.join(run.BUILD, "logs", f"pin-{name}.log")
    config = run.make_config(spec, name, "pin", 1, 1.0, 0, data, work, {})
    rc = run.run_harness(config, log_path, time.time() + 900)
    if rc != 0:
        raise RuntimeError(f"harness exit {rc}; see {log_path}")
    with open(config["out"]) as f:
        dumped = json.load(f)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), data,
         os.path.join(work, "dump")], capture_output=True, text=True)
    print(check.stdout)
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    ok = True
    for q in spec[name]["queries"]:
        d = dumped.get(q, {})
        seen = {(o["rows"], o["digest"]) for o in d.get("observed", [])}
        if "error" in d or q not in passed:
            print(f"NOT PINNED {q}: {d.get('error', 'oracle compare did not pass')}")
            ok = False
        elif seen != {(d["rows"], d["digest"])}:
            print(f"NOT PINNED {q}: digests differ between runs of the same code: "
                  f"dump {d['rows']}/{d['digest']}, observed {sorted(seen)}")
            ok = False
        else:
            pins[q] = {"rows": d["rows"], "digests": [d["digest"]]}
            print(f"pinned {q}: {d['rows']} rows, digest {d['digest']}")
    shutil.rmtree(work, ignore_errors=True)
    return ok


def main():
    if not run.is_checkout():
        print("run from a graft checkout", file=sys.stderr)
        return 2
    spec = run.load_spec()
    names = sys.argv[1:] or list(spec)
    run.ensure_built()
    path = os.path.join(HERE, "pins.json")
    # pinning every workload rebuilds the file; naming some updates it
    pins = {}
    if sys.argv[1:]:
        with open(path) as f:
            pins = json.load(f)
    ok = all([pin_workload(spec, n, pins) for n in names])
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
