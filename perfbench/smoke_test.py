"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke_test.py      # from the repository root

Runs every workload run.py knows (the BENCHMARK.json set and scan_agg)
for a few seconds on the tiny family, untraced and
traced, and asserts that each run exits 0, that its result line names
every metric BENCHMARK.json lists (end-to-end when untraced, per-layer
when traced) with its unit, and that every output check passed. The
read-only workloads must also have no failed request.
"""
import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in run.WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "3", "--trace", trace, "--size", "tiny"],
                               cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = "%s --trace %s" % (w, trace)
            if p.returncode != 0:
                problems.append("%s: exit %d: %s" % (tag, p.returncode, p.stderr[-500:]))
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            got = r["metrics"]
            for m in spec[key]:
                if m["name"] not in got:
                    problems.append("%s: metric %s missing" % (tag, m["name"]))
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append("%s: %s has unit %s, expected %s"
                                    % (tag, m["name"], got[m["name"]]["unit"], m["unit"]))
            if not r["correct"]:
                problems.append("%s: an output check failed" % tag)
            if r["attempted"] < 1:
                problems.append("%s: nothing attempted" % tag)
            if w in ("dash_read", "scan_agg") and r["failed"]:
                problems.append("%s: %d requests failed" % (tag, r["failed"]))
            print("ok" if not problems else "..", tag, "attempted=%d failed=%d" % (r["attempted"], r["failed"]),
                  flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
