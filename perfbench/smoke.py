#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

Usage (from the root of a checkout):
  python3 perfbench/smoke.py

At a tiny generator scale it runs every workload of BENCHMARK.json once
untraced and once traced, and asserts that each run exits 0 and prints
every end_to_end (untraced) or per_layer (traced) metric of BENCHMARK.json
with its unit. It then asserts that the benchmark refuses to run, with a
non-zero exit and no result, in a directory holding only BENCHMARK.json and
perfbench/.
"""
import json, os, shutil, subprocess, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--scale", "0.05"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, w["name"], trace)
            lines = p.stdout.strip().splitlines()
            want = {m["name"]: m["unit"] for m in spec[key]}
            try:
                got = {k: v["unit"] for k, v in json.loads(lines[-1])["metrics"].items()}
            except (IndexError, ValueError, KeyError):
                got = {}
            ok = p.returncode == 0 and got == want
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}")
            if not ok:
                bad.append((w["name"], trace, p.returncode, p.stderr[-2000:]))
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/target"))
        p = run(d, spec["workloads"][0]["name"], 0)
        ok = p.returncode != 0 and not p.stdout.strip()
        print(f"{'ok  ' if ok else 'FAIL'} refuses to run without the engine sources")
        if not ok:
            bad.append(("bare-dir", 0, p.returncode, p.stdout[-500:]))
    for b in bad:
        print("failed:", b, file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
