#!/usr/bin/env python3
"""Self-test of the correctness gate: a deliberately throwing entry and a
deliberately wrong entry must each raise `fail_ratio`; the same run without
them must report no failure.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(inject):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "events_warehouse",
           "--seed", "7", "--seconds", "1", "--trace", "0", "--entries", "q01_pricing_summary"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if p.returncode != 0:
        sys.exit(f"selftest: run.py exited {p.returncode}\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    fails = [ln for ln in p.stderr.splitlines() if " FAIL " in ln or ": FAIL " in ln]
    return out, fails


def main():
    ok = True
    base, _ = run("")
    print(f"control: failed={base['failed']}/{base['attempted']}")
    ok &= base["failed"] == 0 and base["metrics"]["ok_ratio"]["value"] == 1.0
    for inject, marker in (("throw", "selftest_throw"), ("wrong", "selftest_wrong")):
        out, fails = run(inject)
        hit = [f for f in fails if marker in f]
        ratio = 1.0 - out["metrics"]["ok_ratio"]["value"]
        print(f"{inject}: failed={out['failed']}/{out['attempted']} fail_ratio={ratio:.3f}")
        for f in hit[:3]:
            print("   ", f)
        ok &= out["failed"] > 0 and ratio > 0 and not out["correct"] and bool(hit)
    print("selftest PASS" if ok else "selftest FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
