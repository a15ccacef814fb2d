#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

Runs the catalog workload's fixed query mix plus the two injected
operations (one throws, one returns a result its oracle rejects) and
asserts that both injected operations are counted as failed, that the
run is reported incorrect, and that the latency figures cover the mix's
queries only. Exits 0 on success.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from run import MIX  # noqa: E402


def main():
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--inject"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and len(lines) >= 2, (r.returncode, r.stdout, r.stderr[-3000:])
    named, result = json.loads(lines[-2]), json.loads(lines[-1])
    attempted = len(MIX) + 2
    assert result["attempted"] == attempted, result
    assert result["failed"] == 2, result
    assert result["correct"] is False, result
    assert named["failed_ratio"]["value"] == 2 / attempted, named
    assert named["query_s.p50"]["n"] == len(MIX), named
    for name in ("inject_throw", "inject_wrong"):
        assert f"failed: pass 0 {name}:" in r.stderr, (name, r.stderr[-3000:])
    print(f"selftest OK: 2 of {attempted} operations failed, "
          f"latency over the {len(MIX)} that passed")


if __name__ == "__main__":
    main()
