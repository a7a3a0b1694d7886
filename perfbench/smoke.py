#!/usr/bin/env python3
"""Smoke run of every workload at scale 0.001 (the sf0.001 test tables), untraced and traced.

    python3 perfbench/smoke.py

For each run it asserts that the result line is the last line of standard
output, that it carries exactly the metrics BENCHMARK.json names (the
end-to-end ones untraced, the per-layer ones traced) each with its unit,
that every other named metric is printed with its unit and sample count,
and that no entry run failed. Exits non-zero on the first violation.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import run  # noqa: E402


def main():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    for workload in run.WORKLOADS:
        for trace, named in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload",
                   workload, "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               cwd=run.ROOT, timeout=600)
            lines = p.stdout.strip().splitlines()
            assert p.returncode == 0 and lines, \
                f"{workload} trace {trace}: exit {p.returncode}\n{p.stderr}"
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0 and \
                res["attempted"] >= 1, f"{workload}: {p.stdout}"
            want = {m["name"]: m["unit"] for m in named}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{workload} trace {trace}: {got} != {want}"
            printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1]
                       if len(ln.split()) == 4 and ln.split()[3][:2] == "n="}
            also = dict(layers.REPORT_ONLY) if trace else {}
            for k, u in {**want, **also}.items():
                assert printed.get(k) == u, f"{workload}: {k} not printed"
            print(f"ok  {workload:15s} trace {trace}  "
                  f"{res['attempted']} entry runs, 0 failed")


if __name__ == "__main__":
    main()
