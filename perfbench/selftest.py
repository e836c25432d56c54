"""Self-test of the benchmark at sf0.001 (a few minutes; one JVM per case).

    python3 perfbench/selftest.py

Checks, for both workloads, through the benchmark's own command:
* every end-to-end and per-layer metric is printed with its unit, and the
  last line is the result object;
* two different seeds both pass correctness;
* a planted wrong reference digest drives ``failed_frac`` to 1.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import spec  # noqa: E402


def bench(*args: str) -> tuple[dict, dict]:
    """Run the command; return (result object, {metric: unit} printed)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--sf", "0.001",
         "--seconds", "1", *args],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"exit {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        if line.startswith("# metric "):
            _, _, name, _, unit = line.split(" ", 4)
            printed[name] = unit
    return json.loads(lines[-1]), printed


def main() -> int:
    failures = []

    def check(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for wl in (w["name"] for w in spec()["workloads"]):
        for seed, trace in ((1, "1"), (2, "0")):
            res, printed = bench("--workload", wl, "--seed", str(seed),
                                 "--trace", trace)
            want = {m["name"]: m["unit"] for m in
                    spec()["per_layer" if trace == "1" else "end_to_end"]}
            check(res["correct"] and res["failed"] == 0,
                  f"{wl} seed {seed}: output correct")
            check(set(res["metrics"]) == set(want)
                  and all(printed.get(k) == u for k, u in want.items())
                  and all(res["metrics"][k]["unit"] == u
                          for k, u in want.items()),
                  f"{wl} seed {seed} trace {trace}: every metric printed "
                  "with its unit")
            check("failed_frac" in printed,
                  f"{wl} seed {seed}: failed_frac printed")
        res, printed = bench("--workload", wl, "--seed", "1",
                             "--plant-wrong-reference")
        check(not res["correct"] and res["failed"] == res["attempted"] > 0,
              f"{wl}: planted wrong reference fails every iteration "
              f"({res['failed']}/{res['attempted']})")
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
