"""KG-build benchmark of arekit_r335_spark.

    python3 perfbench/run.py --workload samples_export --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. Prints one ``# ...`` line per fact it
measured (fixture, oracle, every iteration with its CPU steal, every metric
with its unit), then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of one extra traced
iteration (spans are written to ``.perfbench_cache/traces``).

Exits non-zero without a result when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, prepare_env, session_conf, spec  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs (perfbench/selftest.py); the defaults are the benchmark
    ap.add_argument("--sf", type=float, default=None,
                    help="fixture scale factor (default: the workload's)")
    ap.add_argument("--plant-wrong-reference", action="store_true",
                    help="compare against a wrong digest: every iteration "
                         "must then count as failed")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "arekit_r335_spark")):
        print(f"perfbench: no arekit_r335_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    prepare_env()
    import workloads  # noqa: E402 - needs prepare_env's sys.path

    print(f"# session {json.dumps(session_conf(), sort_keys=True)}")
    r = workloads.run(args.workload, args.seed, args.seconds,
                      bool(args.trace), sf=args.sf or workloads.SF,
                      expect_digest=("planted-wrong-reference"
                                     if args.plant_wrong_reference else None))

    for k, (v, unit) in r["info"].items():
        print(f"# metric {k} {v} {unit}")
    # names and units come from BENCHMARK.json; a metric the run did not
    # measure fails here with a KeyError
    kind = "per_layer" if args.trace else "end_to_end"
    values = r["layers"] if args.trace else r
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec()[kind]}
    if args.trace:
        skipped = sorted({k.split(".")[0] for k in metrics}
                         - set(workloads.LAYERS_RUN[args.workload]))
        print(f"# layers not run by {args.workload} (reported as 0): "
              f"{', '.join(skipped)}")
    for k, m in metrics.items():
        print(f"# metric {k} {m['value']} {m['unit']}")
    print(f"# run_wall_s {time.perf_counter() - T0:.3f}")
    print(json.dumps({"correct": r["failed"] == 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
