"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout.  Builds its inputs from ``--seed``,
drives the engine through its public functions, checks every output
against the DuckDB oracles, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a run that also
measures the tracing overhead.  The full record (host evidence, named
failures, row counts, spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _args(argv)
    os.environ["TZ"] = "UTC"  # Spark's collect renders timestamps local
    time.tzset()
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; known: {names}",
              file=sys.stderr)
        return 2

    import common

    evidence = common.host_evidence()
    if args.workload == "stream_game":
        import stream as workload
    else:
        import batch as workload
    try:
        res = workload.run(args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(common.WORK, ignore_errors=True)
    evidence_end = common.host_evidence()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]],
                           "unit": m["unit"]} for m in wanted}
    failed = len(res["failures"])
    attempted = res["attempted"]
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host_evidence": {"start": evidence, "end": evidence_end,
                          "steal_share": common.steal_share(evidence,
                                                            evidence_end)},
        "fail_ratio": failed / attempted if attempted else 1.0,
        "failures": res["failures"], "e2e": res["e2e"],
        "layers": res["layers"], "detail": res["detail"],
    }
    os.makedirs(common.OUT, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(common.OUT, f"{stem}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(common.OUT, f"{stem}-spans.json"), "w") as f:
            json.dump(res["spans"], f)

    print(json.dumps({"host_evidence": record["host_evidence"],
                      "fail_ratio": record["fail_ratio"],
                      "failures": res["failures"]}), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
