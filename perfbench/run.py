"""Benchmark entry point.

    python3 perfbench/run.py --workload search|refresh --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Starts ``local[<cores>]`` Spark, runs one
workload from one closed-loop client, checks every result, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``). The line
before it names every metric the workload measured, with its unit and
sample count. A traced run also writes its spans to ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from harness import RssSampler, log, remove_dir, start_spark, stop_spark  # noqa: E402


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def result(out, trace: bool) -> dict:
    """The last output line. A correct run has measured every declared
    metric; a failed one reports what it could not measure as null."""
    values = out.layers if trace else out.e2e
    if out.failed == 0:
        missing = [m["name"] for m in declared_metrics(trace) if m["name"] not in values]
        assert not missing, f"declared metrics not measured: {missing}"
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            m["name"]: {
                "value": None if values.get(m["name"]) is None else float(values[m["name"]]),
                "unit": m["unit"],
            }
            for m in declared_metrics(trace)
        },
    }


def run(workload: str, seed: int, seconds: float, trace: bool):
    """One run in this process: Spark up, workload, Spark down."""
    import workloads

    cfg = workloads.SEARCH if workload == "search" else workloads.REFRESH
    work = os.path.join(HERE, "_work", f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        with RssSampler() as rss:
            spark = start_spark(work)
            log("spark started")
            try:
                if workload == "search":
                    out = workloads.run_search(spark, cfg, seed, seconds, trace)
                else:
                    out = workloads.run_refresh(spark, cfg, seed, seconds, trace, work)
            finally:
                stop_spark(spark)
                log("spark stopped")
    finally:
        remove_dir(work)
    out.e2e["peak_rss_mb"] = rss.peak_mb
    out.named["peak_rss_mb"] = (rss.peak_mb, "MB", 1)
    out.named["failed_frac"] = (out.failed / out.attempted, "ratio", out.attempted)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    try:
        import searchenginejava_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        out.tracer.write(
            os.path.join(HERE, "_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
        )
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "wall_s": round(time.monotonic() - t0, 3),
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in out.named.items()},
    }))
    print(json.dumps(result(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
