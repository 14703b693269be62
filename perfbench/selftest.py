"""Fast self-test of the benchmark at a tiny size (500 files, 20 queries,
2 refresh cycles), in one Spark session:

    python3 perfbench/selftest.py

For both workloads, untraced and traced, it checks that every metric
BENCHMARK.json declares is measured, with its declared unit, that every
named metric carries a unit, and that the run is correct. Then it breaks
the run three ways and checks that each is counted as failed, with the
result line still printed: every interactive result page corrupted;
``merge_indexes`` raising in a refresh cycle; ``delete_docs`` skipped, so
the refreshed index keeps docs it should have dropped.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402
from searchenginejava_spark.plans import pipeline  # noqa: E402
from harness import RssSampler, remove_dir, start_spark, stop_spark  # noqa: E402
from run import declared_metrics, result  # noqa: E402

TINY = {
    "search": dict(workloads.SEARCH, files=500, pool=20, batch=20, setups=1),
    "refresh": dict(workloads.REFRESH, base=500, delta=100, queries=2, min_cycles=2),
}
SEED = 7


def run_tiny(spark, rss, workload: str, trace: bool, work: str):
    if workload == "search":
        out = workloads.run_search(spark, TINY["search"], SEED, 1.0, trace)
    else:
        out = workloads.run_refresh(spark, TINY["refresh"], SEED, 1.0, trace, work)
    out.e2e["peak_rss_mb"] = rss.peak_mb
    return out


def check(out, trace: bool, label: str) -> None:
    line = json.loads(json.dumps(result(out, trace)))
    declared = {m["name"]: m["unit"] for m in declared_metrics(trace)}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == declared, f"{label}: metrics {got} != declared {declared}"
    assert line["correct"] and line["failed"] == 0, f"{label}: {line}"
    assert line["attempted"] >= 1, label
    for name, (value, unit, n) in out.named.items():
        assert unit and n >= 1, f"{label}: {name} has no unit or samples"
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values()), f"{label}: {line}"
    print(f"ok  {label}: {line['attempted']} operations", flush=True)


def check_failed(out, label: str) -> None:
    """A broken run is counted as failed and still prints a result line."""
    line = json.loads(json.dumps(result(out, False), allow_nan=False))
    assert not line["correct"], f"{label}: {line}"
    assert 0 < line["failed"] <= line["attempted"], f"{label}: {line}"
    print(f"ok  {label} counted: failed_frac "
          f"{line['failed'] / line['attempted']:.3f}", flush=True)


def main() -> int:
    work = os.path.join(HERE, "_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        with RssSampler() as rss:
            spark = start_spark(work)
            try:
                for workload in ("search", "refresh"):
                    for trace in (False, True):
                        out = run_tiny(spark, rss, workload, trace, work)
                        check(out, trace, f"{workload} trace={int(trace)}")
                        spark.catalog.clearCache()

                real = workloads.wand_call

                def corrupted(*args, **kwargs):
                    page = real(*args, **kwargs)
                    return [(d, s * 1.5) for d, s in page] or [(-1, 1.0)]

                workloads.wand_call = corrupted
                try:
                    out = run_tiny(spark, rss, "search", False, work)
                finally:
                    workloads.wand_call = real
                check_failed(out, "corrupted pages")

                def merge_raises(*args, **kwargs):
                    raise RuntimeError("injected merge failure")

                def delete_skipped(index, deleted):
                    return index

                for attr, fake, label in (
                    ("merge_indexes", merge_raises, "merge_indexes raising"),
                    ("delete_docs", delete_skipped, "delete_docs skipped"),
                ):
                    real = getattr(pipeline, attr)
                    setattr(pipeline, attr, fake)
                    try:
                        out = workloads.run_refresh(
                            spark, dict(TINY["refresh"], min_cycles=1), SEED, 1.0, False, work
                        )
                    finally:
                        setattr(pipeline, attr, real)
                    out.e2e["peak_rss_mb"] = rss.peak_mb
                    check_failed(out, label)
                    spark.catalog.clearCache()
            finally:
                stop_spark(spark)
    finally:
        remove_dir(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
