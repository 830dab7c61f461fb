"""Run one benchmark workload and print its result as the last stdout line.

    python3 enginebench/run.py --workload cdc_live --seed 1 --seconds 16 --trace 0

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics. The line before it holds
the run's identity and workload detail. ``--out FILE`` also appends the
record to a JSON-lines file, refusing a file recorded at another core count.
Exit status: 0 correct, 1 incorrect or crashed, 2 unusable environment.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("cdc_live", "corpus_dedup")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the result record to this JSON-lines file")
    return ap.parse_args(argv)


def end_to_end(result, peak_rss_mb: float) -> dict:
    return {
        "setup_s": {"value": statistics.median(result.setup_s), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "latency_p50_s": {"value": statistics.median(result.latencies), "unit": "s"},
        "work_per_s": {"value": result.work / result.work_s, "unit": "1/s"},
    }


def per_layer(result, tracer, traced_s: float) -> dict:
    from enginebench.trace import per_layer_names

    values = tracer.per_layer(traced_s)
    values["trace.latency_p50_s"] = statistics.median(result.latencies)
    return {name: {"value": values[name], "unit": unit} for name, (unit, _) in per_layer_names().items()}


def _check_out(path: str, cpus: int) -> None:
    """Refuse to mix records of different core counts in one file."""
    if not os.path.exists(path):
        return
    with open(path) as f:
        for line in f:
            if line.strip() and json.loads(line)["identity"]["cpus"] != cpus:
                sys.exit(f"{path} holds results taken at another core count; not appending")


def main(argv=None) -> int:
    args = _parse(argv)
    if importlib.util.find_spec("cdc_connector_spark") is None:
        print("enginebench: the cdc_connector_spark package is not next to the benchmark", file=sys.stderr)
        return 2
    from enginebench import common
    from enginebench.trace import Tracer

    if args.out:
        _check_out(args.out, common.cpus())
    common.prepare_env()
    workload = importlib.import_module(f"enginebench.{args.workload}")
    spark = common.start_spark()
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        steal0, total0 = common.cpu_times()
        with common.RssSampler() as rss:
            t = time.perf_counter()
            result = workload.run(spark, tracer, args.seed, args.seconds)
            traced_s = time.perf_counter() - t
        steal1, total1 = common.cpu_times()
        result.detail["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        ident = common.identity(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                                result.detail.pop("inputs", {}))
        if not result.latencies or result.work_s <= 0:
            result.errors.append("no measured operation completed")
        correct = not result.errors
        if correct:
            metrics = (per_layer(result, tracer, traced_s) if args.trace
                       else end_to_end(result, rss.peak_mb))
        else:
            metrics = {}
    except Exception:  # noqa: BLE001 — top of the run: report and fail
        traceback.print_exc()
        common.stop_spark(spark)
        return 1
    common.stop_spark(spark)
    record = {
        "identity": ident,
        "setup_s_samples": result.setup_s,
        "latency_samples": result.latencies,
        "detail": result.detail,
        "errors": result.errors,
    }
    final = {"correct": correct, "attempted": result.attempted, "failed": result.failed,
             "metrics": metrics}
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({**record, **final}) + "\n")
    for err in result.errors:
        print(f"enginebench: {err}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(final))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
