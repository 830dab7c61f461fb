"""The reconciliation sweep: the validation suite plus drift drill-down of
one ``TxLogMergeSink`` against several sources.

A report reads the sink (paying any outstanding merge-on-read layers), runs
all six checks against one source, and drills into any source it does not
PASS against. ``check`` compares the reports with the verdicts, counts and
drill-down sets ``oracles.expected_report`` derives independently.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def patched(module, name: str, tracer, span_name: str):
    """Route a module-level engine function through a span while inside."""
    original = getattr(module, name)

    def inner(*a, **kw):
        with tracer.span(span_name):
            return original(*a, **kw)

    setattr(module, name, inner)
    try:
        yield
    finally:
        setattr(module, name, original)


def sweep(spark, tracer, sink, source_dir: str, sources: list[str], pk: list[str]) -> dict:
    """One report per source table ``<source_dir>/<name>.parquet``."""
    from cdc_connector_spark.tables import load_table
    from cdc_connector_spark.validation import checks
    from cdc_connector_spark.validation.drift import duplicate_groups, orphan_sample

    out = {}
    with patched(checks, "check_orphans", tracer, "validation.checks.check_orphans"):
        for name in sources:
            with tracer.span("changelog.txlog.read"):
                sink_df = sink.read()
            with tracer.span("tables.load_table"):
                src_df = load_table(spark, source_dir, name)
            with tracer.span("validation.checks.run_all_checks"):
                rep = checks.run_all_checks(name, src_df, sink_df, pk)
            entry = {"report": rep, "dups": None, "orphans": None}
            if rep.verdict != checks.PASS:
                with tracer.span("validation.drift.duplicate_groups"):
                    entry["dups"] = duplicate_groups(sink_df, pk).collect()
                entry["orphans"] = orphan_sample(src_df, sink_df, pk).collect()
            out[name] = entry
    return out


def check(expected: dict, reports: dict, pk: list[str]) -> list[str]:
    """Differences between the reports and ``oracles.expected_report`` output
    per source (verdict, every check status, counts, drill-down sets)."""
    errors = []
    for name, exp in expected.items():
        got = reports[name]
        rep = got["report"]
        status = {r.check: r.status for r in rep.results}
        if rep.verdict != exp["verdict"] or status != exp["status"]:
            errors.append(f"{name}: verdict {rep.verdict} {status}, expected {exp['verdict']} {exp['status']}")
        metrics = {k: v for r in rep.results for k, v in r.metrics.items()}
        for k, v in exp["metrics"].items():
            if metrics.get(k) != v:
                errors.append(f"{name}: {k}={metrics.get(k)}, expected {v}")
        if rep.verdict != "PASS":
            dups = {tuple(r[k] for k in pk): r["occurrence_count"] for r in got["dups"]}
            if dups != exp["duplicate_groups"]:
                errors.append(f"{name}: {len(dups)} duplicate groups, expected {len(exp['duplicate_groups'])}")
            orphans = {tuple(r[k] for k in pk) for r in got["orphans"]}
            if not orphans <= exp["orphan_keys"] or len(orphans) != min(100, len(exp["orphan_keys"])):
                errors.append(f"{name}: orphan sample of {len(orphans)} is not drawn from the "
                              f"{len(exp['orphan_keys'])} expected orphans")
    return errors
