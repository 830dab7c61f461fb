"""corpus_dedup: the canonical-document pipeline over a seeded corpus.

One pass is ``exact_dedup`` (formatting-insensitive fingerprints), then
``minhash_verified_pairs`` over the survivors, ``neardup_groups`` over the
pairs, and ``quality_score`` survivor selection: per near-dup group the
best-quality document (ties to the smaller id) is kept, and every
ungrouped survivor is kept. Each stage is materialised before the next, so
the traced run can time them one by one; the untraced run does the same.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from enginebench import common, gen, oracles

# A warm pass takes about 6 s on 4 cores, so a 16 s window holds three
# passes for any pass time from 5.3 to 8 s. At 1,500 documents (5.3 s) some
# windows held four, and as passes still speed up, those runs read ~8% lower.
N_DOCS = 2_500
# Warm-up is one cold pass over the parquet file before set-up, then
# WARMUP_PASSES over the cached corpus. While the JIT compiles, the pass
# after the cold one is about 40% and the next about 20% slower than the
# fourth on 4 cores, so the window starts past the steepest part of the curve.
WARMUP_PASSES = 1
# a load takes about 0.35 s warm; the median of seven keeps setup_s steady
SETUP_REPS = 7
# a 16 s window holds three warm passes; on a contended host it would hold
# two, and their median would be the mean with the slower first one
MIN_PASSES = 3


def _pass(spark, tracer, docs) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_connector_spark.ops.components import neardup_groups
    from cdc_connector_spark.ops.dedup import exact_dedup, minhash_verified_pairs
    from cdc_connector_spark.ops.textstats import quality_score

    with tracer.span("ops.dedup.exact_dedup"):
        survivors = exact_dedup(docs).select("doc_id").localCheckpoint(eager=True)
    kept_docs = docs.join(survivors, "doc_id")
    with tracer.span("ops.dedup.minhash_verified_pairs") as sp:
        pairs = minhash_verified_pairs(kept_docs, num_hashes=64, bands=32,
                                       jaccard_threshold=oracles.JACCARD_THRESHOLD)
        pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
        if tracer.enabled:
            sp.count("pairs_out", pairs.count())
    with tracer.span("ops.components.neardup_groups") as sp:
        groups = neardup_groups(pairs).localCheckpoint(eager=True)
        if tracer.enabled:
            sp.count("groups_out", groups.select("rep_id").distinct().count())
    with tracer.span("ops.textstats.quality_score"):
        q = kept_docs.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))
        w = Window.partitionBy("rep_id").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        winners = (
            groups.join(q, groups["id"] == q["doc_id"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("doc_id")
        )
        singles = q.join(groups.select(F.col("id").alias("doc_id")), "doc_id", "left_anti").select("doc_id")
        kept = {r["doc_id"] for r in winners.unionByName(singles).collect()}
    return {"pairs": pairs, "groups": groups, "kept": kept}


def _check(exp: oracles.DedupExpected, out: dict) -> tuple[list[str], float]:
    errors = []
    pairs = {(r["id_a"], r["id_b"]) for r in out["pairs"].collect()}
    found = len(pairs & exp.pairs)
    recall = found / len(exp.pairs) if exp.pairs else 1.0
    if pairs != exp.pairs:
        errors.append(f"pairs: {found} of {len(exp.pairs)} expected found, "
                      f"{len(pairs - exp.pairs)} unexpected")
    groups = {r["id"]: r["rep_id"] for r in out["groups"].collect()}
    if groups != exp.groups:
        errors.append(f"groups: {len(groups)} grouped docs, expected {len(exp.groups)}")
    errors += oracles.check_kept(exp, out["kept"])
    return errors, recall


def run(spark, tracer, seed: int, seconds: int) -> common.Result:
    marks = [("start", time.perf_counter())]
    corpus = gen.corpus(seed, N_DOCS)
    inputs = common.fresh_dir("corpus_dedup", "inputs")
    path = os.path.join(inputs, "documents.parquet")
    pq.write_table(corpus.table, path)
    texts = dict(zip(corpus.table.column("doc_id").to_pylist(), corpus.table.column("text").to_pylist()))
    expected = oracles.dedup_expected(texts)
    marks.append(("inputs", time.perf_counter()))

    # cold pass: the JVM's first jobs, code generation, JIT and the Python
    # workers, paid before set-up so every set-up rep runs warm
    tracer.recording = False
    _pass(spark, tracer, spark.read.parquet(path).select("doc_id", "text"))
    marks.append(("cold", time.perf_counter()))

    # set-up: load the corpus into executor memory, SETUP_REPS times
    setup_s, docs = [], None
    for _ in range(SETUP_REPS):
        if docs is not None:
            docs.unpersist(blocking=True)
        t = time.perf_counter()
        docs = spark.read.parquet(path).select("doc_id", "text").cache()
        docs.count()
        setup_s.append(time.perf_counter() - t)
    marks.append(("setup", time.perf_counter()))

    for _ in range(WARMUP_PASSES):
        _pass(spark, tracer, docs)
    tracer.recording = True
    marks.append(("warmup", time.perf_counter()))
    last: dict = {}  # the newest pass's outputs; only those are checked
    times, failed, errors = common.closed_loop(lambda: last.update(_pass(spark, tracer, docs)), seconds,
                                               MIN_PASSES)
    out = last or None
    marks.append(("measure", time.perf_counter()))
    recall = None
    if out is not None:
        errs, recall = _check(expected, out)
        errors += errs
    marks.append(("check", time.perf_counter()))
    return common.Result(
        setup_s=setup_s,
        latencies=times,
        work=N_DOCS,
        work_s=statistics.median(times) if times else 0.0,
        attempted=len(times) + failed,
        failed=failed,
        errors=errors,
        detail={
            "dedup_docs_per_sec": N_DOCS / statistics.median(times) if times else None,
            "dedup_recall": recall,
            "passes": len(times),
            "phase_s": common.phases(marks),
            "inputs": {
                "docs": N_DOCS, "survivors": len(expected.survivors),
                "pairs": len(expected.pairs), "grouped_docs": len(expected.groups),
                "families": len(corpus.families),
            },
        },
    )
