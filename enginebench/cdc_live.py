"""cdc_live: the change-event plane end to end, on one ``orders`` table.

1. Set-up migrates a MariaDB-shaped copy of the eight TPC-H tables at
   scale factor 0.1 the way ``migrate_v3.py`` does (``tables.load_table``
   -> ``snapshot.engine.snapshot_database`` -> parquet) and bootstraps a
   ``TxLogMergeSink`` from the ``orders`` snapshot with ``overwrite``.
2. The measured window is an open loop: a generator thread publishes
   pre-written Debezium-envelope files on a fixed schedule, so a slow stream
   never slows the load, and ``ChangelogStream`` (default trigger,
   copy-on-write) MERGEs them into the sink. A file's lag is the time its
   trigger's commit became visible minus the file's due time; every event in
   a file shares it. Small ticks measure the fixed per-commit cost, the burst
   the data-proportional merge cost.
3. After the window the sink's final state is checked against the oracle.
   The traced run first lands one more change file as a merge-on-read delta
   layer and sweeps the sink with the reconciliation suite against the
   source as it is now (PASS) and as it was at the snapshot (FAIL: missing
   keys and orphans), paying the MOR merge on every read.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from enginebench import common, gen, oracles, reconcile

# Offered load, fixed for every run. One 16 s cycle is three 20-event ticks
# and then one 3,000-event burst (the reference sink's batch.size): 191
# events/s in four files. On 4 cores against the sf0.1 sink a small trigger
# takes about 1.7 s and the burst about 4 s, so the stream is busy about
# half the time, ticks never queue behind each other and every 16 s window
# holds four samples.
PERIOD_S = 4.0
TICK_EVENTS = 20
BURST_EVENTS = 3_000
BURST_EVERY = 4
BURST_PHASE = 3
OFFERED_EVENTS_PER_S = (TICK_EVENTS * (BURST_EVERY - 1) + BURST_EVENTS) / (PERIOD_S * BURST_EVERY)
N_WARM = 3  # ticks committed one at a time before the clock starts
MOR_EVENTS = 500  # the change file applied as a delta layer after the window
SCALE_FACTOR = 0.1  # TPC-H sf0.1: 150,000 orders, about 600,000 lineitem rows
NUM_BUCKETS = 64
SETUP_REPS = 3
DRAIN_TIMEOUT_S = 90.0
PK = ["o_orderkey"]


def _row_schema():
    from pyspark.sql import types as T

    spark_types = {
        pa.int64(): T.LongType(), pa.string(): T.StringType(), pa.float64(): T.DoubleType(),
        pa.date32(): T.DateType(), pa.bool_(): T.BooleanType(),
    }
    return T.StructType([T.StructField(n, spark_types[t]) for n, t in gen.ORDER_FIELDS])


def _classes(tracer):
    """Sink and stream subclasses that time the calls the stream makes into
    the txlog layer and record when each trigger's commit became visible."""
    from cdc_connector_spark.changelog.txlog import TxLogMergeSink
    from cdc_connector_spark.streaming.pipeline import ChangelogStream

    class TracedSink(TxLogMergeSink):
        def apply(self, changes):
            with tracer.span("changelog.txlog.apply"):
                super().apply(changes)

    class ObservedStream(ChangelogStream):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.batches: dict[int, tuple[float, float, int | None]] = {}

        def _apply_batch(self, batch_df, batch_id):
            t0 = time.time()
            super()._apply_batch(batch_df, batch_id)
            self.batches[batch_id] = (t0, time.time(), self.sink.current_version())

    return TracedSink, ObservedStream


class Publisher(threading.Thread):
    """Moves pre-written files into the stream's source dir at their due
    times (an atomic rename), recording how late each one went out."""

    def __init__(self, staged: list[tuple[str, str, float]], t0: float) -> None:
        super().__init__(name="cdc-publisher", daemon=True)
        self.staged = staged  # (staging path, source path, due offset s)
        self.t0 = t0
        self.published: dict[str, float] = {}
        self.late_s: list[float] = []
        self.error: Exception | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        try:
            for src, dst, due in self.staged:
                wait = self.t0 + due - time.time()
                if wait > 0 and self._stop_evt.wait(wait):
                    return
                os.rename(src, dst)
                now = time.time()
                self.published[os.path.basename(dst)] = now
                self.late_s.append(now - (self.t0 + due))
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=30)


def _batch_of_file(checkpoint: str) -> dict[str, int]:
    """Source file name -> micro-batch id, from the file source's offset log."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _keyed_rows(orders: pa.Table) -> dict[int, dict]:
    """Rows by key, with dates as days since the epoch like the events'."""
    i = orders.schema.get_field_index("o_orderdate")
    plain = orders.set_column(i, "o_orderdate", orders.column(i).cast(pa.int32()))
    return {r["o_orderkey"]: r for r in plain.to_pylist()}


def _orders_table(rows) -> pa.Table:
    return pa.Table.from_pylist(list(rows), schema=pa.schema(gen.ORDER_FIELDS))


def _setup(spark, tracer, raws: dict[str, gen.RawTable], raw_dir: str, rep: int, sink_cls):
    """Migrate every table to parquet and bootstrap a fresh sink from the
    ``orders`` snapshot. Returns the sink, the snapshot paths and the time
    the migration took."""
    from cdc_connector_spark.snapshot import engine
    from cdc_connector_spark.tables import TableMeta, load_table

    tables = []
    t = time.perf_counter()
    for raw in raws.values():
        with tracer.span("tables.load_table"):
            df = load_table(spark, raw_dir, raw.name)
        tables.append((df, TableMeta(
            db="tpch", table=raw.name, pk_cols=raw.pk, bit_bool_cols=raw.bit_bool_cols,
            tinyint_bool_cols=raw.tinyint_bool_cols, zero_date_cols=raw.zero_date_cols,
            strip_nul_cols=raw.strip_nul_cols, casts=raw.casts,
        )))
    with reconcile.patched(engine, "snapshot_table", tracer, "snapshot.engine.snapshot_table"):
        paths = engine.snapshot_database(spark, tables, common.fresh_dir("cdc_live", f"snapshot{rep}"))
    migrate_s = time.perf_counter() - t
    sink = sink_cls(spark, common.fresh_dir("cdc_live", f"sink{rep}"), key_cols=PK, num_buckets=NUM_BUCKETS)
    with tracer.span("changelog.txlog.overwrite"):
        sink.overwrite(spark.read.parquet(paths["tpch_orders"]))
    return sink, paths, migrate_s


def run(spark, tracer, seed: int, seconds: int) -> common.Result:
    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.streaming.metrics import StreamingMetrics

    marks = [("start", time.perf_counter())]
    TracedSink, ObservedStream = _classes(tracer)
    raws = gen.tpch_raw(seed, SCALE_FACTOR)
    migrated_rows = sum(raw.table.num_rows for raw in raws.values())
    n_orders = raws["orders"].table.num_rows
    base = oracles.normalize_arrow(raws["orders"])
    n_measured = max(1, int(-(-seconds // PERIOD_S)))
    sizes = [TICK_EVENTS] * N_WARM + [
        BURST_EVENTS if k % BURST_EVERY == BURST_PHASE else TICK_EVENTS for k in range(n_measured)
    ] + [MOR_EVENTS]
    files = gen.cdc_schedule(seed, n_orders, sizes, int(PERIOD_S * 1000))

    raw_dir = common.fresh_dir("cdc_live", "raw")
    for raw in raws.values():
        pq.write_table(raw.table, os.path.join(raw_dir, f"{raw.name}.parquet"))
    staging = common.fresh_dir("cdc_live", "staging")
    source = common.fresh_dir("cdc_live", "source")
    staged = []  # (staging path, source path, due offset s)
    for f in files:
        name = f"f{f.index:05d}.parquet"
        pq.write_table(f.to_arrow(), os.path.join(staging, name))
        staged.append((os.path.join(staging, name), os.path.join(source, name), (f.index - N_WARM) * PERIOD_S))
    warm, staged, mor_path = staged[:N_WARM], staged[N_WARM:-1], staged[-1][0]
    measured = files[N_WARM:-1]
    marks.append(("inputs", time.perf_counter()))

    # set-up: migrate and bootstrap, SETUP_REPS times
    setup_s, migrate_s = [], []
    for rep in range(SETUP_REPS):
        tracer.recording = rep > 0
        t = time.perf_counter()
        sink, snap_paths, mig_s = _setup(spark, tracer, raws, raw_dir, rep, TracedSink)
        setup_s.append(time.perf_counter() - t)
        migrate_s.append(mig_s)
    errors = []
    for raw in raws.values():
        got = pq.read_table(snap_paths[f"tpch_{raw.name}"])
        expected = base if raw.name == "orders" else oracles.normalize_arrow(raw)
        errors += [f"snapshot {raw.name}: {e}" for e in oracles.table_diff(expected, got, raw.pk)]
    marks.append(("setup", time.perf_counter()))

    checkpoint = common.fresh_dir("cdc_live", "ckpt")
    stream = ObservedStream(spark, source, sink, _row_schema(), PK, checkpoint)
    metrics = StreamingMetrics(spark)
    query = stream.start(available_now=False)
    metrics.register("orders", query)

    def wait_for(names: list[str], deadline: float, publisher=None) -> bool:
        """Until every named file's trigger has committed and reported its
        progress."""
        while time.time() < deadline:
            if query.exception() is not None or (publisher is not None and publisher.error is not None):
                return False
            done = _batch_of_file(checkpoint)
            last = query.lastProgress
            if all(n in done and done[n] in stream.batches for n in names) and last is not None \
                    and last["batchId"] >= max(done[n] for n in names):
                return True
            time.sleep(0.05)
            metrics.collect()
        return False

    # warm-up: the first triggers of a fresh query are cold; commit them
    # one at a time before the schedule's clock starts
    tracer.recording = False
    for src, dst, _ in warm:
        os.rename(src, dst)
        if not wait_for([os.path.basename(dst)], time.time() + DRAIN_TIMEOUT_S):
            errors.append(f"warm-up file {os.path.basename(dst)} was not committed")
            break
    tracer.recording = True
    marks.append(("warmup", time.perf_counter()))

    t0 = time.time() + 0.2
    pub = Publisher(staged, t0)
    names = [os.path.basename(d) for _, d, _ in staged]
    drained = False
    pub.start()
    try:
        if not errors:
            drained = wait_for(names, t0 + staged[-1][2] + DRAIN_TIMEOUT_S, pub)
            while drained and time.time() < t0 + seconds:
                time.sleep(0.05)
    finally:
        pub.stop()
        metrics.collect()
        query.stop()
        query.awaitTermination(60)
    marks.append(("stream", time.perf_counter()))
    if pub.error is not None:
        errors.append(f"publisher: {pub.error!r}")
    if query.exception() is not None:
        errors.append(f"query: {query.exception()}")
    if not drained:
        errors.append("the stream did not commit every published file before the drain timeout")

    # lag per measured file: commit visible minus due
    batch_of = _batch_of_file(checkpoint)
    lags, ev_lags = [], []
    window_batches: set[int] = set()
    for f, (_, dst, due) in zip(measured, staged):
        b = batch_of.get(os.path.basename(dst))
        if b is None or b not in stream.batches:
            continue
        lag = stream.batches[b][1] - (t0 + due)
        lags.append(lag)
        ev_lags.extend([lag] * len(f.events))
        window_batches.add(b)
    progress = {r["batch_id"]: r for r in metrics.snapshot().collect()}
    busy, events_done = 0.0, 0
    for b in window_batches:
        p = progress.get(b)
        if p is not None and p["trigger_ms"] is not None:
            busy += p["trigger_ms"] / 1000.0
            events_done += p["num_input_rows"] or 0
    quarantined = stream.quarantined_batch_ids()
    if quarantined:
        errors.append(f"quarantined batches: {quarantined}")
    marks.append(("progress", time.perf_counter()))

    # after the window, the traced run adds a merge-on-read layer and sweeps
    # the sink with the reconciliation suite; every run checks its state
    # (the model holds only the keys the events touch; the rest stay as
    # bootstrapped)
    touched = pc.is_in(base.column("o_orderkey"),
                       pa.array(sorted({gen.event_key(e) for f in files for e in f.events}), pa.int64()))
    model = oracles.MergeModel(_keyed_rows(base.filter(touched)))
    for f in files[:-1]:
        model.apply_batch(f.events)
    if tracer.enabled:
        sink.apply_delta(flatten_envelope(spark.read.parquet(mor_path), key_cols=PK))
        model.apply_batch(files[-1].events)
    now = pa.concat_tables([base.filter(pc.invert(touched)), _orders_table(model.rows.values())])
    sweep = _sweep(spark, tracer, sink, base, now, errors) if tracer.enabled else {}
    errors += [f"sink: {e}" for e in oracles.table_diff(now, sink.read().toArrow(), PK)]
    marks.append(("check", time.perf_counter()))

    if tracer.enabled:
        _trace_extras(spark, tracer, sink, stream, measured, staged, batch_of, window_batches,
                      progress, pub, seconds, busy, raws["lineitem"], raw_dir)
    lag_tail = common.tail(lags) if lags else (None, "none", 0)
    ev_tail = common.tail(ev_lags) if ev_lags else (None, "none", 0)
    return common.Result(
        setup_s=setup_s,
        latencies=lags,
        work=events_done,
        work_s=busy,
        attempted=max(1, len(stream.batches)),
        failed=len(quarantined) + (0 if drained else 1),
        errors=errors,
        detail={
            "lag_p50_s": statistics.median(lags) if lags else None,
            "lag_tail_s": lag_tail[0], "lag_tail_pct": lag_tail[1], "lag_files": lag_tail[2],
            "event_lag_p50_s": statistics.median(ev_lags) if ev_lags else None,
            "event_lag_tail_s": ev_tail[0], "event_lag_tail_pct": ev_tail[1], "event_lag_n": ev_tail[2],
            "stream_busy_frac": busy / seconds,
            "triggers": len(stream.batches),
            "gen_late_max_s": max(pub.late_s) if pub.late_s else None,
            "migrate_rows_per_sec": migrated_rows / statistics.median(migrate_s),
            **sweep,
            "phase_s": common.phases(marks),
            "inputs": {
                "tpch_sf": SCALE_FACTOR, "migrated_rows": migrated_rows, "orders": n_orders,
                "num_buckets": NUM_BUCKETS, "warm_files": N_WARM,
                "files": len(measured), "events": sum(len(f.events) for f in measured),
                "period_s": PERIOD_S, "tick_events": TICK_EVENTS, "burst_events": BURST_EVENTS,
                "burst_every": BURST_EVERY, "offered_events_per_s": OFFERED_EVENTS_PER_S,
                "mor_events": len(files[-1].events),
            },
        },
    )


def _sweep(spark, tracer, sink, base: pa.Table, now: pa.Table, errors: list[str]) -> dict:
    """Reconcile the sink against the source as it is now (PASS) and as it
    was at the snapshot (FAIL), and check both reports against the oracle."""
    sweep_dir = common.fresh_dir("cdc_live", "sweep")
    sources = {"orders_now": now, "orders_at_snapshot": base}
    for name, table in sources.items():
        pq.write_table(table, os.path.join(sweep_dir, f"{name}.parquet"))
    t = time.perf_counter()
    reports = reconcile.sweep(spark, tracer, sink, sweep_dir, list(sources), PK)
    reconcile_s = time.perf_counter() - t
    expected = {name: oracles.expected_report(table, now, PK) for name, table in sources.items()}
    errors += reconcile.check(expected, reports, PK)
    return {"reconcile_s": reconcile_s, "verdicts": {n: e["report"].verdict for n, e in reports.items()}}


def _trace_extras(spark, tracer, sink, stream, measured, staged, batch_of, window_batches,
                  progress, pub, seconds, busy, raw, raw_dir) -> None:
    """Per-trigger counts and isolated layer calls, made after the stream
    stopped so they cost the measured window nothing."""
    from cdc_connector_spark.changelog.apply import latest_per_key
    from cdc_connector_spark.changelog.envelope import flatten_envelope
    from cdc_connector_spark.functions.normalize import normalize_row
    from cdc_connector_spark.tables import load_table

    files_of: dict[int, list[int]] = {}
    for i, (_, dst, _) in enumerate(staged):
        b = batch_of.get(os.path.basename(dst))
        if b is not None:
            files_of.setdefault(b, []).append(i)
    apply_spans = [sp for sp in tracer.spans if sp.name == "changelog.txlog.apply"]
    for b in sorted(window_batches):
        t_start, t_end, version = stream.batches[b]
        p = progress.get(b)
        if p is not None and p["trigger_ms"] is not None:
            trig = p["trigger_ms"] / 1000.0
            tracer.record("streaming.pipeline.trigger_s", trig)
            inner = sum(sp.end - sp.start for sp in apply_spans if t_start <= sp.start <= t_end)
            tracer.record("streaming.pipeline.overhead_s", trig - inner)
        tracer.record("streaming.pipeline.files_per_trigger", len(files_of.get(b, [])))
        in_bytes = sum(os.path.getsize(staged[i][1]) for i in files_of.get(b, []))
        if version is not None:
            with open(os.path.join(sink.log_dir, f"{version:020d}.json")) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            adds = [a["add"] for a in actions if "add" in a]
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            tracer.record("changelog.txlog.apply.buckets_touched", len(info.get("buckets", [])))
            tracer.record("changelog.txlog.apply.files_added", len(adds))
            tracer.record("changelog.txlog.apply.files_removed", sum(1 for a in actions if "remove" in a))
            if in_bytes:
                tracer.record("changelog.txlog.apply.write_amp", sum(a.get("size", 0) for a in adds) / in_bytes)
        # latest-per-key alone over the same trigger input
        if files_of.get(b):
            events = [e for i in files_of[b] for e in measured[i].events]
            keys = {gen.event_key(e) for e in events}
            with tracer.span("changelog.apply.latest_per_key") as sp:
                flat = flatten_envelope(spark.read.parquet(*[staged[i][1] for i in files_of[b]]), key_cols=PK)
                latest_per_key(flat, PK).write.format("noop").mode("overwrite").save()
                sp.count("dedup_ratio", len(events) / len(keys))
    win_hi = pub.t0 + seconds
    backlog = sum(
        1 for (_, dst, due) in staged
        if pub.t0 + due < win_hi
        and stream.batches.get(batch_of.get(os.path.basename(dst)), (0, float("inf")))[1] > win_hi
    )
    tracer.record("streaming.pipeline.backlog_files_end", backlog)
    tracer.record("streaming.pipeline.busy_frac", busy / seconds)
    if pub.late_s:
        tracer.record("gen.late_s", max(pub.late_s))
    # normalisation alone, and the sink's read with its MOR merge alone
    with tracer.span("functions.normalize.normalize_row"):
        normalize_row(
            load_table(spark, raw_dir, raw.name), bit_bool_cols=raw.bit_bool_cols,
            tinyint_bool_cols=raw.tinyint_bool_cols, zero_date_cols=raw.zero_date_cols,
            strip_nul_cols=raw.strip_nul_cols, casts=raw.casts,
        ).write.format("noop").mode("overwrite").save()
    with tracer.span("changelog.txlog.read.scan") as sp:
        sink.read().write.format("noop").mode("overwrite").save()
        base_files, delta_files = sink.pruned_files({})
        sp.count("files", len(base_files) + len(delta_files))
