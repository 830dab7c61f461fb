"""Edge cases of the independent oracles."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from enginebench import gen, oracles


def ev(op: str, key: int, ts: int, seq: int, price: float = 1.0) -> dict:
    return {
        "before": {"o_orderkey": key} if op == "d" else None,
        "after": None if op == "d" else {"o_orderkey": key, "o_totalprice": price},
        "op": op, "ts_ms": ts, "seq": seq,
    }


def test_latest_per_key_orders_by_ts_then_seq_not_arrival():
    m = oracles.MergeModel()
    m.apply_batch([ev("c", 1, 10, 5, 3.0), ev("u", 1, 10, 4, 2.0), ev("u", 1, 9, 9, 1.0)])
    assert m.rows == {1: {"o_orderkey": 1, "o_totalprice": 3.0}}


def test_tie_on_ts_and_seq_with_identical_image_is_a_redelivery():
    m = oracles.MergeModel()
    e = ev("u", 1, 10, 5, 2.0)
    m.apply_batch([e, dict(e)])
    assert m.rows[1]["o_totalprice"] == 2.0


def test_tie_on_ts_and_seq_with_different_images_is_ambiguous():
    with pytest.raises(oracles.AmbiguousTie):
        oracles.MergeModel().apply_batch([ev("u", 1, 10, 5, 2.0), ev("u", 1, 10, 5, 3.0)])


def test_delete_then_reinsert_in_one_batch_and_across_batches():
    one = oracles.MergeModel({1: {"o_orderkey": 1, "o_totalprice": 1.0}})
    one.apply_batch([ev("d", 1, 10, 1), ev("c", 1, 11, 2, 5.0)])
    two = oracles.MergeModel({1: {"o_orderkey": 1, "o_totalprice": 1.0}})
    two.apply_batch([ev("d", 1, 10, 1)])
    assert two.rows == {}
    two.apply_batch([ev("c", 1, 11, 2, 5.0)])
    assert one.rows == two.rows == {1: {"o_orderkey": 1, "o_totalprice": 5.0}}


def test_all_delete_batch_and_delete_of_an_absent_key():
    m = oracles.MergeModel({k: {"o_orderkey": k, "o_totalprice": 1.0} for k in (1, 2, 3)})
    m.apply_batch([ev("d", 1, 5, 1), ev("d", 3, 5, 2), ev("d", 99, 5, 3)])
    assert set(m.rows) == {2}


def test_generated_schedule_final_state_does_not_depend_on_batching():
    files = gen.cdc_schedule(3, 400, [30, 30, 400, 30, 30, 30, 30, 30, 30], 1_000)
    start = {k: {"o_orderkey": k} for k in range(1, 401)}
    per_file = oracles.MergeModel(start)
    for f in files:
        per_file.apply_batch(f.events)
    rng = random.Random(0)
    for _ in range(5):
        grouped = oracles.MergeModel(start)
        i = 0
        while i < len(files):
            j = i + rng.randint(1, 4)
            grouped.apply_batch([e for f in files[i:j] for e in f.events])
            i = j
        assert grouped.rows == per_file.rows


def test_normalize_arrow_applies_every_rule():
    raw = gen.RawTable(
        "t", pa.table({
            "K": pa.array([1, 2, 3], pa.int64()),
            "D": pa.array(["2020-01-02", "0000-00-00", None]),
            "S": pa.array(["a\x00b", "c", None]),
            "T": pa.array([0, 2, None], pa.int8()),
            "B": pa.array([b"\x00", b"\x01", None]),
        }),
        pk=["k"], zero_date_cols=["D"], strip_nul_cols=["S"],
        tinyint_bool_cols=["T"], bit_bool_cols=["B"], casts={"D": "date"},
    )
    out = oracles.normalize_arrow(raw).to_pydict()
    assert out["d"][1:] == [None, None] and str(out["d"][0]) == "2020-01-02"
    assert out["s"] == ["ab", "c", None]
    assert out["t"] == [False, True, None]
    assert out["b"] == [False, True, None]


def test_expected_report_classifies_drift():
    src = pa.table({"k": list(range(1000))})
    same = oracles.expected_report(src, src, ["k"])
    assert same["verdict"] == "PASS" and same["status"]["freshness"] == "SKIP"
    # 5 keys missing (0.5%: WARN), 3 duplicated, 2 orphans
    sink = pa.table({"k": list(range(5, 1000)) + [7, 8, 9] + [5000, 5001]})
    rep = oracles.expected_report(src, sink, ["k"])
    assert rep["status"]["rowcount"] == "PASS"  # 1000 vs 1000 rows
    assert rep["status"]["distinct_pk"] == "WARN"
    assert rep["status"]["duplication"] == "FAIL" and rep["status"]["orphans"] == "FAIL"
    assert rep["verdict"] == "FAIL"
    assert rep["duplicate_groups"] == {(7,): 2, (8,): 2, (9,): 2}
    assert rep["orphan_keys"] == {(5000,), (5001,)}


def test_dedup_expected_pairs_groups_and_survivors():
    base = " ".join(f"w{i}" for i in range(40))
    variant = base.replace("w10", "zz").replace("w30", "yy")
    docs = {
        1: base,
        2: variant,
        3: base.upper() + ".",  # formatting-only copy of 1: not a survivor
        4: " ".join(f"u{i}" for i in range(40)),
    }
    exp = oracles.dedup_expected(docs)
    assert exp.survivors == {1, 2, 4}
    assert exp.pairs == {(1, 2)}
    assert exp.groups == {1: 1, 2: 1}
    assert oracles.check_kept(exp, {1, 4}) == [] or oracles.check_kept(exp, {2, 4}) == []
    assert oracles.check_kept(exp, {1, 2, 4})  # both members of a group kept
    assert oracles.check_kept(exp, {1})  # an ungrouped survivor dropped


def test_generated_corpus_families_are_far_above_threshold():
    c = gen.corpus(2, 400)
    texts = dict(zip(c.table.column("doc_id").to_pylist(), c.table.column("text").to_pylist()))
    exp = oracles.dedup_expected(texts)
    for a, b in exp.pairs:
        sa, sb = oracles.shingle_set(texts[a]), oracles.shingle_set(texts[b])
        assert len(sa & sb) / len(sa | sb) >= 0.6  # no pair near the 0.5 threshold
    assert exp.pairs
