"""Generator determinism: the same seed gives identical inputs, another
seed gives different ones."""

from __future__ import annotations

from enginebench import gen


def _events(seed: int) -> list[list[dict]]:
    return [f.events for f in gen.cdc_schedule(seed, 500, [20, 20, 300, 20, 20, 20, 20, 20], 1_000)]


def test_tpch_raw_is_deterministic():
    a, b, c = gen.tpch_raw(7, 0.002), gen.tpch_raw(7, 0.002), gen.tpch_raw(8, 0.002)
    assert list(a) == ["region", "nation", "supplier", "customer", "part", "partsupp", "orders", "lineitem"]
    assert all(a[name].table.equals(b[name].table) for name in a)
    assert not a["orders"].table.equals(c["orders"].table)
    assert not a["lineitem"].table.equals(c["lineitem"].table)


def test_cdc_schedule_is_deterministic():
    assert _events(7) == _events(7)
    assert _events(7) != _events(8)


def test_corpus_is_deterministic():
    a, b, c = gen.corpus(7, 300), gen.corpus(7, 300), gen.corpus(8, 300)
    assert a.table.equals(b.table) and a.families == b.families
    assert not a.table.equals(c.table)


def test_tpch_raw_carries_dirty_values_and_unique_keys():
    raws = gen.tpch_raw(3, 0.004)
    t = raws["orders"].table.to_pydict()
    assert len(t["O_ORDERKEY"]) == 6_000
    assert gen.ZERO_DATE in t["O_ORDERDATE"]
    assert any(s is not None and "\x00" in s for s in t["O_COMMENT"])
    assert {0, 1, 2} <= set(t["O_IS_GIFT"]) and None in t["O_IS_GIFT"]
    assert {b"\x00", b"\x01"} <= set(t["O_FLAGGED"]) and None in t["O_FLAGGED"]
    for raw in raws.values():
        cols = [raw.table.column(k.upper()).to_pylist() for k in raw.pk]
        assert len(set(zip(*cols))) == raw.table.num_rows, raw.name
        for c in raw.strip_nul_cols:
            assert raw.table.num_rows < 100 or any("\x00" in s for s in raw.table.column(c).to_pylist()), c
        for c in raw.zero_date_cols:
            assert gen.ZERO_DATE in raw.table.column(c).to_pylist(), c
    lines = raws["lineitem"].table
    assert 4 * 6_000 * 0.9 < lines.num_rows < 4 * 6_000 * 1.1


def test_cdc_schedule_covers_the_event_mix():
    files = gen.cdc_schedule(5, 1_000, [20] * 6 + [3_000] + [20] * 6, 1_000)
    events = [e for f in files for e in f.events]
    assert {e["op"] for e in events} == {"c", "u", "d"}
    # events carry their file's due time; redelivered copies keep the previous file's
    assert all(e["ts_ms"] - gen.EPOCH_MS in (f.index * 1_000, (f.index - 1) * 1_000)
               for f in files for e in f.events)
    # one small file in seven deletes only
    assert all(e["op"] == "d" for e in files[3].events)
    # out-of-order pairs: within a file, a key's newer event arrives first
    assert any(
        a["after"] and b["after"] and a["after"]["o_orderkey"] == b["after"]["o_orderkey"]
        and (a["ts_ms"], a["seq"]) > (b["ts_ms"], b["seq"])
        for f in files for a, b in zip(f.events, f.events[1:])
    )
    # redelivered copies tie exactly on (ts, seq) with their original
    seen = {}
    dup = 0
    for e in events:
        k = (e["ts_ms"], e["seq"])
        if k in seen:
            assert seen[k] == e
            dup += 1
        seen[k] = e
    assert dup > 0


def test_cdc_keys_only_move_forward_across_files():
    files = gen.cdc_schedule(11, 300, [50] * 12, 1_000)
    newest: dict[int, tuple] = {}
    for f in files:
        in_file: dict[int, tuple] = {}
        for e in f.events:
            row = e["after"] or e["before"]
            k = row["o_orderkey"]
            assert (e["ts_ms"], e["seq"]) >= newest.get(k, (0, 0))
            in_file[k] = max(in_file.get(k, (0, 0)), (e["ts_ms"], e["seq"]))
        newest.update(in_file)
