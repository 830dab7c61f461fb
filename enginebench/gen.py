"""Seeded input generators. The same seed gives byte-identical inputs.

Everything here is plain numpy/pyarrow: the engine only ever sees the
tables and files these functions produce, never the seed.

- ``tpch_raw``: the eight TPC-H tables in MariaDB snapshot shape, with the
  dirty values such a snapshot carries (zero-dates, tinyint(1)/bit(1)
  booleans, NUL-bearing strings, upper-case identifiers).
- ``cdc_schedule``: Debezium-envelope change files against ``orders``.
- ``corpus``: a ``documents`` corpus with exact duplicates and near-duplicate
  families.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

EPOCH_MS = 1_700_000_000_000  # logical event-time origin of every schedule


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# --------------------------------------------------------------------------
# MariaDB-shaped TPC-H
# --------------------------------------------------------------------------

ZERO_DATE = "0000-00-00"
ZERO_DATE_FRAC = 0.03  # share of date values that are MariaDB zero-dates
NUL_FRAC = 0.05  # share of comment strings carrying a NUL character
# TPC-H cardinalities at scale factor 1; partsupp has four rows per part
# and lineitem one to seven (four on average) per order
TPCH_ROWS = {"supplier": 10_000, "part": 200_000, "customer": 150_000, "orders": 1_500_000}
_STATUS = ["O", "F", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ["quick", "final", "ironic", "pending", "express", "regular", "bold", "silent", "careful", "even"]
_DAYS = (8_035, 10_561)  # 1992-01-01 .. 1998-12-01 as days since the epoch


@dataclass
class RawTable:
    """One source table as a MariaDB snapshot would deliver it, plus the
    normalisation rules the migration applies to it (raw column names)."""

    name: str
    table: pa.Table
    pk: list[str]  # normalised (lower-case) key columns
    zero_date_cols: list[str] = field(default_factory=list)
    tinyint_bool_cols: list[str] = field(default_factory=list)
    bit_bool_cols: list[str] = field(default_factory=list)
    strip_nul_cols: list[str] = field(default_factory=list)
    casts: dict[str, str] = field(default_factory=dict)


def _with_nul(r: np.random.Generator, values: pa.Array) -> pa.Array:
    """A NUL character after the first word of a ``NUL_FRAC`` share of values."""
    hit = pa.array(r.random(len(values)) < NUL_FRAC)
    return pc.if_else(hit, pc.replace_substring(values, " ", "\x00 ", max_replacements=1), values)


def _tinyint(r: np.random.Generator, n: int) -> pa.Array:
    v = r.choice(np.array([0, 1, 2], dtype=np.int8), n, p=[0.55, 0.4, 0.05])
    return pa.array(v, pa.int8(), mask=r.random(n) < 0.02)


def _bit(r: np.random.Generator, n: int) -> pa.Array:
    # taken from a binary array: numpy byte strings would drop the NUL of b"\x00"
    v = pa.array([b"\x00", b"\x01"], pa.binary()).take(pa.array((r.random(n) < 0.3).astype(np.int8)))
    return pc.if_else(pa.array(r.random(n) < 0.02), pa.scalar(None, pa.binary()), v)


def _dates(r: np.random.Generator, n: int) -> pa.Array:
    """``YYYY-MM-DD`` strings in the TPC-H date range, some of them zero-dates."""
    dates = pa.array(r.integers(*_DAYS, n).astype(np.int32), pa.date32()).cast(pa.string())
    return pc.if_else(pa.array(r.random(n) < ZERO_DATE_FRAC), ZERO_DATE, dates)


def _pick(r: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(r.integers(0, len(values), n)))


def _text(r: np.random.Generator, n: int, words: int) -> pa.Array:
    return pc.binary_join_element_wise(*[_pick(r, _WORDS, n) for _ in range(words)], " ")


def _comment(r: np.random.Generator, n: int) -> pa.Array:
    return _with_nul(r, _text(r, n, 3))


def _label(prefix: str, keys: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0")
    return pc.binary_join_element_wise(prefix, digits, "#")


def _money(r: np.random.Generator, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(r.uniform(lo, hi, n), 2))


def _phone(r: np.random.Generator, n: int) -> pa.Array:
    parts = [pa.array(r.integers(lo, hi, n).astype(str)) for lo, hi in ((10, 35), (100, 1000), (100, 1000))]
    return pc.binary_join_element_wise(*parts, "-")


def tpch_raw(seed: int, sf: float) -> dict[str, RawTable]:
    """The eight TPC-H tables at scale factor ``sf`` as a MariaDB snapshot
    delivers them: upper-case identifiers, zero-dates in every date column,
    tinyint(1) and bit(1) flags and NUL characters inside some comments.
    Each table has its own random stream, so one table's shape never moves
    another's values."""
    n = {name: max(1, int(rows * sf)) for name, rows in TPCH_ROWS.items()}
    tables = [
        _region(rng(seed, "tpch-region")),
        _nation(rng(seed, "tpch-nation")),
        _supplier(rng(seed, "tpch-supplier"), n["supplier"]),
        _customer(rng(seed, "tpch-customer"), n["customer"]),
        _part(rng(seed, "tpch-part"), n["part"]),
        _partsupp(rng(seed, "tpch-partsupp"), n["part"], n["supplier"]),
        _orders(rng(seed, "tpch-orders"), n["orders"], n["customer"]),
        _lineitem(rng(seed, "tpch-lineitem"), n["orders"], n["part"], n["supplier"]),
    ]
    return {t.name: t for t in tables}


def _region(r: np.random.Generator) -> RawTable:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    table = pa.table({
        "R_REGIONKEY": pa.array(np.arange(5, dtype=np.int64)),
        "R_NAME": pa.array(names),
        "R_COMMENT": _comment(r, 5),
    })
    return RawTable("region", table, pk=["r_regionkey"], strip_nul_cols=["R_COMMENT"])


def _nation(r: np.random.Generator) -> RawTable:
    keys = np.arange(25, dtype=np.int64)
    table = pa.table({
        "N_NATIONKEY": pa.array(keys),
        "N_NAME": _label("NATION", keys),
        "N_REGIONKEY": pa.array(keys % 5),
        "N_COMMENT": _comment(r, 25),
    })
    return RawTable("nation", table, pk=["n_nationkey"], strip_nul_cols=["N_COMMENT"])


def _supplier(r: np.random.Generator, n: int) -> RawTable:
    keys = np.arange(1, n + 1, dtype=np.int64)
    table = pa.table({
        "S_SUPPKEY": pa.array(keys),
        "S_NAME": _label("Supplier", keys),
        "S_ADDRESS": _text(r, n, 2),
        "S_NATIONKEY": pa.array(r.integers(0, 25, n)),
        "S_PHONE": _phone(r, n),
        "S_ACCTBAL": _money(r, n, -999.99, 9_999.99),
        "S_COMMENT": _comment(r, n),
        "S_ACTIVE": _tinyint(r, n),
    })
    return RawTable("supplier", table, pk=["s_suppkey"], strip_nul_cols=["S_COMMENT"],
                    tinyint_bool_cols=["S_ACTIVE"])


def _customer(r: np.random.Generator, n: int) -> RawTable:
    keys = np.arange(1, n + 1, dtype=np.int64)
    table = pa.table({
        "C_CUSTKEY": pa.array(keys),
        "C_NAME": _label("Customer", keys),
        "C_ADDRESS": _text(r, n, 2),
        "C_NATIONKEY": pa.array(r.integers(0, 25, n)),
        "C_PHONE": _phone(r, n),
        "C_ACCTBAL": _money(r, n, -999.99, 9_999.99),
        "C_MKTSEGMENT": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
        "C_COMMENT": _comment(r, n),
        "C_SINCE": _dates(r, n),
        "C_OPTED_IN": _bit(r, n),
    })
    return RawTable("customer", table, pk=["c_custkey"], strip_nul_cols=["C_COMMENT"],
                    zero_date_cols=["C_SINCE"], bit_bool_cols=["C_OPTED_IN"], casts={"C_SINCE": "date"})


def _part(r: np.random.Generator, n: int) -> RawTable:
    keys = np.arange(1, n + 1, dtype=np.int64)
    mfgr = r.integers(1, 6, n)
    table = pa.table({
        "P_PARTKEY": pa.array(keys),
        "P_NAME": _text(r, n, 4),
        "P_MFGR": pa.array(np.char.add("Manufacturer#", mfgr.astype(str))),
        "P_BRAND": pa.array(np.char.add(np.char.add("Brand#", mfgr.astype(str)), r.integers(1, 6, n).astype(str))),
        "P_TYPE": _text(r, n, 3),
        "P_SIZE": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "P_CONTAINER": _pick(r, ["SM CASE", "SM BOX", "MED BAG", "MED PKG", "LG CASE", "LG DRUM", "JUMBO JAR"], n),
        "P_RETAILPRICE": _money(r, n, 900.0, 2_100.0),
        "P_COMMENT": _comment(r, n),
        "P_DISCONTINUED": _tinyint(r, n),
    })
    return RawTable("part", table, pk=["p_partkey"], strip_nul_cols=["P_COMMENT"],
                    tinyint_bool_cols=["P_DISCONTINUED"])


def _partsupp(r: np.random.Generator, n_part: int, n_supp: int) -> RawTable:
    part = np.repeat(np.arange(1, n_part + 1, dtype=np.int64), 4)
    j = np.tile(np.arange(4, dtype=np.int64), n_part)
    # four distinct suppliers per part, as in TPC-H
    supp = (part - 1 + j * max(1, n_supp // 4)) % n_supp + 1
    n = len(part)
    table = pa.table({
        "PS_PARTKEY": pa.array(part),
        "PS_SUPPKEY": pa.array(supp),
        "PS_AVAILQTY": pa.array(r.integers(1, 10_000, n).astype(np.int32)),
        "PS_SUPPLYCOST": _money(r, n, 1.0, 1_000.0),
        "PS_COMMENT": _comment(r, n),
    })
    return RawTable("partsupp", table, pk=["ps_partkey", "ps_suppkey"], strip_nul_cols=["PS_COMMENT"])


def _orders(r: np.random.Generator, n: int, n_cust: int) -> RawTable:
    table = pa.table({
        "O_ORDERKEY": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "O_CUSTKEY": pa.array(r.integers(1, n_cust + 1, n)),
        "O_ORDERSTATUS": _pick(r, _STATUS, n),
        "O_TOTALPRICE": _money(r, n, 850.0, 500_000.0),
        "O_ORDERDATE": _dates(r, n),
        "O_ORDERPRIORITY": _pick(r, _PRIORITY, n),
        "O_COMMENT": _with_nul(r, _text(r, n, 2)),
        "O_IS_GIFT": _tinyint(r, n),
        "O_FLAGGED": _bit(r, n),
    })
    return RawTable(
        "orders", table, pk=["o_orderkey"],
        zero_date_cols=["O_ORDERDATE"], tinyint_bool_cols=["O_IS_GIFT"],
        bit_bool_cols=["O_FLAGGED"], strip_nul_cols=["O_COMMENT"],
        casts={"O_ORDERDATE": "date"},
    )


def _lineitem(r: np.random.Generator, n_orders: int, n_part: int, n_supp: int) -> RawTable:
    lines = r.integers(1, 8, n_orders)
    order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    n = len(order)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    dates = ["L_SHIPDATE", "L_COMMITDATE", "L_RECEIPTDATE"]
    table = pa.table({
        "L_ORDERKEY": pa.array(order),
        "L_LINENUMBER": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "L_PARTKEY": pa.array(r.integers(1, n_part + 1, n)),
        "L_SUPPKEY": pa.array(r.integers(1, n_supp + 1, n)),
        "L_QUANTITY": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "L_EXTENDEDPRICE": _money(r, n, 900.0, 105_000.0),
        "L_DISCOUNT": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "L_TAX": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "L_RETURNFLAG": _pick(r, ["A", "N", "R"], n),
        "L_LINESTATUS": _pick(r, ["F", "O"], n),
        **{c: _dates(r, n) for c in dates},
        "L_SHIPINSTRUCT": _pick(r, ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"], n),
        "L_SHIPMODE": _pick(r, ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n),
        "L_COMMENT": _comment(r, n),
        "L_TAXABLE": _bit(r, n),
    })
    return RawTable("lineitem", table, pk=["l_orderkey", "l_linenumber"], strip_nul_cols=["L_COMMENT"],
                    zero_date_cols=dates, bit_bool_cols=["L_TAXABLE"], casts={c: "date" for c in dates})


# --------------------------------------------------------------------------
# CDC open-loop schedule
# --------------------------------------------------------------------------

ORDER_FIELDS = [
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()),
    ("o_orderpriority", pa.string()),
    ("o_comment", pa.string()),
    ("o_is_gift", pa.bool_()),
    ("o_flagged", pa.bool_()),
]
ORDER_ROW = pa.struct(ORDER_FIELDS)
ZIPF_A = 1.2  # skew of the keys updates and deletes pick
ENVELOPE = pa.schema([
    ("before", ORDER_ROW),
    ("after", ORDER_ROW),
    ("op", pa.string()),
    ("ts_ms", pa.int64()),
    ("source_db", pa.string()),
    ("source_table", pa.string()),
    ("seq", pa.int64()),
])


def _order_row(r: np.random.Generator, key: int) -> dict:
    return {
        "o_orderkey": key,
        "o_custkey": int(r.integers(1, 100_000)),
        "o_orderstatus": _STATUS[int(r.integers(0, 3))],
        "o_totalprice": round(float(r.uniform(850, 500_000)), 2),
        "o_orderdate": int(r.integers(*_DAYS)) if r.random() > 0.03 else None,
        "o_orderpriority": _PRIORITY[int(r.integers(0, 5))],
        "o_comment": " ".join(_WORDS[int(i)] for i in r.integers(0, len(_WORDS), 3)),
        "o_is_gift": bool(r.random() < 0.4),
        "o_flagged": bool(r.random() < 0.3),
    }


@dataclass
class CdcFile:
    index: int
    events: list[dict]  # envelope rows in arrival order

    def to_arrow(self) -> pa.Table:
        return pa.Table.from_pylist(self.events, schema=ENVELOPE)


def cdc_schedule(seed: int, n_bootstrap: int, sizes: list[int], period_ms: int) -> list[CdcFile]:
    """Change files against an ``orders`` table bootstrapped with keys
    ``1..n_bootstrap``; file ``k`` is due ``k * period_ms`` after the
    schedule's origin ``EPOCH_MS`` and holds ``sizes[k]`` events (a few more
    when it carries redelivered copies). Every event is stamped with its
    file's due time, as a source commit stamps all rows of a transaction,
    so events of one file tie on ``ts_ms`` and ``seq`` orders them. Event mix: updates on Zipf-skewed live
    keys, inserts of new keys, deletes, delete-then-reinsert (sometimes split
    across files), out-of-order pairs inside a file (the newer event arrives
    first) and redelivered copies of events from the previous file. Every
    seventh file of fewer than 100 events deletes only.

    Across files every key's (ts_ms, seq) only grows, so the final state does
    not depend on how the stream groups files into triggers."""
    r = rng(seed, "cdc")
    live = list(r.permutation(np.arange(1, n_bootstrap + 1)).tolist())
    pos = {k: i for i, k in enumerate(live)}
    next_key = n_bootstrap + 1
    seq = 0
    last_event: dict[int, dict] = {}  # key -> its newest event so far
    files: list[CdcFile] = []
    pending_reinserts: list[int] = []

    def drop_live(k: int) -> None:
        i = pos.pop(k)
        tail = live.pop()
        if tail != k:
            live[i] = tail
            pos[tail] = i

    def add_live(k: int) -> None:
        pos[k] = len(live)
        live.append(k)

    def pick_live() -> int:
        rank = int(r.zipf(ZIPF_A))
        while rank > len(live):
            rank = int(r.zipf(ZIPF_A))
        return live[rank - 1]

    for k, n in enumerate(sizes):
        due_ms = EPOCH_MS + k * period_ms
        events: list[dict] = []

        def emit(op: str, key: int, _due=due_ms) -> dict:
            nonlocal seq
            seq += 1
            ev = {
                "before": {"o_orderkey": key} if op == "d" else None,
                "after": None if op == "d" else _order_row(r, key),
                "op": op,
                "ts_ms": _due,
                "source_db": "tpch",
                "source_table": "orders",
                "seq": seq,
            }
            last_event[key] = ev
            return ev

        # the all-delete trigger edge case
        all_delete = n < 100 and k % 7 == 3
        if not all_delete:
            # redelivery: copies of previous-file events that are still their
            # key's newest event (an at-least-once replay of a committed suffix)
            if files:
                for ev in files[-1].events:
                    if last_event.get(event_key(ev)) is ev and r.random() < 0.02:
                        events.append(dict(ev))
            for key in pending_reinserts:
                events.append(emit("c", key))
                add_live(key)
            pending_reinserts = []
        while len(events) < n:
            u = r.random()
            if all_delete:
                key = pick_live()
                drop_live(key)
                events.append(emit("d", key))
            elif u < 0.15:
                key = next_key
                next_key += 1
                events.append(emit("c", key))
                add_live(key)
            elif u < 0.23:
                key = pick_live()
                drop_live(key)
                events.append(emit("d", key))
            elif u < 0.27:
                key = pick_live()
                drop_live(key)
                events.append(emit("d", key))
                if r.random() < 0.5:
                    events.append(emit("c", key))
                    add_live(key)
                else:
                    pending_reinserts.append(key)
            elif u < 0.30:
                key = pick_live()
                older = emit("u", key)
                newer = emit("u", key)
                events.extend([newer, older])  # arrival order != (ts, seq) order
            else:
                events.append(emit("u", pick_live()))
        files.append(CdcFile(k, events))
    return files


def event_key(ev: dict) -> int:
    row = ev["after"] if ev["after"] is not None else ev["before"]
    return row["o_orderkey"]


# --------------------------------------------------------------------------
# documents corpus
# --------------------------------------------------------------------------

@dataclass
class Corpus:
    table: pa.Table  # doc_id, text
    families: list[list[int]]  # near-duplicate families as generated (doc ids)


FAMILY_FRAC = 0.2  # share of documents in near-duplicate families
EXACT_FRAC = 0.1  # share of documents that are formatting-only copies
VOCAB = 5_000
DOC_WORDS = (60, 120)  # words per document, half-open range


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of lower-case words. A ``FAMILY_FRAC`` share are
    near-duplicate variants of a family base (each variant substitutes two
    words, so variant pairs stay far above a 0.5 shingle Jaccard), and an
    ``EXACT_FRAC`` share are formatting-only copies (case and punctuation)
    of another document. Doc ids are shuffled so neither the base nor the
    clean copy is reliably the smallest id."""
    r = rng(seed, "corpus")
    lexicon = np.array([_word(i) for i in range(VOCAB)], dtype=object)
    n_exact = int(n_docs * EXACT_FRAC)
    n_fam_docs = int(n_docs * FAMILY_FRAC)
    n_unique = n_docs - n_exact - n_fam_docs
    texts: list[str] = []
    families: list[list[int]] = []
    for _ in range(n_unique):
        texts.append(" ".join(lexicon[r.integers(0, VOCAB, r.integers(*DOC_WORDS))]))
    made = 0
    while made < n_fam_docs:
        size = min(int(r.integers(2, 6)), n_fam_docs - made)
        base = lexicon[r.integers(0, VOCAB, r.integers(*DOC_WORDS))]
        fam = []
        for _ in range(size):
            v = base.copy()
            for j in r.choice(len(v), 2, replace=False):
                v[j] = lexicon[r.integers(0, VOCAB)]
            fam.append(len(texts))
            texts.append(" ".join(v))
        families.append(fam)
        made += size
    for _ in range(n_exact):
        src = texts[int(r.integers(0, len(texts)))]
        texts.append(_reformat(r, src))
    ids = r.permutation(np.arange(1, len(texts) + 1, dtype=np.int64) * 7)
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())})
    return Corpus(table, [[int(ids[i]) for i in fam] for fam in families])


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    i += 26 * 27  # at least three letters
    while i:
        i, m = divmod(i, 26)
        out.append(letters[m])
    return "".join(out)


def _reformat(r: np.random.Generator, text: str) -> str:
    """A formatting-only copy: same words, different case and punctuation."""
    toks = text.split(" ")
    out = []
    for t in toks:
        u = r.random()
        if u < 0.2:
            t = t.upper()
        elif u < 0.3:
            t = t + ","
        out.append(t)
    return " ".join(out) + "."
