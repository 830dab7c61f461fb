"""Independent oracles. Nothing here imports the engine or Spark: each
oracle recomputes what a workload's output must be from the generated
inputs alone, with plain Python and pyarrow.

- ``MergeModel``: a dict model of latest-per-key MERGE (``cdc_live``).
- ``normalize_arrow``: MariaDB value normalisation in pyarrow (the
  migration in ``cdc_live``'s set-up).
- ``expected_report``: the reconciliation verdicts and metrics a sink with
  known drift must get (the sweep in ``cdc_live``'s traced run).
- ``dedup_expected``: shingle sets plus union-find (``corpus_dedup``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc

from enginebench import gen


# --------------------------------------------------------------------------
# cdc_live: latest-per-key MERGE
# --------------------------------------------------------------------------

class AmbiguousTie(ValueError):
    """Two events for one key tie on (ts_ms, seq) but carry different images:
    MERGE may keep either, so no single expected state exists."""


class MergeModel:
    """State of a keyed table under MERGE: per batch, the event with the
    greatest (ts_ms, seq) per key wins; a winning delete removes the row, any
    other op replaces it."""

    def __init__(self, rows: dict[int, dict] | None = None) -> None:
        self.rows: dict[int, dict] = dict(rows or {})

    def apply_batch(self, events: list[dict]) -> None:
        winners: dict[int, dict] = {}
        for ev in events:
            key = gen.event_key(ev)
            cur = winners.get(key)
            if cur is None:
                winners[key] = ev
                continue
            a, b = (ev["ts_ms"], ev["seq"]), (cur["ts_ms"], cur["seq"])
            if a == b:
                if (ev["op"], ev["after"]) != (cur["op"], cur["after"]):
                    raise AmbiguousTie(f"key {key} ties on (ts, seq)={a}")
            elif a > b:
                winners[key] = ev
        for key, ev in winners.items():
            if ev["op"] == "d":
                self.rows.pop(key, None)
            else:
                self.rows[key] = dict(ev["after"])


# --------------------------------------------------------------------------
# migration: value normalisation
# --------------------------------------------------------------------------

def normalize_arrow(raw) -> pa.Table:
    """The normalised image of a ``gen.RawTable``: zero-dates become NULL,
    NUL characters are stripped, tinyint(1) and bit(1) become booleans,
    date strings become dates, identifiers are lower-cased."""
    cols = {}
    for name in raw.table.column_names:
        col = raw.table.column(name)
        if name in raw.zero_date_cols:
            col = pc.if_else(pc.starts_with(col, "0000-00-00"), pa.scalar(None, pa.string()), col)
        if name in raw.strip_nul_cols:
            col = pc.replace_substring(col, "\x00", "")
        if name in raw.tinyint_bool_cols:
            col = pc.not_equal(col, pa.scalar(0, col.type))
        if name in raw.bit_bool_cols:
            col = pc.not_equal(col, pa.scalar(b"\x00", pa.binary()))
        if raw.casts.get(name) == "date":
            col = pc.strptime(col, format="%Y-%m-%d", unit="s").cast(pa.date32())
        cols[name.lower()] = col
    return pa.table(cols)


def table_diff(expected: pa.Table, actual: pa.Table, keys: list[str]) -> list[str]:
    """Differences between two tables compared as key-sorted rows; timestamps
    are compared at microsecond precision without a zone."""
    if sorted(expected.column_names) != sorted(actual.column_names):
        return [f"columns differ: {sorted(expected.column_names)} vs {sorted(actual.column_names)}"]
    order = [(k, "ascending") for k in keys]
    exp = _plain_times(expected).sort_by(order)
    act = _plain_times(actual.select(expected.column_names)).sort_by(order)
    if exp.num_rows != act.num_rows:
        return [f"row count {act.num_rows}, expected {exp.num_rows}"]
    out = []
    for name in expected.column_names:
        if not exp.column(name).equals(act.column(name).cast(exp.column(name).type)):
            e, a = exp.column(name).to_pylist(), act.column(name).to_pylist()
            i = next(i for i in range(len(e)) if e[i] != a[i])
            out.append(f"column {name} row {i}: expected {e[i]!r} got {a[i]!r}")
    return out


def _plain_times(t: pa.Table) -> pa.Table:
    cols = []
    for col in t.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.timestamp("us"))
        cols.append(col)
    return pa.table(cols, names=t.column_names)


# --------------------------------------------------------------------------
# reconcile: expected verdicts
# --------------------------------------------------------------------------

ROWCOUNT_WARN_PCT, ROWCOUNT_FAIL_PCT = 0.1, 1.0  # per cent


def _pct_status(pct: float) -> str:
    if pct >= ROWCOUNT_FAIL_PCT:
        return "FAIL"
    if pct >= ROWCOUNT_WARN_PCT:
        return "WARN"
    return "PASS"


def expected_report(source: pa.Table, sink: pa.Table, keys: list[str]) -> dict:
    """Check statuses, key metrics and drill-down sets the reconciliation of
    ``sink`` against ``source`` must produce, for tables without a freshness
    column: rowcount and distinct-key drift WARN at 0.1% and FAIL at 1%,
    any duplicate or orphan key FAILs, the worst status is the verdict."""
    src_keys = _key_tuples(source, keys)
    snk_keys = _key_tuples(sink, keys)
    src_set, snk_set = set(src_keys), set(snk_keys)
    counts: dict[tuple, int] = {}
    for k in snk_keys:
        counts[k] = counts.get(k, 0) + 1
    n_src, n_snk = len(src_keys), len(snk_keys)
    dupes = n_snk - len(snk_set)
    orphans = snk_set - src_set
    status = {
        "exists": "PASS",
        "rowcount": _pct_status(abs(n_src - n_snk) / n_src * 100.0),
        "distinct_pk": _pct_status(abs(len(snk_set) - len(src_set)) / len(src_set) * 100.0),
        "duplication": "FAIL" if dupes > 0 else "PASS",
        "orphans": "FAIL" if orphans else "PASS",
        "freshness": "SKIP",
    }
    seen = set(status.values())
    return {
        "verdict": "FAIL" if "FAIL" in seen else "WARN" if "WARN" in seen else "PASS",
        "status": status,
        "metrics": {
            "source_count": n_src, "sink_count": n_snk,
            "duplicates": dupes, "orphan_count": len(orphans),
        },
        "duplicate_groups": {k: c for k, c in counts.items() if c > 1},
        "orphan_keys": orphans,
    }


def _key_tuples(t: pa.Table, keys: list[str]) -> list[tuple]:
    return list(zip(*[t.column(k).to_pylist() for k in keys]))


# --------------------------------------------------------------------------
# corpus_dedup: exact survivors, near-dup pairs, groups, kept documents
# --------------------------------------------------------------------------

_NORM = re.compile(r"[^a-z0-9]+")
_WS = re.compile(r"\s+")
EN_STOPWORDS = frozenset(("the", "and", "of", "to", "is", "in", "that", "with"))
SHINGLE_N = 3  # words per shingle
JACCARD_THRESHOLD = 0.5  # the near-duplicate cut the pipeline is run with
# the engine ranks on a score rounded to six places, so members within this
# of a group's best quality are all acceptable winners
QUALITY_TOL = 2e-6


@dataclass
class DedupExpected:
    survivors: set[int]  # one doc per formatting-insensitive text (min id)
    pairs: set[tuple[int, int]]  # survivor pairs with shingle Jaccard >= threshold
    groups: dict[int, int]  # doc id -> group representative (min id)
    quality: dict[int, float]  # survivor id -> quality score


def tokens(text: str) -> list[str]:
    t = text.strip(" ")
    return [] if t == "" else _WS.split(t)


def shingle_set(text: str) -> set[tuple]:
    toks = tokens(text)
    if not toks:
        return {("",)}
    if len(toks) < SHINGLE_N:
        return {tuple(toks)}
    return {tuple(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def quality(text: str) -> float:
    """Heuristic document quality: length, mean token length, English
    stopword share and alphabetic share, weighted 0.3/0.2/0.2/0.3."""
    n_chars = len(text)
    alpha = sum(1 for ch in text if ch == " " or ("a" <= ch <= "z") or ("A" <= ch <= "Z"))
    alpha_ratio = alpha / n_chars if n_chars else 0.0
    toks = tokens(text)
    n = len(toks)
    mean_tok = n_chars / n if n else 0.0
    sw = sum(1 for t in toks if t in EN_STOPWORDS)
    length_f = min(n_chars / 200.0, 1.0)
    tok_f = 1.0 if 3 <= mean_tok <= 12 else 0.5
    sw_f = min(sw / (n * 0.02), 1.0) if n else 0.0
    return length_f * 0.3 + tok_f * 0.2 + sw_f * 0.2 + alpha_ratio * 0.3


def dedup_expected(docs: dict[int, str]) -> DedupExpected:
    by_norm: dict[str, int] = {}
    for doc_id, text in docs.items():
        norm = _NORM.sub(" ", text.lower()).strip(" ")
        if norm not in by_norm or doc_id < by_norm[norm]:
            by_norm[norm] = doc_id
    survivors = set(by_norm.values())
    shingles = {d: shingle_set(docs[d]) for d in survivors}
    index: dict[tuple, list[int]] = {}
    for d in sorted(survivors):
        for s in shingles[d]:
            index.setdefault(s, []).append(d)
    pairs: set[tuple[int, int]] = set()
    for d in sorted(survivors):
        others = {o for s in shingles[d] for o in index[s] if o > d}
        for o in others:
            inter = len(shingles[d] & shingles[o])
            if inter / (len(shingles[d]) + len(shingles[o]) - inter) >= JACCARD_THRESHOLD:
                pairs.add((d, o))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {d: find(d) for d in parent}
    return DedupExpected(survivors, pairs, groups, {d: quality(docs[d]) for d in survivors})


def check_kept(exp: DedupExpected, kept: set[int]) -> list[str]:
    """Kept documents must be every ungrouped survivor plus, per group, one
    member whose quality is within ``QUALITY_TOL`` of the group's best."""
    out = []
    members: dict[int, list[int]] = {}
    for d, rep in exp.groups.items():
        members.setdefault(rep, []).append(d)
    singles = exp.survivors - exp.groups.keys()
    if not singles <= kept:
        out.append(f"{len(singles - kept)} ungrouped survivors not kept")
    grouped_kept = kept - singles
    for rep, ms in members.items():
        chosen = [d for d in ms if d in grouped_kept]
        if len(chosen) != 1:
            out.append(f"group {rep}: kept {sorted(chosen)}")
            continue
        best = max(exp.quality[d] for d in ms)
        if exp.quality[chosen[0]] < best - QUALITY_TOL:
            out.append(f"group {rep}: kept {chosen[0]} (q={exp.quality[chosen[0]]}) but best is {best}")
    extra = grouped_kept - exp.groups.keys()
    if extra:
        out.append(f"{len(extra)} kept documents are not survivors")
    return out
