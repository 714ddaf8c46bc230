"""Correctness gates. They run outside every timed window and any mismatch
fails the run (``correct: false``)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

# the converged-row columns the repo's own parity tests compare
ROW_COLS = ["repo", "path", "commit", "lang", "commit_seq", "event_seq",
            "content_sha256", "content_len"]


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == 0.0:
            return "0.0"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    return str(v)


def rows_digest(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted rendered rows): an order-free
    fingerprint of a multiset of rows."""
    rendered = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for r in rendered:
        h.update(r.encode())
        h.update(b"\n")
    return len(rendered), h.hexdigest()


def wal_prefix(wal_pdf, hwm: int):
    """The WAL rows a table with global watermark ``hwm`` has applied."""
    return wal_pdf[wal_pdf["delivery_seq"] <= hwm]


def table_vs_oracle(table, wal_pdf, hwm: int) -> dict:
    """Converged table == pandas replay oracle over the applied prefix,
    by sha256 of the sorted rows."""
    from ore_etl_spark.datagen.wal import replay_oracle

    exp = replay_oracle(wal_prefix(wal_pdf, hwm))
    got = table.read().select(*ROW_COLS).toPandas()
    e = rows_digest(exp[ROW_COLS].itertuples(index=False, name=None))
    g = rows_digest(got[ROW_COLS].itertuples(index=False, name=None))
    return {"ok": e == g, "rows": g[0], "expected_rows": e[0]}


def quarantine_exactly_once(pipe, wal_pdf, hwm: int) -> dict:
    """Every undecodable WAL row at or below ``hwm`` is in the quarantine
    exactly once, and nothing else is."""
    from ore_etl_spark.datagen.wal import decode_payload_py

    pre = wal_prefix(wal_pdf, hwm)
    bad = pre[[decode_payload_py(p) is None for p in pre["payload"]]]
    want = Counter(zip(bad["event_id"], bad["delivery_seq"]))
    q = pipe.quarantine().select("event_id", "delivery_seq").collect()
    got = Counter((r["event_id"], r["delivery_seq"]) for r in q)
    return {"ok": got == want and all(v == 1 for v in got.values()),
            "quarantined": sum(got.values()), "expected": sum(want.values())}


def view_vs_groupby(view, table, group_cols: list[str], sum_col: str) -> dict:
    """Incremental view == a full group-by over ``table.read()`` at the
    source version the view last refreshed to."""
    from pyspark.sql import functions as F

    got = view.read().select(*group_cols, "n_rows", f"sum_{sum_col}")
    src = table.read(version=view.last_refreshed_version())
    exp = src.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.coalesce(F.col(sum_col).cast("double"), F.lit(0.0)))
        .alias(f"sum_{sum_col}"))
    g = rows_digest(tuple(r) for r in got.collect())
    e = rows_digest(tuple(r) for r in exp.collect())
    return {"ok": g == e, "groups": g[0], "expected_groups": e[0]}
