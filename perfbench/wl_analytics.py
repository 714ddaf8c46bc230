"""``analytics``: warm passes over seven of the queries ``bench.py`` times.

Each query (with ``bench.py``'s bench-only configurations where it has
them) runs one at a time over seeded tables from ``analytics_data`` and
its result is collected to pandas. Set-up generates the tables and warms
every plan with two untimed passes (small tables, then the measured ones).
The window runs whole passes until it is filled. The first measured pass's
outputs are checked against the repo's DuckDB oracles (``oracle_sql()``
plus ``scripts/check_oracles.py``'s extras, compared by its rules). The
banded ``sim_knn_join`` configuration has no exact oracle: its rows are
checked against exact cosine similarity.
"""

from __future__ import annotations

import importlib.util
import os
from statistics import median

import numpy as np

from .harness import Timer, quantile
from .metrics import QUERIES

SMOKE_SCALE = 0.1  # table sizes of a --smoke run, as a share of the full
# the first, cold warm-up pass runs over tables this much smaller: it pays
# for compiling every plan and most of the JIT; a second warm-up pass over
# the measured tables settles the rest
WARM_SCALE = 0.1


def _prepare(ctx, fn, sf: str) -> None:
    """bench.py's untimed per-query preparation (corpus counts)."""
    prepare = getattr(fn, "prepare", None)
    if prepare is not None:
        prepare(ctx.spark, sf)


def _load(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name,
                                                  os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_fns(root: str) -> dict:
    import __spark_entry__ as entry

    bench = _load(root, "bench.py", "_perfbench_bench")
    qs = entry.queries()
    return {q: bench.BENCH_QUERY_OVERRIDES.get(q) or qs[q] for q in QUERIES}


def _oracle_check(chk, con, name: str, pdf, sql: str) -> dict:
    """One query vs its DuckDB oracle, by ``scripts/check_oracles.py``'s
    rules: same columns, same row count, same sorted rendered rows (float
    cells within that script's per-query tolerance budget)."""
    odf = con.execute(sql).fetchdf()
    cols = sorted(pdf.columns)
    if cols != sorted(odf.columns) or len(pdf) != len(odf):
        return {"ok": False, "query": name, "rows": len(pdf),
                "expected_rows": len(odf)}
    s = sorted(tuple(chk.norm(v) for v in r)
               for r in pdf[cols].itertuples(index=False, name=None))
    o = sorted(tuple(chk.norm(v) for v in r)
               for r in odf[cols].itertuples(index=False, name=None))
    ok = s == o
    if not ok and name in chk.FLOAT_TOL:
        close, n_tol, n_cells = chk.rows_close(s, o, chk.FLOAT_TOL[name])
        ok = close and n_tol <= chk._tol_budget(n_cells)
    return {"ok": ok, "query": name, "rows": len(pdf)}


def _knn_check(pdf, emb_path: str) -> dict:
    """Banded KNN rows: real neighbours (no self pairs), ranks 1..k unique
    per vector, and cos_sim equal to the exact cosine (rounded to 4)."""
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path).to_pandas()
    vec = {int(i): np.asarray(v, dtype=np.float64)
           for i, v in zip(t["vec_id"], t["embedding"])}
    id_col = "id" if "id" in pdf.columns else "vec_id"
    ok = len(pdf) > 0
    seen = set()
    for r in pdf.itertuples(index=False):
        a, b = int(getattr(r, id_col)), int(r.nbr)
        va, vb = vec[a], vec[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        ok &= a != b and 1 <= r.rk <= 3 and (a, r.rk) not in seen
        ok &= abs(cos - r.cos_sim) <= 1e-4
        seen.add((a, r.rk))
    return {"ok": bool(ok), "query": "sim_knn_join", "rows": len(pdf)}


def run(ctx) -> None:
    import duckdb

    import __spark_entry__ as entry

    from . import analytics_data

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    chk = _load(root, "scripts/check_oracles.py", "_perfbench_oracles")
    fns = query_fns(root)
    oracles = {**entry.oracle_sql(), **chk.EXTRA_ORACLES}

    # ---- set-up: seeded tables, then two warm-up passes (small tables,
    # then the measured ones) to compile and JIT every query plan. They
    # collect results as the window does: with a noop sink the window's
    # first query paid the first result conversion (~0.4 s)
    sf, sf_small = ctx.work.sub("sf"), ctx.work.sub("sf-small")
    scale = SMOKE_SCALE if ctx.smoke else 1.0
    with Timer() as t_gen:
        analytics_data.generate(sf, ctx.seed, scale=scale)
        analytics_data.generate(sf_small, ctx.seed, scale=scale * WARM_SCALE)
    warm_s = []
    for data in (sf_small, sf):
        with Timer() as t_warm:
            for fn in fns.values():
                _prepare(ctx, fn, data)
                fn(ctx.spark, data).toPandas()
        warm_s.append(t_warm.s)
    ctx.setup_s = t_gen.s + sum(warm_s)
    ctx.detail.update({"data_gen_s": t_gen.s, "warmup_passes_s": warm_s})

    # ---- measured window: whole passes until it is filled (two on this
    # workload's usual pass of 6-10 s). The sink collects each result to
    # pandas: the gate checks what the first measured pass produced.
    walls: dict[str, list[float]] = {q: [] for q in fns}
    outputs = {}
    elapsed = 0.0
    ctx.tracer.install()
    while not ctx.errors and elapsed < ctx.seconds:
        with Timer() as t_pass:
            for q, fn in fns.items():
                with ctx.tracer.span("op.query"), Timer() as t:
                    try:
                        out = fn(ctx.spark, sf).toPandas()
                    except Exception as e:
                        ctx.counters.fail("queries")
                        ctx.errors.append(f"{q}: {e!r}"[:500])
                        continue
                ctx.counters.ok("queries")
                walls[q].append(t.s)
                outputs.setdefault(q, out)
        elapsed += t_pass.s
    ctx.tracer.uninstall()
    ctx.window_s = elapsed

    # a query's latency is its median over the passes; the percentiles are
    # over the seven queries' latencies
    n_run = sum(len(ws) for ws in walls.values())
    per_query = [median(ws) for ws in walls.values() if ws]
    ctx.e2e["throughput_per_s"] = n_run / elapsed if elapsed else 0.0
    ctx.e2e["latency_p50_s"] = median(per_query) if per_query else 0.0
    ctx.e2e["latency_p99_s"] = quantile(per_query, 0.99) if per_query else 0.0
    ctx.detail.update({
        "unit_of_work": "queries; latency = one query, result collected, "
                        "median over the passes",
        "passes": len(walls[QUERIES[0]]), "queries_total_s": elapsed,
        "query_walls_s": {q: [round(w, 4) for w in ws]
                          for q, ws in walls.items()},
    })

    ctx.mark_peak_rss()

    # ---- correctness gates (outside the timed window)
    con = duckdb.connect()
    for t in analytics_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t + '.parquet')}'")
    for q, pdf in outputs.items():
        if q == "sim_knn_join":
            res = _knn_check(pdf, os.path.join(sf, "embeddings.parquet"))
        else:
            res = _oracle_check(chk, con, q, pdf, oracles[q])
        ctx.gate("query_vs_oracle", res)
    con.close()

    if ctx.trace:
        from ore_etl_spark.datagen.sql_wal import derive_wal

        from . import probes

        for q, ws in walls.items():
            ctx.layer[f"query.{q}_s"] = (median(ws) if ws else 0.0, "s")
        probes.decode_lww(ctx, derive_wal(ctx.spark, sf))
