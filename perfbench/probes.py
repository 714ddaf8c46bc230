"""Isolated layer walls for the traced run: a lazy operator timed around
the action that forces it (a noop-sink write), plus untimed table shape."""

from __future__ import annotations

from .harness import Timer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def decode_lww(ctx, wal_df) -> None:
    """``operators.decode.decode_events`` then ``operators.lww.dedupe_lww``
    over one WAL, each forced on its own into a noop sink."""
    from ore_etl_spark.operators.decode import decode_events
    from ore_etl_spark.operators.lww import dedupe_lww

    decoded = decode_events(wal_df)
    with ctx.tracer.span("decode.probe"), Timer() as t:
        _noop(decoded)
    ctx.layer["decode.wall_s"] = (t.s, "s")
    ctx.layer["decode.invalid_rows"] = (
        decoded.filter("NOT is_valid").count(), "count")

    valid = decoded.filter("is_valid").drop("is_valid")
    deduped = dedupe_lww(valid, ["repo", "path"], ["commit_seq", "event_seq"])
    with ctx.tracer.span("lww.probe"), Timer() as t:
        _noop(deduped)
    ctx.layer["lww.wall_s"] = (t.s, "s")
    ctx.layer["lww.rows_in"] = (valid.count(), "count")
    ctx.layer["lww.rows_out"] = (deduped.count(), "count")


def table_shape(ctx, table) -> None:
    """``MergeTable.file_stats``: manifest and footers only, no Spark job."""
    fs = table.file_stats()
    ctx.layer["table.files"] = (fs.get("n_files", 0), "count")
    ctx.layer["table.max_delta_depth"] = (fs.get("max_delta_depth", 0),
                                          "count")
