"""Last-writer-wins resolution (SURVEY A7): one survivor per key.

The reference relies on Mongo's unconditional ``$set`` upsert to collapse
duplicate deliveries (/root/reference/src/database/mongo-manager.ts:210-225),
which is last-*arrival*-wins and therefore order-sensitive. Here LWW is an
explicit, deterministic operator. Per key, the greatest
``struct(version cols…, arrival, row)`` wins:

- the version tuple decides first;
- equal versions go to the EARLIEST arrival — the reserved ``_arrival``
  column (the WAL's ``delivery_seq``), as the replay oracle keeps the first
  delivery. A row with no arrival (NULL, or a frame without the column)
  counts as the earliest, so a frame without arrivals resolves exactly as
  before arrivals existed;
- the full row last, so verbatim duplicates have a deterministic survivor.

Every ``MergeTable`` path resolves through ``dedupe_lww``: reads, compact,
rebucket, repair, both sides of ``changes()``, and the COW merge itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reserved input column: a row's arrival order (lower = earlier)
ARRIVAL_COL = "_arrival"
_NO_ARRIVAL = 2 ** 63 - 1  # the rank of a row with no arrival: the earliest


def dedupe_lww(df: DataFrame, key_cols: list[str], version_cols: list[str],
               *aggs) -> DataFrame:
    """Keep exactly one row per key, the LWW winner (see the module
    docstring). ``aggs``: extra aggregate columns over each key's rows,
    output after the winner's columns.

    Implemented as an aggregation — ``max(struct(...))`` per key — NOT a
    row_number window. The agg gets map-side partial combine (each input
    partition pre-collapses its duplicates before the shuffle), so
    duplicate-heavy batches shuffle ~one row per (key, partition) instead
    of every row. Spark plans it as a sort aggregate (a struct holding
    strings cannot live in a hash-aggregate buffer), so each side sorts by
    key, but there is no window and no per-row rank.
    """
    order = [F.col(c).alias(f"_v{i}") for i, c in enumerate(version_cols)]
    if ARRIVAL_COL in df.columns:
        # max() must prefer the earliest arrival: rank by its negation
        order.append(F.coalesce(-F.col(ARRIVAL_COL), F.lit(_NO_ARRIVAL))
                     .alias("_a"))
    payload = [f.name for f in df.schema.fields]
    packed = F.struct(*order, F.struct(*payload).alias("_row"))
    won = df.groupBy(*key_cols).agg(F.max(packed).alias("_win"), *aggs)
    # key columns come from the GROUPING attributes, not the struct (the
    # values are identical — every row in a group shares its key, and
    # groupBy's null-safe grouping matches the struct's carried NULLs).
    # This keeps the aggregation's partitioning visible downstream, so a
    # keyed exchange right after the resolution is reused, not repeated.
    key_set = set(key_cols)
    return won.select(
        *[F.col(c) if c in key_set else F.col(f"_win._row.{c}").alias(c)
          for c in payload],
        *[c for c in won.columns if c not in key_set and c != "_win"])
