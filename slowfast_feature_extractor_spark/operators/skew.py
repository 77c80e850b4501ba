"""Skew-robust entity-sequential operators: range-partition-with-carry.

The plain window operators partition by entity, so ONE hot url (a
million-revisit page at Common-Crawl scale) lands its whole history in
ONE task — the open risk flagged in round 1. Every entity-sequential
operator therefore takes a ``chunk=`` expression (``sessionize``,
``dual_rate_features``, ``asof_join``; ``featurize_pages`` and
``pit_dual_rate_from`` take a ``chunk_trunc`` unit): each entity's
timeline is split into time chunks (e.g. day — the same axis the
Iceberg layout partitions on, SURVEY §4) and the window family runs per
(entity, chunk) instead, so a hot entity parallelizes across its chunks.
:func:`carry_window` is that pass, shared by the window operators.

Correctness is restored by a *carry*: a ROWS frame of ≤ ``slow_rows``
ending inside chunk k can reach back at most ``slow_rows`` rows, so it
is fully determined by the last ``slow_rows`` rows before the chunk.
Those carry rows are computed from per-chunk *tails* (the last
``slow_rows`` rows of each chunk — a distributed window over
(entity, chunk)) sliced per chunk from a per-entity sorted tail array —
pure whole-stage-codegen expressions (r7; the r6 pandas fold shipped
every tail row through Python): the per-entity work is
O(chunks² × slow_rows) array element ops over tails only, never the
full history. Unbounded running counts (``n_hist_rows``, the session
index) are shifted by a per-chunk prefix table (cumsum over the tiny
(entity, chunk, total) relation).

Equality with the single-partition plan is exact and tested
(tests/test_skew.py): same columns, same values, any chunking.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def shuffle_partition_count(spark) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    settings ('auto' on AQE-managed platforms): fall back to the
    cluster's default parallelism — the explicit-count repartitions
    below only need a sane width, not the exact conf value."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except ValueError:
        return int(spark.sparkContext.defaultParallelism)


def chunk_carries(
    base: DataFrame,
    entity: str,
    order_cols: list[str],
    slow_rows: int,
) -> DataFrame:
    """Carry rows for every (entity, __chunk): copies of the last
    ``slow_rows`` rows that precede the chunk in the entity's timeline,
    re-labelled with the chunk they carry into. ``base`` must already
    hold a ``__chunk`` column monotone (per entity) in the order
    columns. Feeds :func:`carry_window`.

    Pure JVM (r7): carry(chunk k) = the last ``slow_rows`` rows, by
    (chunk, order), among tail rows with chunk < k — tail rows outside
    their own chunk's last ``slow_rows`` can never re-enter any later
    suffix, so folding tails sequentially (the r6 pandas applyInPandas
    pass) and slicing the prior-tails suffix are the SAME set. The r6
    fold shipped every tail row through Python and paid per-entity
    pandas-group overhead: on the sf1.0 events fixture entities are
    sparse (~8 rows per chunk < slow_rows), so tails = the WHOLE table
    and the fold was the top stage of every chunked operator (~75 s of
    the 92 s executor total, 40× runtime/cpu Python wait). Here the
    per-entity fold is a sort_array/filter/slice cascade inside
    whole-stage codegen; a null chunk (null ts) sorts first in both
    engines' orderings and seeds every later chunk's carry, matching
    the fold's na_position='first'."""
    # --- per-chunk tails: last slow_rows rows of each (entity, chunk) —
    # a distributed window; hot entities already split across chunks here
    w_desc = Window.partitionBy(entity, "__chunk").orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    tails = (
        base.withColumn("__rn", F.row_number().over(w_desc))
        .filter(F.col("__rn") <= slow_rows)
        .drop("__rn")
    )

    payload = [c for c in tails.columns if c != entity]
    # (__chunk, *order_cols) leads the struct so sort_array orders by the
    # fold's sort key; the full payload struct rides behind it
    order_fields = ["__chunk", *order_cols]
    rest = [c for c in payload if c not in order_fields]
    per_ent = tails.groupBy(entity).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    *[F.col(c).alias(f"__k{i}") for i, c in enumerate(order_fields)],
                    F.struct(*[F.col(c) for c in rest]).alias("__p"),
                )
            )
        ).alias("__arr")
    )
    chunks = F.array_distinct(
        F.transform(F.col("__arr"), lambda x: x["__k0"])
    )
    exploded = per_ent.select(
        entity, "__arr", F.posexplode(chunks).alias("__ki", "__tgt")
    ).filter(F.col("__ki") >= 1)
    prior = F.filter(
        F.col("__arr"),
        lambda x: x["__k0"].isNull() | (x["__k0"] < F.col("__tgt")),
    )
    carry = F.slice(
        prior, F.greatest(F.size(prior) - F.lit(slow_rows - 1), F.lit(1)),
        slow_rows,
    )
    out = exploded.select(
        entity, F.col("__tgt").alias("__chunk"), F.explode(carry).alias("__e")
    )
    e = F.col("__e")
    return out.select(
        entity,
        *[e.getField(f"__k{i + 1}").alias(c) for i, c in enumerate(order_cols)],
        *[e.getField("__p").getField(c).alias(c) for c in rest],
        "__chunk",
    )


def chunk_prefix_counts(
    rows: DataFrame, entity: str, per_chunk: Column | None = None
) -> DataFrame:
    """(entity, __chunk, __prefix) — the sum of ``per_chunk`` (default:
    the row count) over the entity's strictly earlier chunks, from a
    cumsum over the tiny per-chunk relation (feeds the unbounded running
    counts that a bounded carry cannot reconstruct)."""
    if per_chunk is None:
        per_chunk = F.count(F.lit(1))
    totals = rows.groupBy(entity, "__chunk").agg(per_chunk.alias("__cnt"))
    w_chunks = (
        Window.partitionBy(entity)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return totals.select(
        entity,
        "__chunk",
        F.coalesce(F.sum("__cnt").over(w_chunks), F.lit(0)).alias("__prefix"),
    )


def carry_window(
    df: DataFrame,
    entity: str,
    order_cols: Sequence[str],
    chunk: Column,
    carry_rows: int,
    measures: Sequence[str],
    emit: Callable[[DataFrame, WindowSpec, Column], DataFrame],
    running: str,
    chunk_total: Column | None = None,
) -> DataFrame:
    """Run a window family per (entity, chunk) — the ``chunk=`` arm of
    every entity-sequential window operator. ``chunk`` must be
    deterministic and monotone in the order columns per entity.

    ``emit(merged, w, real)`` attaches the family's columns over ``w``
    (partitioned by (entity, chunk), ordered by ``order_cols``), the
    same callable the operator's plain arm runs over the entity window.
    ``merged`` is the input plus, ahead of each chunk's rows, copies of
    the entity's last ``carry_rows`` rows before the chunk; carry rows
    hold only ``entity``, ``order_cols`` and ``measures`` (the rest is
    null) and are filtered out after the window, so no frame of the
    family may reach back more than ``carry_rows`` rows. ``real`` is
    true on input rows only, for counts and flags that must skip
    carries.

    ``running`` is a chunk-local running count the family emits; it is
    shifted by the total of the entity's earlier chunks: their row
    counts, or ``chunk_total`` aggregated over each chunk's output rows
    (that output is persisted, since it then feeds two consumers)."""
    # the pass carries struct(entity) in the entity column: the plain
    # arm's window holds NULL-keyed rows as one entity, and the prefix
    # join below must match them too. Struct equality compares NULL
    # fields as equal, so that join stays an equi-join on the window's
    # own partition keys (an eqNullSafe join on entity re-shuffles both
    # sides)
    base = df.withColumns({entity: F.struct(entity), "__chunk": chunk})
    carries = chunk_carries(
        base.select(entity, *order_cols, *measures, "__chunk"),
        entity, list(order_cols), carry_rows,
    )
    # carry rows sort first in their chunk: they come from strictly
    # earlier chunks, hence earlier order keys
    merged = base.withColumn("__carry", F.lit(0)).unionByName(
        carries.withColumn("__carry", F.lit(1)), allowMissingColumns=True
    )
    # pin the window's partition count: the (entity, chunk) shuffle is
    # tiny in BYTES, so AQE's advisory-size coalescing collapses it to a
    # handful of partitions and serializes the window stage (measured:
    # 139 day-chunks ran on 5 partitions, 8.8s vs 2.6s); an
    # explicit-count repartition is exempt from AQE coalesce and already
    # satisfies the window's clustering requirement
    merged = merged.repartition(
        shuffle_partition_count(df.sparkSession), entity, "__chunk"
    )
    w = Window.partitionBy(entity, "__chunk").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    out = emit(merged, w, F.col("__carry") == 0).filter(F.col("__carry") == 0)
    if chunk_total is None:
        prefix = chunk_prefix_counts(base, entity)
    else:
        # without a persist the totals branch re-executes the whole
        # scan→tails→carries→union→window chain — the projections
        # differ, so Catalyst plans twin subtrees and ReusedExchange
        # never fires (measured: the twin map stages were the top-2
        # stages of the sf1.0 sessionize profile, ~250 s of 287 s)
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        prefix = chunk_prefix_counts(out, entity, chunk_total)
    # the tiny prefix relation joins on the window's own partition keys
    # — the big side keeps its partitioning (no extra exchange)
    cols = [
        F.col(c).getField(entity).alias(c) if c == entity else F.col(c)
        for c in out.columns if c not in ("__chunk", "__carry")
    ]
    return (
        out.join(prefix, [entity, "__chunk"], "left")
        .withColumn(running, F.coalesce(F.col("__prefix"), F.lit(0)) + F.col(running))
        .select(*cols)
    )
