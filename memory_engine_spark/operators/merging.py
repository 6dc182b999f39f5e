"""Merge semantics + rating updates (exact, oracle-checkable formulas).

Reference:
- merge semantics /root/reference/memory_core/ingestion/merging.py:127-196 —
  ratings merge = element-wise max, tag merge = sorted set-union of the
  comma-split lists, metadata deep-merge right-wins.
- rating update /root/reference/memory_core/rating/rating_system.py:61-91 —
  truthfulness: clamp01(old + 0.2·confirmation − 0.2·contradiction);
  richness/stability: clamp01(old + 0.2·factor).

Both are pure column expressions — ``MemoryEngine.update_rating`` applies
them as one projection over the table; batch upserts replace rows via
anti-join + union (immutable storage MERGE idiom, SURVEY.md §7 hard
part (c)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merged_ratings(*rating_cols: Column) -> Column:
    """Element-wise max (merging.py:127-141)."""
    return F.greatest(*rating_cols)


def merged_tags(tags_a: Column, tags_b: Column) -> Column:
    """Sorted set-union of comma-joined tag strings (merging.py:144-152),
    returned comma-joined like the reference encoding."""
    def split(c: Column) -> Column:
        return F.filter(F.split(c, ","), lambda x: x != "")
    return F.concat_ws(",", F.array_sort(F.array_union(split(tags_a), split(tags_b))))


def clamp01(c: Column) -> Column:
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))


def updated_truthfulness(old: Column, confirmation: Column, contradiction: Column) -> Column:
    """rating_system.py:61-91."""
    return clamp01(old + 0.2 * confirmation - 0.2 * contradiction)


def updated_rating(old: Column, factor: Column) -> Column:
    """richness/stability update (rating_system.py:61-91)."""
    return clamp01(old + 0.2 * factor)


def merged_metadata(map_a: Column, map_b: Column) -> Column:
    """Metadata merge, right-wins (merging.py:154-196): map_concat keeps
    the LAST value for duplicate keys when
    spark.sql.mapKeyDedupPolicy=LAST_WIN; expressed portably via
    map_zip_with so no session conf is required."""
    return F.map_zip_with(
        F.coalesce(map_a, F.create_map()),
        F.coalesce(map_b, F.create_map()),
        lambda k, v1, v2: F.coalesce(v2, v1),
    )


def delete_rows(existing: DataFrame, keys: DataFrame | list, key: str) -> DataFrame:
    """Batch delete on immutable tables = one anti-join
    (graph_storage_interface.py delete_node as a set operation)."""
    if isinstance(keys, list):
        spark = existing.sparkSession
        keys = spark.createDataFrame([(k,) for k in keys], f"{key} string")
    return existing.join(keys.select(key), key, "left_anti")


def upsert(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE-style upsert on immutable tables: rows in ``updates`` win;
    untouched rows pass through (anti-join + union)."""
    return existing.join(updates.select(key), key, "left_anti").unionByName(updates)


def merge_into(target: DataFrame, source: DataFrame, key: str,
               op_col: str = "_op") -> DataFrame:
    """Delta-style 3-clause MERGE for CDC batches, as ONE full-outer
    join (never row-at-a-time): ``source`` carries full rows plus an
    ``op_col`` in {'insert','update','delete'} —

    - WHEN MATCHED AND op='delete'  THEN DELETE
    - WHEN MATCHED AND op='update'  THEN UPDATE (all non-key columns)
    - WHEN NOT MATCHED AND op='insert' THEN INSERT
    - anything else (matched 'insert', unmatched 'update'/'delete')
      leaves the target untouched — the no-op clauses.

    Like Delta's MERGE, multiple source rows for one key are an
    ERROR (the result would be nondeterministic); the cardinality
    check is one cheap aggregate over the (small) CDC batch. Scale
    shape: one shuffle on the key (the CDC side is usually broadcast
    by AQE); column resolution is pure CASE projection. Extends this
    module's 2-way ``upsert`` (anti-join + union) to the full
    matched/not-matched clause algebra; reference parity:
    memory_core's storage upserts are per-row puts — this is the
    set-oriented form a 100 TB table needs."""
    cols = [c for c in target.columns if c != key]
    if set(source.columns) - {op_col} != set(target.columns):
        raise ValueError("source must carry exactly the target columns "
                         f"plus {op_col!r}")
    dup = (source.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            f"MERGE source has multiple rows for {key}={dup[0][key]!r}")
    s = source.select(
        F.col(key),
        F.col(op_col).alias("_s_op"),
        *[F.col(c).alias(f"_s_{c}") for c in cols])
    t = target.withColumn("_t_present", F.lit(True))
    j = t.join(s, key, "full_outer")
    matched = F.col("_t_present").isNotNull() & F.col("_s_op").isNotNull()
    keep = (
        # unmatched target rows pass through
        (F.col("_s_op").isNull() & F.col("_t_present").isNotNull())
        # matched: everything except deletes
        | (matched & (F.col("_s_op") != "delete"))
        # unmatched source rows: inserts only
        | (F.col("_t_present").isNull() & (F.col("_s_op") == "insert")))
    use_source = (
        (matched & (F.col("_s_op") == "update"))
        | (F.col("_t_present").isNull() & (F.col("_s_op") == "insert")))
    out_cols = [F.col(key)] + [
        F.when(use_source, F.col(f"_s_{c}")).otherwise(F.col(c)).alias(c)
        for c in cols]
    return j.filter(keep).select(*out_cols)


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  op_col: str = "_op") -> DataFrame:
    """CDC CAPTURE — ``merge_into``'s inverse: diff two snapshots of
    a keyed table into the minimal change batch that replays one
    into the other. One full-outer join on the key; rows classify as
    'insert' (key only in ``new``), 'delete' (key only in ``old``),
    'update' (both, any non-key column differs — struct equality,
    null-safe via <=> semantics of struct comparison). Unchanged
    rows are DROPPED: the batch is minimal, which is what makes
    downstream `merge_into` cheap at 100 TB. Round-trip law (tested):
    ``merge_into(old, snapshot_diff(old, new, k), k)`` equals ``new``
    exactly. Returns the ``new``-side values for insert/update and
    the ``old``-side values for delete, plus ``op_col``."""
    cols = [c for c in old.columns if c != key]
    if set(new.columns) != set(old.columns):
        raise ValueError("snapshots must share a schema")
    o = old.select(F.col(key),
                   F.struct(*[F.col(c) for c in cols]).alias("_o"))
    n = new.select(F.col(key),
                   F.struct(*[F.col(c) for c in cols]).alias("_n"))
    j = o.join(n, key, "full_outer")
    op = (F.when(F.col("_o").isNull(), "insert")
          .when(F.col("_n").isNull(), "delete")
          .otherwise("update"))
    keep = (F.col("_o").isNull() | F.col("_n").isNull()
            | ~(F.col("_o").eqNullSafe(F.col("_n"))))
    side = F.coalesce(F.col("_n"), F.col("_o"))
    return (j.filter(keep)
            .select(F.col(key),
                    *[side[c].alias(c) for c in cols],
                    op.alias(op_col)))
