"""SparkSession factory + engine session (table registry, query cache).

Replaces the reference's pluggable storage backends
(/root/reference/memory_core/storage/factory.py) with a single
Parquet-backed table registry, and its query-result cache
(/root/reference/memory_core/query/query_cache.py:61-514) with a
keyed DataFrame cache on top of Spark's own block-manager caching.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

# Engine defaults; on a real cluster spark-submit conf overrides them.
# spark.sql.shuffle.partitions is not listed: get_spark sets it to the
# session's own core count (sparkContext.defaultParallelism), so a
# shuffle runs one task per core on any host. AQE handles runtime
# re-planning (partition coalescing, skew-join splitting) at any scale.
DEFAULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # test parquet is written with ns timestamps; read as long and convert
    # (sources/tables.py) — Spark has no native TIMESTAMP(NANOS) type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 16 MiB: big enough to broadcast real dimension tables, small enough
    # that AQE never broadcasts a million-row exploded intermediate.
    "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "memory-engine-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied and
    one shuffle partition per core."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(spark.sparkContext.defaultParallelism))
    return spark


class EngineSession:
    """Holds a SparkSession plus the engine's registered tables.

    Core tables (SURVEY.md §1.1): nodes, edges, embeddings, revisions,
    events. Any parquet directory with table files can be attached; the
    TPC-H-ish driver test tables load the same way.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._tables: dict[str, DataFrame] = {}
        self._cache: dict[str, tuple[float, DataFrame]] = {}
        self.cache_ttl = 3600.0  # reference default, query_types.py:106

    # -- table registry ----------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        self._tables[name] = df
        df.createOrReplaceTempView(name)

    def attach_dir(self, path: str, tables: Iterable[str] | None = None) -> None:
        """Register every ``<path>/<name>.parquet`` as a table."""
        names = list(tables) if tables else [
            f[: -len(".parquet")] for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        ]
        from .sources.tables import _read_parquet
        for name in names:
            # the normalizing reader, NOT a bare spark.read.parquet:
            # ns-timestamps and zone-less (NTZ) columns must become
            # TIMESTAMP here too, or epoch functions (unix_micros in
            # sessionize) fail on attached tables
            self.register(name, _read_parquet(
                self.spark, os.path.join(path, f"{name}.parquet")))

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(f"table not registered: {name!r} (have {sorted(self._tables)})")
        return self._tables[name]

    @property
    def tables(self) -> dict[str, DataFrame]:
        return dict(self._tables)

    # -- keyed result cache (reference: query_cache.py MD5-of-request key) --
    @staticmethod
    def cache_key(payload: dict) -> str:
        return hashlib.md5(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()

    def cached(self, key: str) -> tuple[DataFrame, dict] | None:
        """Cache hit as (df, meta) or None. ``meta`` round-trips whatever
        ``put_cache`` stored alongside the frame (e.g. the pre-pagination
        total_count) — the reference's query_cache stores the whole
        response, not just the page (query_cache.py)."""
        hit = self._cache.get(key)
        if hit is None:
            return None
        ts, df, meta = hit
        if time.time() - ts > self.cache_ttl:
            df.unpersist()
            del self._cache[key]
            return None
        return df, meta

    def put_cache(self, key: str, df: DataFrame,
                  meta: dict | None = None) -> DataFrame:
        df = df.cache()
        self._cache[key] = (time.time(), df, dict(meta or {}))
        return df

    def invalidate_cache(self) -> None:
        for _, df, _meta in self._cache.values():
            df.unpersist()
        self._cache.clear()
