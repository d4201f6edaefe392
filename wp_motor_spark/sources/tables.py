"""Parquet table loader with schema normalization.

The driver's testdata has shipped `events.ts` in two physical shapes over
time:

* parquet TIMESTAMP(NANOS) — Spark reads it only via
  spark.sql.legacy.parquet.nanosAsLong, so the column arrives as LongType
  epoch-nanoseconds;
* parquet timestamp[us] with no timezone — Spark infers TIMESTAMP_NTZ,
  which breaks instant-typed call sites (`unix_micros`, window range
  arithmetic, streaming watermarks).

Normalize BOTH back to a plain TimestampType. The session timezone is
pinned UTC (ensure_session_confs), so NTZ→TZ is a value-preserving
reinterpretation and keeps DuckDB oracle hash parity; the nanos branch
floor-truncates ns→us exactly the way DuckDB/pandas read the same file.
Mirrors the reference's policy of normalizing every input to one canonical
Time type (crates/wp-lang/src/eval/value/parser/physical/time/).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# columns we know carry epoch-nanos when read with nanosAsLong
_NANO_TS_COLUMNS = {"ts"}

#: Spread-after-read (guide §2.5 "input skew: one huge unsplittable file …
#: repartition immediately after the read"): the bench testdata ships each
#: table as ONE single-row-group parquet file, so every scan is one task and
#: every map-heavy operator runs single-threaded no matter how many cores
#: the session has. The spread is OPT-IN PER QUERY (load_table(...,
#: spread=True)): measured per-query A/B at sf0.1 showed it wins 2-3x on
#: scans feeding heavy per-row JVM compute (WPL regex parse, text HOFs,
#: levenshtein blocks) but LOSES 2-5x on queries whose scan feeds Python/
#: Arrow stages or driver-sample loops (ivfpq 4.0s -> 15.4s: 32 near-empty
#: python tasks per stage across many small jobs) and on plain aggregations
#: where the exchange costs more than the single-task scan. The condition
#: is still data-driven, not tuned to local[32]: it fires only when the
#: scan yields fewer partitions than half the executor parallelism AND the
#: file is big enough to matter (>= 256 KiB). At 100 TB the scan produces
#: thousands of splits, the condition is false, and the plan is untouched.
_SPREAD_MIN_BYTES = 256 * 1024


def _spread_small_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    try:
        nbytes = os.path.getsize(path)
    except OSError:
        return df
    if nbytes < _SPREAD_MIN_BYTES:
        return df
    par = spark.sparkContext.defaultParallelism
    try:
        # JVM-side partition count (same as operators/dedup._spread): the
        # public df.rdd wrapper builds a javaToPython conversion stage per
        # call just to ask a number
        n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # noqa: BLE001 - internal API; fall back to public path
        n_parts = df.rdd.getNumPartitions()
    if n_parts * 2 > par:
        return df
    return df.repartition(par)


def ensure_session_confs(spark: SparkSession) -> None:
    """The driver calls queries() with ITS OWN SparkSession — make the
    runtime-settable confs we depend on hold there too: nanos-timestamp
    parquet reads (events.ts is TIMESTAMP(NANOS)) and UTC wall-clocks
    (oracle parity for every timestamp-valued comparison)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # static-conf locked sessions keep their builder values


# (applicationId, sf_dir, name) -> DataFrame: file listing + schema read
# happen once per session instead of once per query
_CACHE: dict[tuple, DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name, spread)
    if key in _CACHE:
        return _CACHE[key]
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if spread:
        df = _spread_small_scan(spark, df, path)
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            # timestamp[us] parquet (no TZ) → Spark TIMESTAMP_NTZ. Session
            # TZ is pinned UTC, so this cast reinterprets the same wall
            # clock as the same instant — value-preserving, oracle-safe.
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
        elif f.name in _NANO_TS_COLUMNS and isinstance(f.dataType, T.LongType):
            # integer division: epoch-nanos (~1.7e18) exceed double's 2^53
            # exact range, so float divide + floor can land 1µs off DuckDB's
            # exact truncation and break oracle hash parity. `div` truncates
            # toward zero; the CASE corrects to floor semantics so pre-1970
            # (negative) nanos round the same way DuckDB's epoch math does.
            df = df.withColumn(
                f.name,
                F.timestamp_micros(
                    F.expr(
                        f"`{f.name}` div 1000 - "
                        f"(CASE WHEN `{f.name}` < 0 AND `{f.name}` % 1000 != 0 "
                        f"THEN 1 ELSE 0 END)"
                    )
                ),
            )
    _CACHE[key] = df
    return _CACHE[key]
