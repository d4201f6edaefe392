"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness-vs-oracle (UTC session timezone, deterministic) and for
the 100TB design point (AQE on, skew-join handling, sane shuffle sizing).
On a real cluster only ``shuffle_partitions`` / memory knobs change.
"""

from __future__ import annotations

import os
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: persisted intermediates that query builders (queries.py) and operators
#: (operators/dedup.py) register, so a suite harness (bench.py,
#: tools/oracle_check.py, perfbench) can release them after each query's
#: action. Without the release a 200-query session accumulates
#: InMemoryRelations until eviction pressure, and the CacheManager
#: plan-matches a later identical invocation onto the still-cached frame,
#: so a second query (or bench pass) times a cache replay instead of the
#: pipeline. Library callers that never release simply keep the persists.
#: Lives here because this module imports nothing from the package.
_PERSISTED: list[DataFrame] = []
_PERSISTED_LOCK = threading.Lock()


def track_persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    out = df.persist(level)
    with _PERSISTED_LOCK:
        _PERSISTED.append(out)
    return out


def release_persists() -> int:
    """Unpersist every intermediate registered via ``track_persist``.

    Call after the consuming action (collect/write) — unpersisting before
    materialization would just force recomputation. Returns the number of
    handles released."""
    # newest first: a persist built on an older one is released before it,
    # so the CacheManager never re-plans a still-cached dependent of a
    # dropped entry
    with _PERSISTED_LOCK:
        handles = _PERSISTED[::-1]
        _PERSISTED.clear()
    n = 0
    for df in handles:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


_MEMINFO = "/proc/meminfo"
#: container memory limits, cgroup v2 then v1; a limit below MemTotal is
#: what the JVM actually gets
_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
#: v2 writes "max" for no limit; v1 writes a page-rounded LONG_MAX
#: (9223372036854771712), so anything this large is no limit either
_CGROUP_UNLIMITED = 1 << 62


def _memory_limits() -> list[int]:
    """Every readable memory ceiling in bytes: MemTotal and any cgroup limit."""
    out = []
    try:
        with open(_MEMINFO) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    out.append(int(line.split()[1]) * 1024)
                    break
    except (OSError, ValueError):
        pass
    for path in _CGROUP_MEM_LIMITS:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
            if raw != "max" and int(raw) < _CGROUP_UNLIMITED:
                out.append(int(raw))
        except (OSError, ValueError):
            pass
    return out


def _default_driver_mem() -> str:
    """min(24g, ~25% of the memory this process may use), floor 2g — the
    24g local[32] bench sizing, degraded gracefully on smaller hosts and
    inside memory-limited containers. The ceiling is the smallest of
    MemTotal and the cgroup limit; if none is readable the 24g bench
    default stands, and WP_DRIVER_MEM always wins (see caller)."""
    limits = _memory_limits()
    if not limits:
        return "24g"
    total_gib = min(limits) / (1024**3)
    return f"{max(2, min(24, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "wp_motor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("WP_SHUFFLE_PARTITIONS", str(max(cpus, 32)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert at the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime re-planning: coalesce small shuffle partitions, split skewed
        # ones — essential at 100TB where static planning is always wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (incl. partition coalescing) for persisted
        # DataFrames too: off, every track_persist intermediate keeps the
        # static shuffle-partition count, so tiny cached tables fan every
        # downstream stage out to N near-empty tasks (measured: 8-round
        # greedy loop over a 256k-row cache, 32->AQE-sized partitions cut
        # the loop wall ~20% locally; at scale AQE sizes from bytes, so
        # this stays data-driven, guide §2.2).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the few pandas-UDF paths (batched, columnar transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast dims up to 64MB — KnowDB-style enrichment tables are small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/IO codec (guide §2.3: "measure both"): full-suite A/B at
        # sf0.1 — zstd 246.1 s / 72.1k ev/s/core probe vs lz4 236.6 s /
        # 92.0k. Local shuffles are CPU-bound over tiny partitions, so
        # zstd's ratio buys nothing here; on a network-bound cluster flip
        # WP_IO_CODEC=zstd and re-measure.
        .config("spark.io.compression.codec", os.environ.get("WP_IO_CODEC", "lz4"))
        .config("spark.ui.enabled", "false")
        # local-mode heap sizing (guide §5): in local[N] the ONE driver JVM
        # hosts all N executor threads, so 8g forced constant GC under the
        # 32-thread suite — full-bench A/B at sf0.1 (same box, back-to-back):
        # 8g 270.7 s suite / 38k ev/s/core probe vs 24g 252.8 s / 108.7k.
        # 24g is ~20% of the 128 GiB bench box, leaving room for Python
        # workers; on a real cluster spark.executor.memory is sized
        # separately and this knob only feeds the (small) driver. r17
        # (ADVICE): the default is capped at ~25% of detected system
        # memory so a cgroup-limited dev/CI host doesn't fail to start a
        # 24g JVM; WP_DRIVER_MEM still overrides outright.
        .config("spark.driver.memory",
                os.environ.get("WP_DRIVER_MEM", _default_driver_mem()))
    )
    return builder.getOrCreate()
