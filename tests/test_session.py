"""Session helpers: the persist registry shared by queries and operators,
and the container-aware driver-memory default."""

import os
import sys
import threading

from pyspark import StorageLevel

from wp_motor_spark import session
from wp_motor_spark.operators import dedup
from wp_motor_spark.queries import _track_persist, release_persists


def test_one_release_drains_query_and_operator_persists(spark):
    release_persists()
    q = _track_persist(spark.range(10).selectExpr("id * 3 AS x"))
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "lorem ipsum")],
        ["doc_id", "text"],
    )
    dedup.simhash_pairs(docs)
    assert len(session._PERSISTED) == 2
    op = next(df for df in session._PERSISTED if df is not q)
    # each call site keeps its own storage level
    assert q.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert op.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER

    assert release_persists() == 2
    assert q.storageLevel == StorageLevel.NONE
    assert op.storageLevel == StorageLevel.NONE
    assert session._PERSISTED == []


def test_concurrent_tracking_loses_no_handle(spark):
    """More tracking threads than cores, switching as often as the
    interpreter allows: every handle must land in the one registry."""
    release_persists()
    n_threads, per_thread = 2 * (os.cpu_count() or 4), 10
    frames = [
        [spark.range(t * per_thread + i) for i in range(per_thread)] for t in range(n_threads)
    ]
    start = threading.Barrier(n_threads)

    def track(dfs):
        start.wait()
        for df in dfs:
            session.track_persist(df)

    threads = [threading.Thread(target=track, args=(dfs,)) for dfs in frames]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(session._PERSISTED) == n_threads * per_thread
    assert release_persists() == n_threads * per_thread


def _limits(monkeypatch, tmp_path, meminfo_kb=None, v2=None, v1=None):
    def put(name, text):
        if text is None:
            return str(tmp_path / f"absent_{name}")
        p = tmp_path / name
        p.write_text(text)
        return str(p)

    monkeypatch.setattr(session, "_MEMINFO", put(
        "meminfo", None if meminfo_kb is None else f"MemFree: 1 kB\nMemTotal: {meminfo_kb} kB\n"
    ))
    monkeypatch.setattr(session, "_CGROUP_MEM_LIMITS", (put("v2", v2), put("v1", v1)))
    return session._default_driver_mem()


def test_driver_mem_takes_the_smaller_of_memtotal_and_cgroup(monkeypatch, tmp_path):
    gib_kb = 1024 * 1024
    gib = 1024**3
    # no cgroup limit: 25% of MemTotal
    assert _limits(monkeypatch, tmp_path, 64 * gib_kb, v2="max\n") == "16g"
    # the v1 "unlimited" sentinel is no limit either
    assert _limits(monkeypatch, tmp_path, 16 * gib_kb, v1="9223372036854771712\n") == "4g"
    # a container limit below MemTotal caps the default
    assert _limits(monkeypatch, tmp_path, 64 * gib_kb, v2=f"{12 * gib}\n") == "3g"
    assert _limits(monkeypatch, tmp_path, 64 * gib_kb, v1=f"{20 * gib}\n") == "5g"
    # floor 2g, cap 24g
    assert _limits(monkeypatch, tmp_path, 64 * gib_kb, v2=f"{4 * gib}\n") == "2g"
    assert _limits(monkeypatch, tmp_path, 512 * gib_kb) == "24g"
    # a cgroup limit alone still counts; nothing readable keeps the bench default
    assert _limits(monkeypatch, tmp_path, v2=f"{40 * gib}\n") == "10g"
    assert _limits(monkeypatch, tmp_path) == "24g"
