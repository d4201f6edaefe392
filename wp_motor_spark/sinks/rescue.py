"""Sink failure rescue + replay (reference: src/sinks/rescue.rs,
src/sinks/backends/test_rescue.rs, docs/usage/en/01-cli/05-wprescue.md).

When a sink write fails, the already-formatted lines are spooled to
``<rescue_dir>/<sink_name>/`` as versioned JSONL entries
(``{"version":1,"kind":"raw","raw":"<line>"}`` — the rescue.rs
RescueEntry wire shape), written distributed via Spark (no driver
loop). ``replay`` is the wprescue flow: read every sink's spool,
decode entries, re-write to the (now healthy) sink, and drain the
spool on success. Exactly-once is NOT promised across a crash between
re-write and drain — same as the reference's flush-interval window.

The ``test_rescue`` sink kind is the failure-injection proxy
(ASinkTestProxy + HealthController in test_rescue.rs): a file sink
that refuses writes while ``<path>/.unhealthy`` exists, letting tests
drive the fail -> rescue -> heal -> replay loop deterministically.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, functions as F

from wp_motor_spark.sinks import write_counted

RESCUE_VERSION = 1


class SinkUnhealthyError(RuntimeError):
    """Raised by the test_rescue sink while its health marker is down."""


def health_marker(path: str) -> str:
    return os.path.join(path, ".unhealthy")


def set_healthy(path: str, healthy: bool) -> None:
    """HealthController analog: toggle the test_rescue sink's health."""
    marker = health_marker(path)
    if healthy:
        if os.path.exists(marker):
            os.remove(marker)
    else:
        os.makedirs(path, exist_ok=True)
        open(marker, "w").close()


def write_or_raise(lines: DataFrame, path: str) -> int:
    """test_rescue sink write: a plain append-text file sink that fails
    while the health marker is down (ASinkTestProxy.send -> Err); returns
    the lines written."""
    if os.path.exists(health_marker(path)):
        raise SinkUnhealthyError(path)
    return write_counted(lines, lambda w: w.mode("append").text(path))


def rescue_lines(lines: DataFrame, rescue_dir: str, sink_name: str) -> int:
    """Spool formatted lines for a failed sink as RescueEntry JSONL.

    Returns the number of lines rescued by THIS call (not the cumulative
    spool size — two consecutive failures report their own batch counts).
    The count rides the write job (`write_counted`): no second scan of the
    spool, and no recompute of `lines` (whose lineage was the failed
    action and may be expensive)."""
    dest = os.path.join(rescue_dir, sink_name)
    entries = lines.select(
        F.to_json(
            F.struct(
                F.lit(RESCUE_VERSION).alias("version"),
                F.lit("raw").alias("kind"),
                F.col("line").alias("raw"),
            )
        ).alias("value")
    )
    return write_counted(entries, lambda w: w.mode("append").text(dest))


def decode_entries(raw: DataFrame) -> DataFrame:
    """RescueEntry JSONL (a whole spool or one part file) -> `line` rows.
    Unknown kinds or versions are passed through untouched as raw text
    (forward compatibility, rescue.rs RescueEntry::parse fallback)."""
    parsed = F.from_json(
        F.col("value"), "version INT, kind STRING, raw STRING"
    )
    return raw.select(
        F.when(
            (parsed["kind"] == "raw") & parsed["raw"].isNotNull(), parsed["raw"]
        )
        .otherwise(F.col("value"))
        .alias("line")
    )


def spool_files(rescue_dir: str, sink_name: str) -> list[str]:
    """One sink's spool part files, oldest-write order — the natural
    replay chunks for rate-limited re-delivery (each failed batch wrote
    its own part files)."""
    dest = os.path.join(rescue_dir, sink_name)
    if not os.path.isdir(dest):
        return []
    return sorted(
        os.path.join(dest, f)
        for f in os.listdir(dest)
        if f.startswith("part-")
    )


def pending_sinks(rescue_dir: str) -> list[str]:
    if not os.path.isdir(rescue_dir):
        return []
    return sorted(
        d
        for d in os.listdir(rescue_dir)
        if os.path.isdir(os.path.join(rescue_dir, d))
    )


def drain(rescue_dir: str, sink_name: str) -> None:
    shutil.rmtree(os.path.join(rescue_dir, sink_name), ignore_errors=True)


# --------------------------------------------- reference rescue disk contract
# (src/runtime/collector/recovery/mod.rs — the {sink}-{timestamp}.dat layout
# the reference's recovery picker consumes; wprescue accepts both this and
# the per-sink-directory spool above)


def get_sink_name(path: str) -> str:
    """Sink name from a rescue file path: everything before the FIRST '-'
    of the basename (recovery/mod.rs get_sink_name — split('-'), f[0]).
    './rescue/http_accs_file_sink-2023-11-30_10:52:45.dat' ->
    'http_accs_file_sink'; nested directories don't matter."""
    return os.path.basename(path).split("-", 1)[0]


def _rescue_sort_key(path: str) -> int:
    """Epoch seconds parsed from the '-YYYY-MM-DD_HH:MM:SS.dat' suffix
    (recovery/mod.rs sort_key: strip .dat, split '-', f[1..3], '_'->' ').

    DELIBERATE PARITY: a .dat file whose basename lacks this shape
    raises (IndexError/ValueError) and fails the whole scan — exactly
    as the reference's sort_key .expect() panics on it. A stray file in
    the rescue directory is operator error both engines surface loudly
    rather than silently skipping."""
    import datetime

    name = os.path.basename(path)
    stem = name[: -len(".dat")] if name.endswith(".dat") else ""
    f = stem.split("-")
    t = f"{f[1]}-{f[2]}-{f[3].replace('_', ' ')}"
    return int(
        datetime.datetime.strptime(t, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def latest_rescue_file(root: str, ext: str = "dat") -> str | None:
    """The most recent rescue file under ``root``, RECURSIVELY (nested
    group subdirectories are scanned too — recovery/mod.rs
    tack_lasts_file + test_tack_lasts_file_nested); ordering is by the
    embedded timestamp, not mtime."""
    found: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith("." + ext):
                found.append(os.path.join(dirpath, fn))
    if not found:
        return None
    found.sort(key=_rescue_sort_key)
    return found[-1]


class CheckPoint:
    """Per-file replay success counters persisted as JSON
    (recovery/mod.rs CheckPoint: rec_suc increments, save/load round-trip,
    missing file loads empty)."""

    def __init__(self, counts: dict[str, int] | None = None,
                 point_path: str = "./rescue/.checkpoint.json"):
        self.counts: dict[str, int] = dict(counts or {})
        self.point_path = point_path

    def rec_suc(self, path: str) -> None:
        self.counts[path] = self.counts.get(path, 0) + 1

    def save_point(self) -> None:
        os.makedirs(os.path.dirname(self.point_path) or ".", exist_ok=True)
        with open(self.point_path, "w") as fh:
            json.dump(self.counts, fh)

    @classmethod
    def load_point(cls, point_path: str = "./rescue/.checkpoint.json") -> "CheckPoint":
        try:
            with open(point_path) as fh:
                return cls(json.load(fh), point_path)
        except OSError:
            return cls({}, point_path)
