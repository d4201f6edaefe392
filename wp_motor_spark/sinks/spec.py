"""Sink declarations: routing condition + format + destination.

Reference: per-sink condition & filter_expect (src/sinks/routing/
dispatcher/oml.rs:351-363), format whitelist (src/sinks/backends/
file.rs:64), blackhole (backends/blackhole.rs), kafka connector
(connectors/sink.d/30-kafka.toml).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class SinkSpec:
    name: str
    # file | test_rescue | kafka | tcp | syslog | victorialogs | blackhole |
    # memory (a noop write, the default sink); other kinds fail their write
    kind: str = "file"
    path: str | None = None  # file: output dir
    format: str = "json"  # json | csv | kv | raw | show | proto-text
    condition: str | None = None  # routing condition expression (§2.6)
    filter_expect: bool = True  # keep records where condition == this
    models: list[str] = field(default_factory=lambda: ["*"])  # OML model globs
    # WPL rule-key globs (route file `rule = [...]`, the sibling of `oml`
    # in wp-config sinks/types.rs:37-39); default matches every rule
    rules: list[str] = field(default_factory=lambda: ["*"])
    options: dict = field(default_factory=dict)  # connector passthrough
    # delivery expectation (wp-cli-core utils/validate/core.rs):
    # SINK-level override {ratio, tol, min, max} — fraction of the group
    # basis expected to reach this sink (`wproj data validate`)
    expect: dict | None = None
    # group membership + GROUP-level expect spec {basis, min_samples,
    # mode, sum_tol, others_max} (wp-config structure/group.rs
    # GroupExpectSpec; defaults.toml [defaults.expect] backfills it)
    group: str | None = None
    group_expect: dict | None = None
    # sink-level tags injected into every routed record
    # (sinks/runtime/manager.rs compile_tags + dispatcher append_pre_tags:
    # 'k: v' / 'k=v' / bare 'flag' -> "true"; later tag wins). The
    # reference APPENDS a duplicate DataField when the record already has
    # the key; a columnar schema cannot hold duplicate columns, so here
    # the tag OVERWRITES the column (the later-field-wins lookup most
    # sinks observe).
    tags: dict[str, str] = field(default_factory=dict)
