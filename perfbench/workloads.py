"""The benchmark's workloads. Each is a closed loop: one caller, and the
next call starts when the previous one returns.

Every workload sets up several times in one process (Spark session start
plus the workload's own preparation) and reports the median set-up time as
``setup_s``. The first set-up also starts the JVM; it plus the process's
first op (the warm-up pass) is ``cold_start_s``. Warm-up passes and
warm-up micro-batches are never measured samples. The measured op count is
fixed from ``--seconds``; the query registry runs its fixed subset
``REGISTRY_PASSES`` times. Output checks run outside the timed calls; a
mismatch raises ``CheckFailed``.

A traced run (``--trace 1``) alternates plain and traced ops for the
tracing overhead. It adds, for the batch workloads, the fixed per-batch
cost (a ``write_batch`` of a few lines), and for every pipeline workload
the cumulative-stage sweep: read, then +parse, +OML, +KnowDB,
+route/format, +write, each stage a public call forced by
``max(xxhash64(*cols))``. The difference between consecutive stages is
that layer's time.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import statistics
import time

import corpus as C
import sparkstats
import tables
from spans import Tracer

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_OPS = 3  # measured calls per run, at least
SWEEP_REPS = 1  # repetitions of each cumulative stage (minimum taken)
# a traced batch run makes plain, traced, plain ops: the traced one against
# the mean of the two plain ones, so a steady drift (the JIT still warming)
# cancels out of the tracing overhead
TRACED_OPS = 3

# 40k lines: a write_batch of a few lines costs ~3.4-4 s (the per-batch
# jobs), one of 40k ~8.5-10 s, so per-line work is ~60% of the op
BATCH_LINES = {"wparse_fanout": 40_000, "wparse_enrich_range": 4_000}
# the batch workloads' warm-up file, as large as the measured one: after a
# 4k-line warm-up the three 40k-line ops still got ~10% faster one by one
WARM_LINES = 40_000
TINY_LINES = 100  # traced runs: a write_batch this small is the fixed cost
FILE_LINES = 1_000  # lines per backlog file of daemon_microbatch
WARM_BATCHES = 4  # leading micro-batches of the stream left out
# query_registry: every REGISTRY_STRIDE-th query of QUERIES, by position;
# measured on sf 0.01 tables, warmed up on sf 0.001 tables
REGISTRY_STRIDE = 30
REGISTRY_SF = 0.01
REGISTRY_WARM_SF = 0.001
# measured passes over the subset; one pass is ~6 s, too short a window to
# even out the host's speed swings
REGISTRY_PASSES = 3
# Expected op wall on a 4-core box. The op count of a run is fixed from
# --seconds and these, never from the run's own speed: the JIT is still
# warming while a run measures, so a count that depended on speed would
# put a slow run's median at an earlier, slower op.
EST_OP_S = {"wparse_fanout": 8.0, "wparse_enrich_range": 5.0, "daemon_microbatch": 2.4}

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch")
# Every per-layer metric and its unit. A traced run prints all of them; a
# layer the workload does not run reads 0.
PER_LAYER = {
    **{n: "s" for n in ("sources.read_s", "wpl.parse_s", "oml.transform_s",
                        "knowdb.enrich_s", "route_format_s", "sinks.write_s",
                        "pipeline.fixed_s")},
    "pipeline.per_line_share": "ratio",
    **{f"spark.{k}_s": "s" for k in ("build", "analysis", "optimization", "planning",
                                     "exec", "gc", "executor_run")},
    **{f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")},
    **{f"spark.{k}_bytes": "bytes" for k in ("shuffle_read", "shuffle_write", "spill")},
    **{f"pipeline.{k}": "count" for k in ("jobs_per_batch", "actions_per_batch",
                                          "count_actions", "jobs_per_sink")},
    "knowdb.nested_loop_joins": "count",
    "knowdb.hash_joins": "count",
    "knowdb.hit_ratio": "ratio",
    "sources.scan_amplification": "ratio",
    "sources.rows_read_per_line": "ratio",
    "trace.overhead_ratio": "ratio",
    "wpl.match_ratio": "ratio",
    **{f"wpl.{k}": "count" for k in ("lines", "success", "partial", "miss")},
    "streaming.batches": "count",
    **{f"streaming.{k}_ms": "ms" for k in STREAM_PHASES},
    "streaming.rows_read_per_line": "ratio",
    "registry.queries": "count",
    **{f"registry.{k}_s": "s" for k in ("build", "catalyst", "exec")},
    "registry.jobs": "count",
    "registry.shuffle_bytes": "bytes",
    **{f"sink.lines.{n}": "count" for n in C.SINKS["wparse_fanout"]},
    **{f"sink.bytes.{n}": "bytes" for n in C.SINKS["wparse_fanout"]},
}


def op_count(run: Run, workload: str) -> int:
    return max(MIN_OPS, round(run.seconds / EST_OP_S[workload]))


class CheckFailed(Exception):
    """An engine output disagrees with the ground truth."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Result:
    def __init__(self):
        self.end_to_end: dict[str, tuple[float, str]] = {}
        self.per_layer: dict[str, tuple[float, str]] = {}
        self.info: dict = {}

    def set_layer(self, name: str, value: float) -> None:
        self.per_layer[name] = (value, PER_LAYER[name])


class Run:
    """Per-run state: arguments, work dir, Spark session, tracer, op counts."""

    def __init__(self, args, work: str, run_id: str):
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = Tracer(run_id, self.traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from wp_motor_spark.session import get_spark

        self.stop_session()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        self.stop_session()


# ------------------------------------------------------------------ helpers


def make_sinks(workload: str, out: str):
    from wp_motor_spark.sinks import SinkSpec

    specs = {
        "json": SinkSpec(name="json", path=f"{out}/json", format="json"),
        "kv": SinkSpec(name="kv", path=f"{out}/kv", format="kv", condition=C.KV_CONDITION),
        "csv": SinkSpec(name="csv", path=f"{out}/csv", format="csv", condition=C.CSV_CONDITION),
        "blackhole": SinkSpec(name="blackhole", kind="blackhole"),
        "miss": SinkSpec(name="miss", path=f"{out}/miss", format="raw"),
        "residue": SinkSpec(name="residue", path=f"{out}/residue", format="raw"),
    }
    return [specs[n] for n in C.SINKS[workload]]


def drain_outputs(out: str) -> dict[str, dict]:
    """Lines, bytes and enrichment hits per file sink; removes the files."""
    res = {}
    if not os.path.isdir(out):
        return res
    for name in sorted(os.listdir(out)):
        d = os.path.join(out, name)
        lines = nbytes = owner = 0
        for f in os.listdir(d):
            if f.startswith("part-"):
                with open(os.path.join(d, f), "rb") as fh:
                    data = fh.read()
                lines += data.count(b"\n")
                nbytes += len(data)
                owner += data.count(b'"owner":')
        res[name] = {"lines": lines, "bytes": nbytes, "owner": owner}
        shutil.rmtree(d)
    return res


def check_outputs(counts: dict, files: dict, truth: C.Truth, workload: str, what: str) -> None:
    """Returned counts and written files against the ground truth."""
    want = truth.sink_lines(workload)
    check(counts == want, f"{what}: write_batch counts {counts} != truth {want}")
    for name, f in files.items():
        check(f["lines"] == want[name],
              f"{what}: sink {name} wrote {f['lines']} lines, truth {want[name]}")
    if "json" in files:
        check(files["json"]["owner"] == truth.asset_hits,
              f"{what}: {files['json']['owner']} asset hits, truth {truth.asset_hits}")


def forced(df):
    """The query whose action forces every column of ``df``; its one row
    is (hash, row count)."""
    from pyspark.sql import functions as F

    return df.select(F.max(F.xxhash64(*[F.col(c).cast("string") for c in df.columns])),
                     F.count(F.lit(1)))


def median(xs) -> float:
    return float(statistics.median(xs))


def set_up(run: Run, workload: str, omls: list[str], kdb_root: str, out: str, sample: str):
    """Set up ``SETUPS`` times; returns the last set-up and every wall.

    One set-up is the session start, the KnowDB load, the WPL/OML compile
    and the assembly of every sink's plan over ``sample`` (Python build
    plus analysis; no job runs).
    """
    from wp_motor_spark.knowdb import KnowDB
    from wp_motor_spark.pipeline import Pipeline, read_lines

    walls = []
    for _ in range(SETUPS):
        with run.tracer.span("setup"):
            t0 = time.perf_counter()
            spark = run.start_session()
            with run.tracer.span("knowdb.load"):
                kdb = KnowDB(spark).load_csv_dir(kdb_root)
            with run.tracer.span("compile"):
                pipe = Pipeline(wpl=C.WPL, omls=omls, sinks=make_sinks(workload, out),
                                knowdb=kdb)
            with run.tracer.span("plan"):
                pipe.run_batch(read_lines(spark, sample))
            walls.append(time.perf_counter() - t0)
    return spark, kdb, pipe, walls


def end_to_end(res: Result, spark, events_per_s: float, batch_wall_s: float,
               setups: list[float], warm_s: float) -> None:
    res.end_to_end = {
        "events_per_s": (events_per_s, "1/s"),
        "batch_wall_s": (batch_wall_s, "s"),
        "setup_s": (median(setups), "s"),
        "cold_start_s": (setups[0] + warm_s, "s"),
        "peak_rss_mb": (sparkstats.peak_rss_mb(spark), "MB"),
    }


# ----------------------------------------------------------- layer sweep


def dispositions(spark, pipe, path: str, lines: int):
    """Lines per disposition and per (rule, disposition) of one file;
    checks that success + partial + miss covers every line."""
    from wp_motor_spark.pipeline import read_lines

    counts = {(r["_rule"], r["_disposition"]): r["count"] for r in
              pipe.parser.label(read_lines(spark, path))
              .groupBy("_rule", "_disposition").count().collect()}
    disp = {d: sum(v for (_, dd), v in counts.items() if dd == d)
            for d in ("success", "partial", "miss")}
    check(sum(disp.values()) == lines,
          f"{path}: success+partial+miss {sum(disp.values())} != {lines} lines")
    return disp, counts


def check_dispositions(spark, pipe, path: str, truth: C.Truth) -> None:
    disp, _ = dispositions(spark, pipe, path, truth.lines)
    want = {"success": truth.success, "partial": truth.partial, "miss": truth.miss}
    check(disp == want, f"{path}: dispositions {disp} != truth {want}")


def fixed_cost(run: Run, spark, pipe, corpus: C.Corpus, workload: str,
               op_wall: float, res: Result) -> None:
    """The fixed per-batch cost: the best of two ``write_batch`` calls on
    a file of ``TINY_LINES`` lines, and the share of ``op_wall`` left for
    per-line work."""
    from wp_motor_spark.pipeline import read_lines

    lines, truth = corpus.draw(TINY_LINES)
    path = run.path("tiny", "batch.log")
    C.write_lines(path, lines)
    walls = []
    for _ in range(2):
        with run.tracer.span("op.tiny_write_batch"):
            t0 = time.perf_counter()
            counts = pipe.write_batch(read_lines(spark, path))
            walls.append(time.perf_counter() - t0)
        check_outputs(counts, drain_outputs(run.path("out")), truth, workload, "tiny batch")
    res.set_layer("pipeline.fixed_s", min(walls))
    res.set_layer("pipeline.per_line_share", 1.0 - min(walls) / op_wall)


def layer_sweep(run: Run, spark, pipe, kdb, omls, path: str, lines: int, res: Result) -> None:
    """Cumulative-stage timing of one batch file; fills ``res.per_layer``."""
    from wp_motor_spark.pipeline import Pipeline, read_lines

    bare = Pipeline(wpl=C.WPL, omls=C.without_select(omls), sinks=[], knowdb=kdb)
    stats: dict[str, dict] = {}

    # every stage forces one DataFrame per sink, as write_batch does: the
    # sink's input cut at that stage (rule branches unioned for a data
    # sink, the infra branch for miss/residue), so consecutive stages run
    # the same actions and differ by one layer's work
    infra = ("miss", "residue")

    def per_sink(p):
        def build(raw):
            br = p.transform(raw)
            data = [df for k, df in br.items() if k not in infra]
            union = data[0]
            for df in data[1:]:
                union = union.unionByName(df, allowMissingColumns=True)
            return [br[s.name] if s.name in infra else union for s in pipe.sinks]
        return build

    stages = [
        ("read", lambda raw: [raw for _ in pipe.sinks]),
        ("parse", lambda raw: [pipe.parser.label(raw) for _ in pipe.sinks]),
        ("oml", per_sink(bare)),
        ("knowdb", per_sink(pipe)),
        ("route_format", lambda raw: list(pipe.run_batch(raw).sink_lines.values())),
    ]
    for name, build in stages:
        walls, builds, cats, joins = [], [], [], None
        for _ in range(SWEEP_REPS):
            with run.tracer.span(f"stage.{name}"):
                t0 = time.perf_counter()
                dfs = build(read_lines(spark, path))
                t1 = time.perf_counter()
                qs = [forced(d) for d in dfs]
                for q in qs:
                    q.collect()
                t2 = time.perf_counter()
            walls.append(t2 - t0)
            builds.append(t1 - t0)
            ph = [sparkstats.phases(q) for q in qs]
            cats.append({k: sum(p[k] for p in ph) for k in ph[0]})
            jc = [sparkstats.join_counts(q) for q in qs]
            joins = {k: max(j[k] for j in jc) for k in jc[0]}  # per sink plan
        best = walls.index(min(walls))
        stats[name] = {"wall": walls[best], "build": builds[best],
                       "catalyst": cats[best], "joins": joins}
    walls = []
    for _ in range(SWEEP_REPS):
        with run.tracer.span("stage.write"):
            t0 = time.perf_counter()
            pipe.write_batch(read_lines(spark, path))
            walls.append(time.perf_counter() - t0)
        drain_outputs(run.path("out"))
    stats["write"] = {"wall": min(walls)}

    order = ["read", "parse", "oml", "knowdb", "route_format", "write"]
    cum = [stats[s]["wall"] for s in order]
    names = ["sources.read_s", "wpl.parse_s", "oml.transform_s", "knowdb.enrich_s",
             "route_format_s", "sinks.write_s"]
    for i, n in enumerate(names):
        res.set_layer(n, cum[i] - (cum[i - 1] if i else 0.0))
    rf = stats["route_format"]
    catalyst = rf["catalyst"]
    res.set_layer("spark.build_s", rf["build"])
    for k in ("analysis", "optimization", "planning"):
        res.set_layer(f"spark.{k}_s", catalyst[k])
    res.set_layer("spark.exec_s", rf["wall"] - rf["build"] - sum(catalyst.values()))
    res.set_layer("knowdb.nested_loop_joins", stats["knowdb"]["joins"]["nested_loop"])
    res.set_layer("knowdb.hash_joins", stats["knowdb"]["joins"]["hash"])

    disp, counts = dispositions(spark, pipe, path, lines)
    res.set_layer("wpl.lines", lines)
    for d, v in disp.items():
        res.set_layer(f"wpl.{d}", v)
    res.set_layer("wpl.match_ratio", (disp["success"] + disp["partial"]) / lines)
    res.info["sweep"] = stats
    res.info["wpl_counts"] = {f"{r}/{d}": v for (r, d), v in counts.items()}


def spark_op_metrics(res: Result, deltas: list[dict], ops_per_delta: int,
                     lines_per_op: int, bytes_per_op: int) -> None:
    """Status-store metrics per measured op (median over the deltas, each
    spanning ``ops_per_delta`` ops)."""
    def med(f):
        return median([f(d) / ops_per_delta for d in deltas])

    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "executor_run_s"):
        res.set_layer(f"spark.{k}", med(lambda d: d[k]))
    sinks = [sparkstats.by_sink(d["actions"]) for d in deltas]
    res.set_layer("pipeline.jobs_per_batch", med(lambda d: d["jobs"]))
    res.set_layer("pipeline.actions_per_batch", med(lambda d: len(d["actions"])))
    res.set_layer("pipeline.count_actions", med(lambda d: sum(a["count"] for a in d["actions"])))
    res.set_layer("pipeline.jobs_per_sink", median(
        [sum(r["jobs"] for r in bs.values()) / ops_per_delta / len(bs) for bs in sinks]))
    res.set_layer("sources.scan_amplification", med(lambda d: d["input_bytes"]) / bytes_per_op)
    res.set_layer("sources.rows_read_per_line", med(lambda d: d["input_records"]) / lines_per_op)
    res.info["actions_by_sink"] = sinks[-1]
    res.info["actions"] = deltas[-1]["actions"]


def sink_metrics(res: Result, files: dict, lines: dict) -> None:
    for n in C.SINKS["wparse_fanout"]:
        res.set_layer(f"sink.lines.{n}", lines.get(n, 0))
        res.set_layer(f"sink.bytes.{n}", files.get(n, {}).get("bytes", 0))


def fill_layers(res: Result) -> None:
    """0 for every per-layer metric of a layer the workload does not run."""
    for name in PER_LAYER:
        res.per_layer.setdefault(name, (0, PER_LAYER[name]))


# --------------------------------------------------------- batch workloads


def _batch(run: Run, workload: str) -> Result:
    from wp_motor_spark.pipeline import read_lines

    res = Result()
    omls = C.OML_RANGE if workload == "wparse_enrich_range" else C.OML_FANOUT
    corpus = C.Corpus(run.seed)
    kdb_root = run.path("knowdb")
    corpus.write_knowdb(kdb_root)
    lines, truth = corpus.draw(BATCH_LINES[workload])
    batch = run.path("in", "batch.log")
    batch_bytes = C.write_lines(batch, lines)
    warm_lines, warm_truth = corpus.draw(min(WARM_LINES, BATCH_LINES[workload]))
    warm = run.path("warm", "batch.log")
    C.write_lines(warm, warm_lines)
    out = run.path("out")

    spark, kdb, pipe, setups = set_up(run, workload, omls, kdb_root, out, warm)
    with run.tracer.span("warmup"):
        t0 = time.perf_counter()
        counts = pipe.write_batch(read_lines(spark, warm))
        warm_s = time.perf_counter() - t0
    check_outputs(counts, drain_outputs(out), warm_truth, workload, "warm-up")
    check_dispositions(spark, pipe, warm, warm_truth)
    if workload == "wparse_enrich_range":
        from pyspark.sql import functions as F

        hits = sum(df.where(F.col("zone").isNotNull()).count()
                   for k, df in pipe.transform(read_lines(spark, warm)).items()
                   if "zone" in df.columns)
        check(hits == warm_truth.zone_hits,
              f"zone hits {hits} != truth {warm_truth.zone_hits}")
        hit_ratio = hits / warm_truth.parsed
    else:
        hit_ratio = warm_truth.asset_hits / warm_truth.parsed

    store = sparkstats.StatusStore(spark) if run.traced else None
    walls, traced_walls, deltas = [], [], []
    files = counts = {}
    for i in range(TRACED_OPS if run.traced else op_count(run, workload)):
        traced = run.traced and i % 2 == 1
        run.attempted += 1
        try:
            if traced:
                snap = store.snapshot()
                with run.tracer.span("op.write_batch"):
                    t0 = time.perf_counter()
                    counts = pipe.write_batch(read_lines(spark, batch))
                    wall = time.perf_counter() - t0
                deltas.append(store.delta(snap))
                traced_walls.append(wall)
            else:
                t0 = time.perf_counter()
                counts = pipe.write_batch(read_lines(spark, batch))
                walls.append(time.perf_counter() - t0)
        except Exception:
            run.failed += 1
            raise
        files = drain_outputs(out)
        check_outputs(counts, files, truth, workload, f"op {run.attempted}")

    res.info.update(setup_s=setups, warmup_s=warm_s, op_walls_s=walls,
                    traced_op_walls_s=traced_walls, batch_lines=len(lines),
                    batch_bytes=batch_bytes, truth=truth.__dict__)
    op = median(walls)
    end_to_end(res, spark, len(lines) / op, op, setups, warm_s)
    if run.traced:
        res.set_layer("trace.overhead_ratio", median(traced_walls) / op - 1.0)
        spark_op_metrics(res, deltas, 1, len(lines), batch_bytes)
        sink_metrics(res, files, counts)
        res.set_layer("knowdb.hit_ratio", hit_ratio)
        fixed_cost(run, spark, pipe, corpus, workload, op, res)
        layer_sweep(run, spark, pipe, kdb, omls, batch, len(lines), res)
    return res


def wparse_fanout(run: Run) -> Result:
    return _batch(run, "wparse_fanout")


def wparse_enrich_range(run: Run) -> Result:
    return _batch(run, "wparse_enrich_range")


# ----------------------------------------------------------- micro-batch


def _stream_drain(run: Run, spark, pipe, src: str, ckpt: str):
    """Drain the staged backlog ``src`` through ``run_stream``."""
    from wp_motor_spark.pipeline import stream_lines

    q = pipe.run_stream(stream_lines(spark, src, max_files_per_trigger=1), checkpoint=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [p for p in q.recentProgress if p.numInputRows > 0]


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Micro-batch id -> input file names, from the file source's log
    (numbered entries plus the periodic ``N.compact`` roll-ups)."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[int, set[str]] = {}
    for f in os.listdir(log):
        if f.split(".")[0].isdigit():
            with open(os.path.join(log, f)) as fh:
                for l in fh.read().splitlines()[1:]:
                    e = json.loads(l)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(fs) for b, fs in out.items()}


def _ts(p) -> float:
    return datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def daemon_microbatch(run: Run) -> Result:
    res = Result()
    workload = "daemon_microbatch"
    corpus = C.Corpus(run.seed)
    kdb_root = run.path("knowdb")
    corpus.write_knowdb(kdb_root)
    n_files = WARM_BATCHES + op_count(run, workload)
    truths: dict[str, C.Truth] = {}
    for i in range(n_files):
        lines, t = corpus.draw(FILE_LINES)
        name = f"f{i:04d}.log"
        C.write_lines(run.path("backlog", name), lines)
        truths[name] = t
    first = run.path("backlog", "f0000.log")
    spark, kdb, pipe, setups = set_up(run, workload, C.OML_FANOUT, kdb_root,
                                      run.path("out"), first)

    # one drain of the backlog; a traced run snapshots the status store
    # around it, which adds no work inside the micro-batches
    store = sparkstats.StatusStore(spark) if run.traced else None
    t0 = time.perf_counter()
    snap = store.snapshot() if store else None
    t1 = time.perf_counter()
    with run.tracer.span("op.drain"):
        progress = _stream_drain(run, spark, pipe, run.path("backlog"), run.path("ckpt"))
    t2 = time.perf_counter()
    delta = store.delta(snap) if store else None
    bookkeeping = (t1 - t0) + (time.perf_counter() - t2)
    run.attempted += len(progress) - WARM_BATCHES

    by_batch = _batch_files(run.path("ckpt"))
    seen = sorted(f for fs in by_batch.values() for f in fs)
    check(seen == sorted(truths), f"{len(seen)} backlog files processed, {len(truths)} staged")
    check(len(progress) == len(truths), f"{len(progress)} micro-batches for {len(truths)} files")
    total = C.Truth()
    for t in truths.values():
        total.add(t)
    files = drain_outputs(run.path("out"))
    want = total.sink_lines(workload)
    for n, f in files.items():
        check(f["lines"] == want[n], f"drain: sink {n} wrote {f['lines']} lines, truth {want[n]}")
    check(files["json"]["owner"] == total.asset_hits,
          f"drain: {files['json']['owner']} asset hits, truth {total.asset_hits}")
    check_dispositions(spark, pipe, first, truths["f0000.log"])

    progress.sort(key=lambda p: p.batchId)
    measured = progress[WARM_BATCHES:]
    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in measured]
    lines = sum(truths[f].lines for p in measured for f in by_batch[p.batchId])
    wall = _ts(measured[-1]) + trig[-1] - _ts(measured[0])
    warm = [p.durationMs["triggerExecution"] / 1000.0 for p in progress[:WARM_BATCHES]]
    res.info.update(setup_s=setups, warmup_s=warm, trigger_s=trig, drain_wall_s=wall,
                    files=n_files, file_lines=FILE_LINES)
    end_to_end(res, spark, lines / wall, median(trig), setups, warm[0])
    if not run.traced:
        return res

    n = len(progress)
    spark_op_metrics(res, [delta], n, total.lines / n,
                     sum(os.path.getsize(run.path("backlog", f)) for f in truths) / n)
    # the blackhole writes nothing to read back; it takes the same lines
    # as the json sink (every parsed line), which the check above verified
    got = {k: v["lines"] / n for k, v in files.items()}
    got["blackhole"] = got["json"]
    sink_metrics(res, {k: {"bytes": v["bytes"] / n} for k, v in files.items()}, got)
    res.set_layer("knowdb.hit_ratio", total.asset_hits / total.parsed)
    # the traced run's only extra work is the status-store bookkeeping
    res.set_layer("trace.overhead_ratio", bookkeeping / (t2 - t1))
    res.set_layer("streaming.batches", len(measured))
    for k in STREAM_PHASES:
        res.set_layer(f"streaming.{k}_ms", median([p.durationMs.get(k, 0) for p in measured]))
    res.set_layer("streaming.rows_read_per_line", sum(p.numInputRows for p in measured) / lines)
    layer_sweep(run, spark, pipe, kdb, C.OML_FANOUT, first, FILE_LINES, res)
    return res


# ------------------------------------------------------------ query registry


def _query(run: Run, spark, name: str, root: str, store=None) -> dict:
    """Build and force one registry query; with ``store``, a traced call
    that also records its Catalyst phases and status-store delta."""
    from wp_motor_spark.queries import QUERIES, release_persists

    fn = QUERIES[name][0]
    snap = store.snapshot() if store else None
    with run.tracer.span(f"query.{name}") if store else contextlib.nullcontext():
        t0 = time.perf_counter()
        df = fn(spark, root)
        t1 = time.perf_counter()
        q = forced(df)
        rows = q.collect()[0][1]
        t2 = time.perf_counter()
    release_persists()
    rec = {"name": name, "wall": t2 - t0, "build": t1 - t0, "rows": rows}
    if store:
        rec["phases"] = sparkstats.phases(q)
        rec["catalyst"] = sum(rec["phases"].values())
        d = store.delta(snap)
        d.pop("actions")
        rec["spark"] = d
    return rec


def _oracle_rows(root: str, table_names, names: list[str]) -> dict[str, int]:
    """Row counts DuckDB gives for the queries that have an oracle SQL."""
    import duckdb

    from wp_motor_spark.queries import QUERIES

    con = duckdb.connect()
    for t in table_names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')")
    out = {}
    for n in names:
        sql = QUERIES[n][1]
        if sql is not None:
            out[n] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    con.close()
    return out


def query_registry(run: Run) -> Result:
    from wp_motor_spark.queries import QUERIES

    res = Result()
    root, warm_root = run.path("tables"), run.path("tables_warm")
    rows = tables.write(root, run.seed, REGISTRY_SF)
    tables.write(warm_root, run.seed, REGISTRY_WARM_SF)
    names = list(QUERIES)[::REGISTRY_STRIDE]
    oracle = _oracle_rows(root, rows, names)

    setups = []
    for _ in range(SETUPS):
        with run.tracer.span("setup"):
            t0 = time.perf_counter()
            spark = run.start_session()
            for t in rows:
                spark.read.parquet(f"{root}/{t}.parquet")
            setups.append(time.perf_counter() - t0)
    with run.tracer.span("warmup"):
        warm = [_query(run, spark, n, warm_root) for n in names]
    spark.catalog.clearCache()

    # a traced run makes two passes and traces every other query of each,
    # alternating, so every query has one plain and one traced sample
    store = sparkstats.StatusStore(spark) if run.traced else None
    plain, traced = [], []
    for p in range(2 if run.traced else REGISTRY_PASSES):
        for i, n in enumerate(names):
            run.attempted += 1
            try:
                rec = _query(run, spark, n, root, store if run.traced and i % 2 == p else None)
            except Exception:
                run.failed += 1
                raise
            (traced if "spark" in rec else plain).append(rec)
            if n in oracle:
                check(rec["rows"] == oracle[n],
                      f"{n}: {rec['rows']} rows, DuckDB oracle {oracle[n]}")

    res.info.update(setup_s=setups, warmup_s=sum(r["wall"] for r in warm), tables=rows,
                    queries=names, stride=REGISTRY_STRIDE,
                    query_walls_s={n: [r["wall"] for r in plain if r["name"] == n]
                                   for n in names})
    # one pass of each query's median wall; batch_wall_s is its mean query
    # wall, as the median of walls that differ by query flipped between two
    # queries' walls from run to run
    pass_wall = sum(median(w) for w in res.info["query_walls_s"].values())
    end_to_end(res, spark, len(names) / pass_wall, pass_wall / len(names),
               setups, res.info["warmup_s"])
    if not run.traced:
        return res

    res.set_layer("trace.overhead_ratio", sum(r["wall"] for r in traced) / pass_wall - 1.0)
    res.set_layer("registry.queries", len(traced))
    res.set_layer("registry.build_s", sum(r["build"] for r in traced))
    res.set_layer("registry.catalyst_s", sum(r["catalyst"] for r in traced))
    res.set_layer("registry.exec_s", sum(r["wall"] - r["build"] - r["catalyst"] for r in traced))
    res.set_layer("registry.jobs", sum(r["spark"]["jobs"] for r in traced))
    res.set_layer("registry.shuffle_bytes", sum(r["spark"]["shuffle_write_bytes"]
                                                for r in traced))
    res.set_layer("spark.build_s", median([r["build"] for r in traced]))
    for k in ("analysis", "optimization", "planning"):
        res.set_layer(f"spark.{k}_s", median([r["phases"][k] for r in traced]))
    res.set_layer("spark.exec_s", median([r["wall"] - r["build"] - r["catalyst"]
                                          for r in traced]))
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "executor_run_s"):
        res.set_layer(f"spark.{k}", median([r["spark"][k] for r in traced]))
    res.info["per_query"] = traced
    return res


WORKLOADS = {
    "wparse_fanout": wparse_fanout,
    "wparse_enrich_range": wparse_enrich_range,
    "daemon_microbatch": daemon_microbatch,
    "query_registry": query_registry,
}
