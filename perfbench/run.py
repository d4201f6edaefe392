"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It generates its inputs under
``.perfbench_work/`` (deleted when the run ends), drives the library's
public entry points on a Spark ``local[nproc]`` session, checks every
output against its ground truth (the generator's counts, or DuckDB for
the query registry), and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench_out/``. The line before the result is a
``perfbench-info`` JSON object with the raw samples and host load.

Exit codes: 0 correct, 1 an output check failed or a call raised, 2 the
library is missing or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
# A fixed heap and young generation: with G1 left to grow the heap, the
# peak RSS of identical runs split into modes ~25% apart.
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"
PR_SET_CHILD_SUBREAPER = 36
END_GRACE_S = 30  # children still running this long after SIGTERM are killed


def _adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not: one whose parent ends first (a Python worker of the JVM)
    becomes this process's child, so ``_end_children`` ends it too."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def _end_children() -> None:
    """SIGTERM every child process, wait until each has ended, and kill
    what still runs after ``END_GRACE_S``.

    The Spark JVM is a child: ``spark.stop()`` leaves it running, and on
    its own it exits only some time after this process has exited and
    closed its stdin, so it would outlive the run.
    """
    deadline = time.monotonic() + END_GRACE_S
    termed: set[int] = set()
    while kids := _children():
        late = time.monotonic() > deadline
        for pid in kids:
            with contextlib.suppress(ChildProcessError, ProcessLookupError):
                if late:
                    os.kill(pid, signal.SIGKILL)
                elif pid not in termed:
                    os.kill(pid, signal.SIGTERM)
                    termed.add(pid)
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def _exit_on_term(signum, _frame) -> None:
    signal.signal(signum, signal.SIG_IGN)  # a second signal must not cut the clean-up
    raise SystemExit(128 + signum)  # unwinds through the clean-up in main


def _configure_env(work: str) -> None:
    """Spark settings that must not depend on the working directory.

    The repository goes on PYTHONPATH so Python workers import the
    package wherever the run starts; Spark local dirs, the warehouse and
    JVM temp files stay inside the work dir.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["WP_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work} {JVM_HEAP_OPTS}' "
        "pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "wp_motor_spark", "pipeline.py")):
        print(f"perfbench: no wp_motor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)
    os.chdir(work)  # derby.log / metastore_db / spark-warehouse land here

    _adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_term)
    load_before = os.getloadavg()[0]
    run = workloads.Run(args, work, run_id)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    except workloads.CheckFailed as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        res = None
    except Exception:  # a failing call still yields a result line
        traceback.print_exc()
        res = None
    finally:
        try:
            run.close()
        finally:
            _end_children()
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()[0]

    if res is None:
        print(json.dumps({"correct": False, "attempted": max(run.attempted, 1),
                          "failed": run.failed, "metrics": {}}))
        return 1
    info = {"run_id": run_id, "loadavg_1m_before": load_before,
            "loadavg_1m_after": load_after, **res.info}
    if args.trace:
        workloads.fill_layers(res)
        path = os.path.join(out_dir, f"trace-{run_id}.json")
        run.tracer.dump(path, {"info": info, "per_layer": res.per_layer})
        info["trace_file"] = os.path.relpath(path, ROOT)
    metrics = res.per_layer if args.trace else res.end_to_end
    print("perfbench-info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": True,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
