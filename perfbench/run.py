"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,library} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of this repository. Each run works in its
own directory under ``.perfbench/`` (TMPDIR, Spark local dirs, event log,
inputs) and deletes it afterwards. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/README.md). ``--pin`` records the library
output counts in ``perfbench/expected_rows.json`` instead of checking
them.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
CORES = 4
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv):
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=("ingest", "library"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    return ap.parse_args(argv)


def descendants(root: int) -> list[int]:
    """Live (not zombie) processes below ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, UnicodeDecodeError, ValueError):
            continue  # the process exited meanwhile
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _become_subreaper() -> None:
    """Adopt the processes whose parent dies before them (a Python worker
    of the JVM), so that ``stop_descendants`` still finds them."""
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 30.0) -> None:
    """Wait until every process this run started has ended: after
    ``grace`` seconds send SIGTERM, 10 s later SIGKILL."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        _reap()
        alive = descendants(me)
        if not alive:
            return
        if time.monotonic() > deadline:
            if not signals:
                print(f"perfbench: processes {alive} did not end", file=sys.stderr)
                return
            sig = signals.pop(0)
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers it forks), sampled every ``interval`` s. Each
    process counts its proportional set size, so pages that forked workers
    share with their parent are counted once."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)

    @staticmethod
    def tree_mb(root: int) -> float:
        kb = 0
        for pid in [root] + descendants(root):
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    kb += next(int(line.split()[1]) for line in fh
                               if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return kb / 1024

    def _loop(self, interval: float) -> None:
        me = os.getpid()
        while not self._stop.wait(interval):
            self.peak_mb = max(self.peak_mb, self.tree_mb(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(root, f)).st_size
    return total / 2 ** 20


def _session(args, tmp: str, log_dir: str):
    from mini_data_platform_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(os.path.dirname(tmp), "warehouse"),
        # no hsperfdata file in the system temp directory. The serial
        # collector sizes the heap from what survives a collection, so the
        # JVM's peak memory repeats from run to run; G1 sizes it from pause
        # times, which follow the host's speed (JVM peak 1,100-1,430 MB
        # over five ingest runs with G1, 885-913 MB over three with serial)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
    }
    if args.trace:
        # uncompressed, unrolled: one JSON line per event, read at the end
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.range(1).collect()
    return spark


def _trace_engine(tracer) -> None:
    """Spans around the engine's public functions, taken from outside."""
    import __spark_entry__  # noqa: F401 — loads every engine module

    from mini_data_platform_spark.sinks.audit import AuditLog

    for mod, attr, name in (
        ("mini_data_platform_spark.catalog", "load_table", "catalog.load_table"),
        ("mini_data_platform_spark.operators.resources", "release_plan",
         "resources.release_plan"),
        ("mini_data_platform_spark.sources.validate", "validate_files",
         "sources.validate_files"),
        ("mini_data_platform_spark.sinks.upsert", "upsert_parquet",
         "sinks.upsert_parquet"),
        ("mini_data_platform_spark.sinks.objects", "move_object", "sinks.move_object"),
    ):
        tracer.wrap(importlib.import_module(mod), attr, name)
    tracer.wrap(AuditLog, "log_file_status", "sinks.audit")


def _pin(run) -> None:
    """Merge this run's output counts into expected_rows.json."""
    from perfbench import workloads

    counts: dict[str, int] = {}
    for o in run.ops:
        if o.kind == "batch" or not o.ok:  # batches have their own oracle
            continue
        key = f"drain:{o.name}" if o.kind == "drain" else o.name
        if counts.setdefault(key, o.extra["rows"]) != o.extra["rows"]:
            raise RuntimeError(f"{key}: output count differs between runs")
    pinned = workloads.expected_counts() if os.path.exists(workloads.EXPECTED_PATH) else {}
    pinned.update(counts)
    with open(workloads.EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump(dict(sorted(pinned.items())), fh, indent=1)
        fh.write("\n")


def measure(args, run_dir: str) -> dict:
    from perfbench import metrics, workloads
    from perfbench.trace import Tracer, read_event_log

    tmp = os.path.join(run_dir, "tmp")
    log_dir = os.path.join(run_dir, "eventlog")
    work = os.path.join(run_dir, "work")
    for d in (tmp, log_dir, work):
        os.makedirs(d)
    t_setup = time.perf_counter()
    spark = _session(args, tmp, log_dir)
    session_s = time.perf_counter() - t_setup
    tracer = Tracer(bool(args.trace))
    with RssSampler() as rss:
        try:
            _trace_engine(tracer)
            run = workloads.Run(spark, tracer, work, args.seed, args.seconds, args.pin)
            wl = workloads.WORKLOADS[args.workload](run)
            wl.setup()
            setup_s = time.perf_counter() - t_setup
            wl.measure()
        finally:
            _stop_spark(spark)
    if args.pin:
        _pin(run)
    e2e = metrics.end_to_end(run, setup_s, rss.peak_mb)
    if args.trace:
        drains = [o.extra["progress"] for o in run.ops if o.kind == "drain" and o.extra]
        values = metrics.per_layer(run, read_event_log(log_dir), CORES,
                                   tracer.spans, drains)
        values["session.start_s"] = session_s
        values["setup.warmup_s"] = run.setup_parts["setup.warmup_s"]
        values["tmp.leak_mb"] = _dir_mb(tmp)  # left behind once Spark stopped
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                  f"{args.workload}-{args.seed}.jsonl"))
    else:
        values = e2e
    print(f"perfbench: session {session_s:.3f}s " + " ".join(
        f"{k} {v:.3f}s" for k, v in run.setup_parts.items())
        + f" measured {run.wall:.3f}s", file=sys.stderr)
    for o in run.ops:  # the per-operation record, for reading a run's log
        print(f"perfbench: {o.kind} {o.name} pass {o.pass_no} {o.dur:.3f}s "
              f"{'ok' if o.ok else 'FAILED'}", file=sys.stderr)
    failed = sum(not o.ok for o in run.ops)
    return {
        "correct": failed == 0 and bool(run.ops),
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "mini_data_platform_spark"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(__spark_entry__.py and mini_data_platform_spark/ not found)",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    # every temp file of this run, Python's and the JVM's, lands under
    # run_dir, which is deleted afterwards
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # and the spark-submit launcher JVM writes no hsperfdata file to the
    # system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData")
    sys.path[:0] = [ROOT]
    _become_subreaper()
    try:
        result = measure(args, run_dir)
    finally:
        # the JVM, its Python workers and any orphan of theirs end before
        # the run directory they write to is deleted
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
