"""Benchmark entry point.

    python3 perfbench/run.py --workload rec_lifecycle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.bench_work/`` (git-ignored), builds the engine's session on
``local[nproc]``, warms it up on a separate seed-0 input, runs whole timed
iterations until ``--seconds`` have passed (at least one), verifies every
output after the clock stops and prints, as the last line of standard
output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` turns on the Spark event log, runs the
iteration once with spans, then once untraced, and reports the per-layer
metrics plus the tracing overhead. The line before the result is a JSON run
record: seed, input sizes, environment, every latency sample and every
verification problem. Exit code 0 only when every output verified.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "3g"  # the engine's 48g default is sized for a 128 GiB box
END_TO_END = ("setup_s", "wall_s", "cpu_s")  # BENCHMARK.json end_to_end


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt one output before verification (tests)")
    return p.parse_args(argv)


def _descendants() -> list[int]:
    """Pids of every live descendant of this process (the JVM, its Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant."""
    total = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 0.25 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_kb() -> int:
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.wait(0.25):
            self.peak_kb = max(self.peak_kb, self._tree_kb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def build_session(work: Path, event_log: Path | None):
    from etl_master_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temporary files (and no hsperfdata) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        # one plain JSON-lines file (Spark 4 defaults to rolling zstd parts)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(event_log),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def environment(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": java.splitlines()[0] if java else None,
        "python": platform.python_version(),
    }


def _files_bytes(paths: list[Path]) -> tuple[int, int]:
    files = [f for p in paths if p.exists() for f in p.rglob("*")
             if f.is_file() and not f.name.startswith((".", "_"))]
    return len(files), sum(f.stat().st_size for f in files)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def summary(outcomes, setup_s: float, peak_kb: int, attempted: int, failed: int,
            sql_names: set[str]) -> dict:
    """Every figure the run measured, by name and unit, including the
    SQL-phase ones that are not BENCHMARK.json metrics."""
    sql = [x for o in outcomes for n, v in o.latencies.items() if n in sql_names for x in v]
    out = {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(statistics.median(o.wall_s for o in outcomes), "s"),
        "cpu_s": _metric(statistics.median(o.cpu_s for o in outcomes), "s"),
        "iterations": _metric(len(outcomes), "count"),
        "peak_rss_mb": _metric(peak_kb / 1024.0, "MB"),
        "error_rate": _metric(failed / attempted, "ratio"),
    }
    if sql:
        out["query_p50_s"] = _metric(statistics.median(sql), "s")
        out["queries_per_s"] = _metric(len(sql) / sum(o.phases["sql"] for o in outcomes), "1/s")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import etl_master_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    from spans import Tracer, job_counts, layer_metrics, parse_event_log
    from workloads import SQL_MIX, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = ROOT / ".bench_work" / run_id
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # as nproc counts
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    wl = WORKLOADS[args.workload]()
    record = {"run_id": run_id, "workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "memo_policy": "warm-up reads its own input dir and every iteration "
                             "a fresh copy of the seeded input, so no session memo "
                             "keyed by sf_dir is served across them"}
    spark = None
    inputs = iter(work / f"in{i}" for i in itertools.count())

    def fresh_input() -> Path:
        # generated outside every clock; the first one is also the record
        path = next(inputs)
        sizes = wl.generate(path, args.seed)
        record.setdefault("inputs", {**sizes, "sha256": gen.digest(path)})
        return path

    def iterate(path: Path, tracer=None):
        c0 = tree_cpu_s()
        o = wl.run(spark, path, tracer)
        o.cpu_s = tree_cpu_s() - c0
        return path, o

    try:
        tracer = Tracer(run_id) if args.trace else None
        first = fresh_input()
        t0 = time.perf_counter()
        with (tracer.span("session", "setup") if tracer else contextlib.nullcontext()):
            spark = build_session(work, work / "eventlog" if tracer else None)
            wl.warm_up(spark, work / "warm")
        setup_s = time.perf_counter() - t0
        record["env"] = environment(spark)
        record["env"]["sql_clients"] = record["inputs"].get("clients")

        runs: list[tuple[Path, object]] = []
        with RssSampler() as rss:
            if not tracer:
                # whole iterations until --seconds have passed, at least one
                t_end = time.perf_counter() + args.seconds
                path = first
                while True:
                    runs.append(iterate(path))
                    if time.perf_counter() >= t_end:
                        break
                    path = fresh_input()
            else:
                # traced first, so it starts from the state the timed
                # iteration of an untraced run starts from; the untraced
                # iteration after it runs warmer, so the overhead is not
                # understated
                tracer.spark = spark
                for mod, attr, layer, force in wl.patches:
                    tracer.patch(mod, attr, layer, force)
                try:
                    runs.append(iterate(first, tracer))
                finally:
                    tracer.unpatch()
                runs.append(iterate(fresh_input()))
        if args.plant_fault:
            wl.plant_fault(runs[-1][1])
        attempted, problems = 0, []
        for path, o in runs:
            a, p = wl.verify(path, o)
            attempted += a
            problems.extend(p)
        outcomes = [o for _, o in runs]
        record["latencies_s"] = [o.latencies for o in outcomes]
        record["problems"] = problems
        record["summary"] = summary(outcomes if not tracer else outcomes[1:],
                                    setup_s, rss.peak_kb, attempted, len(problems),
                                    {n for n, _ in SQL_MIX})

        if not tracer:
            metrics = {k: record["summary"][k] for k in END_TO_END}
        else:
            stop_spark(spark)  # also flushes and closes the event log
            spark = None
            log = next(p for p in (work / "eventlog").iterdir() if p.is_file())
            jobs, stages = parse_event_log(log)
            tracer.write(ROOT / ".bench_work" / f"{run_id}.spans.jsonl")
            traced, plain = outcomes
            metrics = layer_metrics(tracer.spans, jobs, stages)
            n_files, n_bytes = _files_bytes(traced.sink_dirs)
            metrics["sources.sinks.files_written"] = _metric(n_files, "count")
            metrics["sources.sinks.bytes_written"] = _metric(n_bytes, "bytes")
            metrics["trace_overhead_s"] = _metric(traced.wall_s - plain.wall_s, "s")
            # varies by more than a tenth from run to run: reported here, unbounded
            metrics["peak_rss_mb"] = record["summary"]["peak_rss_mb"]
            record["walls_s"] = {"untraced": plain.wall_s, "traced": traced.wall_s}
            # the traced iteration must run the program's own jobs unchanged
            record["jobs"] = {"untraced": job_counts(jobs, plain.started, plain.ended),
                              "traced": job_counts(jobs, traced.started, traced.ended)}
        print(json.dumps(record, default=str))
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": len(problems), "metrics": metrics}))
        return 0 if not problems else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
