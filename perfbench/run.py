"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload query_cold --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) in one process with one local Spark
session and prints, as the last line of stdout, one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it reports every end-to-end metric the
workload has samples for, with sample counts. Exits non-zero, without a
result line, when the library is not next to this directory or a workload
cannot produce its metrics; exits 1 after the result line when a
correctness check failed.

Scratch space (Spark local dirs, JVM and Python temp files, indexes) lives
under ``.perfbench/`` in the repository root and is removed at exit; only
per-seed result records and traced span dumps stay there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
#: Spark session size: this benchmark's reference host has 4 cores and 15 GB
#: shared with other tenants; the sf0.1 and Zipf indexes are a few MB. Two
#: task slots leave the driver, the JVM's own threads and the host headroom,
#: so a stolen vCPU delays a task less
CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@contextmanager
def _single_run():
    """Never two benchmark Spark sessions at once on one checkout: they
    would contend for the same cores and corrupt each other's timings."""
    STATE.mkdir(exist_ok=True)
    lock = STATE / "lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            holder = int(lock.read_text() or 0)
            alive = "perfbench" in Path(f"/proc/{holder}/cmdline").read_text()
        except (ValueError, OSError):
            alive = False
        if alive:
            raise SystemExit(f"perfbench: another run (pid {holder}) holds {lock}")
        lock.unlink()  # left behind by a killed run
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.write(fd, str(os.getpid()).encode())
    os.close(fd)
    # scratch of runs that were killed before they could clean up
    for stale in STATE.glob("run-*"):
        shutil.rmtree(stale, ignore_errors=True)
    try:
        yield
    finally:
        lock.unlink(missing_ok=True)


def _configure(work: Path) -> None:
    """Point every temp and spill location of this process, the JVM and
    the Python workers into ``work``; set before the JVM starts."""
    for sub in ("spark-local", "tmp", "jvm-tmp", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'jvm-tmp'} -XX:-UsePerfData"
    )
    # as bench.py: slow transparent-hugepage faults on fresh numpy buffers
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    sys.path[:0] = [str(ROOT), str(HERE)]


def _start_spark(work: Path):
    from pyspark.sql import SparkSession

    cores = min(CORES, os.cpu_count() or 1)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # bench.py's session settings, minus its 32g driver heap and with
        # half its 8 shuffle partitions: fewer tasks per query stage
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = Path(f"/proc/{entry}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until each has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for pid in workers:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def _measure(args, t_process: float):
    """One workload run in its own Spark session; returns the run and, when
    traced, the per-layer metrics and self times."""
    import workloads
    from tracing import NullTracer, Tracer

    work = STATE / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _configure(work)
        spark = _start_spark(work)
        tracer = NullTracer()
        try:
            if args.trace:
                tracer = Tracer(spark).install()
            env = workloads.Env(
                spark=spark, seed=args.seed, work=work, state=STATE,
                sf_dir=HERE / "sf0.1",
            )
            run = workloads.Run(seconds=args.seconds, tracer=tracer)
            workloads.WORKLOADS[args.workload](env, run, t_process)
            if not args.trace:
                return run, {}, {}
            tracer.dump(str(STATE / f"spans-{args.workload}-{args.seed}.jsonl"))
            return run, tracer.metrics(), tracer.self_times()
        finally:
            tracer.close()
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = _parse(argv)
    if not (ROOT / "tantiny_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no tantiny_spark/ and bench.py in {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    with _single_run():
        run, layers, self_s = _measure(args, t_process)

    report = workloads.summarize(run)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "report": report, "samples": run.samples, "info": run.info,
        "problems": run.problems[:20],
        **({"layers": {k: v for k, (v, _) in layers.items()}, "self_s": self_s}
           if args.trace else {}),
    }))
    if args.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers[n][0], "unit": layers[n][1]} for n in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in wanted if n not in report]
        if missing:
            print(f"perfbench: no samples for {missing}", file=sys.stderr)
            return 1
        metrics = {n: {"value": report[n]["value"], "unit": report[n]["unit"]} for n in wanted}
    correct = not run.problems
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
