"""Job-level benchmark of the extraction job (``ExtractionJob.run``).

    python3 jobbench/run.py --workload hot_conversation --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the workload's transcript table
from ``--seed``, starts a ``local[nproc]`` session through
``ocr_spark.session.get_spark``, runs the job with the parquet sink into a
fresh output directory until ``--seconds`` have passed, checks every output
against ``textops.extract_turn`` run in-process, and prints one JSON result
as its last line of standard output:

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json`` (tracing off).
- ``--trace 1``: the per-layer metrics: the rung ladder of ``layers.py``,
  the in-process per-stage timing, output span counts, and the tracing
  overhead; spans go to ``jobbench/.work/spans/``.

The line before the result is the full record, stamped with the
environment (nproc, load, versions, Arrow batch size, parquet codec); it is
also written to ``jobbench/.work/records/``. Everything the run writes stays
under ``jobbench/.work/``.
"""
from __future__ import annotations

import argparse
import json
import os
import pathlib
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

#: checkpoint groups per job; with 8 input files each group reads 4 files
GROUPS = 2
#: job runs per untraced run, at least (more while --seconds allow)
MIN_REPS = 3
#: untimed jobs before measuring: the JVM's JIT keeps speeding the job up
#: for several runs (on 4 cores a 3,000-turn mixed-text job went 6.2, 3.9,
#: 3.6, 3.6, 3.3 s, then stayed near 3.2 s), and a run measured on that
#: slope varies with how far down it is
WARMUP_JOBS = 5
#: a busy share of all CPUs, sampled just before the run, above which the
#: run counts as started under load
BUSY_LIMIT = 0.25
#: turns timed per stage in-process on the traced run
STAGE_SAMPLE = 500


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    return float(pathlib.Path("/proc/loadavg").read_text().split()[0])


def cpu_times() -> list[int]:
    """Aggregate ``/proc/stat`` CPU counters: user nice system idle iowait
    irq softirq steal."""
    return [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4]) / total, "steal": d[7] / total}


def configure_env() -> None:
    """Point the session and its Python workers at this checkout and keep
    every file Spark and Java write inside ``WORK``."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the session pre-touches its whole heap: 1 GB holds these inputs many
    # times over and keeps a shared box's memory free
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # measure the session's own Arrow batch size and parquet codec
    for knob in ("SPARK_ARROW_BATCH", "SPARK_PARQUET_CODEC"):
        os.environ.pop(knob, None)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file: the JVM writes it outside java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [str(ROOT)]


#: prctl option that makes orphaned descendants children of the caller
PR_SET_CHILD_SUBREAPER = 36
#: seconds ``reap_children`` lets children exit on their own
REAP_GRACE = 20.0


def become_subreaper() -> None:
    """Adopt orphaned descendants: the JVM forks the Python worker daemon,
    which forks the workers; any of them that outlives its parent becomes a
    child of this process, which can then wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for d in pathlib.Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                pids.append(int(d.name))
    return pids


def reap_children() -> None:
    """Wait until no child is left, adopted ones included. Children still
    running after ``REAP_GRACE`` seconds get SIGTERM, 5 s later SIGKILL."""
    deadline = time.monotonic() + REAP_GRACE
    while True:
        alive = []
        for pid in child_pids():
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    alive.append(pid)
            except ChildProcessError:
                continue
        if not alive:
            return
        late = time.monotonic() - deadline
        if late > 10:
            print(f"jobbench: children {alive} did not exit", file=sys.stderr)
            return
        if late > 0:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGTERM if late < 5 else signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class PssSampler:
    """Peak resident memory of this process's descendants (the JVM and the
    Python workers it forks), sampled from ``/proc``. Each process counts
    its proportional share (PSS): the workers are forked from one daemon
    and share its pages, which plain RSS would count once per worker.
    One sample of the tree takes about 35 ms of CPU on 4 cores (mostly the
    JVM's ``smaps_rollup``), so sampling is sparse to keep it off the job's
    CPUs."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_pss_kb(root: int) -> int:
        parent = {}
        for d in pathlib.Path("/proc").iterdir():
            if d.name.isdigit():
                try:
                    stat = (d / "stat").read_text()
                except OSError:
                    continue
                parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, list(children.get(root, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                for line in pathlib.Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_pss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Session:
    """A Spark session started cold: a new JVM through ``get_spark``, then a
    first pass of the extraction UDF over one partition per core, which
    starts the Python workers and loads the core in each."""

    def __init__(self):
        self.spark = None

    def start(self) -> float:
        from pyspark.sql import functions as F

        from ocr_spark.operators.extraction import extract_turns
        from ocr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "jobbench", master=f"local[{nproc()}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        n = nproc()
        df = self.spark.range(0, 16 * n, 1, n).select(F.col("id").cast("string").alias("text"))
        extract_turns(df).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and its JVM (the JVM exits when its stdin
        closes), and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def env_stamp(spark) -> dict:
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "arrow_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "parquet_codec": conf.get("spark.sql.parquet.compression.codec"),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


def dir_bytes(files) -> int:
    return sum(p.stat().st_size for p in files)


def group_wall_max_s(output: pathlib.Path) -> float:
    return max(
        json.loads(p.read_text())["wall_ms"] for p in (output / "_manifests").glob("group-*.json")
    ) / 1000


def measure_end_to_end(args, spark, run_dir, inp, input_bytes, ref) -> dict:
    """Full jobs, tracing off, until ``--seconds`` pass (at least
    ``MIN_REPS``); every job's output is checked."""
    from ocr_spark.plans.job import ExtractionJob
    from digest import check, output_files

    reps, checks = [], []
    out = run_dir / "out"
    with PssSampler() as mem:
        t_start = time.perf_counter()
        while len(reps) < MIN_REPS or time.perf_counter() - t_start < args.seconds:
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            summary = ExtractionJob(spark, str(inp), str(out), groups=GROUPS).run(resume=False)
            wall = time.perf_counter() - t0
            reps.append({
                "wall_s": wall,
                "turns": summary["turns"],
                "groups": summary["groups"],
                "group_wall_max_s": group_wall_max_s(out),
                "output_bytes": dir_bytes(output_files(out)),
            })
            checks.append(check(ref, out))
    turns = len(ref)
    return {
        "reps": reps,
        "checks": checks,
        "metrics": {
            "turns_per_s": statistics.median(turns / r["wall_s"] for r in reps),
            "group_wall_max_s": statistics.median(r["group_wall_max_s"] for r in reps),
            "output_bytes_per_input_byte": statistics.median(r["output_bytes"] for r in reps) / input_bytes,
            "peak_rss_mb": mem.peak_kb / 1024,
        },
    }


def measure_layers(args, spark, run_dir, inp, input_bytes, ref) -> dict:
    """The traced run: rung ladder, untraced and traced full jobs, shuffle
    skew, in-process stage timing and span counts."""
    import layers
    from ocr_spark.plans.job import ExtractionJob
    from digest import check, output_files

    tracer = layers.Tracer()
    files = [str(p) for p in sorted(inp.glob("*.parquet"))]

    def job(out: pathlib.Path) -> ExtractionJob:
        return ExtractionJob(spark, str(inp), str(out), groups=GROUPS)

    probe = job(run_dir / "out")
    partitions, salt = probe.partitions_per_group, probe.salt_buckets

    rungs: dict[str, list[float]] = {}
    full, traced, batches, checks = [], [], [], []
    t_start = time.perf_counter()
    with tracer.span("ladder"):
        while not full or time.perf_counter() - t_start < args.seconds:
            times, nb = layers.run_ladder(spark, tracer, files, partitions, salt, run_dir / "rung5")
            for k, v in times.items():
                rungs.setdefault(k, []).append(v)
            batches.append(nb)
            checks.append(check(ref, run_dir / "rung5"))
            # untraced, traced, untraced: the two untraced runs bracket the
            # traced one, so a JVM still warming up biases neither side
            for name, sink in (("full", full), ("traced", traced), ("full", full)):
                out = run_dir / name
                shutil.rmtree(out, ignore_errors=True)
                t0 = time.perf_counter()
                if name == "full":
                    summary = job(out).run(resume=False)
                else:
                    summary = layers.traced_job(tracer, job(out))
                sink.append(time.perf_counter() - t0)
                checks.append(check(ref, out))
    r = {k: statistics.median(v) for k, v in rungs.items()}
    full_s, traced_s = statistics.median(full), statistics.median(traced)
    metrics = {
        "scan.s": r["rung1.scan"],
        "scan.bytes": input_bytes,
        "shuffle.s": r["rung2.shuffle"] - r["rung1.scan"],
        "exchange.s": r["rung3.exchange"] - r["rung2.shuffle"],
        "exchange.batches": statistics.median(batches),
        "core.s": r["rung4.core"] - r["rung3.exchange"],
        "sink.s": r["rung5.sink"] - r["rung4.core"],
        "sink.bytes": dir_bytes(output_files(run_dir / "rung5")),
        "sink.files": len(output_files(run_dir / "rung5")),
        "job.s": traced_s - r["rung5.sink"],
        "job.groups": summary["groups"],
        "full_job.s": full_s,
        "trace.overhead_frac": (traced_s - full_s) / full_s,
    }

    # skew of the salted shuffle on the largest checkpoint group
    groups = probe.input_file_groups()
    biggest = max(groups, key=lambda g: dir_bytes(pathlib.Path(f) for f in g))
    with tracer.span("shuffle.skew"):
        counts = layers.shuffle_partition_rows(spark, biggest, partitions, salt)
    metrics["shuffle.skew"] = max(counts) / statistics.median(counts)
    metrics["shuffle.partitions"] = len(counts)

    with tracer.span("textops.stages"):
        metrics.update(layers.stage_times(layers.sample_texts(files, STAGE_SAMPLE, args.seed)))
    metrics.update(layers.span_counts(output_files(run_dir / "full")))

    ladder_sum = sum(metrics[k] for k in ("scan.s", "shuffle.s", "exchange.s", "core.s", "sink.s", "job.s"))
    residual = (ladder_sum - full_s) / full_s
    tracer.write(WORK / "spans" / f"{args.workload}-s{args.seed}.jsonl")
    return {
        "rungs_s": rungs,
        "full_job_s": full,
        "traced_job_s": traced,
        "shuffle_partition_rows": counts,
        "ladder_check": {
            "sum_s": ladder_sum,
            "untraced_full_job_s": full_s,
            "residual_frac": residual,
            "tolerance": layers.LADDER_TOLERANCE,
            "within_tolerance": abs(residual) <= layers.LADDER_TOLERANCE,
        },
        "checks": checks,
        "metrics": metrics,
    }


def result_line(declared: list[dict], metrics: dict, checks: list[dict]) -> dict:
    """The final JSON line: every metric in ``declared`` with its unit."""
    attempted = sum(c["turns"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    return {
        "correct": failed == 0 and all(c["digest_ok"] and c["keys_equal"] for c in checks),
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    become_subreaper()
    try:
        return run(args, ap)
    finally:
        reap_children()


def run(args, ap) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(HERE))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    configure_env()
    try:
        import ocr_spark.plans.job  # noqa: F401
        import ocr_spark.session  # noqa: F401
    except ImportError as e:
        print(f"jobbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from digest import cached_reference

    load_before = loadavg_1m()
    c0 = cpu_times()
    time.sleep(0.5)
    c1 = cpu_times()
    busy_before = cpu_shares(c0, c1)["busy"]
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = run_dir / "input"
    info = workloads.make(args.workload, args.seed, inp)
    input_bytes = info["bytes"]
    phase("generate")
    ref = cached_reference(inp, WORK / "cache" / f"{args.workload}-s{args.seed}.json", nproc())
    phase("reference")

    from ocr_spark.plans.job import ExtractionJob

    session = Session()
    try:
        setup_s = session.start()
        stamp = env_stamp(session.spark)
        phase("setup")
        for _ in range(WARMUP_JOBS):
            shutil.rmtree(run_dir / "warm_output", ignore_errors=True)
            ExtractionJob(session.spark, str(inp), str(run_dir / "warm_output"), groups=GROUPS).run(resume=False)
        phase("warm_up")
        measure = measure_layers if args.trace else measure_end_to_end
        res = measure(args, session.spark, run_dir, inp, input_bytes, ref)
        phase("measure")
    finally:
        session.stop()
    phase("stop")
    res["metrics"]["setup_s" if args.trace == 0 else "session.start_s"] = setup_s
    if args.trace:
        res["metrics"]["turn_error_rate"] = sum(c["failed"] for c in res["checks"]) / sum(
            c["turns"] for c in res["checks"])

    load_after = loadavg_1m()
    during = cpu_shares(c1, cpu_times())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "input": info,
        "groups": GROUPS,
        "phases_s": phases,
        "env": {
            **stamp,
            "load_1m_before": load_before,
            "load_1m_after": load_after,
            # the 1-minute load still holds a previous run's work when runs
            # go back to back, so the flag uses the CPU share busy just before
            "cpu_busy_before": busy_before,
            "started_under_load": busy_before > BUSY_LIMIT,
            "cpu_steal_during": during["steal"],
        },
        **res,
    }
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    line = result_line(names, res["metrics"], res["checks"])
    rec_path = WORK / "records" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    rec_path.parent.mkdir(parents=True, exist_ok=True)
    rec_path.write_text(json.dumps(record, indent=1))
    print(json.dumps(record))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
