#!/usr/bin/env python3
"""End-to-end benchmark of the engine: two workloads in a closed loop.

Usage (from the repository root)::

    python3 perfbench/run.py --workload medallion_and_lakehouse --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

One run starts a Spark session on ``local[nproc/2]``, generates the
workload's inputs from ``--seed`` under ``.perfbench_work/`` (removed at
exit), runs one untimed warm-up iteration, then runs iterations one after
another — each starts after the previous one finished and passed its
output check — until ``--seconds`` of iteration time is measured, and at
least ``MIN_ITERATIONS``. ``wall_s`` sums, over the steps of an iteration
(one per engine call or query), each step's median over the timed
iterations: a stall that hits one step of one iteration moves it less
than it moves the median of whole iterations.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics (``wall_s``, ``setup_s``, ``peak_rss_mb``); with
``--trace 1`` the per-layer metrics of ``layers.PER_LAYER``, from a run in
which every timed iteration is traced (tracing overhead = ``trace.wall_s``
minus the untraced run's ``wall_s``; ``--workload all --trace 1`` prints
it). The line before it (``details``) carries the samples, quartiles,
write/space amplification, failures and the host description.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "european_public_data_pipeline_spark"
WORKLOAD_NAMES = ("medallion_and_lakehouse", "headline_and_curation")
GEN_REPEATS = 3  # input generation is repeated; setup_s takes its median
# Timed iterations, whatever --seconds says. Iterations keep getting
# faster through a run (JIT warm-up), so a run that timed more of them
# would read faster: with --seconds at most three iterations' time, every
# run times exactly three.
MIN_ITERATIONS = 3
RUN_BUDGET_S = 110.0  # no new iteration starts after this much run time


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the
    driver JVM and its Python workers), sampled from ``/proc``. Each
    process counts its proportional set size, so pages the forked Python
    workers share are counted once."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            total = 0
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                except (OSError, IndexError, ValueError):
                    continue  # exited between listing and reading
            self.peak_bytes = max(self.peak_bytes, total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # Field 4 is the parent pid; the command name (field 2) may
                # hold spaces, so split after its closing parenthesis.
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def host_cpu_ticks() -> list[int]:
    """The host's CPU time by state (user, nice, system, idle, iowait, irq,
    softirq, steal, ...), from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests: how much a neighbour's load may have
    slowed the measurement."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else []
    return statistics.quantiles(values, n=4)


def high_percentile(values: list[float]) -> dict[str, float] | None:
    """The highest of p50/p75/p90/p99/p99.9 with at least ten samples
    beyond it, or None when the run has too few samples."""
    xs = sorted(values)
    for p in (99.9, 99.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100) >= 10:
            k = min(len(xs) - 1, math.ceil(len(xs) * p / 100) - 1)
            return {"p": p, "value": xs[k]}
    return None


def task_slots(nproc: int) -> int:
    """Spark's task slots: half the cores. The other half runs what the
    JVM and Python do beside the tasks (JIT compilation, GC, the driver's
    planning, Python workers), so a neighbour's load on a shared host
    delays the timed work less; these workloads sit on Spark's per-stage
    floor and run as fast on half the cores."""
    return max(1, nproc // 2)


def configure_env(work: Path, cores: int, ram: int) -> None:
    """Session hygiene through the variables the package already reads;
    set before the JVM starts, which inherits them."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(512, min(2048, ram // 4))}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def start_spark(work: Path, cores: int) -> Any:
    from european_public_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            # A fixed, pre-touched heap: the JVM's resident size no longer
            # grows with how long the run lasted, so peak_rss_mb moves with
            # off-heap and Python-worker memory.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:+AlwaysPreTouch "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: Any) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def step_median_sum(records: list[dict[str, Any]]) -> float:
    """Sum over the steps of each step's median across ``records``."""
    names = {k for r in records for k in r["steps"]}
    return sum(statistics.median(r["steps"].get(k, 0.0) for r in records) for k in names)


def iterate(wl: Any, tracer: Any, i: int, traced: bool) -> dict[str, Any]:
    """One iteration: untimed prepare, timed run, untimed check/facts/cleanup."""
    import layers

    t = time.perf_counter()
    wl.prepare(i)
    prep_s = time.perf_counter() - t
    out, problems = None, []
    wl.steps = {}
    if traced:
        layers.install(tracer)
        tracer.iteration, tracer.active = i, True
    t = time.perf_counter()
    try:
        out = wl.run(i)
    except Exception as e:  # noqa: BLE001 — a failed iteration is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        problems.append(f"raised {type(e).__name__}: {str(e)[:300]}")
    finally:
        wall = time.perf_counter() - t
        if traced:
            tracer.active = False
            tracer.unpatch_all()
    rec: dict[str, Any] = {"iteration": i, "wall_s": wall, "prep_s": prep_s, "steps": dict(wl.steps)}
    t = time.perf_counter()
    try:
        if traced:
            tracer.collect()
        if not problems:
            problems += wl.check(i, out)
            rec.update(wl.facts(i, out))
            if wl.input_bytes:
                rec["write_amp"] = rec["bytes_written"] / wl.input_bytes
        wl.cleanup(i, out)
    except Exception as e:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)
        problems.append(f"check raised {type(e).__name__}: {str(e)[:300]}")
    rec["check_s"] = time.perf_counter() - t
    rec["problems"] = problems
    return rec


def run_one(args: argparse.Namespace) -> dict[str, Any]:
    sys.path.insert(0, str(ROOT))
    import layers
    import pyspark
    from spans import Tracer
    from workloads import SCALES, WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    cores = task_slots(nproc)
    ram = ram_mb()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    configure_env(work, cores, ram)
    host = {
        "nproc": nproc,
        "task_slots": cores,
        "ram_mb": ram,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "pyspark": pyspark.__version__,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    t_run = time.perf_counter()
    tracer = Tracer()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        tracer.active = bool(args.trace)
        t = time.perf_counter()
        with tracer.span("session.get_spark", spark_jobs=False):
            spark = start_spark(work, cores)
        session_s = time.perf_counter() - t
        tracer.active = False
        tracer.spark = spark
        host["jvm"] = spark.sparkContext._jvm.System.getProperty("java.version")

        wl = WORKLOADS[args.workload](spark, str(work), args.seed, SCALES[args.scale], tracer)
        gen_s = []
        for r in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate(str(work / f"inputs{r}"))
            gen_s.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(work / f"inputs{r - 1}", ignore_errors=True)
        warm = iterate(wl, tracer, 0, traced=False)
        setup_s = session_s + statistics.median(gen_s) + warm["prep_s"] + warm["wall_s"]

        records: list[dict[str, Any]] = []
        cpu_before = host_cpu_ticks()
        measured, i = 0.0, 1
        while measured < args.seconds or len(records) < MIN_ITERATIONS:
            if records and time.perf_counter() - t_run > RUN_BUDGET_S:
                break
            rec = iterate(wl, tracer, i, traced=bool(args.trace))
            records.append(rec)
            measured += rec["wall_s"]
            i += 1
        host["steal_frac_timed"] = steal_frac(cpu_before, host_cpu_ticks())
        peak_rss_mb = rss.peak_bytes / 2**20
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    everything = [warm, *records]
    failures = [
        {"iteration": r["iteration"], "problems": r["problems"]} for r in everything if r["problems"]
    ]
    walls = [r["wall_s"] for r in records]

    def med(key: str) -> float | None:
        vals = [r[key] for r in records if key in r]
        return statistics.median(vals) if vals else None

    if args.trace:
        metrics = layers.per_layer_metrics(tracer.spans, records, cores)
        metrics["trace.wall_s"] = step_median_sum(records)
        metrics["trace.bookkeeping_s"] = statistics.median(
            tracer.bookkeeping_s.get(r["iteration"], 0.0) for r in records
        )
        units = dict(layers.PER_LAYER)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        metrics = {"wall_s": step_median_sum(records), "setup_s": setup_s, "peak_rss_mb": peak_rss_mb}
        units = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "samples": len(walls),
        "wall_s_samples": walls,
        "wall_s_quartiles": quartiles(walls),
        "wall_s_high_percentile": high_percentile(walls),
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm["prep_s"] + warm["wall_s"]},
        "failed_frac": len(failures) / len(everything),
        "failures": failures,
        "step_s": {k: [r["steps"].get(k) for r in records] for k in records[0]["steps"]},
        "untimed_s": {k: [r[k] for r in everything] for k in ("prep_s", "check_s")},
        "write_amp": med("write_amp"),
        "space_amp": med("space_amp"),
        "input_bytes": wl.input_bytes,
        "host": host,
    }
    return {
        "details": details,
        "result": {
            "correct": not failures,
            "attempted": len(everything),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def run_all(args: argparse.Namespace) -> int:
    """Every workload in its own process; prints one table. With
    ``--trace 1`` each workload also runs untraced, and the tracing
    overhead (traced minus untraced ``wall_s``) is printed."""
    rc = 0
    for name in WORKLOAD_NAMES:
        results = {}
        for trace in sorted({0, args.trace}):
            cmd = [
                sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(trace), "--scale", args.scale,
            ]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} (trace {trace}): exit code {proc.returncode}")
                rc = 1
                continue
            res = results[trace] = json.loads(lines[-1])
            print(f"{name} (trace {trace}): correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for metric, m in res["metrics"].items():
                print(f"  {metric:48s} {m['value']:>16.6g} {m['unit']}")
            rc |= 0 if res["correct"] else 1
        if len(results) == 2:
            overhead = (
                results[1]["metrics"]["trace.wall_s"]["value"]
                - results[0]["metrics"]["wall_s"]["value"]
            )
            print(f"  {'tracing overhead (trace.wall_s - wall_s)':48s} {overhead:>16.6g} s")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"), default="default")
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    out = run_one(args)
    print(json.dumps({"details": out["details"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
