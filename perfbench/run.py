#!/usr/bin/env python
"""Repository benchmark: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload forecast_publish --seed 1 \
        --seconds 10 --trace 0

Runs on ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``. Everything it
writes goes under ``.bench_build/perfbench`` in the checkout. Context
lines (machine calibration, sample counts, digests) go to stdout before
the result; the LAST stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics and patches nothing; ``--trace 1`` reruns the
same loop with layer spans installed and reports the per-layer metrics
(see perfbench/README.md). Exit code 0 only when every output check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
PACKAGE = ROOT / "environmental_stac_generator_spark"


def cpus() -> int:
    """nproc: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def since_process_start() -> float:
    """Seconds since this process was started by the kernel, so the
    interpreter's own start-up counts toward set-up time."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return time.perf_counter() - _T0


_T0 = time.perf_counter()


def configure_env(trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before pyspark starts the gateway."""
    n = cpus()
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # workers import the package and the benchmark's decoder wrappers
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # -XX:-UsePerfData: no hsperfdata file under /tmp. Derby commits
    # without fsync: the stand-in database's flushes would time the
    # shared disk, not the ingest path.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK / 'derby-home'} "
        "-Dderby.system.durability=test -XX:-UsePerfData"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        # the status store must keep every job and stage of the run
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def start_session():
    """The end of set-up: the session is up and the registry loaded."""
    from environmental_stac_generator_spark.registry import load_registry
    from environmental_stac_generator_spark.session import get_spark

    n = cpus()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="envstac-perfbench", master=f"local[{n}]", shuffle_partitions=n
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    load_registry()
    return spark, session_s


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM (and the Python workers
    under it), and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)


class RssSampler:
    """Peak resident memory of the driver JVM plus every process under
    it (the Python workers), sampled from /proc."""

    def __init__(self, jvm_pid: int, period_s: float = 1.0):
        self.pid = jvm_pid
        self.period = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)


def steal_jiffies() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return None


def calibration_probe(spark) -> float:
    """Fixed CPU-bound JVM job (no IO, no Python): tracks the machine,
    not the program, so host drift is visible beside every result."""
    t0 = time.perf_counter()
    spark.range(
        0, 50_000_000, 1, spark.sparkContext.defaultParallelism
    ).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    return time.perf_counter() - t0


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--size", choices=["default", "tiny"], default="default",
        help="tiny: smoke-test inputs (self-tests only)",
    )
    ap.add_argument(
        "--corrupt", action="store_true",
        help="damage one output before its check (self-tests only)",
    )
    args = ap.parse_args(argv)

    if not (PACKAGE / "__init__.py").is_file() or not (
        ROOT / "tools" / "make_testdata.py"
    ).is_file():
        print(
            "perfbench: the package sources are not in this checkout; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    import workloads  # the benchmark's own module (perfbench/)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    configure_env(trace=bool(args.trace))
    sys.path.insert(0, str(ROOT))

    spark, session_s = start_session()
    setup_s = since_process_start()
    steal0 = steal_jiffies()
    calibration_probe(spark)  # first call pays codegen
    calib_start = calibration_probe(spark)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    wl = workloads.WORKLOADS[args.workload](
        spark, seed=args.seed, size=args.size, work=WORK, trace=bool(args.trace)
    )
    with RssSampler(jvm_pid) as rss:
        result = wl.run(seconds=args.seconds, corrupt=args.corrupt)

    calib_end = calibration_probe(spark)
    steal1 = steal_jiffies()
    stop_session(spark)

    context = {
        "nproc": cpus(),
        "calibration_s": {"start": round(calib_start, 4), "end": round(calib_end, 4)},
        "session_start_s": round(session_s, 4),
        # context, not a metric: the JVM heap grows with GC timing, so the
        # peak moves by about 20% between identical runs
        "peak_rss_mb": round(rss.peak_kb / 1024.0, 1),
        **result.context,
    }
    if steal0 and steal1 and steal1[1] > steal0[1]:
        context["steal_pct"] = round(
            100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 3
        )
    emit({"context": context})

    if args.trace:
        metrics = dict(result.layer_metrics)
        metrics["session.start_s"] = {"value": session_s, "unit": "s"}
        samples = {k: 1 for k in metrics}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **result.metrics,
        }
        samples = {"setup_s": 1, **result.samples}
    emit({"samples": samples})
    correct = result.failed == 0
    emit(
        {
            "correct": correct,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": metrics,
        }
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
