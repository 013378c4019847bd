"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One workload per process, on
``local[$SPARK_GRAFT_CPUS]`` (default: every core of the host). The last line
of stdout is the result JSON (``correct``, ``attempted``, ``failed``,
``metrics``); the line before it is a detail record with the host, the seed,
sample counts and tail percentiles. With ``--trace 1`` the metrics are the
per-layer ones, and the spans are written under ``.bench_out/``.

Scratch data lives under ``.bench_work/`` and the oracle cache under
``.bench_cache/``, both inside the checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("cdc_stream", "warehouse_sql")


class Session:
    """The Spark session of one run, started with every scratch path inside
    the checkout, and stopped together with its JVM."""

    def __init__(self, work: str, cpus: int) -> None:
        self.work = work
        self.cpus = cpus
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # -UsePerfData: no hsperfdata file under /tmp
        os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        )
        # Python workers (Arrow/pandas operators) import the package too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = self._start(cpus)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        # the program's own heap default, or the caller's SPARK_DRIVER_MEM
        self.driver_mem = self.spark.conf.get("spark.driver.memory")

    def _start(self, cpus: int):
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from cdc_poc_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def restart(self, cpus: int):
        """A new SparkContext with another core count, in the same JVM."""
        self.spark.stop()
        self.cpus = cpus
        self.spark = self._start(cpus)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — make sure the JVM is gone
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cdc_poc_spark")):
        print(
            f"perfbench: no cdc_poc_spark package under {ROOT}; run from the "
            "root of a full checkout",
            file=sys.stderr,
        )
        return 2

    from catalog import END_TO_END, PER_LAYER
    from common import Tracer, emit, host_record, metric_block, vm_hwm_mb

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    work = os.path.join(
        ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    session = None
    try:
        t0 = time.perf_counter()
        session = Session(work, cpus)
        session_s = time.perf_counter() - t0
        if args.workload == "cdc_stream":
            import cdc_stream as wl
        else:
            import warehouse_sql as wl
        out = wl.run(session, args.seed, args.seconds, tracer)
        out.setup_s += session_s
        peak_mb = vm_hwm_mb(session.jvm_pid)
        layers = wl.trace_layers(session, out, tracer) if args.trace else {}
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "host": host_record(args.seed, cpus, session.driver_mem),
        "session_s": session_s,
        "peak_rss_mb": peak_mb,
        **out.detail,
    }
    if args.trace:
        detail["self_s"] = tracer.self_times()
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json")
        )
        metrics = metric_block(PER_LAYER, {**layers, "jvm.peak_rss_mb": peak_mb})
    else:
        metrics = metric_block(END_TO_END, {**out.values, "setup_s": out.setup_s})
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    emit(result, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
