#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 22 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` into a fresh directory under ``.perfbench_tmp/`` (removed at
exit), starts a single-driver ``local[N]`` session, runs two warm-up
passes (the set-up), checks the outputs, then measures whole passes
for ``--seconds``, at least three. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A diagnostics line (host, load, calibration) precedes it.
See NOTES.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from host import descendants, host_calib_s, tree_cpu_s, wait_gone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
WARMUP_PASSES = 2
MIN_PASSES = 3
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "ok_frac": "ratio"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("curation", "elt_loop"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input row-count multiplier (1.0 = the fixtures' sf0.01 shape)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected output, so the checks must report a failure")
    return ap.parse_args(argv)


# -- the run ----------------------------------------------------------------


class Run:
    """State of one benchmark run; workloads read the session and
    inputs from it and report failures to it."""

    def __init__(self, args, run_dir: str) -> None:
        import bench
        from martian_moments_spark.plans import load_all

        self.args = args
        self.run_dir = run_dir
        self.corrupt = args.corrupt_expected
        self.sf_dir = os.path.join(run_dir, "data")
        self.consume = bench.consume
        self.registry = load_all()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.storage: dict[str, dict[str, float]] = {}

    def fail(self, note: str) -> None:
        self.failed += 1
        self.failures.append(note)

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}",
        }
        if self.args.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self) -> float:
        """Start the session (and its JVM); returns the seconds it took."""
        from martian_moments_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
        return time.perf_counter() - t0

    def record_storage(self, pass_id: str, tables: list[str]) -> None:
        """Live files and on-disk bytes per live byte of lakehouse tables."""
        from martian_moments_spark import lakehouse as lh

        live_files, live_bytes, disk_bytes = 0, 0, 0
        for t in tables:
            files = lh.snapshot_files(t)
            live_files += len(files)
            live_bytes += sum(os.path.getsize(f) for f in files)
            for d, _, names in os.walk(t):
                disk_bytes += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        self.storage[pass_id] = {
            "lakehouse.live_files": live_files,
            "lakehouse.bytes_per_user_byte": disk_bytes / live_bytes if live_bytes else 0.0,
        }

    def jvm_gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def jvm_live_heap_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mf = jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until every process
        started under this one (JVM, Python workers) has exited. Runs
        on every exit path, including after an interrupted JVM call."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = descendants()
        try:
            if self.spark is not None:
                self.spark.stop()
            gateway.shutdown()
        except Exception as exc:  # a connection broken by the interrupt; the JVM is stopped below
            print(f"perfbench: session stop failed: {exc!r}", file=sys.stderr)
        self.spark = None
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_gone(started)


def measure(run: Run, workload, seconds: float, session_start: float) -> dict:
    """Run WARMUP_PASSES warm-up passes on the started session (the
    first one feeds the output check), then run whole passes for
    ``seconds`` (at least MIN_PASSES). With tracing, passes run in
    untraced-traced-traced-untraced order (at least one such group), so
    the overhead ratio is not biased by passes still getting faster."""
    t0 = time.perf_counter()
    workload.warmup(run, first=True)
    setup = session_start + time.perf_counter() - t0
    attempted, failed, notes = workload.check(run)  # outside setup timing
    run.attempted += attempted
    run.failed += failed
    run.failures.extend(notes)
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES - 1):
        workload.warmup(run, first=False)
    setup += time.perf_counter() - t0

    tracer = None
    if run.args.trace:
        import layers
        from spans import Tracer

        tracer = Tracer()
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < (4 if tracer else MIN_PASSES) or time.perf_counter() < deadline:
        traced = tracer is not None and i % 4 in (1, 2)
        pass_id = f"p{i}"
        if traced:
            layers.install(tracer, run)
            tracer.pass_id = pass_id
            run.tracer = tracer
            gc_before = run.jvm_gc_s()
        c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        if traced:
            with tracer.span("pass") as pass_span:
                ops = workload.run_pass(run, pass_id)
        else:
            ops = workload.run_pass(run, pass_id)
        wall = time.perf_counter() - t0
        rec = {"id": pass_id, "traced": traced, "wall": wall, "cpu": tree_cpu_s() - c0,
               "start": e0, "end": time.time(), "ops": ops}
        if traced:
            rec["gc_s"] = run.jvm_gc_s() - gc_before
            rec["span"] = tracer.spans.index(pass_span)
            tracer.pass_id = None
            # the group is a thread-local property: later jobs must not inherit it
            run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        workload.verify(run, pass_id)
        if traced:
            run.tracer = None
            tracer.unwrap_all()
        passes.append(rec)
        i += 1
    return {"setup_s": setup, "session_start_s": session_start, "passes": passes, "tracer": tracer}


def end_to_end(run: Run, m: dict) -> dict:
    passes = [p for p in m["passes"] if not p["traced"]]
    ok = 1.0 - run.failed / max(1, run.attempted)
    values = {
        "setup_s": m["setup_s"],
        "pass_s": statistics.median(p["wall"] for p in passes),
        "cpu_s": statistics.median(p["cpu"] for p in passes),
        "ok_frac": ok,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401  (the repository's sink; imports the package)
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import workloads

    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_parent)
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    load_start = os.getloadavg()
    run = None
    try:
        calib = host_calib_s()
        run = Run(args, run_dir)
        session_start = run.start_session()
        # input generation is outside setup_s
        workload = workloads.make(args.workload, args.seed, args.scale, run.spark, run.sf_dir)
        m = measure(run, workload, args.seconds, session_start)
        if args.trace:
            import layers

            metrics = layers.per_layer(run, m, workload)
        else:
            metrics = end_to_end(run, m)
        run.shutdown()
        if args.trace:
            metrics.update(layers.exec_metrics(run, m))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            m["tracer"].dump(
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"),
                time.time() - time.perf_counter(),
            )
    finally:
        try:
            if run is not None:
                run.shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(tmp_parent)
            except OSError:
                pass  # another run still owns a directory there

    diag = {
        "diagnostics": {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "cores": CPUS, "driver_memory": DRIVER_MEMORY, "scale": args.scale,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "host.calib_s": calib,
            "setup_s": m["setup_s"], "pass_wall_s": [p["wall"] for p in m["passes"]],
            "pass_cpu_s": [p["cpu"] for p in m["passes"]],
            "op_s": {k: [round(p["ops"].get(k, 0.0), 3) for p in m["passes"]] for k in m["passes"][0]["ops"]},
            "failures": run.failures[:20],
        }
    }
    print(json.dumps(diag))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
