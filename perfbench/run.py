"""The repository's benchmark: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload batch_crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.bench_build/``, starts Spark through the package's own
``get_spark`` + ``warm_python_workers``, discards warm-up ops, then runs
ops in a closed loop (the next op starts when the previous one returns)
until ``--seconds`` have passed (at least one op).
Every op's output is checked, untimed.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries the per-op details (walls, calibration constant, input digest).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's layers (see ``tracing.py``) and reports the per-layer metrics.
See ``README.md`` in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time

from tracing import Tracer, descendants, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "image_deduplication_3m_images_spark"
WORKLOADS = ("batch_crawl", "stream_ingest")


# --------------------------------------------------------------------------
# process tree: peak memory and clean shutdown
# --------------------------------------------------------------------------


def peak_tree_mb(pid: int) -> dict[str, float]:
    """The kernel's resident high-water mark (VmHWM) of ``pid`` and each
    live descendant (the JVM and the Python workers), in MB, by process
    name and pid."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
            out[f"{fields['Name'].strip()}-{p}"] = int(fields["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, IndexError, ValueError):
            pass
    return out


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def stolen_s() -> float:
    """Seconds the hypervisor has withheld from this machine since boot,
    averaged over its CPUs: the ``steal`` column of ``/proc/stat``."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return steal / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and every process it started, and wait
    for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Run:
    """State shared by a workload: the session, tracer, dirs and results."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.notes: list[str] = []
        self.layer_runs: list[dict] = []
        self.detail: dict = {}
        self.steal_frac = 0.0
        self.last_op: dict = {}
        self.peak_mb: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record the process age at the start of ``phase``."""
        self.detail.setdefault("phases_s", {})[phase] = round(process_age_s(), 2)

    def fail(self, why: str) -> None:
        self.correct = False
        self.notes.append(why)

    @contextlib.contextmanager
    def clock(self):
        """Times the block an op measures.  Its wall time and the share of
        it that the hypervisor withheld from the machine are kept for the
        loop (``last_op``)."""
        s0, t0 = stolen_s(), time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        self.last_op = {"wall": wall, "stolen": min(wall, stolen_s() - s0)}

    def loop(self, op, warmups: int) -> None:
        """Closed loop: ``warmups`` discarded ops, then timed ops until
        ``seconds`` have passed (at least one).  ``op(i, timed)`` measures
        its own timed block with ``clock``; an op that raises counts as
        failed (it gives no sample).

        The samples are steal-adjusted: each op's wall minus the time the
        hypervisor withheld the machine's CPUs during it (see README)."""
        self.mark("warmup")
        for i in range(warmups):
            op(-1 - i, False)
        self.mark("timed")
        start = time.perf_counter()
        ops: list[dict] = []
        i = 0
        while True:
            self.attempted += 1
            self.tracer.reset()
            try:
                op(i, True)
            except Exception as e:  # a failed op is counted, not skipped
                self.failed += 1
                self.fail(f"op {i} raised {type(e).__name__}: {e}"[:300])
            else:
                rec = dict(self.last_op)
                if self.tracer.enabled:
                    t = time.perf_counter()
                    h = self.tracer.harvest(rec["wall"])
                    h["layer_s"] = dict(self.tracer.layer_s)
                    h["layer_n"] = dict(self.tracer.layer_n)
                    h["layer_py_cpu_s"] = dict(self.tracer.layer_py_cpu_s)
                    h["values"] = dict(self.tracer.values)
                    h["harvest_s"] = time.perf_counter() - t
                    self.layer_runs.append(h)
                ops.append(rec)
            i += 1
            if time.perf_counter() - start >= self.seconds:
                break
        self.walls = [o["wall"] - o["stolen"] for o in ops]
        self.steal_frac = median([o["stolen"] / o["wall"] for o in ops])
        self.detail["ops"] = [{"wall_s": round(o["wall"], 4),
                               "stolen_s": round(o["stolen"], 4)} for o in ops]
        self.peak_mb = peak_tree_mb(os.getpid())  # before any catalog sweep
        self.mark("checks")


def main(argv=None) -> int:
    stolen0 = stolen_s()
    ap = argparse.ArgumentParser(description="webdedup benchmark (one workload)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, d))
    ncpu = len(os.sched_getaffinity(0))
    # the same two settings tier-1 verify makes; every other session
    # default is the program's own.  Temp files stay inside the checkout.
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(work)

    session = importlib.import_module(f"{PKG}.session")
    t0 = time.perf_counter()
    spark = session.get_spark()
    t1 = time.perf_counter()
    session.warm_python_workers(spark)
    t2 = time.perf_counter()
    setup_raw = process_age_s()
    setup_s = setup_raw - (stolen_s() - stolen0)  # steal-adjusted, as the ops
    spark.sparkContext.setLogLevel("ERROR")
    calibration = importlib.import_module(f"{PKG}.calibration").calibration_const(passes=1)

    import catalog
    import workloads

    tracer = Tracer(spark, enabled=bool(args.trace))
    run = Run(spark, tracer, work, args.seed, args.seconds)
    run.mark("inputs")
    try:
        e2e, layers = getattr(workloads, args.workload)(run)
    finally:
        tracer.unpatch()
        run.mark("stop")
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    try:  # once per checkout, after the measurements: see catalog.py
        catalog.ensure(ROOT)
    except Exception as e:
        run.notes.append(f"catalog cache: {type(e).__name__}: {e}"[:300])
    run.mark("end")
    if run.walls:
        e2e["op_p50_s"] = (median(run.walls), "s")
    e2e["setup_s"] = (setup_s, "s")
    layers["process.peak_rss_mb"] = (sum(run.peak_mb.values()), "MB")
    run.detail["peak_rss_mb"] = {k: round(v) for k, v in run.peak_mb.items()}
    layers["session.start_s"] = (t1 - t0, "s")
    layers["session.warm_s"] = (t2 - t1, "s")
    layers["calibration_s"] = (calibration, "s")
    layers["host.steal_frac"] = (run.steal_frac, "frac")
    if run.layer_runs:
        layers["trace.op_p50_s"] = (median(run.walls), "s")
        layers["trace.harvest_s"] = (
            median([h["harvest_s"] for h in run.layer_runs]), "s")
    if args.trace:
        chosen = {k: layers.get(k, (0.0, u)) for k, u in workloads.PER_LAYER.items()}
    else:
        chosen = e2e
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "calibration_s": calibration, "steal_frac": round(run.steal_frac, 4),
        "setup_raw_s": round(setup_raw, 2),
        "notes": run.notes, **run.detail,
    }))
    print(json.dumps({
        "correct": run.correct and run.failed == 0 and bool(run.walls),
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(chosen.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
