"""Curation benchmark: seeded workloads through the engine's public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload recrawl_dups --seed 1 --seconds 8 --trace 0

One driver process builds a ``local[<nproc>]`` session (driver memory
and shuffle partitions derived from nproc and host memory) and
generates the workload from ``--seed``. Set-up, the build of a session
with a JVM of its own, is timed twice: first in a child process that
builds a session and exits, then in this process, whose session the
run goes on with; ``setup_s`` is the median. The run then does the
workload's operation once, untimed, on a slice of the input (``prime``:
the Python workers start, the perplexity model loads, plan compilation
and the JIT settle), and then runs the workload closed-loop: each job
or commit starts only after the previous one ended, until
``--seconds`` have passed and at least one job or commit was timed. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
window untraced and one traced (Spark event log on, spans and job
groups per call), calls each layer's public function on its stage's
materialized input, and reports the per-layer metrics, including the
tracing overhead (traced over untraced op time). The line before the
result holds the detail record: environment stamp, workload properties,
op samples, phase times and, traced, span self times. ``--smoke``
shrinks the inputs for the benchmark's own tests (test_smoke.py).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETUPS = 2  # one in a child process, then this process


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fresh_mixed", "recrawl_dups", "incremental_append"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (benchmark self-test)")
    ap.add_argument("--setup-child", metavar="WORK",
                    help="time one set-up with WORK as the work dir, print it and exit")
    return ap.parse_args(argv)


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gb = mem_kb / 2**20
    return {
        "nproc": nproc,
        "host_mem_gb": round(mem_gb, 2),
        # a quarter of host memory, capped: the host is shared
        "driver_memory_gb": max(1, min(8, int(mem_gb // 4))),
        "shuffle_partitions": 2 * nproc,
    }


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let the Python workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, BENCH):
        if p not in sys.path:
            sys.path.insert(0, p)


def build(hw: dict, work: str, event_log: str | None = None):
    from gemproc2caom2_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return build_session(
        app_name="perfbench",
        master=f"local[{hw['nproc']}]",
        shuffle_partitions=hw["shuffle_partitions"],
        driver_memory=f"{hw['driver_memory_gb']}g",
        extra_conf=conf,
    )


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"percentile": None, "value": None, "n": n}
    k = n - 10
    return {"percentile": round(100.0 * k / n, 1), "value": sorted(samples)[k - 1], "n": n}


class Loop:
    """Closed loop: one op at a time until the window ends and an op of
    ``kind`` was timed. Counts attempted and failed ops (an op that
    raises is logged and counted)."""

    def __init__(self, wl, seconds: float, kind: str, cpu):
        self.wl, self.seconds, self.kind, self.cpu = wl, seconds, kind, cpu
        self.attempted = self.failed = 0

    def run(self, spark, first: int, group: bool) -> list:
        ops = []
        end = time.perf_counter() + self.seconds
        i = first

        def short():
            return not any(o.kind == self.kind for o in ops)

        while time.perf_counter() < end or (short() and self.failed < 3):
            gid = f"op.{i}"
            if group:
                spark.sparkContext.setJobGroup(gid, gid)
            self.attempted += 1
            try:
                cpu0 = self.cpu()
                op = self.wl.op(spark, i)
                op.cpu_s = self.cpu() - cpu0
                op.group = gid
                ops.append(op)
            except Exception:  # one failed op must not end the run
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
            i += 1
        if group:
            spark.sparkContext.setJobGroup("-", "")
        return ops


def timed_setup(hw: dict, work: str):
    """Build a session; returns (session, seconds)."""
    t0 = time.perf_counter()
    spark = build(hw, work)
    return spark, time.perf_counter() - t0


def setup_child(args) -> int:
    prepare_env(args.setup_child)
    spark, seconds = timed_setup(host(), args.setup_child)
    spark.stop()
    stop_jvm()
    print(json.dumps({"seconds": seconds}))
    return 0


def child_setups(args, work: str, n: int) -> list[float]:
    """``n`` set-up times, each in a fresh driver process with its own JVM."""
    out = []
    for k in range(n):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--setup-child", os.path.join(work, f"setup-{k}")]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
        if res.returncode != 0:
            raise RuntimeError(f"set-up {k} failed: {res.stderr[-2000:]}")
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["seconds"])
    return out


def run(args) -> int:
    work = os.path.join(BENCH, ".out", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        import gemproc2caom2_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import jobs
    import layers
    from tracing import RssSampler, Tracer, read_event_log

    hw = host()
    stamp = {
        **hw,
        "git_sha": git_sha(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "load_1m_before": os.getloadavg()[0],
    }
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    wl = jobs.WORKLOADS[args.workload](args.seed, args.seconds, work, tracer, ROOT, args.smoke)
    rss = RssSampler()
    loop = Loop(wl, args.seconds, "commit" if args.workload == "incremental_append" else "job",
                rss.cpu_seconds)
    spark = None
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
    phases = {}
    try:
        with rss, tracer.span("run"):
            with tracer.span("generate") as s:
                wl.generate()
            phases["generate"] = s.seconds
            setups = []
            # a traced run reports no setup time: one setup is enough
            with tracer.span("setup") as s:
                if not args.trace:
                    setups += child_setups(args, work, SETUPS - 1)
                spark, seconds = timed_setup(hw, work)
                setups.append(seconds)
            phases["setup"] = s.seconds
            stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            with tracer.span("prime") as s:
                wl.prime(spark)
            phases["prime"] = s.seconds
            rss.reset()
            with tracer.span("loop") as s:
                ops = loop.run(spark, 0, group=False)
            phases["loop"] = s.seconds
            peak_rss = rss.peak
            metrics_layer = {}
            if args.trace:
                event_log = os.path.join(work, "eventlog")
                with tracer.span("setup.traced"):
                    spark.stop()
                    spark = build(hw, work, event_log)
                    jobs.warmup(spark, wl.warm_paths)  # this context's Python workers
                with tracer.span("loop.traced"):
                    traced = loop.run(spark, len(ops), group=True)
                metrics_layer, kept = layers.profile(spark, wl, tracer)
                ck, kinds = layers.checkpoint_calls(spark, wl, tracer)
                metrics_layer.update(ck)
                for df in kept:
                    df.unpersist()
            with tracer.span("check") as s:
                wl.finish(spark)
                check = wl.check(spark)
            phases["check"] = s.seconds
            storage = jobs.storage_memory(spark)
            spark.stop()
            spark = None
            if args.trace:
                with tracer.span("event_log"):
                    stats = read_event_log(event_log)
                hot = {k: stats[f"layer.{g}"].hot_task_share
                       for k, g in (("lsh", "dedup.lsh_fold"), ("hyperplane", "semantic"))}
                metrics_layer.update(layers.from_event_log(stats, kinds, [o.group for o in traced]))
                untraced_s = statistics.median(o.seconds for o in ops if o.kind != "replay")
                traced_s = statistics.median(o.seconds for o in traced if o.kind != "replay")
                metrics_layer["trace.overhead_ratio"] = traced_s / untraced_s
                shutil.rmtree(event_log, ignore_errors=True)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    stamp["load_1m_after"] = os.getloadavg()[0]

    problems = list(check.problems)
    reps = ops + (traced if args.trace else [])
    op_digests = {o.digest for o in reps if o.digest is not None}
    if len(op_digests) > 1:
        problems.append("reps of the workload disagree on the output digest")
    work_ops = [o for o in ops if o.kind in ("job", "commit")]
    if not work_ops:
        problems.append("no operation completed")
    props = dict(check.properties)
    if wl.barrier_bytes is not None:  # the commit path's barrier is not observable
        props["barrier_cached_bytes"] = wl.barrier_bytes
        props["barrier_bytes_per_storage_byte"] = wl.barrier_bytes / storage
    if args.trace:
        props["lsh_max_bucket"] = metrics_layer["dedup.lsh_max_bucket"]
        props["hyperplane_max_bucket"] = metrics_layer["semantic.max_bucket"]
        props["lsh_hot_task_share"] = hot["lsh"]
        props["hyperplane_hot_task_share"] = hot["hyperplane"]
    op_s = [o.seconds for o in work_ops]
    detail.update({
        "env": stamp,
        "properties": props,
        "setup_s_samples": setups,
        "phase_s": phases,
        "ops": [(o.kind, o.docs, round(o.seconds, 4), round(o.cpu_s, 2)) for o in ops],
        "op_s_p50": statistics.median(op_s) if op_s else None,
        "op_s_tail": tail(op_s),
        "problems": problems[:20],
    })
    if args.trace:
        detail["span_self_s"] = {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}
        tracer.write(os.path.join(work, "spans.json"))

    attempted, failed = loop.attempted, loop.failed
    if args.trace:
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(metrics_layer.items())}
    else:
        docs_per_s = statistics.median(o.docs / o.seconds for o in work_ops) if work_ops else 0.0
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
            "label_agreement": {"value": check.agreement, "unit": "ratio"},
            "success_rate": {"value": 1.0 - failed / attempted, "unit": "ratio"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    for sub in os.listdir(work):  # keep only the result and the spans
        if os.path.isdir(os.path.join(work, sub)):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not problems and check.agreement >= 0.9,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def stop_jvm(timeout: float = 60.0) -> None:
    """End the driver JVM (it exits when its stdin closes) and wait until
    it and the Python workers it started are gone."""
    from pyspark import SparkContext

    from tracing import RssSampler

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    started = set(RssSampler.descendants())  # workers outlive the JVM briefly
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    end = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < end:
        time.sleep(0.2)


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_read", "bytes_sent", "bytes_written")):
        return "bytes"
    if name.endswith(("frac", "ratio", "skew", "per_input_byte")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    return setup_child(args) if args.setup_child else run(args)


if __name__ == "__main__":
    sys.exit(main())
