"""Anonymization-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload anon_lineitem --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The workloads (workloads.py)
are closed loops with one client: each pass runs to completion before
the next starts, on ``local[4]`` in one driver process.

``--trace 0`` prints the end-to-end metrics: set-up time, the first
pass in the fresh process, and medians over the warm passes measured
for ``--seconds``, at least the workload's ``min_warm_passes`` of them.
``--trace 1`` alternates traced and untraced warm passes for
``--seconds`` and prints per-layer medians from the traced
ones (spans.py), the tracing overhead against the untraced ones, the
eps_join isolation probe and the exact counts.

Human-readable lines go to stdout first; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Every file the run writes stays under ``.perfbench_work/`` in the
checkout, and is removed on exit.
"""

import time

T_PROCESS = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

CORES = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYERS = (
    "sources", "eps_join", "eps_sweep", "dbscan", "components",
    "anonymize", "kmember", "dedup", "similarity", "driver",
)
LAYER_METRICS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "slot_util": "ratio",
}
COUNTS = (
    "dbscan.reps", "eps_join.pairs", "components.edges", "anonymize.clusters",
    "anonymize.noise_rows", "kmember.iters", "dedup.pairs", "similarity.edges",
)


def parse_args():
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def start_spark(tmp: str):
    """Session as the engine builds it, with every scratch file under
    ``tmp``; returns (spark, set-up seconds incl. a first trivial job)."""
    os.makedirs(tmp)  # tempfile ignores a TMPDIR that does not exist
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says; the launcher JVM of spark-submit takes its flags from here.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    from dbscan_pyspark_spark.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the store must still hold a pass's first stage when the
            # pass ends; a pass runs up to a few hundred stages
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - T_PROCESS


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reset_between_passes(spark, wl) -> None:
    """Passes stay independent: drop the last pass's frames, cached
    data and local checkpoints."""
    wl.points = None
    gc.collect()
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, wl, store, tracer):
        self.spark, self.wl, self.store, self.tr = spark, wl, store, tracer
        self.attempted = self.failed = self.rows = 0
        self.info_loss: list[float] = []
        self.facts: dict[str, float] = {}

    def one_pass(self, traced: bool):
        """Run one pass; returns (wall s, executor totals, layer totals),
        or None when it raised. A pass that fails its output check still
        returns its measurements, and counts as failed."""
        from workloads import SITES

        self.attempted += 1
        self.tr.enabled = traced
        self.tr.reset()
        m0, t0 = self.store.mark(), time.perf_counter()
        try:
            if traced:
                with self.tr.patched(SITES):
                    res = self.wl.run_pass(self.spark, self.tr)
            else:
                res = self.wl.run_pass(self.spark, self.tr)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        t1, m1 = time.perf_counter(), self.store.mark()
        if res.errors:
            print(f"pass {self.attempted} failed its check: {res.errors}", file=sys.stderr)
            self.failed += 1
        totals = self.store.totals(m0, m1)
        layers = self.tr.layer_totals(t0, t1, m0, m1) if traced else None
        if traced:
            self.facts.update(res.facts)
            self.facts["components.edges"] = sum(
                args[0].count() for args in self.tr.calls.get("components", [])
            )
        self.info_loss.append(res.info_loss)
        self.rows = res.rows
        return t1 - t0, totals, layers

    def probe(self):
        """The workload's isolation probe, traced; returns layer totals."""
        self.tr.enabled = True
        self.tr.reset()
        m0, t0 = self.store.mark(), time.perf_counter()
        self.facts.update(self.wl.probe(self.spark, self.tr))
        layers = self.tr.layer_totals(t0, time.perf_counter(), m0, self.store.mark())
        layers.pop("driver", None)  # probe set-up is not pass work
        return layers


def end_to_end(run: Runner, setup_s: float, seconds: float):
    first = run.one_pass(False)
    warm = []
    min_warm = run.wl.min_warm_passes
    t_warm = time.perf_counter()
    while time.perf_counter() - t_warm < seconds or len(warm) < min_warm:
        reset_between_passes(run.spark, run.wl)
        r = run.one_pass(False)
        if r is not None:
            warm.append(r)
        if run.attempted > 4 * min_warm and not warm:
            break
    if first is None or not warm:
        raise RuntimeError("no successful first and warm pass")
    wall = median([w for w, _, _ in warm])
    print(
        "# passes (wall s / jobs / executor cpu s): first "
        + ", warm ".join(f"{w:.2f}/{t['jobs']:.0f}/{t['cpu_s']:.2f}" for w, t, _ in [first, *warm])
    )
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (first[0], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (run.rows / wall, "1/s"),
        "cpu_s": (median([t["cpu_s"] for _, t, _ in warm]), "s"),
        "driver_peak_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
        "info_loss": (median(run.info_loss), "l1"),
    }, len(warm)


def per_layer(run: Runner, seconds: float):
    if run.one_pass(False) is None:  # warm-up, not reported
        raise RuntimeError("warm-up pass failed")
    # Each round runs a traced pass, then an untraced one. The traced
    # pass of the first round is the second pass in the process, like
    # the warm pass of the end-to-end run. The untraced pass after it
    # runs on a JVM one pass warmer, so trace.overhead_frac is an upper
    # bound.
    plain, traced = [], []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or not (plain and traced):
        for is_traced, out in ((True, traced), (False, plain)):
            reset_between_passes(run.spark, run.wl)
            r = run.one_pass(is_traced)
            if r is not None:
                out.append(r)
        if run.attempted > 12 and not (plain and traced):
            break
    if not (plain and traced):
        raise RuntimeError("no successful traced and untraced pass")
    probe = run.probe()  # reads the last pass's points and best ε

    metrics = {}
    for layer in LAYERS:
        samples = [
            (probe if layer == "eps_join" else layers).get(layer, {})
            for _, _, layers in traced
        ]
        for m, unit in LAYER_METRICS.items():
            if m == "slot_util":
                vals = [
                    s["task_s"] / (s["self_s"] * CORES) if s.get("self_s", 0) > 0 else 0.0
                    for s in samples
                ]
            else:
                vals = [s.get(m, 0.0) for s in samples]
            metrics[f"{layer}.{m}"] = (median(vals), unit)
    for c in COUNTS:
        metrics[c] = (float(run.facts.get(c, 0)), "count")
    plain_wall = median([w for w, _, _ in plain])
    traced_wall = median([w for w, _, _ in traced])
    metrics["pass.wall_s"] = (plain_wall, "s")
    metrics["pass.task_s"] = (median([t["task_s"] for _, t, _ in plain]), "s")
    metrics["trace.overhead_frac"] = (traced_wall / plain_wall - 1.0, "ratio")
    layer_task = median(
        [sum(v["task_s"] for v in layers.values()) for _, _, layers in traced]
    )
    print(
        f"# traced passes {len(traced)}, untraced {len(plain)}; "
        f"sum of layer task_s {layer_task:.3f} s vs traced pass total "
        f"{median([t['task_s'] for _, t, _ in traced]):.3f} s, untraced "
        f"{metrics['pass.task_s'][0]:.3f} s"
    )
    return metrics, len(traced)


def main() -> int:
    args = parse_args()
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    sys.path.insert(0, ROOT)  # the engine is imported from the checkout
    spark = None
    try:
        spark, setup_s = start_spark(os.path.join(work, "tmp"))
        from spans import StatusStore, Tracer

        wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
        t = time.perf_counter()
        wl.generate()
        print(f"# {args.workload} seed {args.seed}: inputs in {time.perf_counter() - t:.2f} s")
        store = StatusStore(spark)
        run = Runner(spark, wl, store, Tracer(store, enabled=False))
        if args.trace:
            metrics, n = per_layer(run, args.seconds)
        else:
            metrics, n = end_to_end(run, setup_s, args.seconds)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    print(f"# {n} measured passes; {run.failed} of {run.attempted} passes failed")
    if not args.trace:
        print(f"{'failed_frac':<28} {run.failed / run.attempted:>14.6g} ratio")
    for name, (value, unit) in metrics.items():
        print(f"{name:<28} {value:>14.6g} {unit}")
    if any(not math.isfinite(v) for v, _ in metrics.values()):
        raise RuntimeError("a metric is not finite")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
