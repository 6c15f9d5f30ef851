"""Benchmark driver: one workload, one process, one closed-loop caller.

    python3 perfbench/run.py --workload token_search --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The driver starts Spark through the
library's ``get_spark`` at local[<usable cores>], builds the workload's inputs
from ``--seed``, runs untimed warm-up passes, then timed passes, each
starting when the previous one returned, until ``--seconds`` is used up
(at least ``MIN_PASSES``).  Every pass's output is checked against the
planted truth.  It prints one ``name = value unit`` line per metric and,
last, a JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs untraced
and then traced passes and reports the per-layer metrics of the traced ones
(see ``trace.py``); spans are written to ``.bench_out/``.

Scratch files (checkpoints, stores, Spark's local dirs) live in a fresh
directory under ``.bench_tmp/`` in the checkout, on the checkout's
filesystem, and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a third timed pass does not fit the run budget; see the README
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "items_per_s": "1/s",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "pass_ok_frac": "ratio",
    "py_peak_rss_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    return p.parse_args(argv)


def _session(tmp: str):
    from vid_dup_finder_lib_spark.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    spark = get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # keep the JVM's temp files in the checkout; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, spark, tmp: str):
        from perfbench.check import PassLog
        from perfbench.procstat import ProcTree
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.spark = spark
        self.procs = ProcTree()
        self.log = PassLog()
        self.wl = WORKLOADS[args.workload](spark, args.seed, tmp, size=args.size)
        self.i = 0
        self.tracer = None

    def one_pass(self, traced: bool = False) -> tuple[float, float] | None:
        """Run and check pass ``self.i``; (wall, cpu) or None if it raised."""
        i, self.i = self.i, self.i + 1
        if traced:
            self.tracer.begin_pass(f"bench-p{i}")
            self.tracer.install()
        c0, t0 = self.procs.cpu(), time.perf_counter()
        try:
            rows = self.wl.run_pass(i)
        except Exception as e:  # one failed pass must not end the run
            traceback.print_exc(file=sys.stderr)
            self.log.record_error(f"pass {i}: {e!r}")
            return None
        finally:
            wall = time.perf_counter() - t0
            cpu = (self.procs.cpu() - c0).total
            if traced:
                self.tracer.uninstall()
        verdict = self.wl.check(rows)
        self.log.record(verdict)
        print(f"perfbench: pass {i} wall={wall:.3f}s cpu={cpu:.2f}s "
              f"recall={verdict.recall} precision={verdict.precision}", file=sys.stderr)
        return wall, cpu


def run(args, tmp: str) -> dict:
    t0 = time.perf_counter()
    spark = _session(tmp)
    try:
        r = Runner(args, spark, tmp)
        t_session = time.perf_counter() - t0
        inputs = r.wl.generate()
        t_gen = time.perf_counter() - t0 - t_session
        r.wl.prepare(inputs)
        print(f"perfbench: session {t_session:.2f}s, generate {t_gen:.2f}s, "
              f"prepare {time.perf_counter() - t0 - t_session - t_gen:.2f}s", file=sys.stderr)
        for _ in range(r.wl.warmup):
            r.one_pass()
            r.wl.after_pass()
        setup = time.perf_counter() - t0

        if args.trace:
            metrics = _traced_loop(r)
        else:
            metrics = _timed_loop(r, setup)
        metrics_out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    finally:
        _stop(spark)
    return {
        "correct": r.log.failed == 0 and r.log.attempted > 0,
        "attempted": r.log.attempted,
        "failed": r.log.failed,
        "metrics": metrics_out,
    }


def _keep_going(start: float, walls: list[float], seconds: float) -> bool:
    """Start another pass while fewer than ``MIN_PASSES`` have run or the
    next one is expected to end inside the budget."""
    if len(walls) < MIN_PASSES:
        return True
    return time.perf_counter() - start + statistics.median(walls) <= seconds


def _bytes_since(root: str, since_ns: int, skip: str | None = None) -> int:
    """Bytes in files under ``root`` written at or after ``since_ns``."""
    total = 0
    for dirpath, dirnames, files in os.walk(root):
        if skip is not None and os.path.abspath(dirpath) == os.path.abspath(skip):
            dirnames[:] = []
            continue
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total


def _timed_loop(r: Runner, setup: float) -> dict[str, tuple[float, str]]:
    walls, cpus = [], []
    start = time.perf_counter()
    while _keep_going(start, walls, r.args.seconds):
        out = r.one_pass()
        r.wl.after_pass()
        if out is not None:
            walls.append(out[0])
            cpus.append(out[1])
        elif not walls and r.log.attempted > 4 * MIN_PASSES:
            break  # nothing succeeds: stop early and report the failure
    rss = r.procs.peak_rss_mb()
    print(f"perfbench: peak rss MB {rss}", file=sys.stderr)
    values = {
        "setup_s": setup,
        "wall_s": statistics.median(walls) if walls else 0.0,
        "cpu_s": statistics.median(cpus) if cpus else 0.0,
        "items_per_s": r.wl.items * len(walls) / sum(walls) if walls else 0.0,
        "pair_recall": r.log.recall(),
        "pair_precision": r.log.precision(),
        "pass_ok_frac": 1.0 - r.log.error_rate,
        "py_peak_rss_mb": rss["driver"] + rss["worker"],
    }
    return {k: (values[k], u) for k, u in END_TO_END.items()}


def _traced_loop(r: Runner) -> dict[str, tuple[float, str]]:
    """One untraced cycle, then traced cycles while time allows.

    A cycle is the workload's repeating unit of passes (``fold_batches``:
    one add and one delete), so traced and untraced walls compare like with
    like.  A per-layer value is the per-pass mean over a cycle, then the
    median across cycles."""
    from perfbench.trace import Tracer, metric_units
    r.tracer = Tracer(r.spark, r.procs)
    units = metric_units()
    start = time.perf_counter()
    plain = []
    for _ in range(r.wl.cycle):
        out = r.one_pass()
        r.wl.after_pass()
        plain.append(out[0] if out else None)
    cycles, spans = [], []
    while not cycles or (time.perf_counter() - start
                         + statistics.median(c[0] for c in cycles) <= r.args.seconds):
        walls, per_pass = [], []
        for _ in range(r.wl.cycle):
            since = time.time_ns()
            out = r.one_pass(traced=True)
            wall = out[0] if out else None
            m = r.tracer.layer_metrics(wall or 0.0)
            for key, (root, skip) in r.wl.store_dirs().items():
                m[f"{key}.bytes_written_mb"] = _bytes_since(root, since, skip) / 2**20
            per_pass.append(m)
            spans.append({"pass": r.i - 1, "wall": wall, "spans": r.tracer.span_records()})
            r.tracer.end_pass()
            r.wl.after_pass()
            walls.append(wall)
        if None in walls:
            break  # a traced pass failed; the log already counts it
        cycles.append((sum(walls), {k: statistics.fmean(m[k] for m in per_pass) for k in units}))
    values = {k: statistics.median(c[1][k] for c in cycles) if cycles else 0.0 for k in units}
    if cycles and None not in plain:
        values["trace.overhead_frac"] = statistics.median(c[0] for c in cycles) / sum(plain) - 1
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{r.args.workload}-{r.args.seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f)
    return {k: (values[k], u) for k, u in units.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    try:
        import pyspark  # noqa: F401
        import vid_dup_finder_lib_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the library under {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(tmp)
    # Python workers import the library and this package from the checkout;
    # temp files of every process stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
