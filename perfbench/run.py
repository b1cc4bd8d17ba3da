"""Benchmark entry point.

    python3 perfbench/run.py --workload doc_join --seed 1 --seconds 15 --trace 0

Runs one seeded workload against ``pyramids_spark`` in a single driver at
``local[4]`` (closed loop, one client: ops run one after another; the only
concurrency is the flagship's audit ‖ join). Every op output is checked
against a numpy reference. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A per-metric summary (median, sample count, tail
percentile) goes to stderr.

Run shape (``--trace 0``): start the session and write/read the seed's
fixtures (untimed); set up three times (session start + input load/persist;
the first counts from process start and includes the JVM launch, the others
restart the session) and report the median as ``setup_s``; run one checked
but untimed warm-up pass (the session's first call into each op pays for
code generation and Python worker start); then run passes for ``--seconds``
(at least two) and report medians. A pass runs each step of the workload
its ``reps`` times in a row, so that short steps get more samples; a
step's sample is its wall per repetition. ``--trace 1`` sets up once,
checks a fixed sample pair by pair where the workload has one, and warms
up; then one plain pass in a fresh session, then the timed passes and
the single-layer probes in a session with Spark's event log on; then it
parses the log.
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
import warnings

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
CORES = 4
SETUPS = 3
MIN_PASSES = 2  # a median of one pass is that pass; two at least
PROBE_REPS = 3  # single-layer probes are short: report the median of three


def _environment() -> None:
    """Spark and its Python workers import the program from the checkout
    and keep their scratch files inside it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"  # the heap every figure was measured with
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    warnings.filterwarnings("ignore", category=UserWarning)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload_cls, seed: int, seconds: float):
        self.seconds = seconds
        self.spark = None
        self.wl = workload_cls(None, seed, WORK)
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0  # time spent checking outputs, left out of every wall
        self.spans: list = []  # eventlog.Span of traced passes and probes
        self.record_spans = False

    # --- session ---------------------------------------------------------
    def start(self, extra: dict[str, str] | None = None) -> None:
        from pyramids_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no JVM scratch outside the checkout (hsperfdata goes to /tmp whatever the tmpdir)
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            **(extra or {}),
        }
        self.spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.wl.spark = self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- ops -------------------------------------------------------------
    def run_op(self, op, pass_no: int, rep: int = 0) -> float | None:
        """Build then run one op and check its output; returns its wall
        time, or None when it raised or its output was wrong."""
        from perfbench.eventlog import Span

        self.attempted += 1
        sc = self.spark.sparkContext
        try:
            self.wl.desc(op.name, "build")
            t0 = time.time()
            built = op.build()
            t1 = time.time()
            self.wl.desc(op.name, "run")
            out = op.run(built)
            t2 = time.time()
        except Exception:  # a failing op is counted, the run goes on
            traceback.print_exc()
            return self._failed(op)
        finally:
            sc.setJobDescription(None)
        try:
            ok = op.check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            self.check_s += time.time() - t2
        if not ok:
            return self._failed(op)
        if self.record_spans:
            self.spans += [Span(op.name, "build", t0, t1, pass_no, rep), Span(op.name, "run", t1, t2, pass_no, rep)]
        return t2 - t0

    def _failed(self, op) -> None:
        self.failed += 1
        log(f"{self.wl.name}:{op.name} failed")

    def run_pass(self, pass_no: int, once: bool = False) -> dict:
        """Each step of the workload ``reps`` times in a row (once each with
        ``once``). A step's sample is its ops' summed wall per repetition,
        the mean over the repetitions; None when an op failed. ``ops`` keeps
        every op's walls."""
        t0, c0 = time.time(), self.check_s
        ops = {op.name: op for op in self.wl.ops()}
        walls: dict[str, list] = {name: [] for name in ops}
        steps = []
        for step, reps in zip(self.wl.steps, [1] * len(self.wl.steps) if once else self.wl.reps):
            w = [self.run_op(ops[name], pass_no, rep) for rep in range(reps) for name in step]
            for i, x in enumerate(w):
                walls[step[i % len(step)]].append(x)
            steps.append(None if None in w else sum(w) / reps)
        wall = time.time() - t0 - (self.check_s - c0)
        shown = ", ".join(
            f"{k} " + "/".join("failed" if v is None else f"{v:.2f}" for v in vs) + "s" for k, vs in walls.items()
        )
        log(f"pass {pass_no}: {wall:.2f}s ({shown})")
        return {"wall": wall, "ops": walls, "steps": steps}

    def measure(self, seconds: float, min_passes: int = MIN_PASSES) -> list[dict]:
        """Passes for ``seconds``, and at least ``min_passes``."""
        passes = []
        t0 = time.time()
        while len(passes) < min_passes or time.time() - t0 < seconds:
            passes.append(self.run_pass(len(passes)))
        return passes

    def warm_up(self) -> None:
        """One untimed pass: the session's first call into each op pays for
        code generation and Python worker start, which no later pass does."""
        self.run_pass(-1, once=True)

    def setup(self, n: int, extra=None, first: bool = False) -> list[float]:
        """Set up ``n`` times: session start + input load/persist; every
        set-up after the first restarts the session. Returns each set-up's
        seconds. With ``first`` the first set-up is timed from process
        start; the fixture and reference preparation it runs is left out."""
        samples = []
        for i in range(n):
            if i:
                self.stop()
            t0 = T_START if first and i == 0 else time.time()
            self.start(extra)
            session_s = time.time() - t0
            if first and i == 0:
                t = time.time()
                self.wl.prepare()
                log(f"prepare {time.time() - t:.2f}s (untimed)")
            t1 = time.time()
            self.wl.load()
            load_s = time.time() - t1
            samples.append(session_s + load_s)
            log(f"set-up {i}: session {session_s:.2f}s, load {load_s:.2f}s")
        return samples

    # --- modes -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        setups = self.setup(SETUPS, first=True)
        self.warm_up()
        passes = self.measure(self.seconds)
        out = {"setup_s": median(setups), "pass_s": median([p["wall"] for p in passes])}
        self.samples = {"setup_s": setups, "pass_s": [p["wall"] for p in passes]}
        for i, step in enumerate(self.wl.steps, start=1):
            walls = [p["steps"][i - 1] for p in passes if p["steps"][i - 1] is not None]
            out[f"op{i}_s"] = median(walls)
            self.samples[f"op{i}_s"] = walls
        return out

    def extra_checks(self) -> None:
        if hasattr(self.wl, "sample_op"):
            self.run_op(self.wl.sample_op(), -2)

    def traced(self) -> dict[str, float]:
        from perfbench import eventlog, layers

        # the untraced pass comes from the session just before the traced
        # one, so both are the first pass of a session; the JVM's first
        # session, far colder, only warms up
        self.setup(1, first=True)
        self.extra_checks()
        self.warm_up()
        self.stop()
        self.setup(1)
        plain = self.run_pass(0)
        self.stop()
        log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        self.setup(1, extra=eventlog.conf(log_dir))
        self.record_spans = True
        passes = self.measure(self.seconds)
        probes = {}
        for name, fn in self.wl.probes():
            walls = []
            for rep in range(PROBE_REPS):
                self.wl.desc(name, "probe")
                t0 = time.time()
                out = fn()
                walls.append(time.time() - t0)
                self.spans.append(eventlog.Span(name, "probe", t0, time.time(), -3 - rep))
            probes[name] = (median(walls), out)
        self.record_spans = False
        self.stop()
        log = eventlog.EventLog.read(eventlog.latest_log(log_dir))
        shutil.rmtree(log_dir, ignore_errors=True)
        return layers.per_layer(self.wl, log, self.spans, passes, plain, probes, CORES)


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Shut the py4j gateway and its JVM down and wait until every process
    this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench import rss

    children = rss.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while alive := [p for p in children if rss.running(p)]:
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def _summary(samples: dict[str, list[float]]) -> None:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (when there are more than ten)."""
    for name, xs in samples.items():
        line = f"perfbench: {name} median={median(xs):.4f} n={len(xs)}"
        if len(xs) > 10:
            q = 100 * (1 - 10 / len(xs))
            line += f" p{q:.0f}={statistics.quantiles(xs, n=100)[int(q) - 1]:.4f}"
        print(line, file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyramids_spark", "__init__.py")):
        print(f"perfbench: no pyramids_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    from perfbench import declared, rss
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds)
    with rss.PeakRss() as peak:
        try:
            if args.trace:
                values = bench.traced()
            else:
                values = bench.end_to_end()
                values["peak_rss_mb"] = peak.peak_mb
                parts = ", ".join(f"{b / 2**20:.0f}" for b in sorted(peak.peak_parts, reverse=True))
                log(f"peak rss {peak.peak_mb:.0f} MB over {len(peak.peak_parts)} processes ({parts} MB)")
        finally:
            bench.stop()
            stop_jvm()
    if args.trace:
        values["fail_frac"] = bench.failed / bench.attempted
    else:
        _summary(bench.samples)
    kind = "per_layer" if args.trace else "end_to_end"
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": declared.render(kind, values),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
