"""Run one benchmark workload against the engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

The run generates its inputs from ``--seed`` under a scratch directory
inside the checkout, starts the engine's default session
(``session.get_spark`` on ``local[<cores>]``) three times to time set-up,
burns in, then runs closed-loop operations for ``--seconds`` seconds of
operation time (and at least the workload's ``min_ops`` operations),
checking every operation's output.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics of ``perfbench/metrics.py`` with ``--trace 1``).  Lines before it
name each metric in the workload's own terms (``batch_p50_s``,
``queries_per_s``, ``recall_at_10``, ...) with its unit, and list every
set-up time and operation latency of the run.

With ``--trace 1`` every second operation is traced and the others are
not; the per-layer metrics come from the traced ones and
``trace.overhead_ratio`` compares the two medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "signal_messenger_vector_database_spark"
SETUPS = 3  # set-up repetitions; setup_s is their median
# untimed, checked operations between set-up and measurement: the first
# operations after set-up run up to 1.5x slower while the JVM compiles
# their paths, which would otherwise leak into the medians
BURN_IN_SECONDS = 5.0


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, put the checkout on the workers' import path, size the
    session to the cores this process may use, and drop engine
    overrides (``SMVD_*``) so the default configuration runs."""
    import tempfile

    for key in [k for k in os.environ if k.startswith("SMVD_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled every 0.2 s; also remembers every process it saw."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.seen: set[int] = set()
        self._stop_event = threading.Event()

    def sample(self) -> None:
        tree = process_tree(self.jvm_pid)
        self.seen.update(tree)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))

    def run(self) -> None:
        while not self._stop_event.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def shutdown(spark, pids: set[int]) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process of the JVM's tree has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample.  Below 21 samples that
    would fall under the median, so the median is reported."""
    n = len(values)
    if n < 21:
        return statistics.median(values), 0.5
    return sorted(values)[n - 11], (n - 10) / n


def _operate(wl, spark, tr, i: int, tracing: bool):
    """One operation; one that raises comes back failed."""
    from perfbench.workloads import OpResult

    first = len(tr.spans)
    tr.enabled = tracing
    t0 = time.perf_counter()
    try:
        r = wl.op(spark, i)
    except Exception as e:  # noqa: BLE001 -- counted in failed_ops_ratio
        r = OpResult(time.perf_counter() - t0, 0, [f"raised {e!r}"[:500]])
    finally:
        tr.enabled = False
    if tracing:
        tr.read_spark_metrics(first)
    return r


def _loop(wl, spark, tr, first: int, seconds: float, trace: bool, min_ops: int = 1):
    """Closed loop from operation ``first`` until the operations' summed
    latency reaches ``seconds`` and ``min_ops`` untraced operations ran;
    with ``trace`` every second operation is traced.  Returns (untraced
    results, traced results)."""
    timed, traced = [], []
    i, busy, give_up = first, 0.0, time.monotonic() + 4 * seconds + 60
    while (busy < seconds or len(timed) < min_ops or (trace and not traced)) and (
        time.monotonic() < give_up
    ):
        tracing = trace and i % 2 == 1
        r = _operate(wl, spark, tr, i, tracing)
        (traced if tracing else timed).append(r)
        busy += r.latency
        i += 1
    return timed, traced


def run(args, work: str) -> tuple[dict, list[str]]:
    import signal_messenger_vector_database_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise SystemExit(f"{PACKAGE} imported from {pkg.__file__}, not from {ROOT}")
    from signal_messenger_vector_database_spark.operators import ivf_index
    from signal_messenger_vector_database_spark.session import get_spark

    from perfbench import metrics, trace
    from perfbench.workloads import BURN_IN_OFFSET, WORKLOADS

    tr = trace.Tracer()
    wl = WORKLOADS[args.workload](work, args.seed, tr)
    wl.generate()
    warm, setup_times, spark, sampler = [], [], None, None
    try:
        for s in range(SETUPS):
            if spark is not None:
                tr.sc = None
                spark.stop()
            tr.enabled = bool(args.trace)  # set-up traces only the session start
            first = len(tr.spans)
            t0 = time.perf_counter()
            with tr.request(f"setup-{s}"):
                with tr.span("session"):
                    spark = get_spark("perfbench")
                tr.enabled = False
                spark.sparkContext.setLogLevel("ERROR")
                tr.sc = spark.sparkContext
                if sampler is None:
                    sampler = RssSampler(spark._jvm.ProcessHandle.current().pid())
                warm.append(wl.setup(spark))
            setup_times.append(time.perf_counter() - t0)
            tr.read_spark_metrics(first)

        burn_in, _ = _loop(wl, spark, tr, BURN_IN_OFFSET, BURN_IN_SECONDS, False)
        warm += burn_in

        sampler.sample()
        sampler.start()
        heal0 = ivf_index.memo_heal_count()
        # the traced run reports no tail, so it needs no minimum
        timed, traced = _loop(wl, spark, tr, 0, args.seconds, bool(args.trace),
                              1 if args.trace else wl.min_ops)
        sampler.stop()
        heals = ivf_index.memo_heal_count() - heal0
    finally:
        tr.sc = None
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if spark is not None:
            pids = sampler.seen | set(process_tree(sampler.jvm_pid)) if sampler else set()
            shutdown(spark, pids)

    all_ops = warm + timed + traced
    failed = sum(1 for r in all_ops if r.failures)
    lat = [r.latency for r in timed]
    tail_s, tail_pct = tail(lat)
    items_per_s = sum(r.items for r in timed) / sum(r.latency for r in timed)
    e2e = {
        "setup_s": statistics.median(setup_times),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_s,
        "items_per_s": items_per_s,
    }
    peak_rss_mb = sampler.peak / 2**20
    if args.trace:
        spans = tr.spans
        op_spans = [s for s in spans if not s.request.startswith("setup")]
        values = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        values.update(trace.layer_metrics(spans, len(traced), SETUPS))
        values.update(wl.layer_counts(len(traced), op_spans))
        values["ivf_index.memo_heal_count"] = float(heals)
        values["session.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_ratio"] = (
            statistics.median(r.latency for r in traced) / statistics.median(lat) - 1
        )
        out_metrics = values
    else:
        out_metrics = e2e

    lines = _summary(args, e2e, setup_times, burn_in, timed, all_ops, failed, tail_pct,
                     peak_rss_mb)
    for r in all_ops:
        for f in r.failures[:3]:
            lines.append(f"# failed: {f}")
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": metrics.UNITS[k]} for k, v in out_metrics.items()
        },
    }
    return result, lines


def _summary(args, e2e, setup_times, burn_in, timed, all_ops, failed, tail_pct, rss):
    """The workload's metrics under their workload-specific names, one per line."""
    sample = {"ingest": "batch", "serve": "query"}[args.workload]
    rows = [
        ("setup_s", e2e["setup_s"], "s"),
        (f"{sample}_p50_s", e2e["latency_p50_s"], "s"),
        (f"{sample}_tail_s", e2e["latency_tail_s"], "s"),
    ]
    recalls = [r.recall for r in timed if r.recall is not None]
    if recalls:
        rows.append(("recall_at_10", statistics.fmean(recalls), "ratio"))
    per_s = {"ingest": "msgs_per_s", "serve": "queries_per_s"}[args.workload]
    rows += [
        (per_s, e2e["items_per_s"], "1/s"),
        ("failed_ops_ratio", failed / len(all_ops), "ratio"),
        ("peak_rss_mb", rss, "MB"),
    ]

    def secs(xs):
        return " ".join(f"{x:.3f}" for x in xs)

    return [
        f"# perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"operations={len(timed)} tail=p{100 * tail_pct:.0f}",
        f"# set-up times (s): {secs(setup_times)}",
        f"# burn-in operation latencies (s): {secs(r.latency for r in burn_in)}",
        f"# operation latencies (s): {secs(r.latency for r in timed)}",
    ] + [f"{k} {v:.6g} {u}" for k, v, u in rows]


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ is missing from {ROOT}; run it from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        hermetic_env(work)
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
