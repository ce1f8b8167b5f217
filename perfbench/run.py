"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is an ``info`` object (core count,
1-minute load, pass and set-up times, errors, tracing overhead). With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. See perfbench/README.md.
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
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402 - needs ROOT on sys.path
    LAYER_METRICS,
    LAYER_UNITS,
    LAYERS,
    Tracer,
    process_tree,
    read_event_log,
    reduce_layers,
    task_records,
    tree_cpu_s,
)

# Set-ups per run; setup_s is their median.
SETUPS = 5
DRIVER_MEMORY = "2g"


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (driver JVM and Python
    workers), sampled from ``/proc``. A level counts only once two
    samples in a row reach it: a child caught between fork and exec
    reports its parent's whole RSS for an instant, which would double
    the JVM's share."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._last = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, min(total, self._last))
        self._last = total

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)
        self.sample()


def make_session(root: str, trace: bool):
    from deftunes_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.driver.memory": DRIVER_MEMORY,
        # A fixed, pre-touched heap keeps peak RSS from following the
        # collector's heap sizing; heap pressure shows in gc_s instead.
        # No perf-data file: it would go to /tmp, outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={root}/tmp"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(root, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{len(os.sched_getaffinity(0))}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes(spark) -> None:
    """Stop Spark (when ``spark`` is given), then the driver JVM, and
    wait until every process this run started has ended. Pass ``None``
    after a signal: the py4j link may be mid-command, so the JVM is
    stopped by closing its stdin instead."""
    from pyspark import SparkContext

    others = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for grace_s, sig in ((30, None), (10, signal.SIGKILL)):
        if sig is not None:
            for pid in others:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.time() + grace_s
        while others and time.time() < deadline:
            others = [p for p in others if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)


def cpu_times() -> list[int]:
    """Host-wide ``/proc/stat`` CPU counters (user ... steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def quantile(values: list[float], k: int) -> float:
    """k-th decile (k in 1..9) of ``values``."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10)[k - 1]


def operations(run, walls) -> dict:
    """Operation rate and latency percentiles, pooled over kinds."""
    lat = run.latencies
    if not lat:
        return {}
    return {
        "operations": len(lat),
        "op_ms": [round(1000 * x, 1) for x in lat],
        "qps": len(lat) / sum(walls),
        "query_p50_ms": 1000 * statistics.median(lat),
        "query_p90_ms": 1000 * quantile(lat, 9),
    }


def end_to_end(w, run, setups, walls, rss_peak) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "stored_bytes_per_input_byte": (
            w.stored_bytes(run) / w.input_bytes(),
            "ratio",
        ),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
    }


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(w, run, spans, tasks, job_counts, passes, overhead) -> dict:
    """Per-layer totals per pass, plus the layer-specific ratios."""
    layers = reduce_layers(spans, tasks, job_counts)
    out = {
        f"{layer}.{m}": (layers[layer].get(m, 0.0) / passes, unit)
        for layer in LAYERS
        for m, unit in zip(LAYER_METRICS, LAYER_UNITS)
    }
    extras = w.layer_extras(run, passes)
    wr, q, md, tok = (
        layers[k] for k in ("io.writers", "quality", "models", "ext.tokenizer")
    )
    out.update(
        {
            "io.writers.write_amp": (
                ratio(wr.get("output_bytes", 0) / passes, extras.get("zone_bytes")),
                "ratio",
            ),
            "quality.jobs_per_gate": (ratio(q.get("jobs", 0), q.get("calls")), "count"),
            "models.plan_ms_per_query": (
                ratio(1000 * md.get("driver_s", 0.0), md.get("calls")),
                "ms",
            ),
            "ext.tokenizer.tokens_per_cpu_s": (
                ratio(extras.get("tokens", 0), tok.get("cpu_s", 0.0) / passes),
                "1/s",
            ),
            "tracing.overhead": (overhead, "ratio"),
        }
    )
    for name, unit in (
        ("io.versioned.space_amp", "ratio"),
        ("io.versioned.commits", "count"),
        ("pipeline.attempts_per_task", "ratio"),
        ("ext.dedup.pair_precision", "ratio"),
        ("ext.dedup.planted_recall", "ratio"),
        ("ext.curation.planted_recall", "ratio"),
    ):
        out[name] = (extras.get(name, 0.0), unit)
    return out


def main(argv: list[str]) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        from perfbench import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    import tempfile

    tempfile.tempdir = None

    terminated = []

    def on_term(signum, _frame):
        terminated.append(signum)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        setups = []
        for i in range(SETUPS):
            t0 = t_start if i == 0 else time.time()
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(root, "data"), ignore_errors=True)
                shutil.rmtree(os.path.join(root, "warehouse"), ignore_errors=True)
            spark = make_session(root, bool(args.trace))
            w = workloads.WORKLOADS[args.workload]()
            tracer = Tracer(spark)
            run = workloads.Run(spark, tracer, root, args.seed)
            w.setup(run)
            setups.append(time.time() - t0)

        # Timed passes: whole passes until --seconds have elapsed.
        tracer.enabled = bool(args.trace)
        walls: list[float] = []
        cpus: list[float] = []
        host0 = cpu_times()
        t_timed = time.time()
        while not walls or time.time() - t_timed < args.seconds:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            w.run_pass(run)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            tracer.enabled = False
            try:
                w.check(run)
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                run.check(f"output check raised {exc!r}", False)
            tracer.enabled = bool(args.trace)
        tracer.enabled = False
        host = [b - a for a, b in zip(host0, cpu_times())]
        sampler.stop()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": len(os.sched_getaffinity(0)),
            "load1": os.getloadavg()[0],
            "setup_s": setups,
            "pass_s": walls,
            "pass_cpu_s": cpus,
            # share of host CPU time taken by the hypervisor (steal)
            "steal_share": host[7] / max(1, sum(host)),
            "fail_rate": run.failed / max(1, run.attempted),
            "errors": run.errors[:5],
            **operations(run, walls),
        }
        if args.trace:
            job_counts = tracer.job_counts()
            app_id = spark.sparkContext.applicationId
            spark.stop()
            tasks = task_records(
                read_event_log(os.path.join(root, "eventlog", app_id))
            )
            extra = tracer.overhead_s()
            overhead = extra / max(1e-9, sum(walls) - extra)
            info["trace_overhead"] = overhead
            info["jobs_stages_tasks"] = {
                layer: [row.get(k, 0) / len(walls) for k in ("jobs", "stages", "tasks")]
                for layer, row in reduce_layers(tracer.spans, [], job_counts).items()
                if row.get("calls")
            }
            metrics = per_layer(
                w, run, tracer.spans, tasks, job_counts, len(walls), overhead
            )
        else:
            metrics = end_to_end(w, run, setups, walls, sampler.peak_bytes)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sampler.stop()
        stop_processes(None if terminated else spark)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
