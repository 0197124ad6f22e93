"""Feature-store benchmark: one seeded workload, measured from outside.

    python3 perfbench/run.py --workload online_serve --seed 1 --seconds 15 --trace 0

Generates the workload's inputs and their expected answers from
``--seed`` (``gen.py`` and ``oracle.py``, in a child process), starts
Spark through ``embeddinghub_spark.session.get_spark`` with
``SPARK_GRAFT_CPUS`` = the usable cores, sets the workload up several
times, then runs its closed loop (one client) for ``--seconds`` and
checks every result against the expected answers.

Prints a report, then as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer metrics, from a run whose loop periods
alternate untraced and traced, so the difference is the tracing
overhead. Everything it writes stays under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3


class Loop:
    """Times operations; a failing or wrong operation is counted, never raised."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0  # the oracle's own time, excluded from set-up

    def op(self, kind: str, fn, check=None):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn()
            else:
                with self.tracer.request(kind):
                    out = fn()
        except Exception:  # noqa: BLE001 - the benchmark must keep running
            self._fail(kind, traceback.format_exc())
            return None
        t1 = time.perf_counter()
        self.lat[kind].append(t1 - t0)
        if check is not None:
            try:
                ok = check(out)
            except Exception:  # noqa: BLE001
                ok = False
                print(traceback.format_exc(), file=sys.stderr)
            if not ok:
                self._fail(kind, "result differs from the oracle")
            self.check_s += time.perf_counter() - t1
        return out

    def _fail(self, kind: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {kind} failed: {why}", file=sys.stderr)

    def run_cycle(self, steps, cycle: int) -> None:
        """Issue one period of the schedule: every window of ``cycle``
        consecutive steps of a periodic schedule holds every kind."""
        for _ in range(cycle):
            self.op(*next(steps))


def end_to_end(wl, lat, setup_s: float) -> dict[str, float]:
    """The gated metrics, all from per-kind medians, which bursts of load
    from other tenants of the machine move less than means do.
    ``ops_per_s`` is one client's throughput at the workload's mix
    (``wl.mix`` calls of each kind), each call taking its kind's median.
    A kind whose every call failed has no latency and is left out; the
    run is then reported incorrect anyway."""
    from perfbench.stats import gmean, median

    p50 = {k: median(v) for k, v in lat.items() if v}
    gm = [p50[k] * 1e3 for k in wl.kinds if k in p50]
    mix = {k: n for k, n in wl.mix.items() if k in p50}
    busy = sum(n * p50[k] for k, n in mix.items())
    return {
        "setup_s": setup_s,
        "op_p50_gmean_ms": gmean(gm) if gm else 0.0,
        "ops_per_s": sum(mix.values()) / busy if busy else 0.0,
        "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description="feature-store benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("offline_batch", "online_serve", "table_upsert", "corpus_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: Path):
    from embeddinghub_spark import session

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    spark = session.get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-s{args.seed}-{os.getpid()}"
    # keep every temporary file of this process and of the JVM in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))
    try:
        import embeddinghub_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import stats
    from perfbench.trace import Tracer, instrumented, layer_metrics
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    subprocess.run([sys.executable, str(ROOT / "perfbench" / "gen.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--out", str(data)],
                   check=True, timeout=300)

    tracer = Tracer()
    t0 = time.perf_counter()
    spark, cores = start_spark(work)
    session_s = time.perf_counter() - t0
    tracer.record("session.get_spark", t0, t0 + session_s)
    tracer.attach(spark.sparkContext)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, str(data), str(work))
        # set up SETUP_REPS times; the first, cold set-up is followed by
        # an untimed warm-up: one period, which issues every operation kind
        warm = Loop()
        reps = []
        for rep in range(SETUP_REPS):
            wl.rep = rep
            t = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t)
            steps = wl.steps()
            if rep == 0:
                t = time.perf_counter()
                warm.run_cycle(steps, wl.cycle)
                t_warm = time.perf_counter() - t - warm.check_s
        setup_s = session_s + t_warm + stats.median(reps)

        loop = Loop()
        if not args.trace:
            # a whole period first, so every kind has a median; the metrics
            # weigh kinds by the mix, so a partly issued last period shifts
            # no weight
            end = time.perf_counter() + args.seconds
            loop.run_cycle(steps, wl.cycle)
            while time.perf_counter() < end:
                loop.op(*next(steps))
            attempted = warm.attempted + loop.attempted
            failed = warm.failed + loop.failed
            declared, values = spec["end_to_end"], end_to_end(wl, loop.lat, setup_s)
        else:
            # a traced set-up, then untraced and traced cycles alternating,
            # so that drift and late warm-up do not fall on one side
            rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            wl.rep = SETUP_REPS
            with instrumented(tracer):
                t = time.perf_counter()
                wl.setup()
                traced_setup_s = session_s + t_warm + time.perf_counter() - t
            steps = wl.steps()
            tloop = Loop(tracer)
            end = time.perf_counter() + args.seconds
            n = 0
            while n < 2 or time.perf_counter() < end:
                if n % 2:
                    with instrumented(tracer):
                        tloop.run_cycle(steps, wl.cycle)
                else:
                    loop.run_cycle(steps, wl.cycle)
                n += 1
            e2e = end_to_end(wl, loop.lat, setup_s)
            traced = end_to_end(wl, tloop.lat, traced_setup_s)
            wl.traced_extras()
            layers = layer_metrics(tracer)
            for k in e2e:
                layers[f"tracing.{k}.overhead"] = traced[k] - e2e[k]
            # peak RSS cannot be split between interleaved cycles: charge
            # all growth of the peak since tracing began (an upper bound)
            layers["tracing.py_peak_rss_mb.overhead"] = (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024
            out = base / "out"
            out.mkdir(parents=True, exist_ok=True)
            stem = f"{args.workload}-s{args.seed}"
            tracer.write_spans(str(out / f"spans-{stem}.jsonl"))
            (out / f"layers-{stem}.json").write_text(json.dumps(layers, indent=1, sort_keys=True))
            attempted = warm.attempted + loop.attempted + tloop.attempted
            failed = warm.failed + loop.failed + tloop.failed
            declared = spec["per_layer"]
            values = {m["name"]: layers.get(m["name"], 0.0) for m in declared}
        report = {**end_to_end(wl, loop.lat, setup_s), **wl.report(loop.lat),
                  "failed_ratio": failed / attempted}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    per_kind = {k: {"n": len(v), "p50_ms": stats.median(v) * 1e3}
                for k, v in sorted(loop.lat.items())}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores} seconds={args.seconds} session_s={session_s:.3f} "
          f"warm_s={t_warm:.3f} setup_reps_s={[round(r, 3) for r in reps]}")
    print("per-kind: " + json.dumps(per_kind))
    print("report: " + json.dumps(report))
    if args.trace:
        overhead = {k: v for k, v in layers.items() if k.startswith("tracing.")}
        print("tracing overhead (traced - untraced): " + json.dumps(overhead))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
