"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_read --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout. One closed-loop client with one
operation in flight: set-up, staging of seeded inputs, one cold pass over
every operation (each output checked as soon as it is timed), then the
workload's fixed number of warm passes, and more only while they fit in
``--seconds``. The last stdout line is the result; the line before it is
the run record (host, stage time, canary, RSS and cached
bytes per pass, and with ``--trace 1`` the span self times). The full
record, spans included, is written to ``.perfbench_work/records/``.
"""

import time

T0 = time.perf_counter()  # set-up is timed from interpreter entry

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"


def cores_used() -> int:
    # half the cores: with every core busy, the JVM's GC and JIT threads,
    # the Python workers and the driver-side assemble compete for CPU
    return max(1, len(os.sched_getaffinity(0)) // 2)


def configure_env(work: str) -> None:
    """Explicit cores and heap (get_spark defaults to local[32] and 24g),
    and every temporary file inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores_used()),
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every descendant."""
    from pyspark import SparkContext

    import observe

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig, grace in ((signal.SIGTERM, 15), (signal.SIGKILL, 5)):
        left = observe.descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = observe.descendants(os.getpid())
        if not left:
            return


class Runner:
    """Closed loop over the workload's operations, one in flight."""

    def __init__(self, wl, tracer, stats, rss):
        self.wl = wl
        self.tracer = tracer
        self.stats = stats
        self.rss = rss
        self.ops = wl.ops()
        self.attempted = 0
        self.failed = 0
        self.bad: set[str] = set()
        self.passes: list[dict] = []

    def run_pass(self, kind: str, with_spans: bool) -> None:
        """One pass. The cold pass collects each output and checks it
        right after its timed region, so no output outlives its check."""
        import observe

        before = observe.canary_s()
        times = {}
        for name, fn in self.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if with_spans:
                    with self.tracer.span(f"{self.wl.name}.{name}"):
                        out = fn(kind == "cold")
                else:
                    out = fn(kind == "cold")
            except Exception:  # noqa: BLE001 - a failing operation is a result
                self.failed += 1
                self.bad.add(name)
                traceback.print_exc(file=sys.stderr)
                continue
            times[name] = time.perf_counter() - t0
            if kind == "cold":
                with self.rss.paused():
                    self.check(name, out)
            del out
        self.passes.append(
            {
                "kind": kind,
                "traced": with_spans,
                "ops": times,
                "total_s": sum(times.values()),
                "canary_before_s": before,
                "canary_after_s": observe.canary_s(),
                "rss_mb": observe.tree_rss_bytes(os.getpid()) / 1e6,
                "cached_bytes": self.stats.cached_bytes(),
            }
        )

    def check(self, name: str, out) -> None:
        try:
            ok = self.wl.check(name, out)
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"check failed: {self.wl.name}/{name}", file=sys.stderr)
            self.failed += 1
            self.bad.add(name)

    def warm(self, seconds: float, traced: bool) -> None:
        # traced runs interleave plain and span-wrapped passes in ABBA
        # order, so the cost of tracing is measured rather than assumed
        # and a warming trend across passes cancels out of it
        order = (False, True, True, False) if traced else (False,)
        start = time.perf_counter()
        n = 0
        last = 0.0
        # every run makes at least the workload's own number of passes, so
        # a slow host cannot leave a run with fewer and less warmed-up
        # ones; more start only if, at the length of the pass before, they
        # would end within the window
        while n < max(len(order), self.wl.warm_passes) or (
            time.perf_counter() - start + last <= seconds
        ):
            t = time.perf_counter()
            self.run_pass("warm", with_spans=order[n % len(order)])
            last = time.perf_counter() - t
            n += 1

    def pass_times(self, kind: str, traced: bool | None = None) -> list[dict]:
        return [
            p["ops"]
            for p in self.passes
            if p["kind"] == kind and (traced is None or p["traced"] == traced)
        ]

    def medians(self, traced: bool | None = None) -> dict[str, float]:
        """Per operation that never failed: median warm time."""
        passes = self.pass_times("warm", traced)
        return {
            name: statistics.median(p[name] for p in passes)
            for name, _ in self.ops
            if name not in self.bad
        }


def run(args, work: str) -> tuple[dict, dict]:
    import observe
    import workloads

    cores = cores_used()
    traced = bool(args.trace)
    steal = observe.StealMeter()
    tracer = observe.Tracer()
    with observe.RssSampler() as rss:
        with tracer.span("session.start"):
            from polars_gdal_spark import get_spark, register_gdal_source

            spark = get_spark(f"perfbench-{args.workload}")
        try:
            started = time.perf_counter()
            wl = workloads.WORKLOADS[args.workload](
                workloads.Ctx(spark, work, args.seed, cores, ROOT)
            )
            # staging that ran inside the set-up window, taken out of it
            stage_in_setup = 0.0
            with tracer.span("session.first_action"):
                register_gdal_source(spark)
                if wl.tables:
                    # the tables must exist before load_tables; generating
                    # them is staging, so its time is taken out of set-up
                    t = time.perf_counter()
                    wl.stage()
                    stage_in_setup = time.perf_counter() - t
                    wl.load()
                spark.range(1).collect()
            ready = time.perf_counter()
            stage_s = stage_in_setup
            if not wl.tables:
                t = time.perf_counter()
                wl.stage()
                stage_s = time.perf_counter() - t

            staged = time.perf_counter()
            stats = observe.SparkStats(spark)
            runner = Runner(wl, tracer, stats, rss)
            # Spark's metrics are read through py4j (seconds per window), so
            # only the traced run folds them
            mark = stats.mark() if traced else None
            t = time.perf_counter()
            runner.run_pass("cold", with_spans=traced)
            cold_done = time.perf_counter()
            if traced:
                cold_fold = stats.fold(mark, cold_done - t, cores)
            mark = stats.mark() if traced else None
            t = time.perf_counter()
            runner.warm(args.seconds, traced)
            warm_done = time.perf_counter()
            layer, calls = {}, {}
            if traced:
                warm_fold = stats.fold(mark, warm_done - t, cores)
                with tracer.span("probe"):
                    layer, calls = wl.probe(tracer, runner.medians(traced=False), stats)
        finally:
            stopping = time.perf_counter()
            stop_spark(spark)

    warm = runner.medians()
    marks = {
        "ready": ready,
        "staged": staged,
        "cold_done": cold_done,
        "warm_done": warm_done,
        "stopping": stopping,
        "stopped": time.perf_counter(),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "host": observe.host_record(cores, HEAP),
        "bench.stage_inputs_s": stage_s,
        # seconds since interpreter entry at each phase boundary
        "timeline_s": {k: v - T0 for k, v in marks.items()},
        "passes": runner.passes,
        "failed_ops": sorted(runner.bad),
    }
    if not traced:
        metrics = {
            "setup_s": ready - T0 - stage_in_setup,
            "cold_pass_s": sum(runner.pass_times("cold")[0].values()),
            "pass_s": sum(warm.values()),
            "geomean_op_s": workloads.geomean(warm.values()) if warm else 0.0,
            "peak_rss_mb": rss.peak / 1e6,
            "ok_frac": 1.0 - runner.failed / runner.attempted,
        }
    else:
        totals = {
            flag: statistics.median(sum(p.values()) for p in runner.pass_times("warm", flag))
            for flag in (False, True)
        }
        n_warm = len(runner.pass_times("warm"))
        canaries = [
            c for p in runner.passes for c in (p["canary_before_s"], p["canary_after_s"])
        ]
        metrics = {
            "session.start_s": started - T0,
            "session.first_action_s": ready - started - stage_in_setup,
            # workers start and initialize in the cold pass
            "python.worker_start_s": cold_fold["python.worker_start_s"],
            "python.worker_init_s": cold_fold["python.worker_init_s"],
            "host.canary_s": statistics.median(canaries),
            "host.steal_frac": steal.frac(),
            "trace.overhead_frac": totals[True] / totals[False] - 1.0,
        }
        for key, value in warm_fold.items():
            # memory.* and the busy share describe the warm window; the
            # other figures are totals, reported per warm pass
            window = key.startswith("memory.") or key == "tasks.busy_core_frac"
            metrics.setdefault(key, value if window else value / n_warm)
        metrics.update(layer)
        plain = sum(runner.medians(traced=False).values())
        record["pass_s"] = plain
        # share of the (untraced) pass that the layer's own calls take,
        # timed in-process apart from Spark; the rest is the Spark
        # boundary, scheduling and planning around them
        share = {g: sum(calls.get(g, {}).values()) / plain for g in ("sources", "sinks")}
        share["rest"] = 1.0 - sum(share.values())
        record["layer_share_of_pass_s"] = share
        record["layer_calls_s"] = calls
        record["self_s"] = tracer.self_times()
        record["spans"] = tracer.to_json()
    record["metrics"] = metrics
    return record, {"attempted": runner.attempted, "failed": runner.failed}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "polars_gdal_spark", "__init__.py")):
        print(f"perfbench: no polars_gdal_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    try:
        record, counts = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    group = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[group]}
    # a layer this workload does not exercise reads 0 (listed in the record)
    record["idle_here"] = sorted(set(units) - set(record["metrics"]))
    records = os.path.join(ROOT, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    summary = {k: v for k, v in record.items() if k not in ("spans", "passes")}
    summary["passes"] = [
        {k: v for k, v in p.items() if k != "ops"} for p in record["passes"]
    ]
    print(json.dumps({"record": summary}))
    metrics = {
        name: {"value": float(record["metrics"].get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    print(
        json.dumps(
            {
                "correct": counts["failed"] == 0,
                "attempted": counts["attempted"],
                "failed": counts["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
