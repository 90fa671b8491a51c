"""Self-test of the benchmark's own machinery (about 20 s, mostly JVM start).

    python3 perfbench/selftest.py

Checks that the engine reads every input the byte builders write back
with the generator's golden count and digest, that the fold of Spark's
SQL and stage metrics is right on a tiny mapInArrow + groupBy plan, and
that the registry workload uses only hermetic queries. Exits non-zero on
the first failure.
"""

import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import observe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_parse_metric() -> None:
    summary = "total (min, med, max (stageId: taskId))\n{} (1 ms, 1 ms, 1 ms (stage 0.0: task 1))"
    check(observe.parse_metric(summary.format("351.0 B"), "size") == 351.0, "size metric")
    check(observe.parse_metric(summary.format("2.0 KiB"), "size") == 2048.0, "KiB metric")
    check(observe.parse_metric(summary.format("3.4 s"), "timing") == 3.4, "timing metric")
    check(math.isclose(observe.parse_metric(summary.format("13 ms"), "nsTiming"), 0.013), "ms metric")
    check(observe.parse_metric("10,000", "sum") == 10000.0, "sum metric")


def test_fold(spark, work: str) -> None:
    import pyspark.sql.functions as F

    def identity(batches):
        yield from batches

    stats = observe.SparkStats(spark)
    mark = stats.mark()
    df = (
        spark.range(0, 1000, numPartitions=2)
        .mapInArrow(identity, "id long")
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    workloads.noop(df)
    got = stats.fold(mark, 1.0, 2)
    # each of the 2 map partitions holds all 7 residues, so the partial
    # aggregate writes exactly 14 shuffle records
    check(got["shuffle.records_written"] == 14.0, "shuffle records of partial aggregate")
    check(got["shuffle.bytes_written"] > 0, "shuffle bytes written")
    check(got["python.bytes_sent"] >= 8000, "bytes sent to Python (>= 1000 longs)")
    check(got["python.bytes_returned"] >= 8000, "bytes returned from Python")
    check(got["python.worker_run_s"] > 0, "Python worker run time")
    check(got["tasks.count"] >= 3, "tasks of map and reduce stages")
    check(stats.fold(stats.mark(), 1.0, 2)["tasks.count"] == 0, "empty window folds to 0")

    # Python data source metrics are running totals; two equal writes
    # must fold to equal amounts, not to 1x and 2x
    layer = spark.createDataFrame(workloads._arrow_table(inputs.make_layer(7, 200)))
    sent = []
    for i in range(2):
        mark = stats.mark()
        layer.write.format("gdal").option("driver", "GeoJSON").mode("overwrite").save(
            os.path.join(work, f"fold{i}.geojson")
        )
        sent.append(stats.fold(mark, 1.0, 2)["python.bytes_sent"])
    check(sent[0] > 0 and abs(sent[1] - sent[0]) < 0.2 * sent[0], "data source metrics fold per write")


def test_inputs_read_back(spark, work: str) -> None:
    n = 300
    inp = inputs.stage_read_inputs(7, n, os.path.join(work, "in"))
    ctx = workloads.Ctx(spark, work, 7, 2, ROOT)
    wl = workloads.VectorRead(ctx)
    wl.inp = inp
    for name, fn in wl.ops():
        table = fn(True)
        check(wl.check(name, table), f"engine reads {name} with golden count and digest")
    check(inp.expect["bbox"][0] not in (0, n), "bbox read selects a strict subset")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.configure_env(work)
    try:
        test_parse_metric()
        check(workloads.hermetic_violations(ROOT) == [], "registry queries are hermetic")
        from polars_gdal_spark import get_spark, register_gdal_source

        spark = get_spark("perfbench-selftest")
        try:
            register_gdal_source(spark)
            test_fold(spark, work)
            test_inputs_read_back(spark, work)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
