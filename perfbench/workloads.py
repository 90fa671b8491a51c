"""The three workloads. Each pushes most of its work through different
modules of the engine, so a change to one layer predicts a move on one
workload and no move on the others:

* ``vector_read``: ``sources`` + ``sources.formats`` decode, the reader's
  planning and the Python->JVM Arrow boundary. Sinks and kernels idle.
* ``vector_write``: ``sinks`` (driver-side assemble) + ``geometry`` WKB
  decode, plus the part-file write stage. Sources idle.
* ``registry_kernels``: ``functions`` + ``queries``: mapInArrow /
  applyInPandas kernels, shuffle and codegen. No gdal I/O at all.

Warm passes end reads and queries in the ``noop`` sink and writes in a
real write. The cold pass collects read and query results instead, and
the output checks read them outside the timed regions.
"""

from __future__ import annotations

import ast
import contextlib
import inspect
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass

import pyarrow as pa

import inputs
import outputs

# Sizes are set so a whole run (set-up, staging, cold pass with its
# checks, warm passes) takes 30-60 s on a 4-core host; see README.md.
READ_FEATURES = 3000
WRITE_FEATURES = 2000
REGISTRY_SF = 0.01
#: format of the bbox / pushdown / limit reads that take the row path
ROW_PATH_FORMAT = "shp"
#: the full scan the traced run also reads with the engine's default options
DEFAULT_OPTIONS_FORMAT = "gpkg"

REGISTRY_QUERIES = [
    # kernels that the similarity / dedup directions target
    "dedup_minhash_estimate",
    "dedup_winnowing",
    "sim_lsh_multitable",
    "sim_lsh_bucketed",
    "sim_pairwise_label_blocked",
    "dedup_embedding_cosine",
    # controls: relational aggregate, join + filter, spatial join
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "geo_spatial_join_pip",
]

#: module-level caches a query may read that another query warmed
HIDDEN_CACHES = ("_DEDUP_INDEX_CACHE", "_BUCKETED_CACHE", "_AGG_SNAPSHOT_CACHE")

#: write driver key -> (GDAL driver name, output file name)
WRITE_DRIVERS = {
    "geojson": ("GeoJSON", "out.geojson"),
    "geojsonseq": ("GeoJSONSeq", "out.geojsonl"),
    "csv": ("CSV", "out.csv"),
    "shp": ("ESRI Shapefile", "out.shp"),
    "gpkg": ("GPKG", "out.gpkg"),
    "fgb": ("FlatGeobuf", "out.fgb"),
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    root: str


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _arrow_table(layer: inputs.Layer) -> pa.Table:
    return pa.table(
        {
            "name": pa.array(layer.names, pa.string()),
            "pop": pa.array(layer.pop, pa.int64()),
            "elev": pa.array(layer.elev, pa.float64()),
            "region": pa.array(layer.region, pa.string()),
            "geometry": pa.array(layer.wkb, pa.binary()),
        }
    )


def geometry_probe(wkbs: list[bytes]) -> dict:
    """Throughput of the public geometry codecs over the workload's own
    geometries, in features per second."""
    from polars_gdal_spark import geometry as G

    geoms = [G.wkb_to_geom(b) for b in wkbs]
    out = {}
    for key, fn, items in (
        ("geometry.wkb_decode_per_s", G.wkb_to_geom, wkbs),
        ("geometry.wkb_encode_per_s", G.geom_to_wkb, geoms),
        ("geometry.wkt_encode_per_s", G.geom_to_wkt, geoms),
        ("geometry.geojson_encode_per_s", G.geom_to_geojson, geoms),
    ):
        t = _median_time(lambda fn=fn, items=items: [fn(x) for x in items])
        out[key] = len(items) / t
    return out


# ---------------------------------------------------------------- vector_read


class VectorRead:
    name = "vector_read"
    tables = False
    warm_passes = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def stage(self) -> None:
        self.inp = inputs.stage_read_inputs(
            self.ctx.seed, READ_FEATURES, os.path.join(self.ctx.work, "in")
        )

    def options(self, fmt: str, defaults: bool = False, **extra) -> dict:
        """Reader options of one operation. Timed reads plan one partition
        per Spark core; the engine's default plans 32, and README.md gives
        what that costs. The traced run reads ``DEFAULT_OPTIONS_FORMAT``
        with the defaults too."""
        opts = dict(self.inp.options[fmt])
        if not defaults:
            opts["targetPartitions"] = self.ctx.cores
        opts.update(extra)
        return opts

    def _reader(self, fmt: str, defaults: bool = False, **extra):
        r = self.ctx.spark.read.format("gdal")
        for k, v in self.options(fmt, defaults, **extra).items():
            r = r.option(k, v)
        return r.load(self.inp.paths[fmt])

    def frames(self) -> dict:
        import pyspark.sql.functions as F

        row = ROW_PATH_FORMAT
        bbox = ",".join(repr(v) for v in self.inp.bbox)
        out = {f"scan_{fmt}": (lambda fmt=fmt: self._reader(fmt)) for fmt in self.inp.paths}
        out["bbox"] = lambda: self._reader(row, bbox=bbox)
        out["pushdown"] = lambda: self._reader(row, pushdown="true").filter(
            F.col("region") == self.inp.region
        )
        out["limit"] = lambda: self._reader(
            row, offset=self.inp.offset, limit=self.inp.limit
        )
        return out

    def ops(self) -> list:
        def op(make):
            def run(collect: bool):
                df = make()
                return df.toArrow() if collect else noop(df)

            return run

        return [(name, op(make)) for name, make in self.frames().items()]

    def check(self, op: str, table) -> bool:
        names = table.column("name").to_pylist()
        geoms = table.column("geometry").to_pylist()
        key = op.removeprefix("scan_")
        return (len(names), inputs.digest(zip(names, geoms))) == self.inp.expect[key]

    def _in_process(
        self, tracer, op: str, fmt: str, pushed=(), defaults: bool = False, **extra
    ) -> dict:
        """``infer_schema``, ``partitions()`` and ``read()`` over every
        partition, called in-process (no JVM) with the options of one
        operation."""
        from polars_gdal_spark.sources.datasource import (
            GdalDataSourceReader,
            GdalPushdownReader,
            infer_schema,
        )

        opts = {k.lower(): str(v) for k, v in self.options(fmt, defaults, **extra).items()}
        opts["path"] = self.inp.paths[fmt]
        cls = GdalPushdownReader if pushed else GdalDataSourceReader
        with tracer.span(f"sources.infer_schema.{op}"):
            infer_s = _median_time(lambda: infer_schema(opts))
        schema = infer_schema(opts)

        def plan():
            reader = cls(schema, opts)
            if pushed:
                list(reader.pushFilters(list(pushed)))
            return reader, reader.partitions()

        with tracer.span(f"sources.plan.{op}"):
            plan_s = _median_time(plan)
        reader, parts = plan()
        rows = [0]

        def decode():
            rows[0] = 0
            for p in parts:
                for batch in reader.read(p):
                    rows[0] += batch.num_rows if hasattr(batch, "num_rows") else 1

        with tracer.span(f"sources.decode.{op}"):
            decode_s = _median_time(decode, reps=2)
        return {
            "infer_s": infer_s,
            "plan_s": plan_s,
            "decode_s": decode_s,
            "partitions": len(parts),
            "rows": rows[0],
            # the decode's share of wall time when partitions run in parallel
            "wall_s": infer_s + plan_s + decode_s / min(self.ctx.cores, len(parts)),
        }

    def probe(self, tracer, warm: dict, stats) -> tuple[dict, dict]:
        """In-process calls into ``sources`` (no JVM), beside the Spark
        read times of the same run."""
        from pyspark.sql.datasource import EqualTo

        out, calls = {}, {}
        for fmt in self.inp.paths:
            c = calls[f"scan_{fmt}"] = self._in_process(tracer, f"scan_{fmt}", fmt)
            out[f"sources.infer_schema_s.{fmt}"] = c["infer_s"]
            out[f"sources.plan_s.{fmt}"] = c["plan_s"]
            out[f"sources.partitions.{fmt}"] = float(c["partitions"])
            out[f"sources.decode_s.{fmt}"] = c["decode_s"]
            out[f"sources.decode_features_per_s.{fmt}"] = c["rows"] / c["decode_s"]
            spark_s = warm[f"scan_{fmt}"]
            out[f"sources.spark_read_s.{fmt}"] = spark_s
            out[f"sources.boundary_s.{fmt}"] = spark_s - c["decode_s"] / min(
                self.ctx.cores, c["partitions"]
            )
        row = ROW_PATH_FORMAT
        bbox = ",".join(repr(v) for v in self.inp.bbox)
        region = EqualTo(("region",), self.inp.region)
        calls["bbox"] = self._in_process(tracer, "bbox", row, bbox=bbox)
        calls["pushdown"] = self._in_process(
            tracer, "pushdown", row, pushed=(region,), pushdown="true"
        )
        calls["limit"] = self._in_process(
            tracer, "limit", row, offset=self.inp.offset, limit=self.inp.limit
        )
        for op in ("bbox", "pushdown", "limit"):
            out[f"sources.row_path_s.{op}"] = warm[op]
        # the engine's default partitioning, which callers get; kept out
        # of the timed pass because its task launches would take half of it
        fmt = DEFAULT_OPTIONS_FORMAT
        c = self._in_process(tracer, f"default_{fmt}", fmt, defaults=True)
        out[f"sources.default_partitions.{fmt}"] = float(c["partitions"])
        with tracer.span(f"sources.default_read.{fmt}"):
            out[f"sources.default_read_s.{fmt}"] = _median_time(
                lambda: noop(self._reader(fmt, defaults=True)), reps=2
            )
        with tracer.span("geometry.codecs"):
            layer = inputs.make_layer(self.ctx.seed, min(READ_FEATURES, 2000))
            out.update(geometry_probe(layer.wkb))
        wall = {op: c["wall_s"] for op, c in calls.items()}
        return out, {"sources": wall, "sources_detail": calls}


# --------------------------------------------------------------- vector_write


class VectorWrite:
    name = "vector_write"
    tables = False
    warm_passes = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def stage(self) -> None:
        self.layer = inputs.make_layer(self.ctx.seed, WRITE_FEATURES)
        self.expect = (WRITE_FEATURES, inputs.digest(zip(self.layer.names, self.layer.wkb)))
        # plain Spark from Arrow, not the gdal source; persisted so every
        # write starts from the same materialized partitions
        self.df = (
            self.ctx.spark.createDataFrame(_arrow_table(self.layer))
            .repartition(self.ctx.cores)
            .persist()
        )
        self.df.count()
        self.out = os.path.join(self.ctx.work, "out")
        os.makedirs(self.out, exist_ok=True)

    def path(self, key: str) -> str:
        return os.path.join(self.out, WRITE_DRIVERS[key][1])

    def write(self, key: str) -> None:
        self.df.write.format("gdal").option("driver", WRITE_DRIVERS[key][0]).mode(
            "overwrite"
        ).save(self.path(key))

    def ops(self) -> list:
        return [(f"write_{k}", lambda _, k=k: self.write(k)) for k in WRITE_DRIVERS]

    def check(self, op: str, _) -> bool:
        key = op.removeprefix("write_")
        rows, dig = outputs.READERS[key](self.path(key))
        if key == "fgb":
            return rows == self.expect[0]
        return (rows, dig) == self.expect

    def output_mb(self, key: str) -> float:
        path = self.path(key)
        if key == "shp":
            stem = os.path.splitext(path)[0]
            files = [stem + ext for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg")]
        else:
            files = [path]
        return sum(os.path.getsize(f) for f in files if os.path.exists(f)) / 1e6

    def probe(self, tracer, warm: dict, stats) -> tuple[dict, dict]:
        """``sinks.assemble`` called in-process over IPC parts split like
        the Spark write, and each write's part-write stage from the
        status store."""
        from polars_gdal_spark.sinks import assemble

        out, calls = {}, {}
        table = _arrow_table(self.layer)
        nparts = self.df.rdd.getNumPartitions()
        part_dir = os.path.join(self.ctx.work, "parts")
        os.makedirs(part_dir, exist_ok=True)
        parts = []
        step = -(-table.num_rows // nparts)
        for i in range(nparts):
            p = os.path.join(part_dir, f"part-{i:05d}.arrow")
            with pa.OSFile(p, "wb") as sink, pa.ipc.new_stream(sink, table.schema) as w:
                w.write_table(table.slice(i * step, step))
            parts.append(p)
        schema = self.df.schema
        probe_out = os.path.join(self.ctx.work, "probe_out")
        os.makedirs(probe_out, exist_ok=True)
        for key, (driver, fname) in WRITE_DRIVERS.items():
            dest = os.path.join(probe_out, fname)
            with tracer.span(f"sinks.assemble.{key}"):
                t = _median_time(
                    lambda: assemble(driver, parts, dest, {}, schema, "geometry"),
                    reps=2,
                )
            mark = stats.mark()
            with tracer.span(f"sinks.write.{key}"):
                self.write(key)
            task_s = stats.stage_wall_s(mark)
            write_s = warm[f"write_{key}"]
            out[f"sinks.task_s.{key}"] = task_s
            out[f"sinks.write_s.{key}"] = write_s
            out[f"sinks.assemble_s.{key}"] = t
            out[f"sinks.assemble_frac.{key}"] = t / write_s
            out[f"sinks.output_mb.{key}"] = self.output_mb(key)
            calls[f"write_{key}"] = t + task_s
        with tracer.span("geometry.codecs"):
            out.update(geometry_probe(self.layer.wkb[:2000]))
        return out, {"sinks": calls}


# ----------------------------------------------------------- registry_kernels


def _dep_pairs(root: str) -> set[str]:
    """Builders and dependents of ``bench.py``'s ``DEP_PAIRS``, read
    without importing the harness."""
    with open(os.path.join(root, "bench.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "DEP_PAIRS" for t in node.targets
        ):
            pairs = ast.literal_eval(node.value)
            return set(pairs) | set(pairs.values())
    raise RuntimeError("bench.py defines no DEP_PAIRS")


def hermetic_violations(root: str) -> list[str]:
    """Registry queries whose result or time could depend on another
    query having run first in the process."""
    from polars_gdal_spark.queries import QUERIES

    deps = _dep_pairs(root)
    bad = []
    for q in REGISTRY_QUERIES:
        src = inspect.getsource(QUERIES[q].func)
        if q in deps or any(c in src for c in HIDDEN_CACHES):
            bad.append(q)
    return bad


class RegistryKernels:
    name = "registry_kernels"
    tables = True
    warm_passes = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        sys.path.insert(0, os.path.join(ctx.root, "tools"))

    def stage(self) -> None:
        import gen_sf
        from polars_gdal_spark.queries import QUERIES

        bad = hermetic_violations(self.ctx.root)
        if bad:
            raise RuntimeError(f"registry_kernels uses non-hermetic queries {bad}")
        self.queries = QUERIES
        self.sf_dir = os.path.join(self.ctx.work, "sf")
        with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result
            gen_sf.generate(REGISTRY_SF, self.sf_dir, self.ctx.seed)

    def load(self) -> None:
        from polars_gdal_spark.queries import load_tables

        load_tables(self.ctx.spark, self.sf_dir)

    def run_query(self, q: str, collect: bool):
        df = self.queries[q].func(self.ctx.spark, self.sf_dir)
        try:
            return df.toPandas() if collect else noop(df)
        finally:
            # release operator-internal persists as a looping library
            # consumer does (tools/check_oracle.py)
            getattr(df, "unpersist_sources", lambda: None)()

    def ops(self) -> list:
        return [(q, lambda collect, q=q: self.run_query(q, collect)) for q in REGISTRY_QUERIES]

    def check(self, op: str, sdf) -> bool:
        """Cell-exact against the query's DuckDB oracle on the same parquet,
        with ``tools/check_oracle.py``'s normalization."""
        import duckdb
        from check_oracle import normalize
        from polars_gdal_spark.queries import TABLE_NAMES

        with duckdb.connect() as con:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            odf = con.execute(self.queries[op].oracle).fetchdf()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols or len(sdf) != len(odf):
            return False
        return normalize(sdf.to_dict("records"), scols) == normalize(
            odf.to_dict("records"), ocols
        )

    def probe(self, tracer, warm: dict, stats) -> tuple[dict, dict]:
        # no gdal source or sink runs here, so no in-process layer calls
        return {f"queries.run_s.{q}": warm[q] for q in REGISTRY_QUERIES}, {}


WORKLOADS = {w.name: w for w in (VectorRead, VectorWrite, RegistryKernels)}


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))
