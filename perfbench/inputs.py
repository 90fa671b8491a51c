"""Seeded polygon layer and the benchmark's own byte builders.

Every input file the ``vector_read`` workload reads is written here with
the standard library and numpy only -- ``json`` for GeoJSON/GeoJSONSeq,
``csv`` for CSV-XY, ``struct`` for .shp/.shx/.dbf and ``sqlite3`` plus a
GeoPackage header for GPKG -- never with the engine's sinks, so a change
to a sink cannot change what the read workload reads.

The generator also returns the golden values the output checks use: row
counts, expected counts for the bbox / filter / limit reads, and a digest
of the sorted ``(name, WKB)`` pairs each read must return.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import sqlite3
import struct
from dataclasses import dataclass, field

import numpy as np

REGIONS = ["north", "south", "east", "west", "centre", "coast", "hills", "delta"]
#: region weights are skewed, so the pushed-down filter keeps a minority
REGION_P = [0.30, 0.22, 0.15, 0.12, 0.08, 0.06, 0.04, 0.03]
EXTENT = 1000.0
POLY_HEADER = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"  # LE ISO Polygon, 1 ring
POINT_HEADER = b"\x01\x01\x00\x00\x00"


@dataclass
class Layer:
    """A seeded layer of single-ring polygons in generation order.

    ``coords[offsets[i]:offsets[i + 1]]`` is feature ``i``'s closed ring.
    """

    names: list[str]
    pop: np.ndarray
    elev: np.ndarray
    region: list[str]
    cx: np.ndarray
    cy: np.ndarray
    offsets: np.ndarray
    coords: np.ndarray
    wkb: list[bytes] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.names)

    def ring(self, i: int) -> np.ndarray:
        return self.coords[self.offsets[i] : self.offsets[i + 1]]


def vertex_counts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Skewed ring sizes: most polygons have 6-64 vertices, about one in
    twelve has a few hundred (the long tail real boundary layers have).

    The sizes are evenly spaced quantiles of that distribution and only
    their order is seeded, so every seed gives the engine the same number
    of vertices. Random sizes would move the total, and every timing with
    it, by about 10 % from seed to seed."""
    n_tail = round(0.08 * n)
    small = 6 + (58 * _quantiles(n - n_tail) ** 2).astype(np.int64)
    tail = 100 + (400 * _quantiles(n_tail)).astype(np.int64)
    return rng.permutation(np.concatenate([small, tail]))


def _quantiles(n: int) -> np.ndarray:
    """``n`` evenly spaced points in (0, 1)."""
    return (np.arange(n) + 0.5) / n


def _stratified(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` coordinates in [0, EXTENT), one in each of ``n`` equal strips
    in seeded order, so any band of the extent holds a fixed share."""
    return (rng.permutation(n) + rng.random(n)) * (EXTENT / n)


def make_layer(seed: int, n: int) -> Layer:
    rng = np.random.default_rng(seed)
    k = vertex_counts(rng, n)
    cx = np.round(_stratified(rng, n), 4)
    cy = np.round(_stratified(rng, n), 4)
    radius = 0.5 + 4.5 * rng.random(n)
    ring_len = k + 1  # closed ring repeats its first vertex
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ring_len, out=offsets[1:])
    total = int(offsets[-1])
    owner = np.repeat(np.arange(n), ring_len)
    pos = np.arange(total) - offsets[owner]
    pos = np.where(pos == k[owner], 0, pos)  # closing vertex = first vertex
    # clockwise rings (the shapefile outer-ring convention) with jittered
    # radii; the jitter is drawn per vertex slot, then the closing slot
    # copies its ring's first vertex so every ring closes exactly
    ang = -2.0 * np.pi * pos / k[owner]
    jitter = 0.6 + 0.4 * rng.random(total)
    jitter = jitter[offsets[owner] + pos]
    x = np.round(cx[owner] + radius[owner] * jitter * np.cos(ang), 6)
    y = np.round(cy[owner] + radius[owner] * jitter * np.sin(ang), 6)
    coords = np.ascontiguousarray(np.stack([x, y], axis=1))
    names = [f"f{i:07d}" for i in range(n)]
    pop = rng.integers(0, 5_000_000, n)
    elev = np.round(rng.normal(300.0, 250.0, n), 2)
    # exact region shares in seeded order: the filtered read keeps the
    # same number of rows on every seed
    counts = np.floor(np.array(REGION_P) * n).astype(np.int64)
    counts[0] += n - counts.sum()
    region_idx = rng.permutation(np.repeat(np.arange(len(REGIONS)), counts))
    layer = Layer(
        names=names,
        pop=pop,
        elev=elev,
        region=[REGIONS[r] for r in region_idx],
        cx=cx,
        cy=cy,
        offsets=offsets,
        coords=coords,
    )
    layer.wkb = [
        POLY_HEADER + struct.pack("<I", len(r)) + r.tobytes()
        for r in (layer.ring(i) for i in range(n))
    ]
    return layer


def digest(pairs) -> str:
    """Order-free digest of (name, geometry bytes) pairs."""
    h = hashlib.sha256()
    for name, blob in sorted(pairs):
        h.update(name.encode())
        h.update(b"\0")
        h.update(blob)
        h.update(b"\1")
    return h.hexdigest()


def point_wkb(x: float, y: float) -> bytes:
    return POINT_HEADER + struct.pack("<2d", x, y)


# ------------------------------------------------------------ byte builders


def _ring_json(ring: np.ndarray) -> str:
    # repr of a Python float is its shortest round-trip form, so the
    # engine's json parse returns exactly the generated doubles
    return ",".join(f"[{x!r},{y!r}]" for x, y in ring.tolist())


def _feature_json(layer: Layer, i: int) -> str:
    props = json.dumps(
        {
            "name": layer.names[i],
            "pop": int(layer.pop[i]),
            "elev": float(layer.elev[i]),
            "region": layer.region[i],
        }
    )
    return (
        '{"type":"Feature","properties":' + props + ',"geometry":'
        '{"type":"Polygon","coordinates":[[' + _ring_json(layer.ring(i)) + "]]}}"
    )


def write_geojson(layer: Layer, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"type":"FeatureCollection","features":[\n')
        f.write(",\n".join(_feature_json(layer, i) for i in range(len(layer))))
        f.write("\n]}\n")


def write_geojsonseq(layer: Layer, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for i in range(len(layer)):
            f.write(_feature_json(layer, i))
            f.write("\n")


def write_csv_xy(layer: Layer, path: str) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "pop", "elev", "region", "X", "Y"])
        for i in range(len(layer)):
            w.writerow(
                [
                    layer.names[i],
                    int(layer.pop[i]),
                    repr(float(layer.elev[i])),
                    layer.region[i],
                    repr(float(layer.cx[i])),
                    repr(float(layer.cy[i])),
                ]
            )


_DBF_FIELDS = [  # (name, type, length, decimals)
    ("name", b"C", 16, 0),
    ("pop", b"N", 10, 0),
    ("elev", b"N", 12, 2),
    ("region", b"C", 8, 0),
]


def write_shapefile(layer: Layer, path: str) -> None:
    """ESRI Shapefile (Polygon, shape type 5): .shp + .shx + .dbf."""
    base = os.path.splitext(path)[0]
    n = len(layer)
    records = []
    index = []
    offset_words = 50  # 100-byte file header
    for i in range(n):
        ring = layer.ring(i)
        lo = ring.min(axis=0)
        hi = ring.max(axis=0)
        content = (
            struct.pack("<i4d2ii", 5, lo[0], lo[1], hi[0], hi[1], 1, len(ring), 0)
            + ring.tobytes()
        )
        words = len(content) // 2
        records.append(struct.pack(">2i", i + 1, words) + content)
        index.append(struct.pack(">2i", offset_words, words))
        offset_words += 4 + words
    lo = layer.coords.min(axis=0)
    hi = layer.coords.max(axis=0)

    def header(file_words: int) -> bytes:
        return (
            struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_words)
            + struct.pack("<2i", 1000, 5)
            + struct.pack("<8d", lo[0], lo[1], hi[0], hi[1], 0, 0, 0, 0)
        )

    with open(base + ".shp", "wb") as f:
        f.write(header(offset_words))
        f.write(b"".join(records))
    with open(base + ".shx", "wb") as f:
        f.write(header(50 + 4 * n))
        f.write(b"".join(index))
    rec_size = 1 + sum(length for _, _, length, _ in _DBF_FIELDS)
    hdr_size = 32 + 32 * len(_DBF_FIELDS) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<B3BIHH20x", 3, 126, 1, 1, n, hdr_size, rec_size))
        for name, ftype, length, dec in _DBF_FIELDS:
            f.write(struct.pack("<11sc4xBB14x", name.encode(), ftype, length, dec))
        f.write(b"\r")
        out = []
        for i in range(n):
            out.append(
                b" "
                + layer.names[i].encode().ljust(16)
                + str(int(layer.pop[i])).encode().rjust(10)
                + f"{layer.elev[i]:.2f}".encode().rjust(12)
                + layer.region[i].encode().ljust(8)
            )
        f.write(b"".join(out))
        f.write(b"\x1a")


def write_gpkg(layer: Layer, path: str) -> None:
    """Minimal GeoPackage: the three required catalog tables and one
    feature table whose blobs are a GP header with an xy envelope
    followed by little-endian ISO WKB."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            """
            PRAGMA application_id = 0x47504B47;
            PRAGMA user_version = 10300;
            CREATE TABLE gpkg_spatial_ref_sys (
              srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
              organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
              definition TEXT NOT NULL, description TEXT);
            INSERT INTO gpkg_spatial_ref_sys VALUES
              ('Undefined cartesian SRS', -1, 'NONE', -1, 'undefined', NULL);
            CREATE TABLE gpkg_contents (
              table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
              identifier TEXT, description TEXT DEFAULT '', last_change DATETIME,
              min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (
              table_name TEXT NOT NULL, column_name TEXT NOT NULL,
              geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
              z TINYINT NOT NULL, m TINYINT NOT NULL,
              PRIMARY KEY (table_name, column_name));
            CREATE TABLE parcels (
              fid INTEGER PRIMARY KEY AUTOINCREMENT, geom BLOB,
              name TEXT, pop INTEGER, elev REAL, region TEXT);
            INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)
              VALUES ('parcels', 'features', 'parcels', -1);
            INSERT INTO gpkg_geometry_columns
              VALUES ('parcels', 'geom', 'POLYGON', -1, 0, 0);
            """
        )
        gp = b"GP\x00\x03" + struct.pack("<i", -1)  # LE, xy envelope
        rows = []
        for i in range(len(layer)):
            ring = layer.ring(i)
            lo = ring.min(axis=0)
            hi = ring.max(axis=0)
            env = struct.pack("<4d", lo[0], hi[0], lo[1], hi[1])
            rows.append(
                (
                    gp + env + layer.wkb[i],
                    layer.names[i],
                    int(layer.pop[i]),
                    float(layer.elev[i]),
                    layer.region[i],
                )
            )
        con.executemany(
            "INSERT INTO parcels (geom, name, pop, elev, region) VALUES (?,?,?,?,?)",
            rows,
        )
        con.commit()
    finally:
        con.close()


#: read format -> (file name, builder, extra reader options)
FORMATS = {
    "geojson": ("layer.geojson", write_geojson, {}),
    "geojsonseq": ("layer.geojsonl", write_geojsonseq, {}),
    "csv": (
        "layer.csv",
        write_csv_xy,
        {"x_possible_names": "X", "y_possible_names": "Y"},
    ),
    "shp": ("layer.shp", write_shapefile, {}),
    "gpkg": ("layer.gpkg", write_gpkg, {}),
}


@dataclass
class ReadInputs:
    """Staged files plus golden values for the ``vector_read`` workload."""

    paths: dict[str, str]
    options: dict[str, dict]
    expect: dict[str, tuple[int, str]]  # operation -> (rows, digest)
    bbox: tuple[float, float, float, float]
    region: str
    offset: int
    limit: int


def stage_read_inputs(seed: int, n: int, outdir: str) -> ReadInputs:
    layer = make_layer(seed, n)
    os.makedirs(outdir, exist_ok=True)
    paths, options = {}, {}
    for fmt, (fname, build, opts) in FORMATS.items():
        paths[fmt] = os.path.join(outdir, fname)
        build(layer, paths[fmt])
        options[fmt] = dict(opts)
    full = digest(zip(layer.names, layer.wkb))
    expect = {fmt: (n, full) for fmt in FORMATS}
    expect["csv"] = (
        n,
        digest(
            (layer.names[i], point_wkb(float(layer.cx[i]), float(layer.cy[i])))
            for i in range(n)
        ),
    )
    # bbox over 10% of the extent: a full-height band at a seeded x, so
    # with stratified centres it keeps the same share on every seed
    rng = np.random.default_rng(seed + 1)
    side = EXTENT * 0.1
    x0 = round(float(rng.random() * (EXTENT - side)), 3)
    bbox = (x0, -EXTENT, x0 + side, 2 * EXTENT)
    keep = []
    for i in range(n):
        ring = layer.ring(i)
        lo = ring.min(axis=0)
        hi = ring.max(axis=0)
        if not (hi[0] < bbox[0] or lo[0] > bbox[2] or hi[1] < bbox[1] or lo[1] > bbox[3]):
            keep.append(i)
    region = REGIONS[3]
    offset, limit = n // 10, n // 5

    def sub(idx):
        idx = list(idx)
        return len(idx), digest((layer.names[i], layer.wkb[i]) for i in idx)

    expect["bbox"] = sub(keep)
    expect["pushdown"] = sub(i for i in range(n) if layer.region[i] == region)
    expect["limit"] = sub(range(offset, min(n, offset + limit)))
    return ReadInputs(
        paths=paths,
        options=options,
        expect=expect,
        bbox=bbox,
        region=region,
        offset=offset,
        limit=limit,
    )
