"""Minimal independent parsers for what the ``vector_write`` workload
writes. None of them imports the engine: each reads the bytes with the
standard library and returns ``(rows, digest)`` where the digest covers
the sorted ``(name, WKB)`` pairs (FlatGeobuf: the header's feature count
only, with the magic bytes checked)."""

from __future__ import annotations

import csv
import json
import os
import re
import sqlite3
import struct

import numpy as np

from inputs import POLY_HEADER, digest


def _poly_wkb(ring) -> bytes:
    arr = np.asarray(ring, dtype="<f8").reshape(-1, 2)
    return POLY_HEADER + struct.pack("<I", len(arr)) + arr.tobytes()


def _geojson_pair(feat: dict) -> tuple[str, bytes]:
    geom = feat["geometry"]
    if geom["type"] != "Polygon" or len(geom["coordinates"]) != 1:
        raise ValueError(f"unexpected geometry {geom['type']}")
    return feat["properties"]["name"], _poly_wkb(geom["coordinates"][0])


def read_geojson(path: str) -> tuple[int, str]:
    with open(path, encoding="utf-8") as f:
        feats = json.load(f)["features"]
    return len(feats), digest(_geojson_pair(ft) for ft in feats)


def read_geojsonseq(path: str) -> tuple[int, str]:
    with open(path, encoding="utf-8") as f:
        feats = [json.loads(line) for line in f if line.strip()]
    return len(feats), digest(_geojson_pair(ft) for ft in feats)


_WKT_POLY = re.compile(r"^POLYGON\s*\(\((.*)\)\)$")


def read_csv(path: str) -> tuple[int, str]:
    pairs = []
    with open(path, encoding="utf-8", newline="") as f:
        rows = csv.reader(f)
        header = next(rows)
        name_i, geom_i = header.index("name"), header.index("geometry")
        for row in rows:
            m = _WKT_POLY.match(row[geom_i])
            if m is None:
                raise ValueError(f"unexpected WKT {row[geom_i][:40]!r}")
            ring = [tuple(map(float, p.split())) for p in m.group(1).split(",")]
            pairs.append((row[name_i], _poly_wkb(ring)))
    return len(pairs), digest(pairs)


def _dbf_names(path: str) -> list[str]:
    with open(path, "rb") as f:
        data = f.read()
    n, hdr_size, rec_size = struct.unpack_from("<IHH", data, 4)
    fields, off, pos = [], 1, 32
    while data[pos] != 0x0D:
        name = data[pos : pos + 11].split(b"\0")[0].decode()
        length = data[pos + 16]
        fields.append((name, off, length))
        off += length
        pos += 32
    _, start, length = next(fl for fl in fields if fl[0] == "name")
    return [
        data[hdr_size + i * rec_size + start : hdr_size + i * rec_size + start + length]
        .decode()
        .strip()
        for i in range(n)
    ]


def read_shapefile(path: str) -> tuple[int, str]:
    base = os.path.splitext(path)[0]
    with open(base + ".shp", "rb") as f:
        shp = f.read()
    (file_words,) = struct.unpack_from(">i", shp, 24)
    if file_words * 2 != len(shp):
        raise ValueError("shp header length disagrees with file size")
    shx_records = (os.path.getsize(base + ".shx") - 100) // 8
    names = _dbf_names(base + ".dbf")
    wkbs, pos = [], 100
    while pos < len(shp):
        _, words = struct.unpack_from(">2i", shp, pos)
        stype, nparts, npoints = struct.unpack_from("<i32xii", shp, pos + 8)
        if stype != 5 or nparts != 1:
            raise ValueError(f"unexpected shape type {stype} with {nparts} parts")
        pts = pos + 8 + 44 + 4 * nparts
        wkbs.append(
            POLY_HEADER + struct.pack("<I", npoints) + shp[pts : pts + 16 * npoints]
        )
        pos += 8 + 2 * words
    if not (len(wkbs) == shx_records == len(names)):
        raise ValueError(
            f"shp/shx/dbf disagree: {len(wkbs)}/{shx_records}/{len(names)}"
        )
    return len(wkbs), digest(zip(names, wkbs))


_GP_ENVELOPE = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def read_gpkg(path: str) -> tuple[int, str]:
    con = sqlite3.connect(path)
    try:
        table, column = con.execute(
            "SELECT table_name, column_name FROM gpkg_geometry_columns"
        ).fetchone()
        rows = con.execute(f'SELECT name, "{column}" FROM "{table}"').fetchall()
    finally:
        con.close()
    pairs = []
    for name, blob in rows:
        if blob[:2] != b"GP":
            raise ValueError("geometry blob lacks the GP magic")
        pairs.append((name, bytes(blob[8 + _GP_ENVELOPE[(blob[3] >> 1) & 7] :])))
    return len(pairs), digest(pairs)


FGB_MAGIC = b"fgb\x03fgb"
_FGB_FEATURES_COUNT = 8  # field index of Header.features_count


def read_fgb(path: str) -> tuple[int, str]:
    """Magic bytes, then ``features_count`` from the flatbuffer header;
    FlatGeobuf has no digest here (an independent feature decoder would
    need a flatbuffers reader the benchmark does not own)."""
    with open(path, "rb") as f:
        head = f.read(1 << 16)
    if head[:7] != FGB_MAGIC:
        raise ValueError("missing FlatGeobuf magic bytes")
    base = 12  # 8 magic bytes + uint32 header size
    table = base + struct.unpack_from("<I", head, base)[0]
    vtable = table - struct.unpack_from("<i", head, table)[0]
    vt_len = struct.unpack_from("<H", head, vtable)[0]
    slot = 4 + 2 * _FGB_FEATURES_COUNT
    if slot >= vt_len:
        return 0, ""
    field_off = struct.unpack_from("<H", head, vtable + slot)[0]
    if field_off == 0:
        return 0, ""
    return struct.unpack_from("<Q", head, table + field_off)[0], ""


READERS = {
    "geojson": read_geojson,
    "geojsonseq": read_geojsonseq,
    "csv": read_csv,
    "shp": read_shapefile,
    "gpkg": read_gpkg,
    "fgb": read_fgb,
}
