"""Deterministic WOD ASCII input generator for the benchmark.

Writes gzipped cast files in the reference layout
``<root>/<DS>/OBS/<DS>O<YEAR>.gz`` plus ``manifest.json``, which records for
every file the casts written, how many of them are malformed, and the
geohash3 cells of the well-formed ones. The same seed and
parameters always give byte-identical files.

Casts are rendered by ``encode_cast`` from ``tests/test_wod_fuzz.py``, the
encoder the decoder is round-trip fuzzed against. A malformed cast has the
leading length byte of its time field replaced by ``X``: the record's byte
count and line framing stay intact, so exactly that cast becomes one error
row, and its cast number can still be read.

Each cast sits inside one of a fixed set of geohash3 cells (cell centre
plus a jitter smaller than half a cell), so the number of output partition
directories is chosen, not left to chance.

:func:`cached` keeps generated trees in a directory keyed by (seed,
parameters), so repeated runs pay the generation once.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tests.test_wod_fuzz import enc_int, encode_cast  # noqa: E402

DATASETS = ("APB", "CTD", "DRB", "GLD", "MBT", "MRB", "OSD", "PFL", "UOR", "XBT")
_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_CELL_DEG = 360.0 / 256  # geohash3 = 8 lon bits x 7 lat bits: 1.40625 deg square
_JITTER_DEG = 0.6  # < half a cell, so a cast never leaves its cell
_LEVELS = (10, 30)  # depth levels per cast, inclusive range
_COUNTRIES = ("US", "GB", "JP", "DE", "FR", "AU", "CA", "NO")
_FORMAT = 3  # bump when the files or the manifest change, to skip old caches


def geohash3(lat: float, lon: float) -> str:
    """Three-character geohash of a point (lon bit first, base32)."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    bits = 0
    for i in range(15):
        if i % 2 == 0:
            mid = (lon_lo + lon_hi) / 2
            bit = lon >= mid
            lon_lo, lon_hi = (mid, lon_hi) if bit else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            bit = lat >= mid
            lat_lo, lat_hi = (mid, lat_hi) if bit else (lat_lo, mid)
        bits = bits << 1 | bit
    return "".join(_BASE32[(bits >> s) & 31] for s in (10, 5, 0))


def _cells(rng: random.Random, n: int) -> list[tuple[float, float]]:
    """``n`` distinct geohash3 cell centres between about 62S and 62N."""
    picked = rng.sample([(i, j) for i in range(256) for j in range(20, 108)], n)
    return [
        (-90 + (j + 0.5) * _CELL_DEG, -180 + (i + 0.5) * _CELL_DEG) for i, j in picked
    ]


def _cast(rng: random.Random, number: int, year: int, lat: float,
          lon: float) -> dict:
    depths = []
    depth = 0.0
    for _ in range(rng.randint(*_LEVELS)):
        temp = round(rng.uniform(-2.0, 30.0), 3) if rng.random() > 0.05 else None
        sal = round(rng.uniform(30.0, 38.0), 3) if rng.random() > 0.05 else None
        depths.append((round(depth, 1), [temp, sal]))
        depth += rng.uniform(1.0, 40.0)
    return {
        "castNumber": number,
        "country": rng.choice(_COUNTRIES),
        "cruise": rng.randint(1, 99_999),
        "year": year,
        "month": rng.randint(1, 12),
        "day": rng.randint(1, 28),
        "time": round(rng.uniform(0.0, 23.99), 2),
        "lat": lat,
        "lon": lon,
        "profileType": 0,
        "variables": [(1, 0, [(rng.randint(1, 9), round(rng.uniform(0, 99), 2))]),
                      (2, 0, [])],
        "attributes": [(rng.randint(1, 30), round(rng.uniform(0, 999), 3))],
        "depths": depths,
    }


def _corrupt(c: dict, text: str) -> str:
    """Replace the time field's leading length byte with ``X``."""
    count = int(text[2:2 + int(text[1])])
    offset = (1 + len(enc_int(count)) + len(enc_int(c["castNumber"]))
              + len(c["country"]) + len(enc_int(c["cruise"])) + 8)
    i = offset + offset // 80  # one newline per full 80-char line before it
    return text[:i] + "X" + text[i + 1:]


def write_file(path: str, seed: int, dataset: str, year: int, casts: int,
               cells: int, error_rate: float) -> dict:
    """Write one gz file; return its manifest entry."""
    rng = random.Random(f"{seed}:{dataset}:{year}")
    centres = _cells(rng, cells)
    bad = set(rng.sample(range(casts), round(casts * error_rate)))
    seen: set[str] = set()
    records = []
    for k in range(casts):
        clat, clon = rng.choice(centres)
        lat = round(clat + rng.uniform(-_JITTER_DEG, _JITTER_DEG), 4)
        lon = round(clon + rng.uniform(-_JITTER_DEG, _JITTER_DEG), 4)
        c = _cast(rng, k + 1, year, lat, lon)
        text = encode_cast(c)
        if k in bad:
            text = _corrupt(c, text)
        else:
            seen.add(geohash3(lat, lon))
        records.append(text)
    body = ("\n".join(records) + "\n").encode("ascii")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f, gzip.GzipFile(
        filename="", mode="wb", fileobj=f, mtime=0, compresslevel=6
    ) as gz:
        gz.write(body)
    return {
        "dataset": dataset,
        "year": year,
        "casts": casts,
        "error_casts": len(bad),
        "ok_casts": casts - len(bad),
        "geohash3_cells": sorted(seen),
        "text_bytes": len(body),
        "gz_bytes": os.path.getsize(path),
    }


def generate(root: str, seed: int, files: list[dict]) -> dict:
    """Write one file per entry of ``files`` (its ``casts``, ``cells`` and
    ``error_rate``) under ``root``, each for its own dataset/year."""
    pairs = [(ds, 1960 + 5 * y) for y in range(8) for ds in DATASETS]
    entries = {}
    for (ds, year), spec in zip(pairs, files):
        rel = f"{ds}/OBS/{ds}O{year}.gz"
        entries[rel] = write_file(os.path.join(root, rel), seed, ds, year,
                                  **spec)
    manifest = {"seed": seed, "files": entries}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def cached(cache: str, seed: int, **params) -> tuple[str, dict]:
    """The generated tree for (seed, params) under ``cache``, made on first
    use. Returns ``(root, manifest)``."""
    key = hashlib.sha1(json.dumps(
        {"seed": seed, "format": _FORMAT, **params}, sort_keys=True
    ).encode()).hexdigest()[:16]
    root = os.path.join(cache, key)
    manifest_path = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, **params)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(manifest_path) as f:
        return root, json.load(f)

