"""Convert pipeline on WOD files generated inside the test: needs no
fixture tree on disk.

Casts are rendered by ``encode_cast`` (the round-trip-fuzzed test encoder)
and chosen casts are malformed by replacing the leading length byte of
their time field with ``X``: the record's byte count and line framing stay
intact, so exactly that cast becomes one error row whose cast number can
still be read. Each converted file is checked for row + error-row
reconciliation, the exact error cast numbers, ``geo`` footers, the sidecar
and a single decode (``wod_scan`` call) per file — on the in-task arm, the
scatter arm and the REBALANCE writer arm. Also covered: a file whose every
cast is malformed, an empty file, the sidecar heal path, and both footer-stamping routes
of ``attach_geo_footer``.
"""

from __future__ import annotations

import collections
import gzip
import json
import os
import pathlib
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import wod_ascii_to_parquet_spark_spark.plans.convert as C
from tests.test_wod_fuzz import enc_int, encode_cast
from wod_ascii_to_parquet_spark_spark.plans.convert import FileTask, convert_file
from wod_ascii_to_parquet_spark_spark.plans.geo_metadata import (
    DRIVER_STAMP_MAX_FILES,
    SIDECAR_NAME,
    attach_geo_footer,
    geo_footer_dict,
)
from wod_ascii_to_parquet_spark_spark.sources.filesystem import FsClient

#: (dataset, file stem, casts, malformed cast numbers)
FILES = [
    ("CTD", "CTDO1990", 40, {3, 17, 31}),
    ("XBT", "XBTO1991", 30, set()),
]
ALL_BAD = ("MBT", "MBTO1992", 6, set(range(1, 7)))
EMPTY = ("GLD", "GLDO1993", 0, set())
GEO = json.dumps(geo_footer_dict()).encode()


def _cast(rng: random.Random, number: int, year: int) -> dict:
    return {
        "castNumber": number,
        "country": rng.choice(["US", "GB", "JP"]),
        "cruise": rng.randint(1, 99_999),
        "year": year,
        "month": rng.randint(1, 12),
        "day": rng.randint(1, 28),
        "time": round(rng.uniform(0.0, 23.99), 2),
        "lat": round(rng.uniform(-60.0, 60.0), 4),
        "lon": round(rng.uniform(-179.0, 179.0), 4),
        "profileType": 0,
        "variables": [(1, 0, [(3, 1.5)]), (2, 0, [])],
        "attributes": [(5, 12.345)],
        "depths": [
            (float(d * 10), [round(rng.uniform(-2, 30), 3), None])
            for d in range(rng.randint(1, 5))
        ],
    }


def _malform(c: dict, text: str) -> str:
    """Replace the time field's leading length byte with ``X``."""
    count = int(text[2 : 2 + int(text[1])])
    offset = (
        1 + len(enc_int(count)) + len(enc_int(c["castNumber"]))
        + len(c["country"]) + len(enc_int(c["cruise"])) + 8
    )
    i = offset + offset // 80  # one newline per full 80-char line before it
    assert text[i].isdigit()
    return text[:i] + "X" + text[i + 1 :]


def _write_gz(root, ds: str, stem: str, casts: int, bad: set[int]) -> str:
    rng = random.Random(stem)
    year = int(stem[-4:])
    records = []
    for number in range(1, casts + 1):
        c = _cast(rng, number, year)
        text = encode_cast(c)
        records.append(_malform(c, text) if number in bad else text)
    path = os.path.join(str(root), ds, "OBS", stem + ".gz")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write("".join(r + "\n" for r in records))
    return path


def _data_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def _error_rows(task: FileTask) -> list[tuple]:
    if not os.path.isdir(task.error_path):
        return []
    return [
        (r["dataset"], r["castNumber"], r["error"])
        for p in _data_files(task.error_path)
        for r in pq.read_table(p).to_pylist()
    ]


@pytest.fixture
def scan_calls(monkeypatch):
    """Records every ``wod_scan`` call that ``plans.convert`` makes."""
    calls = []
    real = C.wod_scan

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(C, "wod_scan", spy)
    return calls


@pytest.mark.parametrize("arm", ["in_task", "scatter", "rebalance"])
def test_one_decode_and_exact_error_rows(spark, tmp_path, monkeypatch,
                                         scan_calls, arm):
    if arm == "scatter":
        monkeypatch.setattr(C, "_SCATTER_MIN_BYTES", 0)
    if arm == "rebalance":
        monkeypatch.setenv("SPARK_GRAFT_CONVERT_REBALANCE", "1")
    else:
        monkeypatch.delenv("SPARK_GRAFT_CONVERT_REBALANCE", raising=False)
    out = str(tmp_path / "out")
    for ds, stem, casts, bad in FILES:
        src = _write_gz(tmp_path / "src", ds, stem, casts, bad)
        task = FileTask(ds, "OBS", src, out, out)
        before = len(scan_calls)
        assert convert_file(spark, task) == "converted"
        assert scan_calls[before:] == [src]  # one decode per file

        data = _data_files(task.output_path)
        assert data
        rows = sum(pq.read_metadata(p).num_rows for p in data)
        errs = _error_rows(task)
        assert rows + len(errs) == casts
        numbers = collections.Counter(n for _, n, _ in errs)
        assert set(numbers) == bad and all(k == 1 for k in numbers.values())
        assert all(d == ds and e for d, _, e in errs)
        assert os.path.isdir(task.error_path) == bool(bad)
        assert all(pq.read_metadata(p).metadata[b"geo"] == GEO for p in data)
        assert os.path.exists(os.path.join(task.output_path, SIDECAR_NAME))
        # every written row is well-formed: no error-row residue
        ghs = [
            (os.path.basename(os.path.dirname(p)), g)
            for p in data
            for g in pq.read_table(p, columns=["geohash"]).column(0).to_pylist()
        ]
        assert all(g and cell == f"geohash3={g[:3]}" for cell, g in ghs)
        numbers_ok = {
            n
            for p in data
            for n in pq.read_table(p, columns=["castNumber"]).column(0).to_pylist()
        }
        assert numbers_ok == set(range(1, casts + 1)) - bad


@pytest.mark.parametrize("spec", [ALL_BAD, EMPTY], ids=["all_malformed", "empty"])
def test_file_without_data_rows(spark, tmp_path, scan_calls, spec):
    """No row reaches the writer: the job still commits, the markers
    are published, and every cast (if any) is in the error dataset."""
    ds, stem, casts, bad = spec
    src = _write_gz(tmp_path / "src", ds, stem, casts, bad)
    out = str(tmp_path / "out")
    task = FileTask(ds, "OBS", src, out, out)
    assert convert_file(spark, task) == "converted"
    assert scan_calls == [src]
    assert os.path.exists(os.path.join(task.output_path, "_SUCCESS"))
    assert os.path.exists(os.path.join(task.output_path, SIDECAR_NAME))
    assert sum(
        pq.read_metadata(p).num_rows for p in _data_files(task.output_path)
    ) == 0
    assert sorted(n for _, n, _ in _error_rows(task)) == sorted(bad)


def test_sidecar_heal_rebuilds_error_rows(spark, tmp_path, scan_calls):
    ds, stem, casts, bad = FILES[0]
    src = _write_gz(tmp_path / "src", ds, stem, casts, bad)
    out = str(tmp_path / "out")
    task = FileTask(ds, "OBS", src, out, out)
    assert convert_file(spark, task) == "converted"
    first = sorted(_error_rows(task))
    assert len(first) == len(bad)

    os.remove(os.path.join(task.output_path, SIDECAR_NAME))
    shutil.rmtree(task.error_path)
    assert convert_file(spark, task) == "skipped"
    assert sorted(_error_rows(task)) == first
    assert os.path.exists(os.path.join(task.output_path, SIDECAR_NAME))
    assert scan_calls == [src, src]  # one decode to convert, one to heal


def _parquet_tree(root, n_files: int) -> dict[str, int]:
    """``n_files`` small parquet files spread over geohash3 dirs; returns
    each file's row count."""
    rows = {}
    for i in range(n_files):
        d = os.path.join(str(root), f"geohash3=c{i % 7:02d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"part-{i:05d}.parquet")
        n = 1 + i % 5
        pq.write_table(
            pa.table({"castNumber": list(range(n)), "geohash": ["c00x"] * n}),
            path,
        )
        rows[path] = n
    return rows


@pytest.mark.parametrize(
    "n_files,uses_job",
    [(3, False), (DRIVER_STAMP_MAX_FILES + 2, True)],
    ids=["driver_pool", "executor_job"],
)
def test_footer_routes_stamp_the_same_geo(spark, tmp_path, monkeypatch,
                                          n_files, uses_job):
    sc = spark.sparkContext
    jobs = []
    real = sc.parallelize

    def spy(data, *args, **kwargs):
        jobs.append(len(data))
        return real(data, *args, **kwargs)

    monkeypatch.setattr(sc, "parallelize", spy)
    root = str(tmp_path / "ds")
    rows = _parquet_tree(root, n_files)
    fs = FsClient(spark)

    assert attach_geo_footer(fs, root, spark=spark) == n_files
    assert jobs == ([n_files] if uses_job else [])
    for path, n in rows.items():
        md = pq.read_metadata(path)
        assert md.metadata[b"geo"] == GEO
        assert md.num_rows == n == pq.read_table(path).num_rows

    stamped = {p: pathlib.Path(p).read_bytes() for p in rows}
    attach_geo_footer(fs, root, spark=spark)
    assert {p: pathlib.Path(p).read_bytes() for p in rows} == stamped  # idempotent
