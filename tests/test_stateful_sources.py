"""CSV/JSON source round-trips (SURVEY S5)."""

from __future__ import annotations

import shutil
import tempfile

import pytest


@pytest.fixture()
def tmpd():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_roundtrip(spark, tmpd):
    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, "åäö", None)], "id long, s string, v double"
    )
    df.write.mode("overwrite").option("header", True).csv(f"{tmpd}/csv")
    back = spark.read.option("header", True).schema("id long, s string, v double").csv(
        f"{tmpd}/csv"
    )
    assert sorted((r["id"], r["s"], r["v"]) for r in back.collect()) == sorted(
        (r["id"], r["s"], r["v"]) for r in df.collect()
    )


def test_json_roundtrip(spark, tmpd):
    df = spark.createDataFrame(
        [(1, {"k": "v", "n": "2"}), (2, {"k": "w"})], "id long, m map<string,string>"
    )
    df.write.mode("overwrite").json(f"{tmpd}/json")
    back = spark.read.schema("id long, m map<string,string>").json(f"{tmpd}/json")
    assert {r["id"]: dict(r["m"]) for r in back.collect()} == {
        1: {"k": "v", "n": "2"},
        2: {"k": "w"},
    }
