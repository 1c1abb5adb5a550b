"""StateStore's copy-on-write commit path: CRUD through manifest
commits, buckets shared between commits, time travel across an
incremental (bucket) commit, and the change feed of an incremental
commit. Crash atomicity, retention and the rest live in
tests/test_store.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from files_kraken_spark.blueprint import Blueprint
from files_kraken_spark.operators.assemble import state_schema
from files_kraken_spark.store import StateStore


@pytest.fixture()
def bp():
    return Blueprint(
        name="GenericRecord",
        required={"key": (r"(\w+)", 1)},
        optional={"description": (r"desc_(\w+)", 1)},
    )


def _rows(spark, bp, rows):
    return spark.createDataFrame(
        [(bp.name, rid, rid, desc, []) for rid, desc in rows], state_schema(bp)
    )


def test_crud_roundtrip(spark, tmp_path, bp):
    store = StateStore(str(tmp_path / "state"))
    v1 = store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    assert v1 == 1
    assert {r["id"] for r in store.load(spark, bp).collect()} == {"a", "b"}
    assert store.get(spark, bp, "a").collect()[0]["description"] == "one"

    store.upsert_rows(spark, bp, _rows(spark, bp, [("b", "TWO"), ("c", "three")]))
    got = {r["id"]: r["description"] for r in store.load(spark, bp).collect()}
    assert got == {"a": "one", "b": "TWO", "c": "three"}

    store.delete(spark, bp, "a")
    assert {r["id"] for r in store.load(spark, bp).collect()} == {"b", "c"}

    store.clear(bp)
    assert store.load(spark, bp).count() == 0


def test_incremental_commit_shares_untouched_buckets(spark, tmp_path, bp):
    """Copy-on-write: a commit touching one bucket leaves the other
    buckets' data files byte-identical and SHARED with the previous
    commit (same path in both manifests)."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    base = [(f"id{i}", f"d{i}") for i in range(32)]
    store.overwrite(bp, _rows(spark, bp, base))
    man1 = store._read_manifest(bp.name)

    batch = _rows(spark, bp, [("id0", "UPDATED")])
    merged = (
        store.load(spark, bp)
        .filter(F.col("id") != "id0")
        .unionByName(batch)
    )
    store.overwrite(bp, merged, buckets=store.bucket_ids(batch))
    man2 = store._read_manifest(bp.name)

    moved = {k for k in man1["buckets"] if man2["buckets"].get(k) != man1["buckets"][k]}
    assert len(moved) == 1  # only id0's bucket got a new version
    shared = set(man1["buckets"]) - moved
    assert shared and all(man2["buckets"][k] == man1["buckets"][k] for k in shared)
    got = {r["id"]: r["description"] for r in store.load(spark, bp).collect()}
    assert got["id0"] == "UPDATED" and got["id31"] == "d31"


def test_time_travel_previous_version(spark, tmp_path, bp):
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "v1"), ("b", "v1")]))
    batch = _rows(spark, bp, [("a", "v2")])
    merged = (
        store.load(spark, bp).filter(F.col("id") != "a").unionByName(batch)
    )
    store.overwrite(bp, merged, buckets=store.bucket_ids(batch))

    prev = {r["id"]: r["description"] for r in store.load_version(spark, bp, 1).collect()}
    cur = {r["id"]: r["description"] for r in store.load_version(spark, bp, 2).collect()}
    assert prev == {"a": "v1", "b": "v1"}
    assert cur == {"a": "v2", "b": "v1"}


def test_change_data_feed(spark, tmp_path, bp):
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    batch = _rows(spark, bp, [("a", "ONE"), ("c", "three")])
    merged = (
        store.load(spark, bp)
        .filter(~F.col("id").isin("a", "b"))
        .unionByName(batch)
    )
    touched = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    store.overwrite(bp, merged, buckets=store.bucket_ids(touched))
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"a": "updated", "b": "deleted", "c": "inserted"}
