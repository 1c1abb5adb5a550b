"""StateStore: CRUD (reference tests/test_database.py scenarios),
incremental copy-on-write commits, crash atomicity, time travel,
change feed and retention."""

from __future__ import annotations

import json
import os

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


def _state(spark, store, bp):
    return {r["id"]: r["description"] for r in store.load(spark, bp).collect()}


def _buckets(spark, store, *ids):
    return store._id_buckets(spark, list(ids))


def test_schema_evolution_new_field_loads_null(spark, tmp_path, bp):
    """State written before the blueprint gained a field loads with the
    new column as NULL (the reference's schemaless-store behavior)."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))

    evolved = Blueprint(
        name="GenericRecord",  # same table
        required={"key": (r"(\w+)", 1)},
        optional={
            "description": (r"desc_(\w+)", 1),
            "owner": (r"owner_(\w+)", 1),  # NEW field
        },
    )
    row = store.load(spark, evolved).collect()[0]
    assert row["description"] == "one"
    assert row["owner"] is None
    assert row["_conflicts"] == []


def test_crud_roundtrip(spark, tmp_path, bp):
    store = StateStore(str(tmp_path / "state"))
    # empty load
    assert store.load(spark, bp).count() == 0
    # insert (S10)
    assert store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")])) == 1
    assert store.load(spark, bp).count() == 2
    # point lookup honors both key parts (S11; reference `and`-bug fixed)
    got = store.get(spark, bp, "a").collect()
    assert len(got) == 1 and got[0]["description"] == "one"
    # upsert replaces by id (S12)
    store.upsert_rows(spark, bp, _rows(spark, bp, [("a", "uno"), ("c", "three")]))
    assert _state(spark, store, bp) == {"a": "uno", "b": "two", "c": "three"}
    # delete (S13)
    store.delete(spark, bp, "b")
    assert sorted(_state(spark, store, bp)) == ["a", "c"]
    # clear
    store.clear(bp)
    assert store.load(spark, bp).count() == 0


def test_no_renames_in_commit_path(spark, tmp_path, bp):
    """Data files land at their FINAL path in one write — there is no
    staging directory and no rename step to depend on. (On S3/GCS a
    rename is a copy; this store never issues one.)"""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    assert set(os.listdir(store._dir(bp.name))) == {"data", "manifest.v1.json"}
    # the manifest references the as-written location verbatim
    man = store._read_manifest(bp.name)
    for k, v in man["buckets"].items():
        assert os.path.isdir(store._bucket_path(bp.name, k, v))


def test_incremental_commit_rewrites_only_touched_bucket(spark, tmp_path, bp):
    """A 1-entity batch must rewrite ONLY that entity's bucket; the
    other buckets keep their version and their data dir is SHARED with
    the previous commit (no O(state) write amplification per tick)."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    store.overwrite(bp, _rows(spark, bp, [(f"id{i}", f"d{i}") for i in range(32)]))
    man1 = store._read_manifest(bp.name)
    assert len(man1["buckets"]) > 1  # 32 ids spread over several buckets

    batch = _rows(spark, bp, [("id0", "UPDATED")])
    buckets = store.bucket_ids(batch)
    merged = store.load_buckets(spark, bp, buckets).filter(F.col("id") != "id0")
    store.overwrite(bp, merged.unionByName(batch), buckets=buckets)
    man2 = store._read_manifest(bp.name)

    assert man2["version"] == man1["version"] + 1
    moved = {k for k in man1["buckets"] if man2["buckets"].get(k) != man1["buckets"][k]}
    assert len(moved) == 1  # only id0's bucket advanced
    for k in set(man1["buckets"]) - moved:
        assert man2["buckets"][k] == man1["buckets"][k]
        assert os.path.isdir(store._bucket_path(bp.name, k, man1["buckets"][k]))
    got = _state(spark, store, bp)
    assert len(got) == 32 and got["id0"] == "UPDATED" and got["id31"] == "d31"


def test_incremental_commit_updates_values(spark, tmp_path, bp):
    """Value changes for touched ids land; untouched rows survive
    across an incremental commit."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two"), ("c", "three")]))
    new = _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("c", "three")])
    store.overwrite(bp, new, buckets=_buckets(spark, store, "a"))
    assert _state(spark, store, bp) == {"a": "ONE", "b": "two", "c": "three"}


def test_incremental_commit_prunes_superseded_buckets(spark, tmp_path, bp):
    """Pruning works per (version, bucket): once no retained manifest
    references a bucket version, its dir is gone, even while other
    buckets written by the same commit are still live."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    store.overwrite(bp, _rows(spark, bp, [(f"id{i}", f"d{i}") for i in range(32)]))
    for rid in ("id0", "id1", "id0"):
        batch = _rows(spark, bp, [(rid, "UPDATED")])
        merged = store.load(spark, bp).filter(F.col("id") != rid).unionByName(batch)
        store.overwrite(bp, merged, buckets=store.bucket_ids(batch))

    referenced = {
        (int(bv), int(k))
        for v in store.versions(bp.name)
        for k, bv in store._load_manifest(bp.name, v)["buckets"].items()
    }
    ddir = os.path.join(store._dir(bp.name), "data")
    on_disk = {
        (int(v.split("=")[1]), int(b.split("=")[1]))
        for v in os.listdir(ddir)
        for b in os.listdir(os.path.join(ddir, v))
        if b.startswith("__b=")
    }
    assert on_disk == referenced
    assert len(_state(spark, store, bp)) == 32


def test_crash_before_manifest_leaves_previous_state(spark, tmp_path, bp):
    """Atomicity: a commit that dies after writing data but BEFORE its
    manifest is durable is invisible — readers stay on the previous
    version, and the next successful commit reaps the orphan."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    bdir = store._dir(bp.name)

    # simulate the crash: data for v2 fully written, no manifest.v2
    crashed = _rows(spark, bp, [("a", "CRASHED")]).withColumn("__b", store._bucket_col())
    crashed.write.mode("overwrite").partitionBy("__b").parquet(os.path.join(bdir, "data/v=2"))

    assert store._read_manifest(bp.name)["version"] == 1
    assert _state(spark, store, bp) == {"a": "one"}

    # next commit must not reuse the orphan's version number
    assert store.overwrite(bp, _rows(spark, bp, [("a", "three")])) == 3
    assert _state(spark, store, bp) == {"a": "three"}
    assert not os.path.isdir(os.path.join(bdir, "data/v=2"))  # orphan reaped


def test_torn_manifest_is_skipped(spark, tmp_path, bp):
    """A manifest torn mid-write (local FS crash) fails its CRC and is
    skipped — readers fall back to the last valid commit instead of
    erroring or reading garbage."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    bdir = store._dir(bp.name)

    with open(os.path.join(bdir, "manifest.v2.json"), "w") as f:
        f.write('{"version": 2, "buckets": {"0": 2}')  # truncated JSON
    assert store._read_manifest(bp.name)["version"] == 1

    man = {"version": 3, "buckets": {"0": 99}, "crc": "bogus"}
    with open(os.path.join(bdir, "manifest.v3.json"), "w") as f:
        f.write(json.dumps(man))  # parses but fails integrity
    assert store._read_manifest(bp.name)["version"] == 1
    assert _state(spark, store, bp) == {"a": "one"}

    # torn manifests still reserve their numbers
    assert store.overwrite(bp, _rows(spark, bp, [("a", "four")])) == 4
    assert _state(spark, store, bp) == {"a": "four"}


def test_time_travel_previous_version(spark, tmp_path, bp):
    """The current AND previous commits stay loadable (S8 backup
    semantics); older versions are pruned."""
    store = StateStore(str(tmp_path / "state"), n_buckets=4)
    v1 = store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    v2 = store.overwrite(
        bp, _rows(spark, bp, [("a", "ONE"), ("b", "two")]), buckets=_buckets(spark, store, "a", "b")
    )
    assert _state(spark, store, bp) == {"a": "ONE", "b": "two"}
    prev = {r["id"]: r["description"] for r in store.load_version(spark, bp, v1).collect()}
    assert prev == {"a": "one"}
    # a third commit rolls the retention window forward
    store.overwrite(
        bp, _rows(spark, bp, [("a", "ONE"), ("b", "TWO")]), buckets=_buckets(spark, store, "b")
    )
    assert store.load_version(spark, bp, v2).count() == 2
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v1)


def test_change_data_feed(spark, tmp_path, bp):
    """changes() diffs the current commit against the previous one:
    inserted / updated / deleted entity rows, for a full rewrite and
    for an incremental commit."""
    store = StateStore(str(tmp_path / "state"), n_buckets=4)
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two"), ("c", "x")]))
    # full rewrite: update a, delete c, insert d
    store.overwrite(bp, _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("d", "four")]))
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"a": "updated", "c": "deleted", "d": "inserted"}
    # incremental: update d, delete b, insert e
    batch = _rows(spark, bp, [("d", "FOUR"), ("e", "five")])
    merged = store.load(spark, bp).filter(F.col("id") == "a").unionByName(batch)
    store.overwrite(bp, merged, buckets=_buckets(spark, store, "b", "d", "e"))
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"d": "updated", "b": "deleted", "e": "inserted"}


def test_change_feed_skips_torn_commit(spark, tmp_path, bp):
    """Version numbers skip past a crashed commit; the change feed must
    diff against the last VALID commit, not blindly against v-1."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    with open(os.path.join(store._dir(bp.name), "manifest.v2.json"), "w") as f:
        f.write('{"version": 2, "buckets"')  # torn commit

    batch = _rows(spark, bp, [("a", "ONE"), ("c", "three")])
    merged = store.load(spark, bp).filter(~F.col("id").isin("a", "b")).unionByName(batch)
    assert store.overwrite(bp, merged, buckets=_buckets(spark, store, "a", "b", "c")) == 3
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"a": "updated", "b": "deleted", "c": "inserted"}


def test_retention_versions_and_vacuum(spark, tmp_path, bp):
    """retain=3 keeps three readable commits (unchanged buckets shared
    across manifests), older commits are reaped automatically, and
    vacuum() shrinks the history on demand."""
    store = StateStore(str(tmp_path / "state"), retain=3)
    v1 = store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    v2 = store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    v3 = store.overwrite(bp, _rows(spark, bp, [("a", "ONE"), ("b", "two")]))
    v4 = store.overwrite(
        bp, _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("c", "three")])
    )
    assert store.versions(bp.name) == [v4, v3, v2]

    # every retained version reads back exactly as committed
    assert {r["id"]: r["description"]
            for r in store.load_version(spark, bp, v2).collect()} == {
        "a": "one", "b": "two"}
    assert {r["id"]: r["description"]
            for r in store.load_version(spark, bp, v3).collect()} == {
        "a": "ONE", "b": "two"}
    # the commit past the retention window is gone
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v1)

    # vacuum to a single commit: only the current survives and still reads
    assert store.vacuum(bp.name, keep=1) == [v4]
    assert store.versions(bp.name) == [v4]
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v3)
    assert set(_state(spark, store, bp)) == {"a", "b", "c"}


def test_older_pointer_layout_is_refused(spark, tmp_path, bp):
    """A state dir from the older pointer layout (``manifest.json`` plus
    CRC-less ``manifest.v<n>.json`` and ``b=<k>/v=<n>`` dirs) must not
    read as empty — the snapshot would never re-offer those files, so
    the entities would be lost without notice."""
    bdir = tmp_path / "state" / bp.name
    _rows(spark, bp, [("a", "one")]).write.parquet(str(bdir / "b=0" / "v=1"))
    man = json.dumps({"version": 1, "buckets": {"0": 1}})
    (bdir / "manifest.json").write_text(man)
    (bdir / "manifest.v1.json").write_text(man)

    store = StateStore(str(tmp_path / "state"))
    with pytest.raises(ValueError, match=r"force_reindex=True"):
        store.load(spark, bp)
    with pytest.raises(ValueError, match=r"force_reindex=True"):
        store.overwrite(bp, _rows(spark, bp, [("a", "two")]))
    assert not (bdir / "data").exists()  # nothing was written
