"""Keyed entity state store (reference parity: S10-S14, A11).

The reference's TinyDB JSON table keyed by ``(blueprint, id)``
(``database/_database.py:26-47``) becomes one hash-bucketed parquet
table per blueprint, committed as a copy-on-write manifest log:

    <root>/<blueprint>/data/v=<N>/__b=<k>/   bucket k as of commit N
    <root>/<blueprint>/manifest.v<N>.json    {"version": N,
                                              "buckets": {"k": M}, "crc": …}

- **Reads and commits are per bucket.** A change tick reads only the
  buckets its entity ids hash into (``load_buckets``) and rewrites only
  those (``overwrite(..., buckets=…)``), as the reference updates only
  touched entities (``data_organizer/_data_organizer.py:43-47``) and
  Structured Streaming's stateful operators read state only for the
  keys in the micro-batch; reading or rewriting the whole table per
  tick would cost O(state). Untouched buckets keep their (version,
  path) in the new manifest, so one immutable data dir is shared by
  every commit that references it. ``load`` is the full scan.
- **Data is written once, to its final location.** One ``partitionBy``
  write lands the touched buckets under ``data/v=<N>/``; the store
  never moves a file. (Inside that dir Spark's FileOutputCommitter
  still renames task attempts into place; the write selects committer
  algorithm v2 to skip the job-level double rename, and on S3 the S3A
  magic committer makes task commits PUTs. Correctness never depends
  on those renames.)
- **The commit point is one new manifest file.** There is no mutable
  pointer: the latest VALID manifest wins. Each manifest embeds a CRC
  of its payload, and readers skip one that fails to parse or verify
  (a write torn by a crash), falling back to the previous commit. A
  crash at any point before the manifest is durable leaves the store
  exactly at the previous version. Version numbers are never reused:
  a torn manifest or an orphan data dir still reserves its N.
- **Retention.** The newest ``retain`` valid commits stay readable
  (``load_version``, ``versions``, ``changes``); every commit prunes
  the other manifests and each ``data/v=<M>/__b=<k>`` dir no retained
  manifest references, so a bucket a later commit superseded does not
  outlive the window. ``vacuum`` shrinks the window on demand.

Single-writer discipline, as with SnapshotStore's pointer swap.

Note the documented-intent fix: lookups here honor BOTH key parts —
the reference's ``get_blueprint``/``remove_blueprint`` drop the
blueprint-name conjunct due to a Python ``and`` bug
(``database/_database.py:36-37,44``; SURVEY §1.4).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .blueprint import Blueprint
from .operators.assemble import state_schema

_MANIFEST_RE = re.compile(r"^manifest\.v(\d+)\.json$")


def bucket_col(n_buckets: int) -> Column:
    """Each row's state bucket: ``pmod(xxhash64(id), n_buckets)``."""
    return F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int")


def bucket_ids(ids: DataFrame, n_buckets: int) -> list[int]:
    """The sorted distinct buckets of the ``id`` column of ``ids``.

    One small int per row, deduplicated on the driver: over a
    driver-local batch (an Arrow-backed frame) the projection folds
    into the local relation and runs no Spark job, where a
    ``distinct()`` would add a shuffle and two jobs."""
    return sorted({r[0] for r in ids.select(bucket_col(n_buckets)).collect()})


def _payload_crc(version: int, buckets: dict) -> str:
    body = json.dumps({"version": version, "buckets": buckets}, sort_keys=True)
    return hashlib.sha256(body.encode()).hexdigest()[:16]


class StateStore:
    """All blueprint tables under one root directory (see module
    docstring for the layout and commit protocol).

    ``n_buckets`` fixes the hash-partition count of every table; at
    cluster scale size it so one bucket's rows fit an executor's write
    task (buckets are the unit of rewrite, not parallelism — each
    bucket dir may hold many files). ``retain`` = number of commits
    kept for time travel (at least 2: current + previous).
    """

    def __init__(self, root: str, n_buckets: int = 32, retain: int = 2):
        self.root = root
        self.n_buckets = n_buckets
        self.retain = max(2, retain)
        os.makedirs(root, exist_ok=True)

    # ---------------------------------------------------------- layout

    def _dir(self, blueprint_name: str) -> str:
        return os.path.join(self.root, blueprint_name)

    def _manifest_path(self, blueprint_name: str, v: int) -> str:
        return os.path.join(self._dir(blueprint_name), f"manifest.v{v}.json")

    def _bucket_path(self, blueprint_name: str, k, v) -> str:
        return os.path.join(self._dir(blueprint_name), f"data/v={v}", f"__b={k}")

    def _bucket_col(self) -> Column:
        return bucket_col(self.n_buckets)

    def _manifest_versions(self, blueprint_name: str) -> list[int]:
        """All manifest version numbers on disk, descending — including
        torn/invalid files (they still reserve their N)."""
        bdir = self._dir(blueprint_name)
        try:
            entries = os.listdir(bdir)
        except FileNotFoundError:
            return []
        if "manifest.json" in entries:
            raise ValueError(
                f"{bdir} holds state in the older pointer layout "
                "(manifest.json), which this store does not read. Delete "
                f"the state dir {self.root} and rebuild it with "
                "Workflow.run_once(force_reindex=True)."
            )
        return sorted(
            (int(m.group(1)) for m in map(_MANIFEST_RE.match, entries) if m),
            reverse=True,
        )

    def _load_manifest(self, blueprint_name: str, v: int) -> dict | None:
        """Manifest ``v`` if it parses and its CRC verifies, else None."""
        try:
            with open(self._manifest_path(blueprint_name, v)) as f:
                man = json.load(f)
            if man.get("crc") == _payload_crc(man["version"], man["buckets"]):
                return man
        except (FileNotFoundError, ValueError, KeyError):
            pass  # gone (pruned meanwhile) or torn mid-write
        return None

    def _retained(self, blueprint_name: str, limit: int | None = None) -> list[dict]:
        """The newest ``limit`` (default ``retain``) VALID manifests,
        newest first — torn commits are skipped, they never count
        against retention."""
        limit = self.retain if limit is None else limit
        out = []
        for v in self._manifest_versions(blueprint_name):
            if len(out) >= limit:
                break
            man = self._load_manifest(blueprint_name, v)
            if man is not None:
                out.append(man)
        return out

    def _read_manifest(self, blueprint_name: str) -> dict | None:
        """The latest valid manifest (None before the first commit)."""
        latest = self._retained(blueprint_name, 1)
        return latest[0] if latest else None

    def _next_version(self, blueprint_name: str) -> int:
        """1 + the highest version number ever RESERVED — counting torn
        manifests and orphan data dirs, so an interrupted commit's N is
        never reused (its data dir may hold partial files)."""
        seen = self._manifest_versions(blueprint_name)
        try:
            for e in os.listdir(os.path.join(self._dir(blueprint_name), "data")):
                if e.startswith("v="):
                    seen.append(int(e.split("=", 1)[1]))
        except FileNotFoundError:
            pass
        return (max(seen) + 1) if seen else 1

    # ------------------------------------------------------------- reads

    def bucket_ids(self, ids: DataFrame) -> list[int]:
        """The buckets ``ids``' rows hash into (see ``bucket_ids``)."""
        return bucket_ids(ids, self.n_buckets)

    def _read(
        self,
        spark: SparkSession,
        bp: Blueprint,
        man: dict | None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """The table as of manifest ``man`` — only ``buckets`` of it
        when given — in ``bp``'s schema. Buckets the manifest does not
        hold are empty and read nothing.

        Schema evolution: a table written before the blueprint gained a
        field comes back with the new columns as NULL (the reference's
        document store was schemaless, so old records simply lacked the
        key — NULL is the columnar equivalent), and columns of fields
        the blueprint dropped are not read. The reader is handed the
        blueprint's schema, so no Spark job infers or merges the file
        schemas."""
        held = man["buckets"] if man else {}
        keys = held if buckets is None else [str(k) for k in buckets if str(k) in held]
        if not keys:
            return spark.createDataFrame([], state_schema(bp))
        paths = [self._bucket_path(bp.name, k, held[k]) for k in keys]
        return spark.read.schema(state_schema(bp)).parquet(*paths)

    def load_buckets(
        self, spark: SparkSession, bp: Blueprint, buckets: list[int] | None
    ) -> DataFrame:
        """The current rows of ``buckets`` (every bucket when None) —
        manifest-level partition pruning: only those bucket dirs are
        handed to the reader."""
        return self._read(spark, bp, self._read_manifest(bp.name), buckets)

    def load(self, spark: SparkSession, bp: Blueprint) -> DataFrame:
        """S14 — full scan of one blueprint's table (empty if absent)."""
        return self.load_buckets(spark, bp, None)

    def _id_buckets(self, spark: SparkSession, ids: list[str]) -> list[int]:
        """``bucket_ids`` of a driver-side id list (no Spark job)."""
        local = spark.createDataFrame(pa.table({"id": pa.array(ids, pa.string())}))
        return self.bucket_ids(local)

    def get(self, spark: SparkSession, bp: Blueprint, entity_id: str) -> DataFrame:
        """S11 — point lookup by (blueprint, id). Only the id's bucket
        is scanned."""
        pred = (F.col("blueprint") == bp.name) & (F.col("id") == entity_id)
        return self.load_buckets(spark, bp, self._id_buckets(spark, [entity_id])).filter(pred)

    # ------------------------------------------------------------ writes

    def overwrite(
        self, bp: Blueprint, df: DataFrame, buckets: list[int] | None = None
    ) -> int:
        """A11 — commit a new state version (single-writer).

        With ``buckets``, only those buckets are replaced: each becomes
        ``df``'s rows that hash into it (the bucket leaves the manifest
        when none do), and every other bucket keeps its old version.
        ``df``'s rows outside ``buckets`` are ignored. Without it, every
        bucket is rewritten from ``df`` (bootstrap / reindex path).
        An empty ``buckets`` commits nothing and returns the current
        version (0 before the first commit)."""
        man = self._read_manifest(bp.name)
        if buckets is not None and not buckets:
            return man["version"] if man else 0
        prev_buckets = (
            {int(k): int(bv) for k, bv in man["buckets"].items()} if man else {}
        )
        v = self._next_version(bp.name)
        bdir = self._dir(bp.name)
        os.makedirs(bdir, exist_ok=True)

        out = df.withColumn("__b", self._bucket_col())
        if buckets is not None:
            out = out.filter(F.col("__b").isin(list(buckets)))

        data_dir = os.path.join(bdir, f"data/v={v}")
        out.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.algorithm.version", "2"
        ).partitionBy("__b").parquet(data_dir)
        written = {
            int(e.split("=", 1)[1]) for e in os.listdir(data_dir) if e.startswith("__b=")
        }

        if buckets is None:
            # full rewrite: buckets with no rows in df are now empty
            new_buckets = {k: v for k in written}
        else:
            new_buckets = dict(prev_buckets)
            for k in buckets:
                if k in written:
                    new_buckets[k] = v
                else:
                    new_buckets.pop(k, None)  # every row in the bucket deleted

        buckets_json = {str(k): bv for k, bv in sorted(new_buckets.items())}
        manifest = {
            "version": v,
            "buckets": buckets_json,
            "crc": _payload_crc(v, buckets_json),
        }
        # THE commit point: one new file, all-or-nothing on an object
        # store, CRC-guarded against torn local writes. No pointer swap.
        with open(self._manifest_path(bp.name, v), "w") as f:
            f.write(json.dumps(manifest))
        self._prune(bp.name, self._retained(bp.name))
        return v

    def upsert_rows(self, spark: SparkSession, bp: Blueprint, rows: DataFrame) -> int:
        """S10/S12 — insert-or-replace whole rows by id (utility path;
        the pipeline itself uses assemble's merge). Reads and rewrites
        only the buckets ``rows`` hash into."""
        buckets = self.bucket_ids(rows)
        kept = self.load_buckets(spark, bp, buckets).join(rows.select("id"), "id", "left_anti")
        return self.overwrite(bp, kept.unionByName(rows), buckets=buckets)

    def delete(self, spark: SparkSession, bp: Blueprint, entity_id: str) -> int:
        """S13 — remove one entity (reads and rewrites only its bucket)."""
        buckets = self._id_buckets(spark, [entity_id])
        cur = self.load_buckets(spark, bp, buckets)
        return self.overwrite(bp, cur.filter(F.col("id") != entity_id), buckets=buckets)

    def clear(self, bp: Blueprint) -> None:
        shutil.rmtree(self._dir(bp.name), ignore_errors=True)

    # ---------------------------------------------------------- history

    def versions(self, blueprint_name: str) -> list[int]:
        """Retained commit versions, newest first — each readable via
        ``load_version`` (Delta's DESCRIBE HISTORY, reduced to ids)."""
        return [m["version"] for m in self._retained(blueprint_name)]

    def load_version(self, spark: SparkSession, bp: Blueprint, version: int) -> DataFrame:
        """Time travel: read the state as of a retained commit (the
        reference's BackupManager kept restorable backups, S8)."""
        man = self._load_manifest(bp.name, version)
        if man is None:
            raise ValueError(
                f"version {version} of {bp.name} is not retained "
                f"(the newest {self.retain} commits are)"
            )
        return self._read(spark, bp, man)

    def changes(self, spark: SparkSession, bp: Blueprint) -> DataFrame:
        """Change-data-feed for the last commit: (id, change) rows with
        change ∈ inserted|updated|deleted, derived by diffing the
        current state against the previous VALID commit (version
        numbers skip past torn commits, so not blindly v-1) — the
        downstream-consumer hook the reference's change reports
        provide for files, applied to ENTITIES. One pass of two
        anti-joins on (id, row-content hash)."""
        last = self._retained(bp.name, 2)
        cur = self._read(spark, bp, last[0] if last else None)
        if len(last) < 2:
            return cur.select("id", F.lit("inserted").alias("change"))
        prev = self._read(spark, bp, last[1])
        fp = F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cur.columns]
        )
        c = cur.select("id", fp.alias("__fp"))
        p = prev.select("id", fp.alias("__fp"))
        inserted = (
            c.join(p.select("id"), "id", "left_anti")
            .select("id", F.lit("inserted").alias("change"))
        )
        deleted = (
            p.join(c.select("id"), "id", "left_anti")
            .select("id", F.lit("deleted").alias("change"))
        )
        updated = (
            c.join(p.withColumnRenamed("__fp", "__pfp"), "id")
            .filter(F.col("__fp") != F.col("__pfp"))
            .select("id", F.lit("updated").alias("change"))
        )
        return inserted.unionByName(updated).unionByName(deleted)

    def vacuum(self, blueprint_name: str, keep: int = 1) -> list[int]:
        """Shrink the retained history to the newest ``keep`` commits
        and reap every bucket version no surviving manifest references —
        Delta's VACUUM. Returns the surviving versions, newest first.
        Safe at any point: the current commit is always kept."""
        survivors = self._retained(blueprint_name)[: max(1, keep)]
        self._prune(blueprint_name, survivors)
        return [m["version"] for m in survivors]

    # ------------------------------------------------------------ hygiene

    def _prune(self, blueprint_name: str, keep: list[dict]) -> None:
        """Keep the manifests in ``keep`` and exactly the
        ``data/v=<M>/__b=<k>`` dirs they reference; everything else —
        older commits, buckets a retained commit superseded, orphan
        dirs from crashed commits — is reaped. A ``v=<M>`` dir goes
        once no referenced bucket is left in it."""
        bdir = self._dir(blueprint_name)
        keep_versions = {m["version"] for m in keep}
        live: dict[int, set[int]] = {}
        for m in keep:
            for k, bv in m["buckets"].items():
                live.setdefault(int(bv), set()).add(int(k))
        for e in os.listdir(bdir):
            m = _MANIFEST_RE.match(e)
            if m and int(m.group(1)) not in keep_versions:
                os.remove(os.path.join(bdir, e))
        ddir = os.path.join(bdir, "data")
        if not os.path.isdir(ddir):
            return
        for e in os.listdir(ddir):
            if not e.startswith("v="):
                continue
            vdir = os.path.join(ddir, e)
            ks = live.get(int(e.split("=", 1)[1]))
            if not ks:
                shutil.rmtree(vdir, ignore_errors=True)
                continue
            for b in os.listdir(vdir):
                if b.startswith("__b=") and int(b.split("=", 1)[1]) not in ks:
                    shutil.rmtree(os.path.join(vdir, b), ignore_errors=True)
