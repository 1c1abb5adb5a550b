"""End-to-end training-data preparation: the pipeline a pretraining
team would actually run, composed from the engine's operators —

  load → quality filter → exact dedup → MinHash near-dup → components
  → keep-one-per-group → leakage-safe train/val split → deterministic
  global shuffle → token-budget packing → sharded export,
  with run state committed through the copy-on-write store.

    python examples/training_data_prep_example.py [sf_dir]

(defaults to /root/testdata/sf0.001; ~2 min on local[*])
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from files_kraken_spark.blueprint import Blueprint
from files_kraken_spark.store import StateStore
from files_kraken_spark.operators.corpus import (
    global_shuffle_order,
    leakage_safe_split,
    pack_sequences,
)
from files_kraken_spark.operators.dedup import full_dedup
from files_kraken_spark.functions.text import quality_score
from files_kraken_spark.session import get_session
from files_kraken_spark.sources.tables import load_table


def main(sf_dir: str) -> None:
    spark = get_session("training-data-prep")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gate: drop junk before paying for dedup
    scored = docs.withColumn("q", quality_score(F.col("text")))
    kept = scored.filter(F.col("q") >= 0.3).persist()
    n1 = kept.count()

    # 2. dedup: exact collapse first (linear), then MinHash-LSH on the
    #    survivors, components, keep one per group
    decisions = full_dedup(kept, "doc_id", "text", threshold=0.8)
    clean = kept.join(
        decisions.filter(F.col("keep")).select("doc_id"), "doc_id"
    ).persist()
    n2 = clean.count()

    # 3. leakage-safe split: near-dups can never straddle train/val
    split = leakage_safe_split(clean, "doc_id", "text", train_pct=90)
    train = clean.join(
        split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    )

    # 4. deterministic epoch order + token-budget packing
    order = global_shuffle_order(train, "doc_id", seed=1)
    packed = pack_sequences(train, "doc_id", "text", budget=256)

    # 5. sharded export: range-partition by shuffle position so shards
    #    are both shuffled and reproducible
    out = tempfile.mkdtemp(prefix="fks_prep_")
    (
        train.join(order, "doc_id")
        .repartitionByRange(4, "position")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "train"))
    )

    # 6. commit run metadata through the copy-on-write state store
    #    (atomic: a crashed run leaves the previous commit readable)
    bp = Blueprint(name="PrepRuns", required={"key": (r"(\w+)", 1)},
                   optional={"description": (r"desc_(\w+)", 1)})
    store = StateStore(os.path.join(out, "state"))
    meta = spark.createDataFrame(
        [(bp.name, "run_1", "run_1",
          f"docs={n0} kept={n1} deduped={n2}", [])],
        "blueprint string, id string, key string, description string, "
        "_conflicts array<string>",
    )
    v = store.overwrite(bp, meta)

    print(f"input docs:        {n0}")
    print(f"after quality:     {n1}")
    print(f"after dedup:       {n2}")
    print(f"train rows:        {train.count()}")
    print(f"packed bins:       {packed.agg(F.max('bin')).first()[0] + 1}")
    print(f"state committed:   v{v} at {out}/state")
    print(f"shards:            {out}/train")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
