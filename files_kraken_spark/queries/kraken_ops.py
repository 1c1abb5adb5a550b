"""Reference-parity operators exercised on the driver's tables.

Each query maps a files-kraken behavior (SURVEY §2 operator IDs in the
names/docs) onto the TPC-H-ish corpus so the DuckDB oracle can verify
it. The real engine modules (``operators/``, ``blueprint.py``) use the
same expression builders; these queries are their oracle-checkable
projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import retools as rt
from ..sources.tables import load_table
from . import register


# ---------------------------------------------------------------- F ops

@register(
    "f1_fullmatch_extract",
    oracle="""
SELECT nullif(regexp_extract(p_name, '^(?:(red|blue) \\w+)$', 1), '') AS color,
       count(*) AS n_parts
FROM part
WHERE regexp_full_match(p_name, '(red|blue) \\w+')
GROUP BY 1
""",
    doc="F1 re.fullmatch semantics: anchored extract (retools/_retools.py:13-14).",
)
def f1_fullmatch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(rt.fullmatch(F.col("p_name"), r"(red|blue) \w+", 1).alias("color"))
        .filter(F.col("color").isNotNull())
        .groupBy("color")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "f2_search_extract",
    oracle="""
SELECT event_type,
       count(*) AS n_with_k,
       avg(CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INT)) AS avg_k
FROM events
WHERE nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') IS NOT NULL
GROUP BY event_type
""",
    doc="F2 re.search group extract with ''→NULL mapping (retools/_retools.py:16-18).",
)
def f2_search_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = rt.search(F.col("props"), r'"k": ([0-9]+)', 1).cast("int")
    return (
        events.select("event_type", k.alias("k_val"))
        .filter(F.col("k_val").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.avg("k_val").alias("avg_k"),  # int avg: exact sum / count, bit-equal
        )
    )


@register(
    "f3_findall_digit_runs",
    oracle="""
SELECT p_size % 10 AS size_mod,
       CAST(sum(len(regexp_extract_all(p_name, '[aeiou]+'))) AS BIGINT) AS n_vowel_runs
FROM part
GROUP BY 1
""",
    doc="F3 re.findall: count of all matches per row (retools/_retools.py:20-22).",
)
def f3_findall_digit_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            (F.col("p_size") % 10).alias("size_mod"),
            F.size(rt.findall(F.col("p_name"), r"[aeiou]+")).alias("runs"),
        )
        .groupBy("size_mod")
        .agg(F.sum("runs").alias("n_vowel_runs"))
    )


@register(
    "f6_bool_multimatch",
    oracle="""
SELECT p_partkey, p_name
FROM part
WHERE (regexp_full_match(p_name, '.*(ring|bolt)')
       OR regexp_full_match(p_name, '(red|hot) .*'))
  AND NOT regexp_full_match(p_name, '.*widget')
""",
    doc="F6 BoolOutputMultimatcher any-mode with exclude veto "
    "(retools/_retools.py:76-100).",
)
def f6_bool_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pred = rt.bool_multimatch(
        F.col("p_name"),
        [r".*(ring|bolt)", r"(red|hot) .*"],
        mode="any",
        exclude=[r".*widget"],
    )
    return part.filter(pred).select("p_partkey", "p_name")


@register(
    "f7_scheme_fallback",
    oracle="""
SELECT p_partkey,
       coalesce(nullif(regexp_extract(p_name, 'red (\\w+)', 1), ''),
                nullif(regexp_extract(p_name, 'blue (\\w+)', 1), '')) AS item,
       nullif(regexp_extract(p_name, '(small|large) (\\w+)', 2), '') AS sized_item
FROM part
WHERE coalesce(nullif(regexp_extract(p_name, 'red (\\w+)', 1), ''),
               nullif(regexp_extract(p_name, 'blue (\\w+)', 1), '')) IS NOT NULL
   OR nullif(regexp_extract(p_name, '(small|large) (\\w+)', 2), '') IS NOT NULL
""",
    doc="F7 SchemeMatcher: ordered fallback via lazy coalesce; absent field = NULL "
    "(retools/_retools.py:103-141).",
)
def f7_scheme_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    fields = rt.scheme_match(
        F.col("p_name"),
        {
            "item": [(r"red (\w+)", 1), (r"blue (\w+)", 1)],
            "sized_item": (r"(small|large) (\w+)", 2),
        },
    )
    out = part.select(
        "p_partkey", fields["item"].alias("item"), fields["sized_item"].alias("sized_item")
    )
    return out.filter(F.col("item").isNotNull() | F.col("sized_item").isNotNull())


@register(
    "f8_correlated_pattern",
    oracle="""
SELECT event_type, count(*) AS n_matching
FROM events
WHERE regexp_matches(props, concat('"k": ', CAST(CAST(FLOOR(value) AS INT) AS VARCHAR)))
GROUP BY event_type
""",
    doc="F8 correlated per-row pattern: regex built from another column "
    "(blueprint/_blueprint.py:34-37; examples/easy_example.py:61-67). "
    "Interpolated values intentionally NOT regex-escaped (reference parity).",
)
def f8_correlated_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pat = rt.correlated_pattern(
        '"k": ', F.floor(F.col("value")).cast("int").cast("string")
    )
    return (
        events.filter(F.regexp_like(F.col("props"), pat))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_matching"))
    )


# ---------------------------------------------------------------- D ops

_D1_A = "o_orderdate < TIMESTAMP '1999-01-01'"  # "previous snapshot"
_D1_B = "o_orderdate >= TIMESTAMP '1996-01-01'"  # "current snapshot"


@register(
    "d1_snapshot_diff",
    oracle=f"""
WITH a AS (SELECT o_orderkey FROM orders WHERE {_D1_A}),
     b AS (SELECT o_orderkey FROM orders WHERE {_D1_B})
SELECT o_orderkey, 'deleted' AS change
FROM a WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.o_orderkey = a.o_orderkey)
UNION ALL
SELECT o_orderkey, 'created' AS change
FROM b WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.o_orderkey = b.o_orderkey)
""",
    doc="D1 snapshot diff via two anti-joins + tagged union "
    "(monitoring/_monitoring.py:39-50). At scale both sides shuffle on the "
    "key once; AQE picks broadcast when one snapshot is small.",
)
def d1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    snap_a = orders.filter(F.expr(_D1_A)).select("o_orderkey")
    snap_b = orders.filter(F.expr(_D1_B)).select("o_orderkey")
    deleted = snap_a.join(snap_b, "o_orderkey", "left_anti").withColumn(
        "change", F.lit("deleted")
    )
    created = snap_b.join(snap_a, "o_orderkey", "left_anti").withColumn(
        "change", F.lit("created")
    )
    return deleted.unionByName(created)


@register(
    "d2_ordered_changes",
    oracle="""
SELECT o_orderkey,
       CAST(nullif(regexp_extract(o_orderpriority, '([0-9]+)-', 1), '') AS INT)
         AS prio_num,
       dense_rank() OVER (ORDER BY CAST(nullif(regexp_extract(o_orderpriority,
                          '([0-9]+)-', 1), '') AS INT)) AS prio_rank
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-06-01'
""",
    doc="D2 ReSorter: deterministic ordering by regex-extracted int key "
    "(retools/_retools.py:144-156), surfaced as a rank column. The "
    "global dense_rank is computed scale-safely: rank the distinct key "
    "values (a handful of priorities) and broadcast-join back — no "
    "unpartitioned window, no single-task sort.",
)
def d2_ordered_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import dense_rank_low_card

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    key = rt.re_sort_key(F.col("o_orderpriority"), r"([0-9]+)-", 1, "int")
    keyed = orders.select("o_orderkey", key.alias("prio_num"))
    return dense_rank_low_card(keyed, "prio_num", out_col="prio_rank")


# ---------------------------------------------------------------- A ops

@register(
    "a3_entity_id",
    oracle="""
SELECT concat_ws('__', l_orderkey, l_linenumber) AS entity_id,
       l_partkey, round(l_quantity, 2) AS qty
FROM lineitem
WHERE l_orderkey < 1000
""",
    doc="A3 identity construction: required fields joined by '__' in order "
    "(data_organizer/_data_organizer.py:149).",
)
def a3_entity_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        F.concat_ws("__", F.col("l_orderkey"), F.col("l_linenumber")).alias("entity_id"),
        F.col("l_partkey"),
        F.round(F.col("l_quantity"), 2).alias("qty"),
    )


@register(
    "a6_merge_scalar",
    oracle="""
SELECT l_orderkey,
       min(l_returnflag) AS merged_flag,
       (count(DISTINCT l_returnflag) > 1) AS has_conflict
FROM lineitem
GROUP BY l_orderkey
""",
    doc="A6 scalar merge: set-if-unset with conflict detection surfaced as a "
    "quarantine flag instead of an executor exception (fields/_fields.py:73-86). "
    "Both outputs come from ONE collect_set buffer (array_min / size) — "
    "a distinct aggregate next to any other aggregate triggers "
    "Catalyst's Expand rewrite, ~2x slower measured.",
)
def a6_merge_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey").agg(F.collect_set("l_returnflag").alias("__s"))
    return s.select(
        "l_orderkey",
        F.array_min("__s").alias("merged_flag"),
        (F.size("__s") > 1).alias("has_conflict"),
    )


@register(
    "a6_merge_list",
    oracle="""
SELECT l_orderkey,
       array_to_string(array_agg(DISTINCT l_partkey ORDER BY l_partkey), ',') AS parts,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY l_orderkey
""",
    doc="A6 list merge: append-dedup accumulation, canonically sorted "
    "(fields/_fields.py:128-139; order made deterministic per SURVEY §7.4). "
    "Projected as a joined string for the driver's pandas canonicalizer. "
    "n_parts = size(collect_set) rather than count_distinct: mixing a "
    "distinct aggregate with collect_set forces Catalyst's Expand "
    "rewrite (every input row duplicated per aggregate group — 3x "
    "slower measured); one set buffer serves both outputs.",
)
def a6_merge_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("__s"))
    return s.select(
        "l_orderkey",
        F.array_join(F.sort_array("__s"), ",").alias("parts"),
        F.size("__s").alias("n_parts"),
    )


@register(
    "a7_delete_list",
    oracle="""
SELECT l_orderkey,
       array_to_string(array_agg(DISTINCT l_partkey ORDER BY l_partkey), ',')
         AS kept_parts
FROM lineitem l1
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey
    AND l2.l_partkey = l1.l_partkey
    AND l2.l_returnflag = 'R'
)
GROUP BY l_orderkey
""",
    doc="A7 deleted-mode list subtraction: array_except of deleted values "
    "(fields/_fields.py:141-145). Projected as a joined string for the "
    "driver's pandas canonicalizer.",
)
def a7_delete_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("all_parts"),
        F.collect_set(F.when(F.col("l_returnflag") == "R", F.col("l_partkey"))).alias(
            "deleted_parts"
        ),
    )
    kept = agg.select(
        "l_orderkey",
        F.sort_array(F.array_except(F.col("all_parts"), F.col("deleted_parts"))).alias(
            "kept_arr"
        ),
    ).filter(F.size("kept_arr") > 0)
    return kept.select(
        "l_orderkey", F.array_join("kept_arr", ",").alias("kept_parts")
    )


@register(
    "a9_parser_dag",
    oracle="""
SELECT o.o_orderkey,
       li.n_items,
       CASE WHEN li.n_items IS NOT NULL AND li.n_items > 0
            THEN o.o_totalprice / li.n_items END AS price_per_item
FROM orders o
LEFT JOIN (SELECT l_orderkey, count(*) AS n_items
           FROM lineitem GROUP BY l_orderkey) li
  ON li.l_orderkey = o.o_orderkey
""",
    doc="A9 dependent derived column: parser fires only when all "
    "dependency fields are set (data_organizer/_data_organizer.py:221-242) — "
    "guarded expression after the merge pass.",
)
def a9_parser_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    joined = orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left")
    # raw division — per-row float math is emitted unrounded (bit-equal
    # across engines; round() tie behavior differs between them)
    derived = F.when(
        F.col("n_items").isNotNull() & (F.col("n_items") > 0),
        F.col("o_totalprice") / F.col("n_items"),
    )
    return joined.select(
        "o_orderkey", "n_items", derived.alias("price_per_item")
    )


@register(
    "a11_upsert_reconcile",
    oracle="""
WITH state AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
), batch AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
)
SELECT coalesce(b.o_custkey, s.o_custkey) AS custkey,
       coalesce(b.total, s.total) AS total,
       CASE WHEN s.o_custkey IS NULL THEN 'inserted'
            WHEN b.o_custkey IS NULL THEN 'unchanged'
            ELSE 'updated' END AS row_status
FROM state s FULL OUTER JOIN batch b ON s.o_custkey = b.o_custkey
""",
    doc="A11 keyed upsert (MERGE) semantics expressed as a batch full-outer "
    "reconciliation (data_organizer/_data_organizer.py:31-47). The engine's "
    "StateStore implements the same via overwrite-by-key.",
)
def a11_upsert_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    state = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(F.col("o_custkey").alias("s_key"), F.col("total").alias("s_total"))
    )
    batch = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(F.col("o_custkey").alias("b_key"), F.col("total").alias("b_total"))
    )
    merged = state.join(batch, state["s_key"] == batch["b_key"], "full_outer")
    return merged.select(
        F.coalesce(F.col("b_key"), F.col("s_key")).alias("custkey"),
        F.coalesce(F.col("b_total"), F.col("s_total")).alias("total"),
        F.when(F.col("s_key").isNull(), "inserted")
        .when(F.col("b_key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("row_status"),
    )


@register(
    "a11_upsert_cow",
    oracle="""
WITH state AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
), batch AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
)
SELECT coalesce(b.o_custkey, s.o_custkey) AS custkey,
       coalesce(b.total, s.total) AS total
FROM state s FULL OUTER JOIN batch b ON s.o_custkey = b.o_custkey
""",
    doc="A11 upsert executed THROUGH the copy-on-write state store "
    "(store.StateStore): seed pre-1998 per-customer totals as a "
    "commit, upsert the 1998+ batch as a second commit (only touched "
    "buckets rewritten, one CRC-guarded manifest file as the commit "
    "point, no renames), read the merged state back. Oracle replays "
    "the same keyed MERGE in SQL (data_organizer/_data_organizer.py:31-47).",
)
def a11_upsert_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..blueprint import Blueprint
    from ..store import StateStore

    bp = Blueprint(
        name="CustTotals",
        required={"key": (r"(\w+)", 1)},
        optional={"description": (r"desc_(\w+)", 1)},
    )
    store = StateStore(tempfile.mkdtemp(prefix="fks_cow_q_"), n_buckets=8)
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")

    def to_state(df: DataFrame) -> DataFrame:
        # double → string → double is lossless (shortest round-trip
        # repr), so the store's string-typed field preserves the value
        return df.select(
            F.lit(bp.name).alias("blueprint"),
            F.col("o_custkey").cast("string").alias("id"),
            F.col("o_custkey").cast("string").alias("key"),
            F.col("total").cast("string").alias("description"),
            F.array().cast("array<string>").alias("_conflicts"),
        )

    totals = lambda pred: (  # noqa: E731
        orders.filter(pred)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    store.overwrite(bp, to_state(totals(F.col("o_orderdate") < cutoff)))
    store.upsert_rows(
        spark, bp, to_state(totals(F.col("o_orderdate") >= cutoff))
    )
    return store.load(spark, bp).select(
        F.col("id").cast("bigint").alias("custkey"),
        F.col("description").cast("double").alias("total"),
    )
