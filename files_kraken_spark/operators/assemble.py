"""Entity assembly: changes → typed per-entity records (A1-A13).

The reference walks each changed file through every blueprint,
accumulates per-entity updates in a dict cache, then flushes to the
DB (``data_organizer/_data_organizer.py:122-245``). Columnar form:

1. per blueprint, one ``select`` pipeline extracts all fields from the
   batch (A1/A2/A3/A5 — pure regex expressions, no Python);
2. one ``groupBy(id)`` collapses the batch per entity (A13 — the
   micro-batch *is* the cache scope); map-side partial aggregation
   keeps the shuffle tiny;
3. one full-outer join against the state table applies the per-type
   merge semantics (A4/A6/A7/A8) as column expressions — conflicts
   surface in a ``_conflicts`` quarantine column, never as executor
   exceptions (SURVEY §7.0);
4. a guarded pandas-UDF pass computes parser fields whose
   dependencies are satisfied (A9/A10).

At 100 TB the only shuffles are the per-blueprint groupBy and the
state join, both on the entity id; state is bucketable by
``(blueprint, id)`` to make the join co-located.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..blueprint import Blueprint, FieldType

def _empty_str_arr():
    return F.array().cast("array<string>")


def state_schema(bp: Blueprint) -> StructType:
    """The state-table schema for one blueprint."""
    from pyspark.sql.types import ArrayType, _parse_datatype_string

    fields = [StructField("blueprint", StringType()), StructField("id", StringType())]
    for f in bp.all_fields:
        ft = bp.field_type(f)
        if ft.is_list:
            fields.append(StructField(f, ArrayType(StringType())))
        elif ft == FieldType.PARSER:
            fields.append(StructField(f, _parse_datatype_string(bp.parsers[f].returns)))
        else:
            fields.append(StructField(f, StringType()))
    fields.append(StructField("_conflicts", ArrayType(StringType())))
    return StructType(fields)


def match_batch(changes: DataFrame, bp: Blueprint) -> DataFrame:
    """A1/A2/A3/A5 — extract and gate one blueprint over a change batch.

    ``changes``: (path, name, change) rows. Output: one row per
    matching file with entity id, per-field values, and the change tag.
    """
    name_col, path_col = F.col("name"), F.col("path")
    req = bp.required_columns(name_col)
    sel = [path_col, F.col("change")]
    sel += [req[f].alias(f) for f in bp.required]
    opt = bp.optional_columns(name_col, path_col, req)
    sel += [c.alias(f) for f, c in opt.items()]
    matched = changes.select(*sel).filter(bp.required_gate({f: F.col(f) for f in bp.required}))
    return matched.withColumn("id", bp.entity_id({f: F.col(f) for f in bp.required}))


def aggregate_batch(matched: DataFrame, bp: Blueprint) -> DataFrame:
    """Collapse a matched batch per (id, change): scalars collect their
    distinct values (conflict detection happens at merge), lists
    collect members, parser sources pick any one path."""
    aggs: list[Column] = []
    for f in bp.required:
        aggs.append(F.first(f).alias(f))  # equal within id by construction
    for f in bp.optional:
        ft = bp.field_type(f)
        if ft.is_list:
            aggs.append(F.sort_array(F.collect_set(f)).alias(f))
        else:
            aggs.append(F.sort_array(F.collect_set(f)).alias(f + "__vals"))
    for f, ps in bp.parsers.items():
        if ps.pattern is not None:
            aggs.append(F.min(f + "__src").alias(f + "__src"))
    return matched.groupBy("id", "change").agg(*aggs)


def _merge_scalar(f: str, state_val: Column, new_vals: Column) -> tuple[Column, Column]:
    """A6 scalar semantics: set if unset; equal new value is a no-op;
    differing values are a conflict. Returns (merged, conflict_flag)."""
    n_new = F.size(new_vals)
    candidate = F.when(n_new > 0, F.element_at(new_vals, 1))
    batch_conflict = n_new > 1
    state_conflict = (
        state_val.isNotNull() & (n_new > 0) & ~F.array_contains(new_vals, state_val)
    )
    merged = F.coalesce(state_val, candidate)
    return merged, batch_conflict | state_conflict


def _delete_scalar(f: str, state_val: Column, del_vals: Column) -> tuple[Column, Column]:
    """A7 scalar semantics: deleting the held value NULLs the field;
    deleting a different value is a conflict."""
    has_del = F.size(del_vals) > 0
    matches = state_val.isNotNull() & F.array_contains(del_vals, state_val)
    merged = F.when(has_del & matches, F.lit(None).cast("string")).otherwise(state_val)
    conflict = has_del & state_val.isNotNull() & ~matches
    return merged, conflict


def merge_into_state(
    state: DataFrame, created: DataFrame, deleted: DataFrame, bp: Blueprint
) -> DataFrame:
    """A4/A6/A7/A8/A11 — one full-outer reconciliation of the state
    table with the batch's created- and deleted-side aggregates."""
    c = created.drop("change")
    d = deleted.drop("change")
    c = c.select([F.col(x).alias(f"c_{x}") for x in c.columns])
    d = d.select([F.col(x).alias(f"d_{x}") for x in d.columns])
    s = state

    joined = (
        s.join(c, s["id"] == c["c_id"], "full_outer")
        .join(d, F.coalesce(s["id"], c["c_id"]) == d["d_id"], "full_outer")
    )

    out_id = F.coalesce(s["id"], F.col("c_id"), F.col("d_id"))
    cols: list[Column] = [F.lit(bp.name).alias("blueprint"), out_id.alias("id")]
    conflicts: list[Column] = []

    def arr(col: Column) -> Column:
        return F.coalesce(col, _empty_str_arr())

    for f in bp.all_fields:
        ft = bp.field_type(f)
        if ft == FieldType.PARSER:
            ps = bp.parsers[f]
            keep = s[f] if f in state.columns else F.lit(None).cast(ps.returns)
            cols.append(keep.alias(f))  # parser values survive deletes (A7/NoUpdate)
            if ps.pattern is not None:
                cols.append(F.col(f"c_{f}__src").alias(f + "__src"))
            continue
        if f in bp.required:
            cols.append(F.coalesce(s[f], F.col(f"c_{f}"), F.col(f"d_{f}")).alias(f))
            continue
        if ft.is_list:
            # A6 list: append-dedup; A7 list: subtract deleted members.
            # An emptied (or never-populated) list is NULL, matching the
            # reference which returns None when the delete consumes the
            # whole list (fields/_fields.py:141-143).
            merged = F.array_except(
                F.array_distinct(F.concat(arr(s[f]), arr(F.col(f"c_{f}")))),
                arr(F.col(f"d_{f}")),
            )
            cols.append(
                F.when(F.size(merged) > 0, F.sort_array(merged)).alias(f)
            )
        else:
            m1, conf1 = _merge_scalar(f, s[f], arr(F.col(f"c_{f}__vals")))
            m2, conf2 = _delete_scalar(f, m1, arr(F.col(f"d_{f}__vals")))
            cols.append(m2.alias(f))
            conflicts.append(F.when(conf1 | conf2, F.lit(f)))

    prev_conflicts = arr(s["_conflicts"]) if "_conflicts" in state.columns else _empty_str_arr()
    new_conflicts = F.array_distinct(
        F.concat(prev_conflicts, F.filter(F.array(*conflicts) if conflicts else _empty_str_arr(),
                                          lambda x: x.isNotNull()))
    )
    cols.append(new_conflicts.alias("_conflicts"))
    return joined.select(*cols)


#: above this many distinct parent directories the content scan falls
#: back to per-top-level-group common prefixes instead of listing each
#: directory individually as a load path.
_CONTENT_DIR_CAP = 1024


def _content_roots(out: DataFrame, src_col: str) -> list[str]:
    """Derive binaryFile load roots covering every path in ``out``.

    A single global commonpath degrades badly when one batch spans
    unrelated trees (``/a/…`` and ``/z/…`` → commonpath ``/`` → scan
    the world). Instead:

    - collect the DISTINCT parent directories (bounded by directory
      count, not file count — the same metadata Spark's own file index
      materializes) and use them directly as load paths when there are
      at most ``_CONTENT_DIR_CAP`` of them;
    - otherwise compress on the driver: group the sampled dirs by top-
      level path component and take one commonpath per group, so
      disjoint trees still never merge into ``/``.
    """
    import os

    # root-level files ('/x.bin') have parent '' after the strip — map
    # that to '/' so they keep a covering root (old commonpath parity)
    raw_dir = F.regexp_replace(F.col(src_col), "/[^/]*$", "")
    dir_expr = F.when(raw_dir == "", F.lit("/")).otherwise(raw_dir)
    dirs = [
        r[0]
        for r in out.select(dir_expr.alias("__d"))
        .where(F.col("__d").isNotNull())
        .distinct()
        .limit(_CONTENT_DIR_CAP + 1)
        .collect()
    ]
    if not dirs:
        return []
    if len(dirs) <= _CONTENT_DIR_CAP:
        # drop dirs nested under another selected dir (binaryFile with
        # recursiveFileLookup would double-load them). Sorting does NOT
        # place a nested dir adjacent to its ancestor ('/data-old'
        # sorts between '/data' and '/data/sub'), so check against
        # every kept root, not just the last one.
        keep: list[str] = []
        for d in sorted(dirs):
            covered = any(
                d == k or d.startswith(k.rstrip("/") + "/") for k in keep
            )
            if not covered:
                keep.append(d)
        return keep
    # too many dirs to enumerate: one commonpath per top-level group,
    # via a tiny per-group min/max aggregate (rows = #groups, not #files)
    top = F.regexp_extract(F.col(src_col), r"^(/?[^/]+)", 1)
    groups = (
        out.select(top.alias("__t"), F.col(src_col).alias("__p"))
        .groupBy("__t")
        .agg(F.min("__p").alias("lo"), F.max("__p").alias("hi"))
        .collect()
    )
    return sorted(
        {
            os.path.commonpath([os.path.dirname(g["lo"]), os.path.dirname(g["hi"])])
            for g in groups
        }
    )


def _join_content(
    out: DataFrame,
    src_col: str,
    content_col: str,
    roots: list[str] | None = None,
) -> DataFrame:
    """SURVEY §7.4 scale path: fetch file bytes via the binaryFile
    source joined on path, instead of ``open()`` inside the UDF — data
    locality, retries, and IO scheduling stay with Spark.

    Fully distributed: the content side is a binaryFile read over the
    watch ``roots`` (or, when not supplied, prefixes derived from the
    batch paths — see ``_content_roots`` — never a collect of the full
    path list) joined on path. No forced broadcast: file bytes can
    dwarf the 8 GB broadcast cap, so the optimizer picks the strategy
    from the relation's size stats."""
    spark = out.sparkSession
    if not roots:
        roots = _content_roots(out, src_col)
        if not roots:
            return out.withColumn(content_col, F.lit(None).cast("binary"))
    content = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(roots)
        .select(
            # binaryFile reports URI-form paths (file:/...); normalize to
            # match the lister's plain paths
            F.regexp_replace(F.col("path"), "^file:(//)?", "").alias("__cpath"),
            F.col("content").alias(content_col),
        )
    )
    return out.join(
        content, out[src_col] == content["__cpath"], "left"
    ).drop("__cpath")


def apply_parsers(
    merged: DataFrame, bp: Blueprint, content_roots: list[str] | None = None
) -> DataFrame:
    """A9/A10 — guarded parser pass over the merged frame.

    Pattern parsers parse their matched file; dependent parsers fire
    once every dependency column is set and the value is still NULL —
    the reference's topological deferral
    (``data_organizer/_data_organizer.py:232-239``). Parsers are
    pandas UDFs: one Arrow batch per invocation, not per row.

    ``ParserSpec.content_mode`` feeds the parser the file BYTES (joined
    in via the binaryFile source — no file IO inside the UDF) instead
    of the path.
    """
    out = merged
    drop_cols: list[str] = []
    for f, ps in bp.parsers.items():
        if ps.fn is None:
            continue
        udf = F.pandas_udf(ps.fn, ps.returns)
        if ps.pattern is not None:
            # a fresh source file overwrites the parsed value (the
            # reference warns-and-overwrites, fields/_fields.py:183-196)
            src = F.col(f + "__src")
            drop_cols.append(f + "__src")
            if ps.content_mode:
                out = _join_content(out, f + "__src", f + "__content", content_roots)
                drop_cols.append(f + "__content")
                arg = F.col(f + "__content")
            else:
                arg = src
            out = out.withColumn(
                f, F.when(src.isNotNull(), udf(arg)).otherwise(F.col(f))
            )
        else:
            deps = [F.col(d) for d in ps.dependent_fields]
            guard = F.col(f).isNull()
            for dcol in deps:
                guard = guard & dcol.isNotNull()
            if ps.content_mode:
                if len(ps.dependent_fields) != 1:
                    raise ValueError(
                        "content_mode dependent parsers take exactly one "
                        "path-typed dependency"
                    )
                dep = ps.dependent_fields[0]
                out = _join_content(out, dep, f + "__content", content_roots)
                drop_cols.append(f + "__content")
                deps = [F.col(f + "__content")]
            out = out.withColumn(
                f, F.when(guard, udf(*deps)).otherwise(F.col(f))
            )
    return out.drop(*drop_cols)


def assemble(
    changes: DataFrame,
    state: DataFrame,
    bp: Blueprint,
    content_roots: list[str] | None = None,
    matched: DataFrame | None = None,
) -> DataFrame:
    """Full batch assembly for one blueprint: match → aggregate →
    merge with state → parser pass. Returns the new state DataFrame:
    ``state``'s rows merged with the batch's entities.

    ``state`` may be any slice of the table that holds every entity the
    batch touches (the runtime passes just the touched buckets).
    ``content_roots``: watch roots for content-mode parsers — lets the
    binaryFile content join scan exactly the watched subtrees instead
    of deriving a prefix from the batch. ``matched``: the caller's
    ``match_batch(changes, bp)``, when it already built one."""
    if matched is None:
        matched = match_batch(changes, bp)
    agg = aggregate_batch(matched, bp)
    created = agg.filter(F.col("change") == "created")
    deleted = agg.filter(F.col("change") == "deleted")
    merged = merge_into_state(state, created, deleted, bp)
    return apply_parsers(merged, bp, content_roots).select(
        *[f.name for f in state_schema(bp)]
    )
