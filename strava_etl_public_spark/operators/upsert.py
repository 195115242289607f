"""Keyed upsert + idempotent append (SURVEY §2 A9/S2/S4).

The reference's Firestore ``doc_ref.set(full_doc)`` is a whole-document
last-writer-wins replace (reference firebase_functions.py:50-51,59-60),
and its BigQuery append has no idempotence key (reference main.py:180 —
re-runs duplicate rows even though ``name_id`` exists).

Vanilla Spark has no in-place upsert (no table format here), so:
- upsert  = union + last-writer-wins dedup via ``row_number`` per key
- idempotent append = ``dropDuplicates`` on the business key pre-write

Scale: the dedup is one shuffle on the key; with AQE skew-join splitting
hot users are handled at runtime. A Delta/Iceberg ``MERGE`` drops in
when the table format is available (jars not in this image).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def upsert_last_writer_wins(
    current: DataFrame | None,
    updates: DataFrame,
    key: str | Sequence[str],
    order_col: str,
) -> DataFrame:
    """Merge ``updates`` into ``current``, keeping the newest row per key.

    ``order_col`` is the recency column (e.g. ``updated_at``). Ties on
    ``order_col`` prefer the update over the current row (``_src``),
    then break deterministically on every remaining column (descending)
    so equal-recency rows within one source pick a stable winner across
    runs and engines.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if current is None:
        unioned = updates.withColumn("_src", F.lit(1))
    else:
        unioned = current.withColumn("_src", F.lit(0)).unionByName(
            updates.withColumn("_src", F.lit(1))
        )
    rest = [
        c for c in unioned.columns if c not in (*keys, order_col, "_src")
    ]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(),
        F.col("_src").desc(),
        *[F.col(c).desc_nulls_last() for c in rest],
    )
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def idempotent_append(new_rows: DataFrame, existing: DataFrame | None, key: str) -> DataFrame:
    """At-most-once semantics for an append sink (S4).

    Drops in-batch duplicates on ``key`` and anti-joins away rows whose
    key already landed — the fix for the reference's at-least-once
    append (main.py:157,180).
    """
    deduped = new_rows.dropDuplicates([key])
    if existing is None:
        return deduped
    return deduped.join(existing.select(key).distinct(), key, "left_anti")


def scd2_history(
    df: DataFrame,
    key: str,
    ord_col: str,
    attr: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an event stream —
    the CDC compaction downstream of any upsert feed: collapse
    consecutive duplicate attribute values into validity intervals
    ``(key, attr, valid_from, valid_to, is_current)``, where
    ``valid_to`` is the next change's ``valid_from`` (NULL while
    current). The reference's whole-document LWW replace keeps only
    the final state; SCD2 is what a warehouse keeps instead when
    history must be queryable (point-in-time joins ride
    ``valid_from <= t < valid_to``).

    Change detection is ``attr IS DISTINCT FROM lag(attr)`` (NULL-safe,
    so NULL→value and value→NULL are changes, NULL→NULL is not).
    Scale: two window passes on ONE (key, ord) sort family — no
    self-join; one shuffle total.
    """
    order = [F.col(ord_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    # first row per key is always a change (lag undefined); eqNullSafe
    # on the lag alone would call a NULL-valued head "no change"
    changed = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_chg",
        (F.col("_rn") == 1) | ~F.col(attr).eqNullSafe(F.lag(attr).over(w)),
    )
    tie = [F.col(tie_col).alias("_tie")] if tie_col else []
    versions = changed.filter(F.col("_chg")).select(
        key, F.col(ord_col).alias("valid_from"), F.col(attr).alias(attr), *tie
    )
    w2 = Window.partitionBy(key).orderBy(
        *([F.col("valid_from")] + ([F.col("_tie")] if tie_col else []))
    )
    return (
        versions.select(
            key,
            attr,
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC between two snapshots of a keyed table — the inverse of
    applying changes: emit one row per differing key with
    ``change_type`` in {insert, delete, update}, carrying the new
    row's compare columns (NULL for deletes) — what you feed a
    downstream MERGE, a delete-propagation sweep, or an audit log
    when the upstream only ships full snapshots.

    NULL-safe equality (``eqNullSafe``) per compared column, the same
    change-compaction rule SCD2 uses — a NULL→value transition IS a
    change, NULL→NULL is not. One full-outer join on the key (the
    honest cost of diffing two snapshots; at 100 TB both sides
    co-partition on the key, and bucketed layouts make it
    exchange-free); unchanged keys are filtered before any downstream
    work."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = list(compare_cols) if compare_cols is not None else [
        c for c in new.columns if c not in keys
    ]
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in cols]).withColumn(
        "_in_old", F.lit(1)
    )
    n = new.select(*keys, *cols).withColumn("_in_new", F.lit(1))
    j = o.join(n, keys, "full_outer")
    changed = [~F.col(c).eqNullSafe(F.col(f"_o_{c}")) for c in cols]
    # no compare columns (pure key-set diff) → inserts/deletes only
    any_change = F.lit(False)
    for c in changed:
        any_change = any_change | c
    change_type = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(any_change, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type", *cols)
    )


def snapshot_cdf(
    old: DataFrame,
    new: DataFrame,
    key: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-feed between two snapshots in Delta CDF's row
    shape: ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage} — an UPDATE emits TWO rows (the before-image
    and the after-image), which is what lets a downstream consumer
    maintain an AGGREGATE by pure retraction arithmetic (+postimage /
    +insert, −preimage / −delete) without joining back to any state.
    `snapshot_diff` is this feed with before-images folded away; this
    is the form a streaming materialized view consumes.

    Same single NULL-safe full-outer join on the key; the pre/post
    pair comes from exploding a per-key change array (0 entries for
    unchanged keys, 1 for insert/delete, 2 for update) — no second
    pass, no union of re-scans."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = list(compare_cols) if compare_cols is not None else [
        c for c in new.columns if c not in keys
    ]
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in cols]).withColumn(
        "_in_old", F.lit(1)
    )
    n = new.select(*keys, *cols).withColumn("_in_new", F.lit(1))
    j = o.join(n, keys, "full_outer")
    any_change = F.lit(False)
    for c in cols:
        any_change = any_change | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))

    def entry(tag: str, prefix: str):
        return F.struct(
            F.lit(tag).alias("_change_type"),
            F.struct(
                *[F.col(f"{prefix}{c}").alias(c) for c in cols]
            ).alias("vals"),
        )

    entries = (
        F.when(F.col("_in_old").isNull(), F.array(entry("insert", "")))
        .when(F.col("_in_new").isNull(), F.array(entry("delete", "_o_")))
        .when(
            any_change,
            F.array(entry("update_preimage", "_o_"), entry("update_postimage", "")),
        )
    )  # unchanged keys: NULL array — explode emits no rows for them
    e = j.select(*keys, F.explode(entries).alias("_e"))
    return e.select(*keys, F.col("_e._change_type").alias("_change_type"), "_e.vals.*")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str | Sequence[str],
    update_cols: Sequence[str] | None = None,
    delete_cond: Column | None = None,
    insert_unmatched: bool = True,
    not_matched_by_source_delete_cond: Column | None = None,
    not_matched_by_source_update: dict[str, Column] | None = None,
    not_matched_by_source_update_cond: Column | None = None,
) -> DataFrame:
    """General MERGE (the Delta/Iceberg `MERGE INTO` semantics as one
    relational expression): per target key matched by ``source`` —
    delete it when ``delete_cond`` (evaluated over the source row)
    holds, otherwise update ``update_cols`` from the source; source
    keys with no target match insert (unless ``insert_unmatched`` is
    False); unmatched target rows pass through. The batch-general
    superset of `upsert_last_writer_wins` (which is MERGE with
    update-all + insert and a timestamp tiebreak) and the forward
    application of `snapshot_diff` (diff → MERGE round-trips to the
    new snapshot).

    ONE NULL-safe full-outer join on the key — no per-action passes;
    all three action branches are CASE arms over the joined row, so
    the plan is a single shuffle at any scale (broadcast when the
    source is a small change batch — the common CDC shape; AQE decides
    from runtime sizes). ``source`` must have at most one row per key
    (the MERGE precondition; enforced upstream or via
    upsert_last_writer_wins first). ``delete_cond`` is evaluated over
    the joined row: reference source columns as ``_s_<name>``.

    WHEN NOT MATCHED BY SOURCE (the Delta 2.3+/SQL:2023 MERGE arms
    that act on TARGET rows the source does not touch — the
    sync-to-snapshot shape where the source IS the full desired
    state): ``not_matched_by_source_delete_cond`` deletes unmatched
    target rows where the condition (over the target row; pass
    ``F.lit(True)`` for all) holds; ``not_matched_by_source_update``
    rewrites the given columns of unmatched target rows (optionally
    gated by ``not_matched_by_source_update_cond``), e.g. marking
    stale rows. Delete wins over update when both conditions hold,
    matching Delta's first-matching-clause rule with delete listed
    first. Same single full-outer join — the new arms are extra CASE
    branches, not extra passes."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = [c for c in target.columns if c not in keys]
    upd = list(update_cols) if update_cols is not None else cols
    # explicit presence indicator: testing key nullability would
    # misclassify NULL-key target rows as absent (code-review finding)
    target = target.withColumn("_t_present", F.lit(1))
    src = source.select(
        *[F.col(k).alias(f"_s_{k}") for k in keys],
        *[F.col(c).alias(f"_s_{c}") for c in source.columns if c not in keys],
        F.lit(1).alias("_s_present"),
    )
    cond = None
    for k in keys:
        e = target[k].eqNullSafe(F.col(f"_s_{k}"))
        cond = e if cond is None else cond & e
    j = target.join(src, cond, "full_outer")
    matched = F.col("_s_present").isNotNull()
    tgt_present = F.col("_t_present").isNotNull()
    # SQL MERGE: a NULL action condition means the clause does NOT
    # fire — coalesce to FALSE, else kill is NULL, keep = ~NULL is
    # NULL, and filter() silently DROPS the row (deleting it)
    if delete_cond is not None:
        kill = matched & tgt_present & F.coalesce(delete_cond, F.lit(False))
    else:
        kill = F.lit(False)
    if not_matched_by_source_delete_cond is not None:
        kill = kill | (
            tgt_present
            & ~matched
            & F.coalesce(not_matched_by_source_delete_cond, F.lit(False))
        )
    keep = ~kill & (tgt_present | (F.lit(insert_unmatched) & matched))
    nmbs_hit = F.lit(False)
    if not_matched_by_source_update is not None:
        nmbs_hit = tgt_present & ~matched
        if not_matched_by_source_update_cond is not None:
            nmbs_hit = nmbs_hit & not_matched_by_source_update_cond
    out_cols = []
    for k in keys:
        out_cols.append(F.coalesce(j[k], F.col(f"_s_{k}")).alias(k))
    src_cols = set(source.columns)
    for c in cols:
        if c in upd and c in src_cols:
            # matched-update and unmatched-insert both take the source
            # value; pass-through keeps the target's
            val = F.when(matched, F.col(f"_s_{c}")).otherwise(j[c])
        elif c in src_cols:
            # not updated on match, but inserts still need the value
            val = F.when(tgt_present, j[c]).otherwise(F.col(f"_s_{c}"))
        else:
            val = j[c]
        if not_matched_by_source_update is not None and c in not_matched_by_source_update:
            # delete wins over update (kill rows never reach output),
            # so this arm only needs to outrank the pass-through case
            val = F.when(nmbs_hit, not_matched_by_source_update[c]).otherwise(val)
        out_cols.append(val.alias(c))
    return j.filter(keep).select(*out_cols)
