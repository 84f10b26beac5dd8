"""Keyed upsert / merge / delete-insert operators (SURVEY.md §2.8).

The reference's most load-bearing operators are Postgres
``INSERT … ON CONFLICT DO UPDATE`` (M1, insert_data_into_bronze.sql:
11-77), delete-then-insert (M3, Reprocessing.py:113-126) and
predicate/keyed deletes (M4-M6). Plain Parquet has no in-place
mutation, so these are expressed as *pure relational merges* that a
caller then writes with ``safe_overwrite``:

- ``merge_upsert``: full-outer join on the key, column-subset update
  semantics (only ``update_cols`` take the source value on match —
  the reference updates ~16 of 33 columns), record_type bookkeeping.
- ``delete_then_insert``: anti-join on fix keys ∪ fixes.
- ``anti_dedup``: drop staging rows already present in the target (M6).

Callers write the merged frames over the layer tables with
``catalog.Warehouse.overwrite_safe``.

Scale notes: the merge join shuffles both sides on the key — at
100 TB bucket both layer tables by the business key so the merge is
shuffle-free. AQE handles skewed keys.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_safe_eq(left: str, right: str, cols: Sequence[str]) -> Column:
    """AND of ``left.c <=> right.c`` over ``cols`` (``left``/``right``
    are frame aliases): a join condition under which NULL matches
    NULL, SQL ``IS NOT DISTINCT FROM``."""
    return reduce(
        and_, [F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")) for c in cols]
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
    record_type_col: str | None = None,
) -> DataFrame:
    """Postgres ``ON CONFLICT DO UPDATE`` as a full-outer merge.

    - unmatched source rows → inserted (record_type 'new')
    - matched rows → ``update_cols`` from source, everything else kept
      from target (record_type 'updated')
    - unmatched target rows → unchanged (record_type 'existing')
    """
    data_cols = [c for c in target.columns if c not in keys]
    if update_cols is None:
        update_cols = data_cols
    # String-qualified refs ("t.c" / "s.c") survive self-joins where
    # both sides share lineage (Spark's ambiguous-self-join check
    # rejects attribute-based refs there).
    # Presence sentinels, NOT key nullness, detect the match: the join
    # is null-safe, so a NULL-keyed target row can legitimately match
    # a NULL-keyed source row — keys[0] IS NOT NULL would misclassify
    # that pair as an insert and drop the target's kept columns.
    t = target.withColumn("__present", F.lit(1)).alias("__t")
    s = source.withColumn("__present", F.lit(1)).alias("__s")
    tc = lambda c: F.col(f"__t.{c}")  # noqa: E731
    sc = lambda c: F.col(f"__s.{c}")  # noqa: E731
    joined = t.join(s, on=null_safe_eq("__t", "__s", keys), how="full_outer")

    matched_t = tc("__present").isNotNull()
    matched_s = sc("__present").isNotNull()
    out_cols = [F.coalesce(tc(k), sc(k)).alias(k) for k in keys]
    for c in data_cols:
        if c in update_cols:
            # on match take source; insert path takes source too
            out_cols.append(F.coalesce(sc(c), tc(c)).alias(c))
        else:
            # column-subset semantics: keep target value on match
            out_cols.append(
                F.when(matched_t, tc(c)).otherwise(sc(c)).alias(c)
            )
    if record_type_col:
        out_cols.append(
            F.when(~matched_t, F.lit("new"))
            .when(~matched_s, F.lit("existing"))
            .otherwise(F.lit("updated"))
            .alias(record_type_col)
        )
    return joined.select(*out_cols)


def delete_then_insert(
    target: DataFrame, fixes: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """M3: atomically replace target rows whose key appears in fixes."""
    kept = target.join(
        fixes.select(*keys).distinct(), on=list(keys), how="left_anti"
    )
    return kept.unionByName(fixes)


def anti_dedup(staging: DataFrame, target: DataFrame, keys: Sequence[str]) -> DataFrame:
    """M6: drop staging rows already present in the target."""
    return staging.join(target.select(*keys).distinct(), on=list(keys), how="left_anti")


def delete_where(target: DataFrame, predicate) -> DataFrame:
    """M4: predicate delete — keep rows NOT matching the predicate.

    SQL DELETE only removes rows where the predicate is TRUE; a NULL
    predicate (e.g. ``score > 100`` on a NULL score) must KEEP the
    row. A bare ``filter(~predicate)`` would drop it — NULL negates
    to NULL, which filter discards — so the predicate is coalesced to
    false first.
    """
    return target.filter(~F.coalesce(predicate, F.lit(False)))


def heal_interrupted_swap(path: str) -> None:
    """Recover a table left mid-swap by a crashed ``safe_overwrite``:
    backup present + live path missing ⇒ the table vanished between
    the two renames → restore it; backup present + live path present
    ⇒ stale backup from a crash after the swap → discard it. Without
    this, the next ``os.rename(path, backup)`` raises into a
    non-empty dir (wedging every subsequent overwrite) — and worse,
    any caller that branches on ``os.path.exists(path)`` (e.g. an
    upsert's create-vs-merge decision) would treat the vanished table
    as first write and silently drop the pre-crash data. Idempotent;
    call it before ANY existence check on a swap-managed path.
    """
    backup = path + ".old"
    if os.path.exists(backup):
        if os.path.exists(path):
            shutil.rmtree(backup)
        else:
            os.rename(backup, path)


def safe_overwrite(df: DataFrame, path: str) -> None:
    """Atomic-ish read-modify-write of a Parquet table that ``df`` may
    lazily read from (Spark cannot overwrite a path it is reading).

    Write to a temp sibling, then swap. On a real cluster with an
    object store, use a table format with ACID (Delta/Iceberg) — this
    helper is the plain-Parquet fallback (SURVEY.md §4.3).
    """
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    backup = path + ".old"
    heal_interrupted_swap(path)
    tmp = tempfile.mkdtemp(prefix=".swap_", dir=parent)
    tmp_path = os.path.join(tmp, "data")
    df.write.mode("overwrite").parquet(tmp_path)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(tmp_path, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    shutil.rmtree(tmp, ignore_errors=True)


def overwrite_day_partition(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """M5: idempotent per-day write via dynamic partition overwrite."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def mergeable_agg_update(
    summary: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    agg_spec: dict[str, str],
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a new
    batch into a running per-key summary WITHOUT rescanning history —
    the pattern that turns the reference's nightly full-refresh
    reports (TRUNCATE + re-aggregate, SURVEY.md S12) into O(batch)
    work per load.

    ``agg_spec`` maps column → mergeable function name (``sum`` /
    ``count`` / ``min`` / ``max`` — any commutative-monoid aggregate;
    AVG is NOT mergeable and must be stored as sum+count and divided
    at read). The batch is reduced to key-level partials first, then
    union + re-aggregate folds them into the summary: one shuffle of
    |summary keys| + |batch keys|, never of raw history. ``count``
    columns merge by SUM (a count of counts is a sum).

    Algebra note: because every function is associative+commutative,
    any batch arrival order and any partitioning yield the same
    summary — asserted against a from-scratch recompute in tests.
    """
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    partial = batch.groupBy(*keys).agg(
        *[
            (F.count(F.lit(1)) if fn == "count" else fns[fn](F.col(c))).alias(c)
            for c, fn in agg_spec.items()
        ]
    )
    if summary is None:
        return partial
    merged = summary.select(*keys, *agg_spec).unionByName(partial)
    return merged.groupBy(*keys).agg(
        *[
            (F.sum(c) if fn in ("sum", "count") else fns[fn](F.col(c))).alias(c)
            for c, fn in agg_spec.items()
        ]
    )
