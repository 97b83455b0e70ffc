"""Snapshot-diff change-data-capture: derive a changelog from two table
snapshots, and re-apply it.

The lakehouse maintenance story at 100 TB: upstreams often deliver FULL
snapshots (daily dumps, re-scrapes), while downstreams want DELTAS —
incremental MERGE input, cache invalidation, audit trails. The diff is
one full-outer join on the key (both sides pre-bucketed on it at scale,
so the join is co-located), with null-safe column comparison deciding
insert / delete / update:

- ``snapshot_diff(old, new, keys, cols)`` → changelog rows
  ``keys + op + <c>_old/<c>_new`` per compared column; unchanged rows
  are dropped (the common case, so changelog size ~ churn, not table).
- ``apply_changelog(base, changelog, keys, cols)`` → replays a
  changelog onto the old snapshot and reconstructs the new one exactly
  (pinned round-trip: ``apply(old, diff(old, new)) == new``).

The inputs are whole frames — two dumps, or a staged load against the
live table. ``merge.ParquetTable`` keeps no version history, so a feed
between committed table versions is the table format's job at scale
(Delta's change data feed).

Cheap pre-filter at scale: run ``fingerprint.fingerprint_diff`` first
and diff only the buckets that changed — churn-proportional, like the
reconciliation path.

Reference parity: the reference re-uploads full frames per cron run
(`uploadtodb.py` truncate-or-upsert); this derives the minimal delta
those jobs *imply*, SURVEY §2.1's K-family extended with changelog
extraction.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  cols: list[str]) -> DataFrame:
    """Changelog between two snapshots: one row per inserted, deleted, or
    changed key; ``op`` in ('insert', 'delete', 'update')."""
    o = old.select(*keys, *cols,
                   F.lit(True).alias("__in_old"))
    n = new.select(*[F.col(k).alias(f"__n_{k}") for k in keys],
                   *[F.col(c).alias(f"__n_{c}") for c in cols],
                   F.lit(True).alias("__in_new"))
    cond = reduce(lambda a, b: a & b,
                  [o[k].eqNullSafe(n[f"__n_{k}"]) for k in keys])
    j = o.join(n, cond, "full_outer")
    # cols=[] is a key-set (membership) diff: inserts/deletes only
    changed = reduce(lambda a, b: a | b,
                     [~F.col(c).eqNullSafe(F.col(f"__n_{c}")) for c in cols],
                     F.lit(False))
    op = (F.when(F.col("__in_old").isNull(), F.lit("insert"))
           .when(F.col("__in_new").isNull(), F.lit("delete"))
           .when(changed, F.lit("update")))
    out_keys = [F.coalesce(F.col(k), F.col(f"__n_{k}")).alias(k)
                for k in keys]
    out_cols = []
    for c in cols:
        out_cols.append(F.col(c).alias(f"{c}_old"))
        out_cols.append(F.col(f"__n_{c}").alias(f"{c}_new"))
    return (j.withColumn("op", op)
             .where(F.col("op").isNotNull())
             .select(*out_keys, "op", *out_cols))


def apply_changelog(base: DataFrame, changelog: DataFrame, keys: list[str],
                    cols: list[str]) -> DataFrame:
    """Replay a ``snapshot_diff`` changelog onto ``base``: deletes and
    updates remove the old image (anti-join on touched keys), then the
    new images (inserts + updates) are unioned back in.

    The anti-join matches keys with ``eqNullSafe`` — the same NULL
    semantics ``snapshot_diff`` uses to pair rows — so a NULL-key row
    the changelog deletes or updates is actually removed and the
    round-trip law ``apply(old, diff(old, new)) == new`` holds for
    NULL keys too (plain ``=`` would silently keep the stale image)."""
    touched = changelog.select(
        *[F.col(k).alias(f"__t_{k}") for k in keys])
    kept = base.select(*keys, *cols)
    anti = reduce(lambda a, b: a & b,
                  [kept[k].eqNullSafe(touched[f"__t_{k}"]) for k in keys])
    kept = kept.join(touched, anti, "left_anti")
    new_rows = (changelog.where(F.col("op").isin("insert", "update"))
                .select(*keys, *[F.col(f"{c}_new").alias(c) for c in cols]))
    return kept.unionByName(new_rows)

