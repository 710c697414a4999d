"""Deterministic hash-based sampling and splits.

``df.sample()`` is seed-dependent per partition layout — a repartition or a
Spark upgrade re-deals the sample, which is unacceptable for training-data
pipelines (the held-out set must never leak into training across reruns).
Hash-based sampling decides membership from the ROW KEY alone:

    split = md5(key) mod N → bucket

Properties that matter at 100 TB:
- reproducible across runs, partitionings, engines (md5 is portable — the
  DuckDB oracle computes the identical split);
- stable under append: new rows get buckets without disturbing old ones;
- no shuffle, no state: a codegen'd projection + filter, fully pushdown-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from the md5 of the key's
    string form. The first 8 hex chars give 32 uniform bits — plenty for
    percentage-grade splits.

    NULL keys map to a fixed sentinel string first: md5(NULL) is NULL, and
    a NULL bucket fails BOTH sides of a split predicate — rows would vanish
    from train AND test silently (r9 review), breaking the disjoint-and-
    exhaustive contract. With the sentinel every row lands in exactly one
    bucket; non-null keys hash identically to before (and to the oracles).

    KEY-TYPE CONTRACT (r14 review): the engine-portability property holds
    for integer/string/boolean keys, whose string forms are universal.
    Fractional keys stringify engine-specifically (Spark renders 1e7 as
    '1.0E7', DuckDB as '10000000.0'), which would make the md5 inputs —
    and therefore train/test membership — silently diverge between
    engines; pre-cast such a key to a canonical string yourself if you
    truly must split on one. Every catalog caller keys on ids."""
    s = F.coalesce(key.cast("string"), F.lit("\x00null"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % n_buckets


def hash_split(
    df: DataFrame,
    key: str,
    test_pct: int = 10,
    bucket_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) split: rows whose hash bucket < ``test_pct`` (of 100)
    are test. Disjoint, exhaustive, append-stable, engine-portable."""
    b = hash_bucket(F.col(key))
    if bucket_col:
        df = df.withColumn(bucket_col, b)
        b = F.col(bucket_col)
    return df.where(b >= test_pct), df.where(b < test_pct)


def stratified_hash_split(
    df: DataFrame,
    key: str,
    strata_col: str,
    test_pct: dict[str, int],
    default_pct: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Per-stratum deterministic split: each stratum value gets its own
    held-out percentage (e.g. over-sample rare languages into eval). Same
    hash-bucket membership as hash_split — reproducible and append-stable —
    with the threshold looked up per row from a literal map (codegen'd; no
    join, no shuffle)."""
    b = hash_bucket(F.col(key))
    mapping = F.create_map(*[F.lit(x) for kv in test_pct.items() for x in kv])
    threshold = F.coalesce(mapping[F.col(strata_col)], F.lit(default_pct))
    return df.where(b >= threshold), df.where(b < threshold)


def take_per_group(df: DataFrame, key_col: str, group_col: str, k: int) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group by the
    md5 of their key — an unbiased, append-stable pseudo-random order any
    engine reproduces — and keep the first k. One shuffle on the group key
    (the same partitioning downstream per-group work needs); no rand(), so
    task retries and re-runs return identical samples.

    CONTRACT: ``key_col`` must be UNIQUE and NON-NULL within each group —
    (md5(key), key) is the entire sort order, so duplicate or NULL keys tie
    and row_number then picks partition-order-dependent winners, which is
    exactly the rand()-style instability this function exists to remove
    (r11 review). Every catalog caller keys on doc_id; synthesize a unique
    key upstream if yours isn't."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")
