"""Deterministic train/val/test splitting (SURVEY.md §2.8).

The reference seeds ``random.seed(42)``, shuffles an index list and slices
at exact cutoffs (``src/pipeline/unify.py:277-316``) — exact sizes,
disjoint, reproducible. Spark's ``randomSplit`` gives only *approximate*
sizes and depends on partition layout, so instead we rank rows by a
*stable content hash* (md5 of key + seed) and cut at exact row numbers:

    rank = row_number() OVER (ORDER BY md5(seed || ':' || key), key)
    split = CASE WHEN rank <= n*r_train THEN 'train' ...

Properties: exact counts, independent of partitioning/cluster size,
reproducible across engines (md5 is md5 everywhere — the same assignment
is computable in any SQL oracle).

The global rank is computed *distributed*, never through one task: the
hash is uniform and hex-lexicographic order equals numeric order, so a
fixed-width hash **prefix** is a monotone bucket id. Rows are ranked
within buckets by parallel windows, and each bucket's starting offset
comes from a tiny per-bucket count table (≤ 16^bucket_hex rows however
big the input is) that is broadcast-joined back:

    bucket  = int(hash[:4], 16)                  -- monotone in hash
    row     = row_number() OVER (PARTITION BY bucket ORDER BY hash, key)
    offset  = cumulative count of earlier buckets (tiny side table)
    rank    = offset + row                        -- identical semantics

No action and no single-partition exchange on the data path; the only
serial step is a window over the ≤65k-row counts table. For
approximate-size splits with zero shuffle at all, ``hash_split``.

No cache either, and that has a cost: the counts table is an aggregate
of the same input as the ranked rows, and Spark does not reuse the
shared subtree, so the offsets side re-executes the input's whole plan
(in ``pipeline.run_corpus_pipeline``: read → normalize → dedup, twice
each, with no ``ReusedExchange``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_RANK = "__split_rank"
_N = "__split_n"
_H = "__split_h"
_B = "__split_b"
_ROW = "__split_row"
_OFF = "__split_off"
_C = "__split_c"


def _shuffle_hash(key_col, seed: int):
    # concat + coalesce, NOT concat_ws: concat_ws SKIPS null args, hashing
    # a null key as md5("42") while SQL's '42:' || NULL is NULL — the two
    # engines would then sort the row differently. Null keys hash like
    # empty-string keys ("42:") on both sides.
    return F.md5(
        F.concat(
            F.lit(str(seed) + ":"),
            F.coalesce(key_col.cast("string"), F.lit("")),
        )
    )


def seeded_split(
    df: DataFrame,
    key: str,
    ratios: dict[str, float] | None = None,
    seed: int = 42,
    stratify_by: str | None = None,
    split_col: str = "split",
    bucket_hex: int = 4,
) -> DataFrame:
    """R1/R2: exact-count seeded split; optional stratification.

    ``ratios`` must sum to 1 (config.py:72-93 validates the same); default
    90/5/5. Cutoffs per stratum are ``floor(n*c1)``, ``floor(n*c2)`` on the
    cumulative ratios — identical to the reference's ``int(n*0.9)`` slicing.

    ``bucket_hex`` controls rank-parallelism: 16^bucket_hex buckets (4 →
    65,536). The broadcast offset table holds at most that many rows per
    stratum; raise it only for trillion-row inputs, lower it if strata are
    themselves very numerous.
    """
    ratios = ratios or {"train": 0.9, "validation": 0.05, "test": 0.05}
    if abs(sum(ratios.values()) - 1.0) > 1e-9:
        raise ValueError(f"ratios must sum to 1, got {ratios}")
    names = list(ratios)
    cum = []
    acc = 0.0
    for name in names[:-1]:
        acc += ratios[name]
        cum.append((name, acc))

    strat = [stratify_by] if stratify_by else []
    # Bucket = numeric value of a fixed-width hash prefix. md5 hex is
    # fixed-width lowercase, so lexicographic order == numeric prefix order
    # and (bucket, hash, key) sorts identically to (hash, key).
    tmp = df.withColumn(_H, _shuffle_hash(F.col(key), seed)).withColumn(
        _B, F.conv(F.substring(F.col(_H), 1, bucket_hex), 16, 10).cast("long")
    )
    w_in = Window.partitionBy(*strat, _B).orderBy(_H, key)
    ranked = tmp.withColumn(_ROW, F.row_number().over(w_in))

    counts = tmp.groupBy(*strat, _B).agg(F.count(F.lit(1)).alias(_C))
    w_cum = (
        Window.partitionBy(*strat)
        .orderBy(_B)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*strat)
    offsets = counts.select(
        *strat,
        _B,
        F.coalesce(F.sum(_C).over(w_cum), F.lit(0)).alias(_OFF),
        F.sum(_C).over(w_tot).alias(_N),
    )

    r, o = ranked.alias("__sl"), F.broadcast(offsets).alias("__sr")
    cond = F.col(f"__sl.{_B}") == F.col(f"__sr.{_B}")
    for c in strat:
        cond = cond & F.col(f"__sl.{c}").eqNullSafe(F.col(f"__sr.{c}"))
    out = r.join(o, cond).select(
        "__sl.*", F.col(f"__sr.{_OFF}").alias(_OFF), F.col(f"__sr.{_N}").alias(_N)
    )
    out = out.withColumn(_RANK, F.col(_OFF) + F.col(_ROW))
    # CASE built outside-in: the earliest (smallest) cutoff must win, so it
    # is applied last and ends up as the outermost WHEN.
    expr = F.lit(names[-1])
    for name, c in reversed(cum):
        expr = F.when(
            F.col(_RANK) <= F.floor(F.col(_N) * F.lit(c)), F.lit(name)
        ).otherwise(expr)
    return out.withColumn(split_col, expr).drop(_RANK, _N, _H, _B, _ROW, _OFF)


def hash_split(
    df: DataFrame,
    key: str,
    ratios: dict[str, float] | None = None,
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Scale-path split: assignment by content-hash bucket — no sort, no
    shuffle, approximate sizes (law of large numbers makes it exact enough
    at 100 TB). Same md5 hash family as ``seeded_split``."""
    ratios = ratios or {"train": 0.9, "validation": 0.05, "test": 0.05}
    if abs(sum(ratios.values()) - 1.0) > 1e-9:
        raise ValueError(f"ratios must sum to 1, got {ratios}")
    names = list(ratios)
    # bucket in [0,1): first 8 hex chars of md5 / 16^8
    bucket = (
        F.conv(F.substring(_shuffle_hash(F.col(key), seed), 1, 8), 16, 10).cast(
            "double"
        )
        / F.lit(float(16**8))
    )
    expr = F.lit(names[-1])
    acc = 0.0
    cuts = []
    for name in names[:-1]:
        acc += ratios[name]
        cuts.append((name, acc))
    for name, c in reversed(cuts):
        expr = F.when(bucket < F.lit(c), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_leakage_count(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> int:
    """R3/J6: # of keys shared between two splits (must be 0).

    left_semi join — no driver-side set materialization
    (test_parity_with_legacy.py:309-345 did set intersection in memory).
    """
    return a.select(key_cols).join(b.select(key_cols), key_cols, "left_semi").count()


def grouped_kfold(
    df: DataFrame,
    group_col: str,
    k: int,
    seed: int = 7,
    fold_col: str = "fold",
) -> DataFrame:
    """Leakage-safe k-fold assignment: every row of a GROUP lands in
    the same fold, because the fold is a pure content-hash of the group
    key — ``hash64("{seed}:fold:" || group) % k``. The cross-validation
    analog of J6's key-overlap discipline: near-identical rows sharing
    an author / domain / dup-cluster can never straddle a train/eval
    fold boundary and leak.

    Zero shuffle, zero state: a narrow projection, reproducible across
    runs, partitionings, and engines (portable md5 family — a SQL
    mirror assigns identical folds). Folds are approximately equal in
    GROUPS; balance in rows tracks the group-size distribution, which
    is the price of leakage safety (exactly-equal row folds would have
    to split groups). NULL group keys hash like the empty string
    (the ``_shuffle_hash`` null recipe) rather than dropping.
    """
    if k <= 1:
        raise ValueError(f"k must be >= 2, got {k}")
    from nahuatl_data_pipeline_spark.functions.hashing import hash64

    key = F.concat(
        F.lit(f"{seed}:fold:"),
        F.coalesce(F.col(group_col).cast("string"), F.lit("")),
    )
    return df.withColumn(fold_col, (hash64(key) % k).cast("int"))
