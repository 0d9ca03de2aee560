"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly").

Skewed joins are left to AQE's skew-join splitting
(spark.sql.adaptive.skewJoin, on by default in session.get_spark).
This module measures skew: `hot_keys` profiles the most frequent values
per column and `heavy_hitter_keys` finds every key above a share
threshold.  The companion for aggregations is
operators/uniqueness.exact_count_distinct_salted (salted two-stage agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(
    df: DataFrame, cols: list[str], top_k: int = 10
) -> DataFrame:
    """Skew profiler: (column, value, n, share) — the ``top_k`` most
    frequent values of each named column and their share of all rows.
    This is the measurement that decides WHERE salting / AQE skew
    handling is needed before a big join or aggregation: a key with
    share 0.3 at 10^12 rows means one reducer gets 3×10^11 rows unless
    the plan salts it.

    Plan: ONE lazy plan, ONE counting scan of the fact table — each row
    explodes into len(cols) (column, value) pairs (values canonicalized
    to string; NULL kept as a value, since NULL-heavy keys are the most
    common skew source) → two-stage count keyed by (column, value) —
    uniform even when the profiled key itself is hot, because the hot
    key IS one group — → per-column top-k rank window → broadcast-join
    of per-column totals for the share.

    The share denominator is NOT a ``sum().over(partitionBy(column))``
    window over the counts (that would funnel ALL distinct (value, n)
    rows of a column — up to row-count-many for a near-unique join key,
    exactly the kind of column one profiles before salting — into a
    single task), and NOT an eager ``df.count()`` either (an action at
    plan-build time = a second full scan of a 10^12-row fact table, and
    a surprise job inside what callers assume is lazy plan
    construction).  Instead: every row contributes exactly one pair per
    column, so the per-column total is ``sum(n)`` over the SAME counts
    aggregate — a len(cols)-row side aggregate whose subtree is the
    shuffle Spark already materialized for the rank window
    (ReuseExchange dedupes the scan), broadcast-joined back onto the
    ≤ len(cols) × top_k ranked rows.  The rank window is eligible for
    Spark's WindowGroupLimit push-down (per-partition top-k before the
    shuffle), so no task ever holds a column's full distinct-value set.
    Output is at most len(cols) × top_k rows.
    """
    from pyspark.sql import Window

    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"hot_keys: columns not in DataFrame: {missing}")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("column").agg(F.sum("n").alias("__total"))
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("column").orderBy(
                F.desc("n"), F.asc_nulls_first("value")
            )
        ),
    ).filter(F.col("rank") <= top_k)
    # __total >= n >= 1 for every surviving row (a (column, value) group
    # exists only if at least one row produced it), so the ANSI divide is
    # always well-defined
    return ranked.join(F.broadcast(totals), "column").select(
        "column",
        "value",
        "n",
        (F.col("n") / F.col("__total").cast("double")).alias("share"),
        "rank",
    )


# ---------------------------------------------------------------------------
# phi-heavy hitters over an unbounded keyspace (Misra-Gries + exact recount)
# ---------------------------------------------------------------------------

#: One live cached Misra-Gries summary (same bounded-cache discipline as
#: operators/dedup._SIG_CACHE): the summary is tiny (≤ partitions × cap
#: rows) but consumed twice (total + candidates), and recomputing it
#: would re-scan the corpus.
_MG_CACHE: dict[str, DataFrame] = {}


def _cache_mg(key: str, df: DataFrame) -> DataFrame:
    old = _MG_CACHE.get(key)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass
    df = df.cache()
    _MG_CACHE[key] = df
    return df


def heavy_hitter_keys(
    df: DataFrame,
    key_col: str,
    phi: float,
    method: str = "bucket",
    n_buckets: int = 1 << 17,
    max_partition_keys: int = 2_000_000,
) -> DataFrame:
    """All keys occurring in at least ``phi`` of the key observations,
    with their EXACT counts — for keyspaces too large to histogram.

    ``hot_keys`` (above) and the unigram profile both build the full
    (key, count) table, which is the right plan when the keyspace is
    bounded (a BPE vocabulary, a join key's id range).  For an
    UNBOUNDED keyspace — shingles, n-grams, URLs — nearly every key is
    distinct, map-side combine stops helping, and the full histogram
    shuffles ~the whole corpus.  Both methods here are two-pass
    candidates-then-exact-recount plans whose output is EXACT and
    independent of partitioning — the same table ``GROUP BY key HAVING
    count >= phi*N`` would produce, at a fraction of its shuffle:

    * ``method="bucket"`` (default, all-JVM): scan 1 aggregates counts
      of ``pmod(xxhash64(key), n_buckets)`` — a BOUNDED keyspace, so
      map-side combine works and the shuffle is ≤ partitions ×
      n_buckets rows.  Any key with count ≥ phi·N lives in a bucket
      with count ≥ phi·N (superset property → no false negatives); the
      candidate bucket ids broadcast back and scan 2 exactly recounts
      only keys hashing into them.  Collision false positives are
      bounded by mass concentration — background mass per bucket is
      ~N/n_buckets, so keep ``n_buckets ≫ 1/phi`` (the default 131072
      suits phi ≥ 1e-4) and the recount aggregates a tiny key subset.
      Stays in whole-stage codegen end to end.  Measured
      (BENCH/HEAVY_HITTERS.md): at 20M observations on local[32] the
      plain histogram still wins (single-node shuffle of 16M rows is
      nearly free), but at 200M observations / 160M distinct keys the
      histogram's corpus-sized shuffle spills and "bucket" is 1.5x
      faster — and the gap widens with corpus size, while on a real
      cluster (network shuffle) the crossover comes far earlier.

    * ``method="mg"``: scan 1 runs a per-partition Misra-Gries summary
      of capacity ``cap = ceil(1/phi)`` (vectorized: pandas
      ``value_counts`` per Arrow batch merged into a counter; when the
      counter exceeds ``cap``, the (cap+1)-th largest count is
      subtracted from every entry and non-positives dropped — the
      batch MG decrement).  Each partition emits ≤ cap surviving keys,
      so the summary is ≤ partitions × cap rows with NO dependence on
      n_buckets tuning or hash-collision mass (a key absent from a
      summary has local count ≤ N_p/(cap+1); summed, any key with
      global count ≥ phi·N survives somewhere).  The Arrow hop prices
      every observation through Python, measured ~3x slower than
      "bucket" at both scales (BENCH/HEAVY_HITTERS.md) — reach for it
      when the bucket tier's collision mass is a concern (adversarial
      keys, phi near the n_buckets bound), never for speed.

    Scan 2 (shared): exact recount behind a broadcast hash join, then
    ``count ≥ phi·N`` removes every false positive.  Columns: ``key``
    (input type), ``cnt`` BIGINT, ``share`` DOUBLE (cnt/N).  NULL keys
    are ignored.  MG memory: O(cap) per task — guarded by
    ``max_partition_keys``.
    """
    import math

    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    if method not in ("bucket", "mg"):
        raise ValueError(f"method must be 'bucket' or 'mg', got {method!r}")
    cap = math.ceil(1.0 / phi)
    if cap > max_partition_keys:
        raise ValueError(
            f"cap=ceil(1/phi)={cap} exceeds max_partition_keys="
            f"{max_partition_keys}; a summary that large belongs in the "
            "full-histogram plan (hot_keys / unigram_profile), not MG"
        )
    key_type = df.schema[key_col].dataType.simpleString()
    keyed = df.select(F.col(key_col).alias("key")).filter(
        F.col("key").isNotNull()
    )

    if method == "bucket":
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        bucketed = keyed.withColumn(
            "__bkt",
            F.pmod(F.xxhash64(F.col("key").cast("string")), F.lit(n_buckets)),
        )
        bkt_counts = bucketed.groupBy("__bkt").agg(
            F.count(F.lit(1)).alias("__bc")
        )
        # N re-derives from the SAME bucket-count subtree, so AQE's
        # exchange reuse computes the corpus scan once (the
        # source_unigram_divergence pattern, plan-pinned in tests)
        total = bkt_counts.agg(F.sum("__bc").alias("n"))
        cand = (
            bkt_counts.crossJoin(F.broadcast(total))
            .filter(F.col("__bc") >= F.lit(phi) * F.col("n"))
            .select("__bkt")
        )
        return (
            bucketed.join(F.broadcast(cand), "__bkt")
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt") >= F.lit(phi) * F.col("n"))
            .select(
                "key", "cnt",
                (F.col("cnt").cast("double") / F.col("n")).alias("share"),
            )
        )

    def mg_partitions(batches):
        import numpy as np
        import pandas as pd
        from collections import Counter

        counts: Counter = Counter()
        n_obs = 0
        for pdf in batches:
            s = pdf["key"].dropna()
            n_obs += len(s)
            counts.update(s.value_counts().to_dict())
            if len(counts) > cap:
                vals = np.fromiter(counts.values(), dtype=np.int64)
                kth = np.partition(vals, len(vals) - cap - 1)[
                    len(vals) - cap - 1
                ]
                counts = Counter(
                    {k: v - kth for k, v in counts.items() if v > kth}
                )
        yield pd.DataFrame(
            {
                "key": list(counts.keys()) + [None],
                "cnt": list(counts.values()) + [0],
                "n_obs": [0] * len(counts) + [n_obs],
            }
        )

    summary = _cache_mg(
        f"{key_col}:{phi}",
        keyed.mapInPandas(
            mg_partitions, schema=f"key {key_type}, cnt long, n_obs long"
        ),
    )
    total = summary.agg(F.sum("n_obs").alias("n"))
    cands = summary.filter(F.col("key").isNotNull()).select("key").distinct()
    return (
        keyed.join(F.broadcast(cands), "key")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(phi) * F.col("n"))
        .select(
            "key", "cnt",
            (F.col("cnt").cast("double") / F.col("n")).alias("share"),
        )
    )
