"""Sequence-level dedup over the actual input_hint payload: MinHash
directly on `tokens: array<int32>` — no text, no words.

k-token shingles are sliced JVM-side (token_shingle_slices_jvm), hashed
portably and folded through the text tier's affine-minima signature and
banding (dedup.py) — see portable_token_minhash_candidates.  Exact
Jaccard verification of candidate pairs hashes shingles with a
vectorized numpy polynomial (_shingle_hashes) in an Arrow pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _shingle_hashes(arr: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hash of every k-gram of arr, vectorized: one multiply-
    add sweep per shingle offset (k sweeps total, not n·k)."""
    n = len(arr) - k + 1
    if n <= 0:
        # short sequence: hash the whole array as one shingle (FNV-1a;
        # the mod-2^64 wraparound is the hash, not an error)
        with np.errstate(over="ignore"):
            h = np.uint64(1469598103934665603)
            for v in arr.astype(np.uint64):
                h = (h ^ v) * np.uint64(1099511628211)
        return np.array([h], dtype=np.uint64)
    out = np.zeros(n, dtype=np.uint64)
    base = np.uint64(1000003)
    a64 = arr.astype(np.uint64)
    for j in range(k):
        out = out * base + a64[j : j + n]
    return out


def token_shingle_slices_jvm(
    tokens_col: Column | str, k: int = 8
) -> Column:
    """array<array<int>> of the k-token windows, built entirely JVM-side
    (same shape as dedup.word_ngrams, minus any string conversion).
    Sequences shorter than k yield one whole-array shingle.  Callers
    hash the exploded slices with the native xxhash64."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    # the lambda only SLICES (array copy); the xxhash64 runs post-explode
    # in whole-stage codegen — hashing inside the HOF lambda would
    # evaluate interpreted per shingle
    slices = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.slice(toks, i, k),
        ),
    ).otherwise(F.array(toks))
    return slices


def portable_token_minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Oracle-verifiable token-sequence MinHash: candidate pairs over
    integer token arrays where EVERY value is reproducible by a SQL
    engine — the token analogue of dedup.portable_minhash_candidates.

    k-token shingles are built JVM-side (token_shingle_slices_jvm, zero
    Python), serialized as '_'-joined decimal strings, hashed portably
    (first 8 hex chars of md5 → bigint — DuckDB:
    CAST('0x'||substring(md5(g),1,8) AS BIGINT)), folded through the
    shared MH_COEFFS affine-minima aggregation and banded exactly like
    the text tier.  Plan shape: explode shingles → one codegen
    min-aggregate groupBy(id) (map-side partials, the shuffle carries
    signatures, never shingles) → band self-join.  Null/empty token rows are dropped (no signature)."""
    from ensembl_datacheck_spark.operators.dedup import (
        MH_COEFFS,
        _min_sig_agg,
        _portable_band_pairs,
    )

    rows = len(MH_COEFFS) // n_bands
    t = df.select(
        F.col(id_col).alias("id"), F.col(tokens_col).alias("toks")
    ).filter(F.col("toks").isNotNull() & (F.size("toks") > 0))
    sh = (
        t.select("id", F.explode(token_shingle_slices_jvm("toks", k)).alias("g"))
        .select(
            "id",
            F.concat_ws(
                "_", F.transform("g", lambda x: x.cast("string"))
            ).alias("gs"),
        )
        .select(
            "id",
            F.conv(F.substring(F.md5("gs"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    sig = _min_sig_agg(sh, len(MH_COEFFS))
    return _portable_band_pairs(sig, n_bands, rows)


def token_exact_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs: explode distinct
    shingle hashes, self-join restricted to candidates — integer
    arithmetic, same plan shape as dedup.jaccard_pairs."""
    sh_udf = pandas_udf(
        lambda s: pd.Series(
            [
                None
                if arr is None or len(arr) == 0
                else np.unique(
                    _shingle_hashes(np.asarray(arr, dtype=np.int64), k)
                ).astype(np.int64).tolist()
                for arr in s
            ],
            dtype=object,
        ),
        "array<bigint>",
    )
    # shingle only the candidate docs — the semi-join after the self-join
    # cannot be pushed below it, so without this prefilter the whole
    # corpus would be shingled and self-joined for a handful of pairs
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumnRenamed("id", id_col)
    )
    scoped = df.join(cand_ids, id_col, "left_semi")
    sh = (
        scoped.select(F.col(id_col).alias("id"), sh_udf(F.col(tokens_col)).alias("shs"))
        .filter(F.col("shs").isNotNull())
        .select("id", F.explode("shs").alias("shingle"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(candidates, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn("jaccard", F.col("n_inter") / F.col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
    )


def token_passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    passage_tokens: int = 50,
) -> DataFrame:
    """Sub-sequence exact dedup over the input_hint payload
    (`tokens: array<int32>`): remove duplicated fixed-length TOKEN
    passages across the corpus, keeping each passage's first occurrence
    (lowest (id, passage_index)) — corpus.passage_dedup's plan applied
    to token sequences instead of word text (chunk-granularity
    exact-substring dedup, Lee et al. 2022, at token granularity — the
    form training pipelines actually run, since duplication is defined
    over what the model sees).

    Same scale shape as corpus.passage_dedup: passages by pure
    projection (transform+slice over the token array, zero shuffle),
    first-occurrence keep via groupBy(digest) · min(struct) — map-side
    partial combine, NO digest window, so a passage duplicated 10^9
    times collapses per map partition — then one per-doc reassembly
    aggregate bounded by document length.

    Output is scalar-only for engine-portable comparison:
    (id, n_passages, n_kept, n_tok_deduped, dedup_sig) where dedup_sig
    = md5 of the kept token sequence joined by '_' ('' when every
    passage was a duplicate).  The digest is md5 over the same join —
    portable (any SQL engine reproduces it), and exact: two passages
    share a digest iff they are the same token sequence (md5 collisions
    aside, the standard assumption of every digest-keyed dedup here).
    """
    k = int(passage_tokens)
    if k < 1:
        raise ValueError(f"passage_tokens must be >= 1, got {passage_tokens}")
    docs = df.filter(
        F.col(tokens_col).isNotNull() & (F.size(F.col(tokens_col)) > 0)
    ).select(F.col(id_col).alias("id"), F.col(tokens_col).alias("ta"))
    from ensembl_datacheck_spark.operators.corpus import (
        first_occurrence,
        passage_array_expr,
    )

    pass_df = docs.select(
        "id",
        F.posexplode(
            F.expr(passage_array_expr("ta", k, join_words=False))
        ).alias("pidx", "parr"),
    )
    digest = F.md5(
        F.array_join(F.transform(F.col("parr"), lambda x: x.cast("string")), "_")
    )
    firsts = first_occurrence(pass_df, digest)
    kept = firsts.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pidx", "parr"))),
                lambda s: s["parr"],
            )
        ).alias("td"),
    )
    base = docs.select(
        "id",
        F.ceil(F.size("ta") / F.lit(float(k))).cast("long").alias("n_passages"),
    )
    return base.join(kept, "id", "left").select(
        F.col("id").alias(id_col),
        "n_passages",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        # explicit NULL branch, not coalesce(size(td), 0): size(NULL) is
        # -1 under legacy sizeOfNull and NULL under ANSI — the when()
        # is correct in both modes
        F.when(F.col("td").isNull(), F.lit(0))
        .otherwise(F.size("td"))
        .cast("long")
        .alias("n_tok_deduped"),
        F.coalesce(
            F.md5(F.array_join(F.transform(F.col("td"),
                                           lambda x: x.cast("string")), "_")),
            F.lit(""),
        ).alias("dedup_sig"),
    )


def token_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Benchmark-leakage measurement over the input_hint payload shape
    (`tokens: array<int>`): per EVAL document, the fraction of its
    distinct k-token shingles that appear anywhere in the TRAIN corpus
    — corpus.contamination_overlap's semantics at token granularity,
    the form decontamination actually runs in an LLM pipeline (leakage
    is defined over what the model sees, not over surface text; cf.
    GPT-3 appendix C / PaLM-style 8-gram decontamination).

    Scale shape (identical to the text variant): the train side
    collapses to its DISTINCT shingle-key set before the join — a
    map-side-combinable aggregation, so the hot shingle occurring 10^9
    times crosses the shuffle once — then ONE left join marks eval
    shingle hits and a final per-doc aggregation emits counts.  Linear
    in total shingles; no doc x doc pairing; no Python anywhere
    (shingles are JVM slice HOFs, keys are codegen hashes post-explode
    — hashing inside the HOF lambda would evaluate interpreted).

    Tiers: default keys shingles with native ``xxhash64`` over the
    slice array (cheapest; 64-bit, collision odds negligible at any
    realistic shingle count).  ``portable=True`` keys with
    md5-of-joined-tokens — injective and reproducible in any SQL
    engine, used by the DuckDB oracle query; both tiers return
    identical counts (pytest-pinned).

    Returns (id, n_shingles, n_contaminated, contamination) — one row
    per eval doc with >=1 token.

    Reference kin: the reference validates corpus hygiene as named
    per-row checks with violation diagnostics (Test/DataCheck.pm
    is_rows_zero semantics); a contamination threshold check composes
    this with cmp_rows.
    """

    def keyed(df: DataFrame) -> DataFrame:
        toks = F.col(tokens_col)
        sh = (
            df.filter(toks.isNotNull() & (F.size(toks) > 0))
            .select(
                F.col(id_col).alias("id"),
                F.explode(token_shingle_slices_jvm(tokens_col, k)).alias("s"),
            )
        )
        key = (
            F.md5(
                F.array_join(
                    F.transform(F.col("s"), lambda x: x.cast("string")), "_"
                )
            )
            if portable
            else F.xxhash64("s")
        )
        return sh.select("id", key.alias("shingle"))

    tr = keyed(train).select("shingle").distinct().withColumn("__hit", F.lit(1))
    ev = keyed(eval_df).distinct()
    # one pass over the eval shingles: left join against the unique
    # train set (no fan-out), count-all vs count-hits in one aggregation
    marked = ev.join(tr, "shingle", "left")
    return marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("__hit").alias("n_contaminated"),
        (F.count("__hit") / F.count(F.lit(1))).alias("contamination"),
    )


def token_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    max_contamination: float = 0.0,
    portable: bool = False,
) -> DataFrame:
    """Scrub the TRAIN corpus against held-out eval token sequences:
    drop train documents whose distinct k-token-shingle overlap with
    the eval corpus exceeds ``max_contamination`` (the mirrored
    direction of token_contamination — eval plays the reference set).
    The eval corpus is small by contract, so its distinct shingle set
    broadcasts; the final id anti-join removes flagged rows without
    touching surviving rows' payloads."""
    overlap = token_contamination(
        eval_df, train, id_col, tokens_col, k=k, portable=portable
    )
    bad = overlap.filter(F.col("contamination") > max_contamination).select(
        F.col("id").alias(id_col)
    )
    return train.join(bad, id_col, "left_anti")


def source_token_overlap(
    df: DataFrame,
    source_col: str = "source",
    tokens_col: str = "tokens",
    k: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Pairwise source-overlap matrix: for every ORDERED pair of sources
    (a, b), how much of a's distinct k-token shingle set also appears in
    b — the training-mix diagnostic behind "how much of wiki is already
    inside the web crawl" decisions (and the source-granular cousin of
    ``token_contamination``, whose eval-vs-train direction is one row of
    this matrix).

    Returns one row per ordered source pair with ≥1 shared shingle
    (absent pair ⇔ zero overlap; cross-join the per-source counts if a
    dense matrix is needed):

    * ``source_a``, ``source_b``     — the pair (a ≠ b);
    * ``n_shingles_a``/``n_shingles_b`` BIGINT — distinct-shingle set
      sizes;
    * ``overlap_n``  BIGINT — |A ∩ B|;
    * ``containment`` DOUBLE — overlap_n / n_shingles_a (asymmetric: the
      fraction of a ALREADY COVERED by b);
    * ``jaccard``     DOUBLE — overlap_n / (n_a + n_b − overlap_n).

    Both fractions are single IEEE divisions of exact BIGINTs —
    oracle-bit-exact.

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    pairs first (map-side combinable — the 10^9-occurrence hot shingle
    crosses the shuffle once per source).  The intersection self-join is
    keyed on the shingle, where each key matches at most n_sources rows
    per side, so the join output is bounded by distinct_shingles ×
    n_sources² — linear in the corpus for the dimension-bounded source
    cardinality the input_hint guarantees (never doc × doc).  Per-source
    set sizes are a vocab-shuffle aggregate broadcast back onto the
    n_sources²-row pair table.

    Tiers as in ``token_contamination``: native ``xxhash64`` shingle
    keys by default; ``portable=True`` uses md5-of-joined-tokens so any
    SQL engine reproduces the keys exactly (the oracle tier).
    """
    toks = F.col(tokens_col)
    sh = (
        df.filter(
            toks.isNotNull()
            & (F.size(toks) > 0)
            & F.col(source_col).isNotNull()
        )
        .select(
            F.col(source_col).alias("src"),
            F.explode(token_shingle_slices_jvm(tokens_col, k)).alias("s"),
        )
    )
    key = (
        F.md5(
            F.array_join(
                F.transform(F.col("s"), lambda x: x.cast("string")), "_"
            )
        )
        if portable
        else F.xxhash64("s")
    )
    ss = sh.select("src", key.alias("shingle")).distinct()
    per = F.broadcast(
        ss.groupBy("src").agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    a = ss.select(F.col("src").alias("source_a"), "shingle")
    b = ss.select(F.col("src").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("overlap_n"))
    )
    out = (
        inter.join(
            per.select(
                F.col("src").alias("source_a"),
                F.col("n_shingles").alias("n_shingles_a"),
            ),
            "source_a",
        )
        .join(
            per.select(
                F.col("src").alias("source_b"),
                F.col("n_shingles").alias("n_shingles_b"),
            ),
            "source_b",
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "n_shingles_a",
        "n_shingles_b",
        "overlap_n",
        (
            F.col("overlap_n").cast("double")
            / F.col("n_shingles_a").cast("double")
        ).alias("containment"),
        (
            F.col("overlap_n").cast("double")
            / (
                F.col("n_shingles_a") + F.col("n_shingles_b")
                - F.col("overlap_n")
            ).cast("double")
        ).alias("jaccard"),
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    common_df: int = 10,
    portable: bool = False,
) -> DataFrame:
    """Per-document novelty / boilerplate scores from corpus shingle
    document-frequency — the df-based curation signal behind "this page
    is mostly template" decisions (the within-corpus complement of
    ``token_contamination``'s cross-set containment, and the
    doc-granular complement of ``source_token_overlap``).

    For each document's DISTINCT k-token shingle set (short docs yield
    one whole-array shingle, matching ``token_shingle_slices_jvm``):

    * ``n_shingles`` BIGINT — distinct shingles in the doc;
    * ``novel_n``    BIGINT — shingles whose corpus document-frequency
      is exactly 1 (no other document contains them);
    * ``common_n``   BIGINT — shingles with df ≥ ``common_df``
      (boilerplate mass);
    * ``max_df``     BIGINT — df of the doc's most-shared shingle;
    * ``novelty``     DOUBLE — novel_n / n_shingles;
    * ``boilerplate`` DOUBLE — common_n / n_shingles.

    Both fractions are single IEEE divisions of exact BIGINTs —
    oracle-bit-exact.  Rows with NULL id or NULL/empty tokens are
    excluded (id-format / completeness checks own those; a NULL id
    would otherwise merge unrelated rows into one phantom document).

    Scale shape: the corpus collapses to DISTINCT (doc, shingle) pairs
    (map-side combinable), df is one count over those pairs grouped by
    shingle (bounded by distinct shingles, not occurrences), and the
    join back onto the pairs is shingle-keyed with exactly ONE df row
    per key — linear in the distinct-pair count, never doc × doc.  The
    final per-doc aggregation partially combines map-side after the
    join's shuffle.  A 10^9-occurrence hot shingle crosses the shuffle
    once per containing doc (already deduped within doc) and its df row
    broadcasts through the join as one row — no skew amplification.

    Tiers as elsewhere in this module: native ``xxhash64`` shingle keys
    by default; ``portable=True`` md5-of-joined-tokens so any SQL
    engine reproduces the keys (the oracle tier).
    """
    toks = F.col(tokens_col)
    sh = (
        df.filter(
            toks.isNotNull() & (F.size(toks) > 0) & F.col(id_col).isNotNull()
        )
        .select(
            F.col(id_col).alias("id"),
            F.explode(token_shingle_slices_jvm(tokens_col, k)).alias("s"),
        )
    )
    key = (
        F.md5(
            F.array_join(
                F.transform(F.col("s"), lambda x: x.cast("string")), "_"
            )
        )
        if portable
        else F.xxhash64("s")
    )
    pairs = sh.select("id", key.alias("shingle")).distinct()
    df_tab = pairs.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    joined = pairs.join(df_tab, "shingle")
    agg = joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
        .cast("long")
        .alias("novel_n"),
        F.sum(F.when(F.col("__df") >= int(common_df), 1).otherwise(0))
        .cast("long")
        .alias("common_n"),
        F.max("__df").cast("long").alias("max_df"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "novel_n",
        "common_n",
        "max_df",
        (
            F.col("novel_n").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
        (
            F.col("common_n").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("boilerplate"),
    )
