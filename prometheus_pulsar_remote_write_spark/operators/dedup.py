"""Deduplication operators (SURVEY.md §2.F F1/F2).

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard and
containment -- all expressed as DataFrame ops so Catalyst plans them
(hash-aggregate with partial/final phases, broadcast where small).
MinHash signatures come from one Arrow pass (``minhash_signatures``) or
one JVM aggregation (``minhash_signatures_agg``); the inverted-index
Jaccard and containment joins share one shingle-overlap prefix.

Scale notes (100 TB):
  - exact dedup is one hash-shuffle on the dedup key; use a digest column
    (md5/xxhash64 of the payload) as the key so the shuffle moves 16-32
    bytes/row instead of whole documents.
  - MinHash LSH replaces the O(n^2) pairwise scan with an equi-join on
    band buckets: explode(docs x bands) -> shuffle on (band, bucket) ->
    within-bucket pairs. Bucket sizes are bounded by signature quality;
    skewed buckets (boilerplate dups) are exactly the rows you want out.
  - hashes are md5-based so results are engine-portable (the DuckDB
    oracle computes the identical signatures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import floor_quant_expr
from .text import shingles_col, tokens_col


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key, deterministically (lowest order_cols).

    row_number over (key, order) rather than dropDuplicates: dropDuplicates
    keeps an *arbitrary* row per key, which is irreproducible across runs
    and engines. One shuffle on key_cols either way.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: Universal-hash family for MinHash: sig_i = min((A_i*H + B_i) mod P)
#: over shingle base-hashes H. One md5 per shingle (H = first 28 bits of
#: the digest) feeds every signature, instead of num_hashes md5 calls per
#: shingle -- 8x less hashing at any scale with the same LSH guarantees.
#: H < 2^28 and A_i < 2^31 keep A_i*H + B_i < 2^60: exact in int64 (and in
#: numpy int64 / DuckDB BIGINT), so every engine computes identical bits.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_A = [769312289, 1007800007, 1404584233, 490970939,
             859813951, 1362473303, 645251231, 1138541627]
MINHASH_B = [283811, 1229869, 516127, 1993637,
             402653, 1771411, 903211, 60617]


def _base_hash28(col: Column) -> Column:
    """28-bit shingle hash from the md5 hex prefix (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def minhash_signatures_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle_k: int = 3,
) -> DataFrame:
    """All-JVM MinHash tier: explode shingles, hash each ONCE with the
    built-in md5, take the ``num_hashes`` affine minima as ONE hash
    aggregation. Semantics identical to :func:`minhash_signatures` (same
    tokenizer, shingle set, hash family; docs with < k tokens yield
    all-null signatures).

    Why a second tier: the pandas tier runs on Python workers. Partial
    aggregation folds the per-shingle rows map-side, so the groupBy
    shuffle carries ~8 partial minima per (doc, partition) and every
    operator is whole-stage codegen. Measured at sf0.1 (local[16], warm): 0.59s/run
    vs the pandas tier's 0.35s -- the vectorized numpy affine pass beats
    JVM md5-per-row once workers are warm, so the pandas tier stays the
    default; use this tier where Python workers are unavailable or
    their fork/warm-up jitter matters more than 0.2s of throughput."""
    assert num_hashes <= len(MINHASH_A)
    ex = df.select(
        F.col(id_col),
        F.explode_outer(shingles_col(F.col(text_col), shingle_k)).alias("__sh"),
    )
    h = _base_hash28(F.col("__sh"))
    return ex.groupBy(id_col).agg(
        *[
            F.min(
                (h * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle_k: int = 3,
) -> DataFrame:
    """One Arrow-batched pass computing all ``num_hashes`` signatures.

    Semantically identical to :func:`minhash_signatures_agg` (same
    tokenizer, shingles, hash family -- the DuckDB oracle reproduces it
    bit-for-bit): each document is shingled and md5-hashed ONCE, then
    all ``num_hashes`` signatures come from vectorized numpy affine
    transforms of the base-hash array. Narrow stage, no shuffle; scales
    with input partitions.
    """
    import hashlib

    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    assert num_hashes <= len(MINHASH_A)
    out_schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(f"mh{i}", T.LongType(), True) for i in range(num_hashes)]
    )
    names = [f.name for f in out_schema.fields]
    a = np.array(MINHASH_A[:num_hashes], dtype=np.int64)[:, None]
    b = np.array(MINHASH_B[:num_hashes], dtype=np.int64)[:, None]

    def _sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in (text or "").split(" ") if t]
                if len(toks) < shingle_k:
                    rows.append([doc_id] + [None] * num_hashes)
                    continue
                shingles = {
                    " ".join(toks[i : i + shingle_k]).encode()
                    for i in range(len(toks) - shingle_k + 1)
                }
                # 28-bit base hash per shingle (one md5 each), then all
                # signatures via one vectorized (A h + B) mod P min
                h = np.array(
                    [int(md5(s).hexdigest()[:7], 16) for s in shingles],
                    dtype=np.int64,
                )
                sigs = ((a * h[None, :] + b) % MINHASH_P).min(axis=1)
                rows.append([doc_id] + sigs.tolist())
            yield pd.DataFrame(rows, columns=names)

    return df.select(id_col, text_col).mapInPandas(_sign, out_schema)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
    bucket_obs=None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Unpivots each doc into `bands` (band_id, bucket) rows, groups ids per
    bucket, and expands i<j pairs INSIDE each bucket with an array
    expression. One shuffle (the bucket groupBy) and exactly one
    evaluation of the signature relation -- a bucket self-join would
    evaluate the signature scan once per join side. Per-bucket state is
    the id list, bounded by bucket size: small by the LSH premise.

    ``max_bucket_size`` is the hot-bucket guard for corpora where one
    boilerplate/template mass floods a bucket. All-pairs expansion is
    quadratic IN THE BUCKET: the sf0.1->sf1->sf10 ladder (SCALE.md §9)
    measured the hottest bucket growing linearly with the corpus (79 ->
    844 docs) while median stayed 2, so total candidate pairs grew 86x
    for 10x docs -- the one superlinear signature in the repo. Buckets
    over the cap switch to STAR expansion: every member pairs with the
    bucket's minimum id only (O(size) pairs, same single shuffle). For
    a dup-family mass this preserves what dedup needs -- every member
    remains reachable from one canonical anchor, and dup_families'
    transitive closure reconnects the family -- at the cost of missing
    member<->member edges that only mattered if the bucket was a hash
    COLLISION of unrelated docs (vanishingly unlikely at real shingle
    cardinality, and those pairs fail Jaccard verification anyway).
    Caveat measured on the embedding twin (similarity.py): if buckets
    run hot because the signature is UNDER-SELECTIVE for the corpus
    (not because a dup mass exists), capping loses recall -- raise
    bands/rows_per_band first and keep the cap as the runaway backstop.
    Default None keeps the exact all-pairs semantics (and byte-identical
    plans) for every existing catalog query and its DuckDB oracle.

    ``bucket_obs`` (an ``Observation``) attaches the SCALE.md §10
    saturation-regime detector to the bucket relation as a free side
    output (metrics.bucket_size_exprs: count/max/median/p99 occupancy,
    the sum-of-squares candidate proxy, over-cap bucket count). Read it
    after any action on the returned pairs: a MEDIAN occupancy that
    grows with n means the signature space is saturating -- widen
    bands/rows_per_band; a growing MAX alone is a dup mass -- the star
    cap's territory. Feed the dict straight into
    metrics.warn_if_saturated (r14) to get the loud structured regime-(a)
    warning the embedding histogram path emits automatically.
    """
    mh_cols = [c for c in signatures.columns if c.startswith("mh")]
    assert len(mh_cols) >= bands * rows_per_band
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(mh_cols[b * rows_per_band + r]).cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.explode(band_entries).alias("band")
    ).select(id_col, "band.band_id", "band.bucket")
    buckets = (
        banded.groupBy("band_id", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if bucket_obs is not None:
        from .metrics import bucket_size_exprs

        # >= 2 members only: singleton buckets produce no pairs and no
        # memory, and excluding them keeps the median a pair-stage signal
        buckets = buckets.observe(
            bucket_obs, *bucket_size_exprs(F.size("ids"), cap=max_bucket_size)
        )
    all_pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> named_struct('id_a', x, 'id_b', y))))"
    )
    if max_bucket_size is None:
        expanded = all_pairs
    else:
        # ids is sorted ascending, so ids[0] is the canonical (min) id
        star_pairs = F.expr(
            "transform(slice(ids, 2, size(ids) - 1),"
            " y -> named_struct('id_a', ids[0], 'id_b', y))"
        )
        expanded = F.when(
            F.size("ids") <= F.lit(int(max_bucket_size)), all_pairs
        ).otherwise(star_pairs)
    return (
        buckets.select(F.explode(expanded).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_k: int = 3, prune_to_candidates: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Computes |A ∩ B| / |A ∪ B| via array built-ins. Run it on LSH
    candidates, never on the full cross product.

    Plan shape: the pair list is exploded into (pair, side, doc) rows and
    joined against the shingle sets ONCE -- so the candidate-pair subplan
    (which contains the corpus-wide signature scan) and the shingle
    projection each evaluate exactly once, with no checkpoint/cache
    needed. The regroup shuffle carries only candidate shingle arrays
    (pairs << corpus at any scale).

    ``prune_to_candidates`` (r14) broadcast-semi-joins the candidate ids
    into ``df`` BEFORE any tokenize/shingle work: without it the verify
    leg re-shingles the ENTIRE corpus just so the pair join can pick the
    few candidate rows out of it (decide with small rows -- guide §8).
    Only set it when ``pairs`` is materialized (localCheckpoint) or
    trivially cheap: the pair subplan is consumed twice (id prune + pair
    list) and would otherwise evaluate twice. Output is identical either
    way -- shingles of never-joined docs don't reach the result.
    """
    if prune_to_candidates:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        df = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    sets = df.select(
        F.col(id_col).alias("__did"),
        shingles_col(F.col(text_col), shingle_k).alias("sh"),
    )
    melted = pairs.select(
        "id_a",
        "id_b",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("side"), F.col("id_a").alias("__did")),
                F.struct(F.lit("b").alias("side"), F.col("id_b").alias("__did")),
            )
        ).alias("e"),
    ).select("id_a", "id_b", "e.side", "e.__did")
    both = (
        # broadcast the melted pair list (tiny by construction): without
        # the hint the initial plan may shuffle the corpus-wide shingle
        # side on __did, which is exactly the heavy move this shape avoids
        F.broadcast(melted).join(sets, "__did")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("side") == "a", F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("side") == "b", F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
    )
    return both.select(
        "id_a",
        "id_b",
        floor_quant_expr(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
            6,
        ).alias("jaccard"),
    )


def simhash_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    sig_bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join + exact Hamming filter.

    Splitting a ``sig_bits`` fingerprint into ``bands`` equal slices
    guarantees (pigeonhole) that any pair within Hamming distance
    ``bands - 1`` agrees on at least one whole band, so the candidate set
    from the per-band equi-join is lossless for ``max_hamming <= bands-1``.
    The join shuffles on (band_id, band_value) -- never O(n^2) -- and the
    final ``bit_count(a XOR b)`` check is one codegen'd expression.

    16-bit signatures keep the DuckDB oracle exact; production would use
    64-bit simhash with 8 bands -- the plan shape is identical.
    """
    assert sig_bits % bands == 0 and max_hamming <= bands - 1
    width = sig_bits // bands
    banded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col(sig_col), b * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, sig_col, "band.band_id", "band.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{sig_col}").alias("sig_a"),
            F.col(f"r.{sig_col}").alias("sig_b"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _shingle_overlap(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(id_a < id_b, n_common, n_a, n_b) for every pair of documents that
    share a shingle: explode(shingles) -> self-equi-join on the shingle
    (the inverted index) -> count common shingles per pair -> join both
    set sizes. The prefix of :func:`jaccard_index_pairs` and
    :func:`containment_pairs`."""
    sets = df.select(
        F.col(id_col), shingles_col(F.col(text_col), shingle_k).alias("sh")
    ).filter(F.size("sh") > 0)
    counts = sets.select(F.col(id_col), F.size("sh").alias("n_sh"))
    inv = sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
    common = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return common.join(
        counts.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"),
        "id_a",
    ).join(
        counts.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"),
        "id_b",
    )


def jaccard_index_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard dedup WITHOUT LSH: inverted-index set join.

    explode(shingles) -> self-equi-join on the shingle -> count common
    shingles per pair -> jaccard = common / (|A| + |B| - common). Only
    pairs sharing >= 1 shingle ever materialize, so the work is
    sum_s df(s)^2 over shingle document-frequencies -- the standard
    set-similarity-join bound -- instead of n^2. All shuffles are
    equi-joins on shingle/id keys Catalyst plans as hash joins; at 100 TB
    add a document-frequency cap on boilerplate shingles (candidate
    recall is preserved for any pair that shares one sub-cap shingle).
    """
    return (
        _shingle_overlap(df, text_col, id_col, shingle_k)
        .withColumn(
            "jaccard",
            floor_quant_expr(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold_milli: int = 700,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join: identical output
    to :func:`jaccard_index_pairs`, far fewer candidates.

    Prefix principle: if J(A,B) >= t, then ordering every set by global
    shingle rarity, the first |A| - ceil(t*|A|) + 1 elements of A must
    share a shingle with B's prefix. So the inverted index is built over
    PREFIXES only -- rare shingles first, so the hottest (boilerplate)
    shingles never generate candidates from most docs. ceil(t*n) is
    computed in exact integer milli-arithmetic ((t_milli*n + 999) div
    1000) to rule out float-boundary false negatives. Candidates are
    then verified exactly against the full shingle sets.

    Per-doc ordering is a doc-keyed window (never a global sort); the
    document-frequency table is broadcast (vocabulary-sized).
    """
    sets = df.select(
        F.col(id_col), shingles_col(F.col(text_col), shingle_k).alias("sh")
    ).filter(F.size("sh") > 0)
    inv = sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("dfc"))
    w = Window.partitionBy(id_col).orderBy("dfc", "shingle")
    ceil_tn = F.expr(
        f"({threshold_milli} * n_sh + 999) div 1000"
    )
    pre = (
        inv.join(F.broadcast(dfreq), "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(
            sets.select(F.col(id_col), F.size("sh").alias("n_sh")), id_col
        )
        .filter(F.col("rn") <= F.col("n_sh") - ceil_tn + 1)
        .select(F.col(id_col), "shingle")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            floor_quant_expr(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold_milli / 1000.0)
    )
    return verified.select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    threshold_milli: int = 900,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Asymmetric containment dedup: pairs where the smaller document's
    shingle set is (nearly) a subset of the larger's -- the case Jaccard
    misses (a 30-token doc fully embedded in a 3000-token doc has tiny
    Jaccard but containment 1.0). This is the suffix-array
    substring-dedup use case re-expressed as a set-similarity join.

    Same inverted-index bound as :func:`jaccard_index_pairs`
    (sum_s df(s)^2, never n^2); containment is quantized to exact
    milli-units (floor(common * 1000 / n_small) on integer inputs) so
    the threshold compare is bit-deterministic cross-engine.
    """
    scored = (
        _shingle_overlap(df, text_col, id_col, shingle_k)
        .select(
            # orient: contained = smaller shingle set (ties -> lower id)
            F.when(
                (F.col("n_a") < F.col("n_b"))
                | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))),
                F.struct(
                    F.col("id_a").alias("id_small"),
                    F.col("id_b").alias("id_big"),
                    F.col("n_a").alias("n_small"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("id_b").alias("id_small"),
                    F.col("id_a").alias("id_big"),
                    F.col("n_b").alias("n_small"),
                )
            )
            .alias("o"),
            "n_common",
        )
        .select(
            F.col("o.id_small").alias("id_small"),
            F.col("o.id_big").alias("id_big"),
            F.col("n_common"),
            F.col("o.n_small").alias("n_small"),
            F.floor(F.col("n_common") * 1000 / F.col("o.n_small"))
            .cast("bigint")
            .alias("containment_milli"),
        )
    )
    return scored.filter(F.col("containment_milli") >= threshold_milli)
