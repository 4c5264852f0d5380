"""Similarity search over embedding columns (SURVEY.md §2.F F3).

Brute-force cosine top-k as the exact baseline, IVF (inverted-file) and
PQ (product-quantization) search as the 100 TB scale path, and sign-LSH
near-dup pairs.

Each search step has one implementation, which the in-query and the
persisted-index operators share: the IVF probe (``ivf_probe``), the cell
scoring (``ivf_score``), the PQ subvector split and codebook, the
squared-L2 fold, the ADC distance table and the top-k tail. An indexed
search differs from its in-query twin only in reading its centroids,
codebook and cell assignment from parquet. The sign-LSH operators share
one signature sizing and one Arrow banding pass
(``signlsh_buckets_batch``); ``signlsh_bits`` is the interpreted fold it
is tested against.

Scale notes:
  - brute force is a broadcast nested-loop: fine when the *query* side is
    small (it's broadcast); cost is one scan of the corpus per batch of
    queries, fully parallel, no shuffle of the corpus.
  - IVF assigns every vector to its nearest centroid once (one broadcast
    pass + one write partitioned by cell), then probes only nprobe cells
    per query: corpus scan shrinks by ~n_cells/nprobe. Centroid choice
    here is deterministic (first-k vectors) rather than trained k-means --
    the partition/probe machinery is the operator under test; swapping in
    trained centroids is a drop-in.
  - dot products run through F.zip_with/F.aggregate (JVM, codegen); no
    Python in the per-row path.
"""

from __future__ import annotations

import json
import logging
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)


def _log_auto_size(n_vectors: int, bands: int, bits_per_band: int) -> None:
    """One structured line per auto-sized LSH plan, so a cluster operator
    sees what the sizing rule picked (and from what count) in the driver
    log without running the ladder."""
    _log.info(
        "LSH_AUTO_SIZE %s",
        json.dumps(
            {
                "event": "lsh_auto_size",
                "n_vectors": int(n_vectors),
                "bands": int(bands),
                "bits_per_band": int(bits_per_band),
                "buckets_per_band": 1 << int(bits_per_band),
            }
        ),
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def floor_quant_expr(col: Column, digits: int) -> Column:
    """floor(x * 10^k + 0.5) / 10^k -- the repo's pure-IEEE quantizer
    (SCALE.md §9) as a Column. Every operation is an exact double op, so
    any engine computing the same input double produces the same output.
    round() is the residual engine lottery: Spark rounds the
    shortest-decimal BigDecimal, DuckDB the binary value, and the two
    disagree exactly when the shortest decimal lands on a half boundary
    the binary value sits below. Used for every quantized cosine /
    distance in OUTPUT and ORDERING positions (r13 zeroed the class)."""
    scale = F.lit(float(10**digits))
    return F.floor(col * scale + F.lit(0.5)) / scale


#: Higher-order array functions are interpreted, not codegen'd -- so for
#: pairwise work, compute each row's norm ONCE (scalar column carried
#: through the join; the join barrier stops projection-collapse from
#: inlining it back) and pay a single dot_expr per pair:
#: cosine = dot(a, b) / (norm_a * norm_b).


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    queries is broadcast (small side); ties break on corpus id so results
    are total-ordered and reproducible. Self-matches are excluded.

    Norms are computed ONCE per row below the join (the module-level
    norm-once idiom above -- r14: the previous cosine_expr inlining
    re-evaluated the interpreted norm fold of every corpus vector once
    PER QUERY and of every query vector once per corpus row; per pair
    work drops from three higher-order folds to one fold + two scalar
    reads, identical doubles by construction: same fold, same sqrt,
    same qn * mn multiplication order)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("vec"),
        norm_expr(F.col(vec_col)).alias("__mn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            floor_quant_expr(
                dot_expr(F.col("query_vec"), F.col("vec"))
                / (F.col("__qn") * F.col("__mn")),
                round_to,
            ).alias("cosine"),
        )
    )
    return _top_k(scored, "cosine", k, descending=True)


def _hyperplane_signs(dim: int, n_bits: int, seed: str = "lsh") -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes from md5 (no RNG state;
    reproducible in any engine that has md5, incl. the DuckDB oracle)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) >= 8 else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


#: Plane-index stride for AUTO-sized signatures (r14): band b's j-th bit
#: always uses hyperplane index b*MAX_AUTO_BITS + j, whatever
#: bits_per_band the sizing rule picks -- so a k-bit bucket is the
#: PREFIX of the 16-bit bucket. The prefix property is what lets ONE
#: static DuckDB oracle string stay bit-exact at every corpus size: the
#: SQL computes all MAX_AUTO_BITS bit-chars per band and substr()s to
#: the count-derived width (plans/docs_vectors._emb_neardup_lsh_sql).
#: Explicit (bands, bits_per_band) callers keep the historical flat
#: layout (band b = planes [b*bits, (b+1)*bits)), so every committed
#: ladder measurement (SCALE.md §9-§11) remains replayable as recorded.
MAX_AUTO_BITS = 16


def auto_banded_signs(
    n_vectors: int,
    bands: int = 4,
    dim: int = 64,
    target_median_bucket: int = 64,
    min_bits: int = 4,
    max_bits: int = MAX_AUTO_BITS,
) -> tuple[int, list[list[int]]]:
    """(bits_per_band, hyperplanes) for a corpus of ``n_vectors`` under
    the banded-stride prefix convention (see MAX_AUTO_BITS): the sizing
    rule picks the width, and band b's planes are the k-prefix of its
    MAX_AUTO_BITS-plane slot, independent of k."""
    if max_bits > MAX_AUTO_BITS:
        raise ValueError(
            f"auto-sized signatures are capped at {MAX_AUTO_BITS} bits/band "
            f"(the static oracle computes exactly that many); got max_bits={max_bits}"
        )
    bits = suggest_signature_bits(
        n_vectors, bands, target_median_bucket, min_bits, max_bits
    )
    planes = _hyperplane_signs(dim, bands * MAX_AUTO_BITS)
    signs = [
        planes[b * MAX_AUTO_BITS + j] for b in range(bands) for j in range(bits)
    ]
    return bits, signs


def signlsh_bits(vec: Column, signs: list[list[int]]) -> list[Column]:
    """Random-hyperplane (SimHash) bits: sign of <vec, r_j> per plane, one
    interpreted fold per bit -- the reference that
    ``signlsh_buckets_batch`` is tested against (the DuckDB oracle
    computes the same fold)."""
    return [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(s) for s in plane]),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in signs
    ]


def signlsh_buckets_batch(
    vec_col: str, signs: list[list[int]], bands: int, bits_per_band: int
) -> Column:
    """The sign-LSH signature: all band buckets of ``signlsh_bits`` in ONE
    vectorized pass, returned as an ``array<string>`` (index = band_id).

    Bit-exact with ``signlsh_bits`` BY CONSTRUCTION: the fold
    ``aggregate(zip_with(v, plane, (x, s) -> double(x) * s), 0.0, +)`` is
    a strict left-to-right IEEE-754 double accumulation, and
    ``np.cumsum`` (``np.add.accumulate``) performs the identical
    sequential adds on the identical elementwise products -- no pairwise
    or SIMD re-association, so the SIGN of the dot product (all the
    bucket needs) cannot diverge even at a 1e-16 boundary. Parity is
    pytest-pinned (test_similarity).

    Why not the expression fold: each ``signlsh_bits`` bit is an
    interpreted higher-order aggregate, so 32 bits (the measured-safe
    4x8 sizing) cost ~4.3s at sf0.1 vs 0.9s for 8 bits -- the signature
    stage went expression-bound. One Arrow batch accumulates the (rows x n_bits)
    dot block in ~ms and scales linearly with input partitions
    (narrow, no shuffle).

    r15 (guide §5, the r14 verdict's Arrow-RSS item): the fold is
    accumulated one DIMENSION at a time (dots += V[:,d] * planes[:,d]
    for d in 0..dim-1) instead of materializing the full
    (rows x n_bits x dim) product block plus an equal-size np.cumsum
    copy -- the identical left-to-right IEEE adds (the accumulator
    starts at 0.0 exactly like the expression fold's zero literal; sign
    of the dot cannot differ, and parity stays pytest-pinned), at
    1/dim-th the working set. The two (rows x n_bits) buffers live once
    per TASK (iterator form, guide §4.5) and are reused across batches,
    so a 32-process worker pool no longer allocates-and-faults fresh
    16 MB blocks per batch.
    """
    import numpy as np

    planes = np.array(signs, dtype=np.float64)  # (n_bits, dim)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        n_bits, dim = planes.shape
        # per-task reusable buffers, grown (never shrunk) to the largest
        # batch seen; plane columns pre-sliced once
        plane_cols = [np.ascontiguousarray(planes[:, d]) for d in range(dim)]
        dots_buf = np.empty((0, n_bits), dtype=np.float64)
        tmp_buf = np.empty((0, n_bits), dtype=np.float64)
        # a NULL embedding folds to NULL in signlsh_bits, and
        # NULL >= 0 falls through to the otherwise("0") branch -- mirror
        # that here (and keep the ragged row out of np.array)
        null_bands = ["0" * bits_per_band] * bands
        for vecs in batches:
            nulls = [v is None for v in vecs]
            block = [v for v, is_null in zip(vecs, nulls) if not is_null]
            band_rows: list = []
            if block:
                V = np.array(block, dtype=np.float64)  # (B, dim)
                B = V.shape[0]
                if dots_buf.shape[0] < B:
                    dots_buf = np.empty((B, n_bits), dtype=np.float64)
                    tmp_buf = np.empty((B, n_bits), dtype=np.float64)
                dots = dots_buf[:B]
                tmp = tmp_buf[:B]
                dots[:] = 0.0
                for d in range(V.shape[1]):
                    # exact doubles; += is one sequential add per element,
                    # same order as the expression fold
                    np.multiply(V[:, d, None], plane_cols[d], out=tmp)
                    dots += tmp
                # Spark SQL and DuckDB both order NaN above every number,
                # so a NaN fold takes the >= 0 branch ('1'); numpy's
                # NaN >= 0 is False -- mirror the engines, not IEEE
                bits = np.where(np.isnan(dots) | (dots >= 0), "1", "0")
                # fixed-width unicode view joins each band's bits_per_band
                # chars without a per-row Python join loop
                band_rows = (
                    np.ascontiguousarray(bits.reshape(B * bands, bits_per_band))
                    .view(f"<U{bits_per_band}")
                    .reshape(B, bands)
                    .tolist()
                )
            out = []
            rows = iter(band_rows)
            for is_null in nulls:
                out.append(list(null_bands) if is_null else next(rows))
            yield pd.Series(out)

    # asNondeterministic (guide §4.4): posexplode over the UDF column
    # makes Catalyst infer a `size(buckets) > 0 AND isnotnull(buckets)`
    # filter below the Generate, and filter pushdown then evaluates the
    # UDF TWICE per row (once under the inferred filter, once in the
    # projection -- two ArrowEvalPython nodes running the full
    # (rows x n_bits x dim) hyperplane block each). The function is in
    # fact deterministic; the marker only forbids the optimizer from
    # duplicating/reordering it, collapsing the plan to one evaluation.
    # The inferred filter is pure pruning -- empty/null arrays generate
    # no rows either way -- so output is identical.
    return _buckets.asNondeterministic()(F.col(vec_col))


def _seq_dots(A, B):
    """Sequential (left-to-right) IEEE dot products of PAIRED rows,
    accumulated one dimension at a time: ``out += A[:,d] * B[:,d]`` for
    d in 0..dim-1 performs the identical adds, in the identical order,
    as the expression fold ``aggregate(zip_with(a, b, *), 0.0, +)`` and
    DuckDB's ``list_dot_product`` -- no pairwise/SIMD re-association --
    so the result is bit-identical to both, not merely close. (r15: the
    previous form materialized the full (pairs x dim) product block
    plus an equal-size np.cumsum copy per 262k-row chunk -- ~270 MB of
    fresh allocations per call at dim=64; the per-dim accumulator's
    working set is two (pairs,) vectors, the guide §5 Arrow-RSS fix.)"""
    import numpy as np

    n = len(A)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    tmp = np.empty(n, dtype=np.float64)
    for d in range(A.shape[1]):
        np.multiply(A[:, d], B[:, d], out=tmp)
        out += tmp
    return out


def _floor_quant(x, round_to: int):
    """floor(x * 10^k + 0.5) / 10^k -- the repo's pure-IEEE quantizer
    (SCALE.md §9): every operation is an exact double op, so any engine
    computing the same input double produces the same output, unlike
    round() (Spark rounds the shortest-decimal BigDecimal, DuckDB and
    numpy the binary value, and numpy additionally rounds half-even)."""
    import numpy as np

    scale = float(10 ** round_to)
    return np.floor(x * scale + 0.5) / scale


def _quant_cosines_exact(fast_dots, lhs, rhs, denom, round_to: int):
    """Quantized cosines that are bit-identical to the DuckDB twin's
    sequential ``list_dot_product`` fold, at BLAS speed.

    ``fast_dots`` come from a matmul/einsum whose summation order is NOT
    the fold's; the two differ by at most ~dim*eps relative (~7e-9 in
    1e-6-quantization units for unit cosines). floor-quantization maps
    both to the same grid value UNLESS the value sits within that error
    of a quantization cut -- so only pairs inside a (generous) 1e-3-of-a-
    cut guard band are recomputed with the exact sequential fold
    (_seq_dots). Outside the band, fast == fold after quantization BY
    ARITHMETIC; inside, the fold value is used directly. Result: the
    oracle-exact cosine at the matmul's cost plus a vanishing fraction
    of sequential recomputes (0 on every corpus measured)."""
    import numpy as np

    scale = float(10 ** round_to)
    x = fast_dots / denom
    contrib = x * scale + 0.5
    susp = np.abs(contrib - np.rint(contrib)) < 1e-3
    if susp.any():
        # lhs/rhs are CALLABLES (mask -> row block) so the paired-row
        # copies materialize only for the vanishing suspicious subset
        x[susp] = _seq_dots(lhs(susp), rhs(susp)) / denom[susp]
    return _floor_quant(x, round_to)


def _signature(
    emb: DataFrame, bands: int, bits_per_band: int | None, dim: int, n: int | None = None
) -> tuple[int, list[list[int]]]:
    """(bits_per_band, hyperplanes) of the sign-LSH signature shared by
    the pair scorer and both bucket detectors. ``bits_per_band=None``
    sizes it from the corpus count ``n`` (counted here only when the
    caller has not) under the banded-stride prefix convention
    (MAX_AUTO_BITS); an explicit width keeps the flat plane layout and
    counts nothing."""
    if bits_per_band is None:
        if n is None:
            n = emb.count()
        bits_per_band, signs = auto_banded_signs(n, bands=bands, dim=dim)
        _log_auto_size(n, bands, bits_per_band)
        return bits_per_band, signs
    return bits_per_band, _hyperplane_signs(dim, bands * bits_per_band)


def _banded_embeddings(
    emb: DataFrame,
    signs: list[list[int]],
    bands: int,
    bits_per_band: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, band_id, bucket) rows -- the sign-LSH banded relation
    shared by the pair scorer and both bucket detectors."""
    # Under-parallel input guard (guide §2.5 "one huge unsplittable
    # file ... repartition immediately after the read"): a single-row-
    # group parquet -- the local testdata layout -- scans as ONE task,
    # serializing the whole signature stage onto one core. Spread only
    # when the scan has fewer partitions than the cluster's parallelism:
    # at scale the input is already split and this is a no-op (nothing
    # is tuned to the local core count), and when it does fire the extra
    # exchange moves the payload once vs the `bands` copies the band
    # explode below already ships into the bucket shuffle.
    if not emb.isStreaming:
        want = emb.sparkSession.sparkContext.defaultParallelism
        if emb.rdd.getNumPartitions() < want:
            emb = emb.repartition(want)
    # one vectorized Arrow pass for ALL sign bits (see
    # signlsh_buckets_batch -- bit-exact with signlsh_bits)
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        signlsh_buckets_batch(vec_col, signs, bands, bits_per_band).alias(
            "__buckets"
        ),
    ).select(id_col, vec_col, F.posexplode("__buckets").alias("band_id", "bucket"))


def embedding_lsh_bucket_histogram(
    emb: DataFrame,
    bands: int = 4,
    bits_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> dict:
    """Saturation-regime detector for the sign-LSH path (SCALE.md §10):
    count / max / median / p99 bucket occupancy, the sum-of-squares
    all-pairs candidate proxy, and the over-cap bucket count.

    embedding_neardup_pairs' plan goes straight from the banded relation
    into applyInPandas, so the histogram cannot ride it as an observe()
    side output (that hook exists on the text path,
    dedup.lsh_candidate_pairs bucket_obs); this is the on-demand twin --
    one groupBy-count over the banded relation with the vectors pruned
    from the scan. Run it when the ladder (or the bench's peak-memory
    column) moves: MEDIAN occupancy growing with n = signature
    saturation, widen bands/bits; MAX alone growing = a dup mass, the
    star cap's territory.

    r14: ``bits_per_band=None`` mirrors embedding_neardup_pairs' auto
    sizing (same count, same rule, same banded-stride planes), so the
    histogram describes the buckets the production plan actually uses;
    the result carries n_vectors/bands/bits_per_band, and regime (a)
    (signature saturation) triggers metrics.warn_if_saturated's loud
    structured warning -- the detector is a production gate now, not
    just a ladder instrument."""
    from .metrics import lsh_bucket_histogram, warn_if_saturated

    n = emb.count()
    bits_per_band, signs = _signature(emb, bands, bits_per_band, dim, n)
    banded = _banded_embeddings(
        emb, signs, bands, bits_per_band, id_col, vec_col
    ).select(id_col, "band_id", "bucket")
    hist = lsh_bucket_histogram(banded, "band_id", "bucket", cap=max_bucket_size)
    hist["n_vectors"] = n
    hist["bands"] = bands
    hist["bits_per_band"] = bits_per_band
    warn_if_saturated(hist)
    return hist


def embedding_lsh_bucket_stats_df(
    emb: DataFrame,
    bands: int = 4,
    bits_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The saturation detector as an ORACLE-CHECKED relation (r14): one
    row of exact integer bucket-occupancy statistics over the banded
    sign-LSH relation embedding_neardup_pairs actually builds --
    (n_vectors, bits_per_band, n_buckets, max_bucket, median_bucket,
    p99_bucket, sum_size, sum_sq_size, over_cap_buckets).

    Differs from embedding_lsh_bucket_histogram (the dict accessor) in
    two load-bearing ways:

    - returns a DataFrame, no driver-side collect, so the detector's
      FORMULA itself sits behind the DuckDB gate like any other catalog
      entry (a detector with an unverified formula is how a saturation
      diagnosis gets mis-read);
    - median/p99 are exact DISCRETE order statistics (the value at
      ascending position (B+1) div 2 resp. ceil(0.99*B) = (99*B+99)
      div 100), not percentile_approx -- integer-exact and
      engine-identical by construction, no interpolation semantics to
      disagree over.

    Scale: the ranked relation has at most bands * 2**MAX_AUTO_BITS
    rows (262,144 at 4 bands -- the bits clamp bounds the bucket space
    INDEPENDENT of corpus size), so the single-partition order-statistic
    window is a constant-size driver-adjacent step at any n; everything
    upstream (banding, the groupBy) shuffles on the bucket key exactly
    like the production pair plan. All counts are BIGINT.
    """
    n = emb.count()
    bits_per_band, signs = _signature(emb, bands, bits_per_band, dim, n)
    banded = _banded_embeddings(
        emb, signs, bands, bits_per_band, id_col, vec_col
    ).select(id_col, "band_id", "bucket")
    sizes = (
        banded.groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        # >= 2 members only -- singleton buckets produce no pairs and
        # would drown the median at 1 (same contract as the histogram)
        .filter(F.col("sz") >= 2)
    )
    w = Window.orderBy("sz")
    ranked = sizes.select(
        F.col("sz").cast("long").alias("sz"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.orderBy("sz").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("cnt"),
    )
    cap = int(max_bucket_size) if max_bucket_size is not None else None
    zero = F.lit(0).cast("long")
    over_cap = (
        F.coalesce(
            F.sum(F.when(F.col("sz") > F.lit(cap), 1).otherwise(0).cast("long")),
            zero,
        )
        if cap is not None
        else F.coalesce(F.min(zero), zero)
    )
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.coalesce(F.max("sz"), zero).alias("max_bucket"),
        F.coalesce(
            F.max(F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("sz"))),
            zero,
        ).alias("median_bucket"),
        F.coalesce(
            F.max(
                F.when(F.col("rn") == F.expr("(99 * cnt + 99) div 100"), F.col("sz"))
            ),
            zero,
        ).alias("p99_bucket"),
        F.coalesce(F.sum("sz"), zero).alias("sum_size"),
        F.coalesce(F.sum(F.col("sz") * F.col("sz")), zero).alias("sum_sq_size"),
        over_cap.alias("over_cap_buckets"),
    )
    # constants ride an outer select, not the agg: over an EMPTY sizes
    # relation agg literals would come back NULL via max()-style wrapping
    return stats.select(
        F.lit(int(n)).cast("long").alias("n_vectors"),
        F.lit(int(bits_per_band)).cast("long").alias("bits_per_band"),
        "*",
    )


def suggest_signature_bits(
    n_vectors: int,
    bands: int = 4,
    target_median_bucket: int = 64,
    min_bits: int = 4,
    max_bits: int = 16,
) -> int:
    """Deterministic bits-per-band sizing from corpus cardinality: the
    executable form of SCALE.md §11's resize doctrine.

    On a corpus without dominant dup masses, sign-LSH buckets fill
    roughly uniformly, so median occupancy ~ n / 2^bits per band (the
    sf1->sf100 ladder measured exactly this: median 73/729/7321 vs
    n/1024 = 78/781/7812). Solving for the target median gives
    bits = ceil(log2(n / target)): at 2M vectors and target 64 this
    returns 15; the measured 4x12 remedy corresponds to target ~500.
    The result is a function of COUNT only -- deterministic, cheap (one
    count at most), and engine-replayable -- so callers can widen
    signatures before the quadratic bucket work instead of after the
    bench regresses. When the corpus IS dominated by dup masses (the
    text regime -- median flat, max growing), sizing by count
    over-widens; check the histogram
    (embedding_lsh_bucket_histogram / lsh_candidate_pairs bucket_obs)
    when the two regimes are in doubt.

    INTEGER-EXACT (r14): ceil(log2(n/t)) is computed as
    bit_length(ceil(n/t) - 1) -- the smallest k with t*2^k >= n -- with
    no float log2 anywhere, so the DuckDB oracle's mirrored derivation
    (length(ltrim(bin(m-1),'0')) over m = (n + t - 1) // t) is equal BY
    CONSTRUCTION at every n, not by log-implementation ulp-luck. The
    values are unchanged from the math.log2 form the sf1-sf1000 ladder
    validated (pytest pins the ladder points)."""
    if n_vectors <= 0:
        return min_bits
    m = (n_vectors + target_median_bucket - 1) // target_median_bucket
    bits = (m - 1).bit_length() if m >= 2 else 0
    return max(min_bits, min(max_bits, bits))


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.42,
    bands: int = 4,
    bits_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """F2 embedding near-dup: sign-LSH band buckets prune the O(n^2) pair
    space; exact cosine filters the candidates.

    Same shape as MinHash LSH for text (dedup.lsh_candidate_pairs): unpivot
    docs x bands -> equi-join on (band, bucket) -> exact re-check. At 100 TB
    the corpus shuffles once on the bucket key instead of self-joining.
    Hyperplanes are md5-derived constants, so the DuckDB oracle computes
    byte-identical buckets.

    ``max_bucket_size`` is the hot-bucket guard, the sign-LSH twin of
    dedup.lsh_candidate_pairs' (SCALE.md §9). The hazard is sharper here
    than for text: the within-bucket scorer builds a size x size cosine
    matrix, so a hot bucket of B rows costs O(B^2) MEMORY inside one
    pandas group (1M-row bucket = 8 TB matrix = dead executor), not just
    candidate-pair bytes. Over-cap buckets score every member against
    the bucket's minimum-id anchor only -- O(B*dim) compute, O(B) output.

    ``bits_per_band=None`` (the default since r14) SIZES THE SIGNATURE
    TO THE CORPUS: one deterministic ``count()`` feeds
    suggest_signature_bits (the SCALE.md §11 resize doctrine, validated
    out-of-sample at 20M vectors), and the planes follow the
    banded-stride prefix convention (MAX_AUTO_BITS) so the DuckDB twin
    mirrors the pick from its own count(*) and the gate stays bit-exact
    by construction at every corpus size. This closes the r13 hazard:
    the old fixed 4x8 default saturated at >=2M vectors (median bucket
    occupancy = n/1024 at every ladder decade; 1,020/1,024 buckets over
    the star cap at sf100, pair listing collapsed to 0.3% of truth).
    An explicit ``bits_per_band`` keeps the historical flat plane
    layout and skips the count.

    SIZE ``bands * bits_per_band`` TO THE CORPUS FIRST (or leave it
    None and let the rule do it); the cap is the OOM backstop, not the
    scale strategy. Hot buckets have two causes
    with opposite correct responses (both measured at 200k vectors,
    SCALE.md §9): (a) UNDER-SELECTIVE signatures -- 2x4 bits is 16
    buckets/band, so bucket size grows linearly with n and the matmul
    quadratically (superlinear wall exponent 1.41 on the ladder); the
    fix is more bits/bands (4x8: 4x faster AND slightly better recall),
    and capping instead DESTROYS recall (11,209 -> 26 pairs) because
    true pairs are scattered through collision buckets the anchor
    can't reach. (b) genuine DUP MASSES (the text-LSH case): star-to-
    anchor keeps every member reachable from one canonical and recall
    holds. With selectivity sized right the cap never fires (4x8 +
    cap=2000 returns the identical 11,212 pairs) -- leave it set as
    insurance against the one template mass the histogram didn't show.
    Default None keeps exact all-pairs semantics for every catalog
    entry + oracle.
    """
    import numpy as np

    bits_per_band, signs = _signature(emb, bands, bits_per_band, dim)
    banded = _banded_embeddings(emb, signs, bands, bits_per_band, id_col, vec_col)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # all-pairs inside one (band, bucket) group, vectorized; bucket
        # sizes are bounded by signature selectivity (and the star cap),
        # so this is the small dense core, not an O(n^2) global scan.
        # Norms are sequential folds and cosines go through the
        # guard-band hybrid (_quant_cosines_exact), so the quantized
        # value is bit-identical to the DuckDB twin's
        # list_dot_product/floor BY CONSTRUCTION at matmul speed -- the
        # previous BLAS + np.round tier agreed with the oracle only
        # because a ~1e-15 re-association difference survived round(6)
        # on every instance drawn so far.
        if len(pdf) < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt(_seq_dots(mat, mat))
        if max_bucket_size is not None and len(pdf) > max_bucket_size:
            # star guard: score vs the min-id anchor only -- O(B) memory
            # instead of the B x B similarity matrix
            a = int(np.argmin(ids))
            sims = _quant_cosines_exact(
                mat @ mat[a],
                lambda m: mat[m],
                lambda m: np.broadcast_to(mat[a], (int(m.sum()), mat.shape[1])),
                norms * norms[a],
                round_to,
            )
            keep = (sims >= threshold) & (ids != ids[a])
            return pd.DataFrame(
                {
                    "id_a": np.minimum(ids[keep], ids[a]),
                    "id_b": np.maximum(ids[keep], ids[a]),
                    "cosine": sims[keep],
                }
            )
        iu, ju = np.triu_indices(len(ids), k=1)
        fast = (mat @ mat.T)[iu, ju]
        sims = _quant_cosines_exact(
            fast,
            lambda m: mat[iu[m]],
            lambda m: mat[ju[m]],
            norms[iu] * norms[ju],
            round_to,
        )
        keep = sims >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": sims[keep],
            }
        )

    return (
        banded.groupBy("band_id", "bucket")
        .applyInPandas(_score_bucket, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact O(n^2) cosine threshold-join -- the recall baseline for
    embedding_neardup_pairs (pytest asserts LSH recall against this).

    Vectorized: the corpus is broadcast as one numpy matrix; each Arrow
    batch multiplies against it (BLAS) instead of evaluating interpreted
    per-pair array expressions (~50x faster at 2k vectors). The broadcast
    bounds scale -- that's inherent to an exact all-pairs baseline; the
    production path at 100 TB is embedding_neardup_pairs (LSH), with this
    operator run on samples for recall measurement. Block-partitioned
    multiply is the extension point if the full exact join is ever needed.
    """
    import numpy as np

    spark = emb.sparkSession
    # Guard the collect: this is a recall-measurement baseline, not the
    # production near-dup path (that's embedding_neardup_pairs / LSH). An
    # unguarded corpus collect is a driver OOM at 100x scale, so refuse
    # loudly instead of truncating silently.
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs_exact is an exact all-pairs recall baseline capped at "
            f"{max_rows} rows (got {n}); sample/limit the input, raise max_rows "
            f"deliberately, or use the LSH path (embedding_neardup_pairs) at scale"
        )
    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt(_seq_dots(mat, mat))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _pairs(batches):
        # BLAS matmul for speed + guard-band sequential recompute for
        # oracle bit-exactness (see _quant_cosines_exact)
        all_ids, all_mat, all_norms = bc.value
        for pdf in batches:
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            q_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(q_ids) == 0:
                yield pd.DataFrame(columns=["id_a", "id_b", "cosine"])
                continue
            q_norms = np.sqrt(_seq_dots(q_mat, q_mat))
            fast = q_mat @ all_mat.T
            qq, cc = np.nonzero(q_ids[:, None] < all_ids[None, :])
            sims = _quant_cosines_exact(
                fast[qq, cc],
                lambda m: q_mat[qq[m]],
                lambda m: all_mat[cc[m]],
                q_norms[qq] * all_norms[cc],
                round_to,
            )
            keep = sims >= threshold
            yield pd.DataFrame(
                {
                    "id_a": q_ids[qq[keep]],
                    "id_b": all_ids[cc[keep]],
                    "cosine": sims[keep],
                }
            )

    # Under-parallel input guard (guide §2.5, same as _banded_embeddings):
    # the corpus is broadcast, so the per-partition matmul is the ONLY
    # distributed work -- on a single-row-group scan it all lands in one
    # task. Spread the query side when the scan is under-parallel; a no-op
    # whenever the input is already split.
    qside = emb.select(id_col, vec_col)
    if not emb.isStreaming:
        want = spark.sparkContext.defaultParallelism
        if qside.rdd.getNumPartitions() < want:
            qside = qside.repartition(want)
    return qside.mapInPandas(_pairs, out_schema)


def _cells(centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Centroid vectors as the index's (cell, cent_vec) rows: a cell is
    named by its centroid's vector id."""
    return centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cent_vec")
    )


def _assign_cells(
    corpus: DataFrame, cent: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell): each vector's nearest of the (cell, cent_vec)
    rows, which is its one-cell ``ivf_probe``."""
    return ivf_probe(corpus, cent, 1, id_col, vec_col).select(
        F.col("query_id").alias(id_col), F.col("query_vec").alias(vec_col), "cell"
    )


def ivf_assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (one broadcast pass).

    Returns (id, vec, cell). At scale, persist this partitioned by cell so
    probes prune at the file level.
    """
    return _assign_cells(corpus, _cells(centroids, id_col, vec_col), id_col, vec_col)


def ivf_probe(
    queries: DataFrame,
    cent: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rank_col: str | None = None,
) -> DataFrame:
    """The ``nprobe`` cells nearest each query, from (cell, cent_vec)
    rows: (query_id, query_vec, cell), ranked by 9-digit-quantized cosine
    to the centroid with the lower cell winning ties. ``rank_col`` keeps
    the probe rank (1 = nearest) under that name -- nprobe=k probes
    exactly the cells ranked <= k, so one ranked probe serves a sweep."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(
            floor_quant_expr(cosine_expr(F.col("query_vec"), F.col("cent_vec")), 9)
        ),
        F.asc("cell"),
    )
    rank = rank_col or "__r"
    return (
        q.join(F.broadcast(cent))
        .withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= nprobe)
        .select("query_id", "query_vec", "cell", *([rank_col] if rank_col else []))
    )


def ivf_score(
    assigned: DataFrame,
    probes: DataFrame,
    round_to: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """Every member of each probed cell but the query itself, scored by
    its quantized cosine to the query: (query_id, *keep, match_id,
    cosine), ``keep`` naming probe columns to carry along."""
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            *keep,
            F.col(id_col).alias("match_id"),
            floor_quant_expr(
                cosine_expr(F.col("query_vec"), F.col(vec_col)), round_to
            ).alias("cosine"),
        )
    )


def _ivf_search(
    cent: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    nprobe: int,
    k: int,
    id_col: str,
    vec_col: str,
    round_to: int,
) -> DataFrame:
    """IVF top-k: probe the nprobe nearest cells, score their members,
    keep the k best per query."""
    probes = ivf_probe(queries, cent, nprobe, id_col, vec_col)
    scored = ivf_score(assigned, probes, round_to, id_col, vec_col)
    return _top_k(scored, "cosine", k, descending=True)


def _pq_split(
    df: DataFrame,
    keys: dict,
    vec_col: str,
    n_sub: int,
    sub_dim: int,
    field: str,
    out: str | None = None,
) -> DataFrame:
    """One row per (row, subspace s): the ``keys`` columns ({name:
    source column}), s, and the s-th ``sub_dim``-wide slice of
    ``vec_col`` -- named ``field`` inside the exploded struct and ``out``
    (default ``field``) in the result."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(field),
            )
            for s in range(n_sub)
        ]
    )
    cols = [
        F.col(src) if src == name else F.col(src).alias(name)
        for name, src in keys.items()
    ]
    return df.select(*cols, F.explode(subs).alias("e")).select(
        *keys, F.col("e.s").alias("s"), F.col(f"e.{field}").alias(out or field)
    )


def _pq_codebook(
    corpus: DataFrame,
    n_codes: int,
    n_sub: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    field: str = "cv",
) -> DataFrame:
    """The deterministic PQ codebook (no RNG): the ``n_codes`` lowest-id
    vectors' subvectors as (code, s, cv) rows. ``field`` is the struct
    field the split carries them in (``pq_assign`` splits the corpus and
    its codebook under one name, ``sub``)."""
    return _pq_split(
        corpus.orderBy(id_col).limit(n_codes),
        {"code": id_col},
        vec_col,
        n_sub,
        sub_dim,
        field,
        "cv",
    )


def _sq_l2(a: str, b: str) -> Column:
    """Squared L2 distance of two float-array columns, folded left to
    right in double."""
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_table(qsub: DataFrame, codebook: DataFrame, *keys: str) -> DataFrame:
    """The ADC distance table: per query subvector (``qv``) and code, the
    squared L2 to the code's subvector, micro-quantized to an exact
    BIGINT (floor(d * 1e9)) -- (*keys, s, code, d_micro)."""
    return qsub.join(F.broadcast(codebook), "s").select(
        *keys,
        "s",
        "code",
        F.floor(_sq_l2("qv", "cv") * 1e9).cast("bigint").alias("d_micro"),
    )


def _top_k(scored: DataFrame, score_col: str, k: int, descending: bool) -> DataFrame:
    """The k best-scored matches per query, ties to the lower match id:
    (query_id, match_id, score_col, rank)."""
    order = F.desc(score_col) if descending else F.asc(score_col)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", score_col, "rank")
    )


def pq_assign(
    corpus: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product quantization assignment: split each vector into ``n_sub``
    subvectors and code each against a per-subspace codebook, giving a
    ``n_sub``-byte code per vector -- the memory layout real 100 TB ANN
    serving uses (PQ compresses a 64-float vector to 8 code bytes; IVF
    prunes which cells to scan, PQ makes the scan itself 32x smaller).

    Deterministic like the IVF index: the codebook is the ``n_codes``
    lowest-id vectors' subvectors (no RNG), distances are rounded to 9
    places with code-id tiebreak, so the full assignment is SQL-replayable.
    One broadcast join (codebook = n_sub * n_codes tiny rows) + one
    per-(vector, subspace) rank + one regroup -- no corpus self-join.

    ``codebook`` overrides the derived codebook with an existing one
    ((code, s, cv) rows, e.g. a persisted index's `_codebook`) -- the
    incremental-maintenance path, where new vectors must code against
    the FROZEN book the serving index was built with.

    Returns (id, s, code, dist_r) -- one row per vector per subspace.
    """
    corpus_sub = _pq_split(corpus, {id_col: id_col}, vec_col, n_sub, sub_dim, "sub")
    if codebook is not None:
        cb_sub = codebook.select("code", "s", "cv")
    else:
        cb_sub = _pq_codebook(corpus, n_codes, n_sub, sub_dim, id_col, vec_col, "sub")
    scored = corpus_sub.join(F.broadcast(cb_sub), "s").withColumn(
        "dist_r", floor_quant_expr(_sq_l2("sub", "cv"), 9)
    )
    w = Window.partitionBy(id_col, "s").orderBy(F.asc("dist_r"), F.asc("code"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col, "s", "code", "dist_r")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ codes:
    each query builds a (subspace x code) distance table against the
    codebook ONCE (n_sub * n_codes tiny rows, broadcast), then every
    stored vector's approximate distance is the sum of 8 table lookups on
    its code word -- no full-vector math against the corpus at all. This
    is the scan PQ buys at 100 TB: 8 BIGINT adds per candidate over an
    8-byte code column instead of 64 float mults over the raw vectors.

    Distances are micro-quantized (floor(d * 1e9) per subspace) before the
    sum, so the ranking is exact-integer and SQL-replayable. Self-matches
    are excluded; ties break on match id.
    """
    codes = pq_assign(corpus, n_sub, sub_dim, n_codes, id_col, vec_col).select(
        F.col(id_col).alias("match_id"), "s", "code"
    )
    cb_sub = _pq_codebook(corpus, n_codes, n_sub, sub_dim, id_col, vec_col)
    qsub = _pq_split(queries, {"query_id": id_col}, vec_col, n_sub, sub_dim, "qv")
    scored = (
        codes.join(F.broadcast(_adc_table(qsub, cb_sub, "query_id")), ["s", "code"])
        .filter(F.col("match_id") != F.col("query_id"))
        .groupBy("query_id", "match_id")
        .agg(F.sum("d_micro").alias("adist_micro"))
    )
    return _top_k(scored, "adist_micro", k, descending=False)


def _write_index(
    rows: DataFrame, centroids: DataFrame, path: str, id_col: str, vec_col: str
) -> None:
    """Overwrite ``path`` with ``rows`` partitioned by cell, then write the
    centroids beside them in `_centroids`."""
    rows.write.mode("overwrite").partitionBy("cell").parquet(path)
    _cells(centroids, id_col, vec_col).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/_centroids"
    )


def persist_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as parquet partitioned by cell.

    This is the 100 TB serving layout: probing nprobe cells becomes a
    partition-pruned scan (Catalyst turns the ``cell IN (...)`` filter
    into PartitionFilters, so only nprobe/n_cells of the files are even
    opened). Centroids ride along in a `_centroids` subdir."""
    centroids = corpus.orderBy(id_col).limit(n_cells)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    _write_index(assigned, centroids, path, id_col, vec_col)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k over a persisted IVF index (see persist_ivf_index):
    :func:`ivf_topk` with the centroids and cell assignment read from
    the index.

    The probe filter is a partition-level predicate on the index scan --
    at scale this is the difference between reading nprobe cells and
    re-scoring the whole corpus."""
    cent = spark.read.parquet(f"{index_path}/_centroids")
    assigned = spark.read.parquet(index_path)
    return _ivf_search(cent, assigned, queries, nprobe, k, id_col, vec_col, round_to)


def persist_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ serving index: per vector, its IVF cell and
    its 8-byte PQ code word -- NO raw vectors in the index -- written as
    parquet partitioned by cell. This is the full 100 TB ANN layout: the
    probe prunes to nprobe cells at the partition level, then scans an
    index that is ~32x smaller than the raw embedding table (8 small
    ints vs 64 floats per row). Centroids and the PQ codebook ride
    along in `_centroids` / `_codebook` subdirs."""
    centroids = corpus.orderBy(id_col).limit(n_cells)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    codes = _pq_code_words(
        pq_assign(corpus, n_sub, sub_dim, n_codes, id_col, vec_col), id_col
    )
    rows = assigned.select(id_col, "cell").join(codes, id_col)
    _write_index(rows, centroids, path, id_col, vec_col)
    codebook = _pq_codebook(corpus, n_codes, n_sub, sub_dim, id_col, vec_col)
    codebook.coalesce(1).write.mode("overwrite").parquet(f"{path}/_codebook")


def _frozen_cells(
    spark, path: str, new_vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell): new vectors assigned to the index's frozen
    `_centroids` (re-training them is the offline rebuild's job)."""
    cent = spark.read.parquet(f"{path}/_centroids")
    return _assign_cells(new_vectors, cent, id_col, vec_col)


def _append_to_cells(spark, rows: DataFrame, path: str, id_col: str) -> list:
    """Append ``rows`` to the index at ``path``, reading and writing only
    the cells they touch. Ids already in a touched cell are anti-joined
    out first, so a replayed append is a no-op. Returns the touched cell
    ids."""
    cells = sorted(r[0] for r in rows.select("cell").distinct().collect())
    existing_ids = (
        spark.read.parquet(path).where(F.col("cell").isin(cells)).select(id_col)
    )
    fresh = rows.join(existing_ids, id_col, "left_anti").localCheckpoint(eager=True)
    fresh.write.mode("append").partitionBy("cell").parquet(path)
    return cells


def append_ivf_index(
    spark,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Incremental IVF maintenance: assign NEW vectors to the index's
    EXISTING (frozen) centroids and append them to their cell partitions.

    Only the touched cell directories gain files -- untouched cells are
    never opened, let alone rewritten (at 100 TB a nightly append
    touches the cells the new data lands in, not the whole index).
    Idempotent: ids already present in a touched cell are anti-joined
    out first (partition-pruned read of just those cells), so a replayed
    append is a no-op. Centroid re-training is deliberately NOT done
    here; that is the offline rebuild (``persist_ivf_index``), the same
    split real ANN serving uses.

    Returns the list of touched cell ids."""
    assigned = _frozen_cells(spark, path, new_vectors, id_col, vec_col)
    return _append_to_cells(spark, assigned, path, id_col)


def _pq_code_words(codes_long: DataFrame, id_col: str) -> DataFrame:
    """(id, s, code) rows -> (id, codes array ordered by subspace)."""
    return codes_long.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("s").alias("s"), F.col("code").alias("code"))
                )
            ),
            lambda x: x.getField("code"),
        ).alias("codes")
    )


def append_ivfpq_index(
    spark,
    new_vectors: DataFrame,
    path: str,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Incremental IVF-PQ maintenance: cell-assign against the frozen
    centroids AND code against the frozen ``_codebook``, then append the
    8-byte code rows to the touched cell partitions only. Same
    idempotence contract as :func:`append_ivf_index`. Returns touched
    cells."""
    codebook = spark.read.parquet(f"{path}/_codebook")
    assigned = _frozen_cells(spark, path, new_vectors, id_col, vec_col)
    codes = _pq_code_words(
        pq_assign(
            new_vectors, n_sub, sub_dim, 0, id_col, vec_col, codebook=codebook
        ),
        id_col,
    )
    rows = assigned.select(id_col, "cell").join(codes, id_col)
    return _append_to_cells(spark, rows, path, id_col)


def ivfpq_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over the persisted IVF-PQ index: probe nprobe
    cells (partition-pruned scan), score candidates by ADC over their
    stored code words (8 integer adds each; the raw vectors are never
    read). Ranking matches pq_adc_topk restricted to the probed cells."""
    cent = spark.read.parquet(f"{index_path}/_centroids")
    cb = spark.read.parquet(f"{index_path}/_codebook")
    index = spark.read.parquet(index_path)
    probes = ivf_probe(queries, cent, nprobe, id_col, vec_col)
    qsub = _pq_split(
        probes, {"query_id": "query_id", "cell": "cell"}, "query_vec", n_sub, sub_dim, "qv"
    )
    dtab = _adc_table(qsub, cb, "query_id", "cell")
    cand = index.join(
        F.broadcast(dtab.select("query_id", "cell").distinct()), "cell"
    ).filter(F.col(id_col) != F.col("query_id"))
    scored = (
        cand.select(
            "query_id",
            F.col(id_col).alias("match_id"),
            "cell",
            F.posexplode("codes").alias("s", "code"),
        )
        .join(F.broadcast(dtab), ["query_id", "cell", "s", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("d_micro").alias("adist_micro"))
    )
    return _top_k(scored, "adist_micro", k, descending=False)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest cells per query.

    Deterministic centroids: the n_cells lowest-id corpus vectors. Recall
    vs the brute-force baseline is asserted in tests. Pass a precomputed
    ``assigned`` (ivf_assign output for the same centroids) to share the
    cell-assignment subplan across several probe settings -- the
    nprobe-sweep pattern, where re-deriving the index per setting would
    multiply the dominant stage."""
    centroids = corpus.orderBy(id_col).limit(n_cells)
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    cent = _cells(centroids, id_col, vec_col)
    return _ivf_search(cent, assigned, queries, nprobe, k, id_col, vec_col, round_to)
