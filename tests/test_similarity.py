"""Similarity-search and dedup operator semantics beyond the oracle gate."""

from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from prometheus_pulsar_remote_write_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    ivf_topk_indexed,
    persist_ivf_index,
)
from prometheus_pulsar_remote_write_spark.schema import load_tables

from tests.conftest import SF_SMOKE


def test_ivf_recall_vs_brute_force(spark):
    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3).collect()
    approx = ivf_topk(emb, queries, n_cells=8, nprobe=3, k=3).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.match_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.match_id)

    hits = total = 0
    for qid, matches in exact_sets.items():
        total += len(matches)
        hits += len(matches & approx_sets.get(qid, set()))
    recall = hits / total
    # nprobe=3 of 8 cells should recover well over half of the exact top-3
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # every approx hit must carry the same cosine the exact path computed
    exact_cos = {(r.query_id, r.match_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.match_id) in exact_cos:
            assert abs(exact_cos[(r.query_id, r.match_id)] - r.cosine) < 1e-9


def test_persisted_ivf_index_matches_inline_and_prunes(spark, tmp_path):
    """The cell-partitioned index returns exactly what the inline IVF
    computes, and the probe reaches the scan as a partition-level
    predicate (static or dynamic pruning), so only nprobe of n_cells
    directories are read -- the 100 TB serving layout."""
    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf-index")
    persist_ivf_index(emb, idx, n_cells=8)

    indexed = ivf_topk_indexed(spark, idx, queries, nprobe=2, k=3)
    inline = ivf_topk(emb, queries, n_cells=8, nprobe=2, k=3)
    got = sorted(tuple(r) for r in indexed.collect())
    want = sorted(tuple(r) for r in inline.collect())
    assert got == want and len(got) == 15

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert (
        "dynamicpruning" in plan or "PartitionFilters: [isnotnull(cell" in plan
    ), "probe filter did not reach the index scan as partition pruning"
    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    sigs = minhash_signatures(docs, num_hashes=8).filter(F.col("mh0").isNotNull())
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    scored = ngram_jaccard_pairs(docs, pairs).filter(F.col("jaccard") >= 0.7)
    found = scored.collect()
    # identical docs must always collide in every band
    j_by_pair = {(r.id_a, r.id_b): r.jaccard for r in found}
    for (a, b), j in j_by_pair.items():
        assert 0.7 <= j <= 1.0
    # the generator plants near-dup families; LSH at 4x2 bands catches
    # jaccard>=0.9 pairs with prob ~1-(1-0.81)^4 > 0.998
    assert len(found) >= 1


def test_lsh_hot_bucket_cap_star_expansion(spark):
    """The max_bucket_size guard: over-cap buckets pair every member to
    the bucket's MIN id only (O(size) star), under-cap buckets keep the
    exact all-pairs expansion, and the default (None) is unchanged.
    Motivated by the sf10 ladder measurement (SCALE.md §9): the hottest
    bucket grows linearly with the corpus, so its all-pairs expansion is
    the repo's one superlinear-bytes signature at scale."""
    rows = []
    for i in range(10):  # hot bucket: 10 docs, identical signatures
        rows.append((i, *([100] * 8)))
    for i in range(20, 23):  # small bucket: 3 docs
        rows.append((i, *([200] * 8)))
    rows.append((30, *range(300, 308)))  # singletons: never pair
    rows.append((31, *range(400, 408)))
    cols = ["doc_id"] + [f"mh{j}" for j in range(8)]
    sigs = spark.createDataFrame(rows, cols)

    uncapped = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, max_bucket_size=5).collect()
    }
    # the small (<= cap) bucket expands identically on both paths
    small = {(a, b) for a in range(20, 23) for b in range(a + 1, 23)}
    assert small <= uncapped and small <= capped
    # hot bucket: all-pairs uncapped, star-to-min-id capped
    assert {p for p in uncapped if p[1] < 20} == {
        (a, b) for a in range(10) for b in range(a + 1, 10)
    }
    assert {p for p in capped if p[1] < 20} == {(0, i) for i in range(1, 10)}
    # singletons pair with nothing; a cap >= bucket size is a no-op
    assert all(30 not in p and 31 not in p for p in uncapped | capped)
    relaxed = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, max_bucket_size=10).collect()
    }
    assert relaxed == uncapped


def test_embedding_neardup_hot_bucket_cap(spark):
    """The sign-LSH twin of the text hot-bucket guard: an over-cap bucket
    scores members against the min-id anchor only (O(B) memory, no B x B
    cosine matrix), under-cap buckets keep exact all-pairs, default None
    is unchanged."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    hot = rng.normal(size=64)  # 8 exact copies -> one bucket in every band
    small = rng.normal(size=64)  # 3 exact copies -> an under-cap bucket
    rows = [(i, [float(x) for x in hot]) for i in range(8)]
    rows += [(i, [float(x) for x in small]) for i in range(20, 23)]
    rows.append((30, [float(x) for x in rng.normal(size=64)]))  # loner
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b)
            for r in embedding_neardup_pairs(emb, threshold=0.9, **kw).collect()
        }

    uncapped = pairs()
    capped = pairs(max_bucket_size=4)
    assert {p for p in uncapped if p[1] < 20} == {
        (a, b) for a in range(8) for b in range(a + 1, 8)
    }
    assert {p for p in capped if p[1] < 20} == {(0, i) for i in range(1, 8)}
    small_pairs = {(a, b) for a in range(20, 23) for b in range(a + 1, 23)}
    assert small_pairs <= uncapped and small_pairs <= capped
    assert all(30 not in p for p in uncapped | capped)
    assert pairs(max_bucket_size=8) == uncapped  # cap >= bucket: no-op


def test_signlsh_neardup_recall_on_planted_dups(spark):
    """Sign-LSH must recover nearly all genuinely-near pairs (cos >= 0.98).

    The synthetic embeddings table has no true near-dups (max pairwise
    cosine ~0.51), so plant some: 40 base vectors, each with a perturbed
    copy at cosine ~0.99."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        cosine_pairs_exact,
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        dup = v + rng.normal(scale=0.05, size=64)  # cosine ~0.99
        rows.append((1000 + i, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = cosine_pairs_exact(emb, threshold=0.98).collect()
    true_pairs = {(r.id_a, r.id_b) for r in exact}
    assert len(true_pairs) >= 35  # most perturbed copies stay above 0.98

    lsh = embedding_neardup_pairs(
        emb, threshold=0.98, bands=4, bits_per_band=4
    ).collect()
    found = {(r.id_a, r.id_b) for r in lsh}
    assert found <= true_pairs  # exact re-check: no false positives
    recall = len(found & true_pairs) / len(true_pairs)
    # P(collide in a 4-bit band) at cos .99 ~ 0.955^4 ~ .83;
    # 4 bands -> 1-(1-.83)^4 > 0.999
    assert recall >= 0.9, f"sign-LSH recall too low: {recall:.2f}"


def test_exact_dedup_deterministic(spark):
    from prometheus_pulsar_remote_write_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 1), (4, "b", 2)],
        "id int, k string, v int",
    )
    out = exact_dedup(df, ["k"], ["v", "id"]).collect()
    assert {(r.k, r.id) for r in out} == {("a", 2), ("b", 3)}


def test_winnow_batch_matches_expression_tier(spark):
    """winnow_fingerprints_batch must be byte-identical to the
    expression-tier winnow_fingerprints (same k-gram md5s, window mins)."""
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.operators.text import (
        winnow_fingerprints,
        winnow_fingerprints_batch,
    )
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])[
        "documents"
    ].limit(50)
    expr = {
        r.doc_id: r.fingerprints
        for r in winnow_fingerprints(docs).select("doc_id", "fingerprints").collect()
    }
    batch = {
        r.doc_id: r.fingerprints
        for r in winnow_fingerprints_batch(docs).collect()
    }
    assert expr == batch and len(expr) == 50


def test_simhash_band_pairs_lossless_for_small_hamming(spark):
    """Pigeonhole: banded candidates must equal the brute-force pair set
    for hamming <= bands-1."""
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.operators.dedup import simhash_band_pairs

    sigs = spark.createDataFrame(
        [(1, 0b1010_0110_1100_0011), (2, 0b1010_0110_1100_0001),  # d=1
         (3, 0b1010_0110_0000_0011),                               # d(1,3)=2
         (4, 0b0101_1001_0011_1100)],                              # far
        "doc_id int, simhash long",
    )
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_pairs(sigs, sig_bits=16, bands=4, max_hamming=3).collect()
    }
    assert out == {(1, 2): 1, (1, 3): 2, (2, 3): 3}


def test_kmeans_assignment_matches_numpy(spark):
    """emb_kmeans_assign's final assignment must equal a driver-side numpy
    replay of the same two Lloyd's iterations (seeds = 8 lowest vec_id)."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        emb_kmeans_assign,
    )

    sf_dir = SF_SMOKE
    got = {
        r.vec_id: (r.cluster1, r.cluster2)
        for r in emb_kmeans_assign(spark, sf_dir).collect()
    }

    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    seeds = ids[:8]
    C = X[:8].copy()

    def assign(C, cluster_ids):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        # round-to-9 + lowest-cluster-id tiebreak, as the operator orders
        d2r = np.round(d2, 9)
        best = np.argmin(d2r, axis=1)  # argmin takes first (lowest index==lowest id)
        return cluster_ids[best]

    a1 = assign(C, seeds)
    C1 = np.array([X[a1 == s].mean(axis=0) for s in seeds])
    a2 = assign(C1, seeds)
    want = {int(i): (int(c1), int(c2)) for i, c1, c2 in zip(ids, a1, a2)}
    assert got == want


def test_cosine_pairs_exact_refuses_oversized_corpus(spark):
    """The exact all-pairs baseline must fail loudly, not OOM the driver,
    when pointed at a corpus beyond its documented cap."""
    import pytest

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        cosine_pairs_exact,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="recall baseline"):
        cosine_pairs_exact(emb, max_rows=5)
    # under the cap it still works
    assert cosine_pairs_exact(emb, threshold=2.0, max_rows=10).count() == 0


def test_pq_codebook_vectors_quantize_to_themselves(spark):
    """Every codebook vector (vec_id < 16) is its own nearest codeword in
    all 8 subspaces: code == vec_id everywhere, zero reconstruction error."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import pq_assign
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    rows = pq_assign(emb).filter("vec_id < 16").collect()
    assert len(rows) == 16 * 8
    for r in rows:
        assert r["code"] == r["vec_id"], (r["vec_id"], r["s"], r["code"])
        assert r["dist_r"] == 0.0


def test_pq_adc_topk_shape_and_recall_floor(spark):
    """PQ-ADC returns a full ranked top-3 per query (self excluded). The
    deterministic 16-vector codebook is untrained (codebook quality, not
    scan correctness, bounds recall -- production would train it with the
    repo's fixed-seed Lloyd's), so the recall floor vs exact L2 is a
    sanity bound only."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import pq_adc_topk
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    q = emb.filter("vec_id < 5")
    rows = pq_adc_topk(emb, q, k=3).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["match_id"]))
        assert r["match_id"] != r["query_id"]
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(x)[0][0] == 1 and len(x) == 3 for x in per_q.values())

    V = {
        r["vec_id"]: np.array(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    recall = 0
    for qid in range(5):
        exact = {
            m
            for _, m in sorted(
                (float(np.sum((V[qid] - V[m]) ** 2)), m) for m in V if m != qid
            )[:3]
        }
        recall += len(exact & {m for _, m in per_q[qid]})
    assert recall >= 2  # sanity floor; see docstring


def test_persisted_ivfpq_index_scans_codes_only_and_prunes(spark, tmp_path):
    """The persisted IVF-PQ index stores only (vec_id, codes, cell) -- no
    raw vectors -- the probe reaches the scan as partition pruning, and
    the ADC ranking over probed cells agrees with the corpus-wide
    pq_adc_topk wherever the probed cells contain those matches."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        ivfpq_topk_indexed,
        persist_ivfpq_index,
        pq_adc_topk,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivfpq-index")
    persist_ivfpq_index(emb, idx, n_cells=8)

    stored = spark.read.parquet(idx)
    assert set(stored.columns) == {"vec_id", "codes", "cell"}

    indexed = ivfpq_topk_indexed(spark, idx, queries, nprobe=8, k=3)
    got = sorted(tuple(r) for r in indexed.collect())
    # nprobe = n_cells probes everything -> must equal the corpus-wide ADC
    want = sorted(tuple(r) for r in pq_adc_topk(emb, queries, k=3).collect())
    assert got == want and len(got) == 15

    pruned = ivfpq_topk_indexed(spark, idx, queries, nprobe=2, k=3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert (
        "dynamicpruning" in plan or "PartitionFilters: [isnotnull(cell" in plan
    ), "probe filter did not reach the index scan as partition pruning"
    assert pruned.count() == 15


def test_ppjoin_equals_plain_index_join_with_fewer_candidates(spark):
    """Prefix filtering must be lossless (identical pairs to the plain
    inverted-index join) while generating strictly fewer candidates."""
    from prometheus_pulsar_remote_write_spark.operators.dedup import (
        jaccard_index_pairs,
        jaccard_prefix_pairs,
        shingles_col,
    )

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    pp = sorted(tuple(r) for r in jaccard_prefix_pairs(docs, 700).collect())
    plain = sorted(tuple(r) for r in jaccard_index_pairs(docs, 0.7).collect())
    assert pp == plain and pp

    # candidate counts: pairs sharing >=1 shingle (plain) vs >=1 prefix
    # shingle (ppjoin)
    sets = docs.select(
        "doc_id", shingles_col(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    inv = sets.select("doc_id", F.explode("sh").alias("shingle"))
    plain_cand = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    from pyspark.sql import Window

    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("dfc"))
    w = Window.partitionBy("doc_id").orderBy("dfc", "shingle")
    pre = (
        inv.join(F.broadcast(dfreq), "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sets.select("doc_id", F.size("sh").alias("n_sh")), "doc_id")
        .filter(F.col("rn") <= F.col("n_sh") - F.expr("(700 * n_sh + 999) div 1000") + 1)
        .select("doc_id", "shingle")
    )
    pp_cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert pp_cand < plain_cand, (pp_cand, plain_cand)


def _partition_file_snapshot(idx_path):
    import os

    out = {}
    for cell_dir in os.listdir(idx_path):
        if not cell_dir.startswith("cell="):
            continue
        files = sorted(
            f for f in os.listdir(os.path.join(idx_path, cell_dir))
            if f.endswith(".parquet")
        )
        out[cell_dir] = files
    return out


def test_incremental_ivf_append_matches_full_rebuild(spark, tmp_path):
    """append_ivf_index on a grown corpus == persist_ivf_index rebuilt on
    the same corpus (frozen centroids), only the touched cell dirs gain
    files, and a replayed append is a no-op (idempotent)."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        append_ivf_index,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)

    idx = str(tmp_path / "incr")
    persist_ivf_index(base, idx, n_cells=8)
    before = _partition_file_snapshot(idx)

    touched = append_ivf_index(spark, extra, idx)
    after = _partition_file_snapshot(idx)
    # untouched cells: byte-identical file lists
    for cell_dir, files in before.items():
        cell = int(cell_dir.split("=")[1])
        if cell not in touched:
            assert after[cell_dir] == files

    # incremental result == full rebuild over the same corpus with the
    # same (frozen) centroid set -- base keeps the low ids, so the
    # rebuild derives identical centroids
    full = str(tmp_path / "full")
    persist_ivf_index(emb, full, n_cells=8)
    got = {
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(idx).collect()
    }
    want = {
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(full).collect()
    }
    assert got == want and len(got) == emb.count()

    # replayed append: no new rows, no new files
    append_ivf_index(spark, extra, idx)
    assert spark.read.parquet(idx).count() == emb.count()

    # the serving query over the incrementally-built index matches the
    # rebuilt one exactly
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, idx, queries, nprobe=2, k=3).collect()
    )
    b = sorted(
        tuple(r)
        for r in ivf_topk_indexed(spark, full, queries, nprobe=2, k=3).collect()
    )
    assert a == b


def test_incremental_ivfpq_append_matches_full_rebuild(spark, tmp_path):
    """Same contract for the code-only IVF-PQ layout: frozen centroids AND
    frozen codebook, append touches only its cells, result rows equal the
    full rebuild."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        append_ivfpq_index,
        persist_ivfpq_index,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)

    idx = str(tmp_path / "incr")
    persist_ivfpq_index(base, idx, n_cells=8)
    before = _partition_file_snapshot(idx)
    touched = append_ivfpq_index(spark, extra, idx)
    after = _partition_file_snapshot(idx)
    for cell_dir, files in before.items():
        if int(cell_dir.split("=")[1]) not in touched:
            assert after[cell_dir] == files

    full = str(tmp_path / "full")
    persist_ivfpq_index(emb, full, n_cells=8)
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(idx).collect()
    }
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(full).collect()
    }
    assert got == want and len(got) == emb.count()

    append_ivfpq_index(spark, extra, idx)  # idempotent replay
    assert spark.read.parquet(idx).count() == emb.count()


def test_minhash_agg_tier_equals_pandas_tier(spark):
    """The all-JVM explode+partial-agg MinHash tier must be bit-identical
    to the default Arrow/pandas tier (same tokenizer, shingles, hash
    family, null semantics for short docs)."""
    from prometheus_pulsar_remote_write_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_agg,
    )

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    extra = docs.sparkSession.createDataFrame(
        [(100001, "one two"), (100002, "")], "doc_id long, text string"
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    a = {tuple(r) for r in minhash_signatures(both, num_hashes=8).collect()}
    b = {tuple(r) for r in minhash_signatures_agg(both, num_hashes=8).collect()}
    assert a == b and len(a) == both.count()
    # short/empty docs carry all-null signatures in both tiers
    nulls = {r for r in a if r[1] is None}
    assert {r[0] for r in nulls} >= {100001, 100002}


def test_residual_pq_beats_raw_pq_on_clustered_data(spark):
    """The point of residual encoding: on CLUSTERED data the codebook
    stops re-describing the coarse cell structure, so residual PQ
    reconstructs with lower error than raw PQ. (The benchmark embeddings
    table is unit-norm zero-centered noise -- mean vector norm ~0.04 --
    where no residual structure exists; this test builds a deterministic
    clustered corpus where the claim is measurable.)"""
    import hashlib

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        ivf_assign,
        pq_assign,
    )

    def h(i, j):  # deterministic pseudo-noise in [-0.05, 0.05]
        v = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:6], 16)
        return (v % 1000) / 10000.0 - 0.05

    centers = [[(c + 1) * (1.0 if (d % 4) == c else 0.1) for d in range(16)]
               for c in range(4)]
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, [centers[c][d] + h(i, d) for d in range(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def avg_err(df, vec_col):
        codes = pq_assign(df, n_sub=4, sub_dim=4, n_codes=8, vec_col=vec_col)
        return (
            codes.groupBy("vec_id")
            .agg(F.sum("dist_r").alias("e"))
            .agg(F.avg("e"))
            .collect()[0][0]
        )

    raw = avg_err(emb, "embedding")
    cent = emb.orderBy("vec_id").limit(4)
    assigned = ivf_assign(emb, cent).localCheckpoint(eager=True)
    cv = cent.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cv"))
    resid = assigned.join(F.broadcast(cv), "cell").select(
        "vec_id",
        F.zip_with("embedding", "cv", lambda a, b: a - b).alias("residual"),
    )
    res = avg_err(resid, "residual")
    assert res < raw, f"residual PQ err {res} not below raw PQ err {raw}"


def test_semdedup_refined_centroids_balance(spark):
    """One Lloyd's round must tame a pathologically skewed seed: the
    lowest-id seed vectors all sit inside ONE dense blob, so seed
    assignment dumps ~all mass into few cells while refined centroids
    migrate toward the actual modes.  The within-cluster join cost is
    sum(cluster^2), so the pinned bound below is what keeps SemDeDup's
    scale promise under skew."""
    import math

    from prometheus_pulsar_remote_write_spark.operators.similarity import ivf_assign
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _SEMDEDUP_CELLS,
        _SEMDEDUP_DIM,
        _semdedup_refined_centroids,
    )

    # deterministic skew fixture: ids 0..399 form one tight blob around
    # axis 0 (tiny index-derived jitter), ids 400..479 spread over 8
    # well-separated axes -- real modes the seed (lowest 8 ids, all
    # blob members) cannot see.
    rows = []
    for i in range(400):
        v = [0.0] * _SEMDEDUP_DIM
        v[0] = 1.0
        v[1 + (i % 10)] = 0.01 * ((i * 7) % 13) / 13.0
        rows.append((i, v))
    for i in range(80):
        v = [0.0] * _SEMDEDUP_DIM
        v[20 + (i % 8) * 4] = 1.0
        v[0] = 0.02 * ((i * 5) % 11) / 11.0
        rows.append((400 + i, v))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def shares(assigned):
        counts = {r["cell"]: r["n"] for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
        total = sum(counts.values())
        return {c: n / total for c, n in counts.items()}

    seed = emb.orderBy("vec_id").limit(_SEMDEDUP_CELLS)
    seed_shares = shares(ivf_assign(emb, seed))
    refined = _semdedup_refined_centroids(emb)
    ref_shares = shares(ivf_assign(emb, refined))

    # the refined max-cluster share must strictly improve on the seed's
    # and stay below the bound that keeps sum(cluster^2) subquadratic
    assert max(ref_shares.values()) < max(seed_shares.values())
    assert max(ref_shares.values()) <= 0.90
    # refined clustering must also spread the off-blob modes across >1 cell
    assert len(ref_shares) >= 2


def test_leakage_safe_split_invariant(spark):
    """Every near-dup family lands wholly in ONE split (the whole point),
    and the split is the family-hash split, not the per-doc one."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        docs_leakage_safe_split,
    )

    rows = docs_leakage_safe_split(spark, SF_SMOKE).collect()
    by_family = {}
    for r in rows:
        by_family.setdefault(r["family"], set()).add(r["split"])
    assert rows and all(len(s) == 1 for s in by_family.values())
    # at least one real (multi-doc) family exists in the fixture
    from collections import Counter

    fam_sizes = Counter(r["family"] for r in rows)
    assert max(fam_sizes.values()) >= 2


def test_persisted_inverted_index_matches_inline_bm25_and_prunes(spark, tmp_path):
    """The bucket-partitioned inverted index serves exactly what the
    inline docs_bm25_topk computes, and the probe's bucket predicate
    reaches the postings scan as partition pruning (only the query
    terms' bucket directories are read)."""
    from prometheus_pulsar_remote_write_spark.operators.text import (
        bm25_topk_indexed,
        persist_inverted_index,
        term_bucket_py,
    )
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _BM25_QUERIES,
        docs_bm25_topk,
    )
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    docs = load_tables(spark, SF_SMOKE, ["documents"])["documents"]
    idx = str(tmp_path / "inv-index")
    persist_inverted_index(docs, idx, n_buckets=16)

    qterms = [(qid, t) for qid, ts in _BM25_QUERIES for t in ts]
    indexed = bm25_topk_indexed(spark, idx, qterms, k=5, n_buckets=16)
    inline = docs_bm25_topk(spark, SF_SMOKE)
    got = sorted(tuple(r) for r in indexed.collect())
    want = sorted(tuple(r) for r in inline.collect())
    assert got == want and got

    # pruning: the postings scan must carry a bucket partition filter
    # listing exactly the probed buckets (inputFiles() ignores partition
    # filters, so assert on the executed plan)
    import re

    probed = {term_bucket_py(t, 16) for _, t in qterms}
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[bucket#\d+ IN \(([0-9,]+)\)\]", plan)
    assert m, "no bucket partition filter reached the postings scan"
    read_buckets = {int(b) for b in m.group(1).split(",")}
    assert read_buckets == probed
    assert len(read_buckets) < 16, "no pruning: every bucket was probed"


def test_emb_lsh_star_guard_sql_mirror_bit_exact(spark):
    """When the sign-LSH star cap FIRES, the DuckDB oracle generated by
    _emb_neardup_lsh_sql(max_bucket_size=...) must still match the Spark
    operator bit-exactly — the guard is mirrored, not approximated, so
    the gate holds at scales where the OOM backstop actually engages.
    Under-selective 2x2 signatures + cap=20 over 500 vectors force every
    bucket far over the cap (the catalog default 4x8 + cap=2000 never
    fires at this size)."""
    import duckdb

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _emb_neardup_lsh_sql,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_neardup_pairs(
            emb, threshold=0.3, bands=2, bits_per_band=2, max_bucket_size=20
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            _emb_neardup_lsh_sql(0.3, bands=2, bits_per_band=2, max_bucket_size=20)
        ).fetchall()
    )
    con.close()
    assert got and got == want
    # sanity: the capped pair set is star-shaped in over-cap buckets, so
    # it must be a strict subset of the uncapped all-pairs expansion
    uncapped = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, threshold=0.3, bands=2, bits_per_band=2
        ).collect()
    }
    assert {(a, b) for a, b, _ in got} < uncapped


def test_text_lsh_star_guard_sql_mirror_bit_exact(spark):
    """The text drop-set path's hot-bucket guard must be MIRRORED in its
    DuckDB twin, not approximated: with a cap small enough to fire on the
    smoke corpus, _neardup_pairs(max_bucket_size=cap) and
    _neardup_sql(cap) must produce identical verified pair sets — and the
    capped drop set must preserve near-total recall of the all-pairs drop
    set (the 99.95%-at-sf10 property, exact at this size)."""
    import duckdb

    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _neardup_pairs,
        _neardup_sql,
    )

    cap = 2  # fires on every >=3-member bucket of the smoke corpus
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in _neardup_pairs(spark, SF_SMOKE, max_bucket_size=cap).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(_neardup_sql(cap)).fetchall())
    con.close()
    assert got and got == want

    # drop-set recall: star expansion may skip member<->member edges but
    # every dropped doc must stay reachable from its bucket anchor
    capped_drop = {b for _, b, _ in got}
    full_drop = {r.id_b for r in _neardup_pairs(spark, SF_SMOKE).collect()}
    assert capped_drop <= full_drop
    recall = len(capped_drop) / max(len(full_drop), 1)
    assert recall >= 0.95, f"capped drop-set recall too low: {recall:.3f}"


def test_signlsh_arrow_tier_nan_and_null_match_expression_tier(spark):
    """``signlsh_buckets_batch`` (the Arrow pass every sign-LSH operator
    runs) produces byte-identical buckets to the interpreted
    ``signlsh_bits`` fold, row by row: on 300 random 64-dim vectors as
    both array<float> and array<double> (pair sets are a function of the
    buckets, so bucket parity carries pair parity), and at the edges --
    NaN folds take the engines' NaN-above-everything branch ('1'), not
    numpy's IEEE NaN >= 0 == False; a NULL embedding yields all-'0'
    buckets (the fold's otherwise branch) instead of crashing the Arrow
    batch."""
    import math

    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        _hyperplane_signs,
        signlsh_bits,
        signlsh_buckets_batch,
    )

    def both_tiers(emb, dim, bands, bits_per_band):
        signs = _hyperplane_signs(dim, bands * bits_per_band)
        arrow = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id",
                signlsh_buckets_batch("embedding", signs, bands, bits_per_band).alias(
                    "b"
                ),
            ).collect()
        }
        bits = signlsh_bits(F.col("embedding"), signs)
        expr = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id",
                F.array(
                    *[
                        F.concat(*bits[b * bits_per_band : (b + 1) * bits_per_band])
                        for b in range(bands)
                    ]
                ).alias("b"),
            ).collect()
        }
        return arrow, expr

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(300)]
    for typ in ("float", "double"):
        emb = spark.createDataFrame(rows, f"vec_id long, embedding array<{typ}>")
        arrow, expr = both_tiers(emb, 64, 3, 3)
        assert arrow == expr and len(arrow) == 300
        # the planes split the random vectors: more than one bucket per band
        assert all(len({r[b] for r in arrow.values()}) > 1 for b in range(3))

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    nan_vec = [float(x) for x in rng.normal(size=8)]
    nan_vec[3] = math.nan
    rows.append((100, nan_vec))
    rows.append((101, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    arrow, expr = both_tiers(emb, 8, 2, 3)
    assert arrow == expr
    assert arrow[101] == ["000", "000"]
    # the NaN fold really does take the '1' branch on the planes that
    # touch the NaN coordinate -- i.e. every plane, since the fold is NaN
    assert arrow[100] == ["111", "111"]


def test_suggest_signature_bits_matches_ladder_model():
    """The sizing rule is pinned to the SCALE.md §11 ladder: median
    occupancy tracked n/2^bits at every measured scale, so
    ceil(log2(n/target)) must reproduce the measured-safe choices --
    8 bits is adequate at 20k vectors (sf1 median 73 with target 64),
    widening kicks in by 200k, and 2M demands the 12+ bit range the
    4x12 remedy measurement validated. Bounds clamp degenerate
    corpora."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        suggest_signature_bits,
    )

    assert suggest_signature_bits(20_000) == 9  # sf1: near the 4x8 default
    assert suggest_signature_bits(200_000) == 12  # sf10
    assert suggest_signature_bits(2_000_000) == 15  # sf100
    assert suggest_signature_bits(2_000_000, target_median_bucket=500) == 12
    # sf1000 out-of-sample validation (SCALE.md §11): the clamp's 16
    # bits measured 99.7% of buckets under the cap at 20M vectors
    assert suggest_signature_bits(20_000_000) == 16
    # monotone in n, clamped at both ends
    assert suggest_signature_bits(0) == 4
    assert suggest_signature_bits(100) == 4
    assert suggest_signature_bits(10**12) == 16
    prev = 0
    for n in (1, 10**3, 10**5, 10**7, 10**9):
        b = suggest_signature_bits(n)
        assert b >= prev
        prev = b


def test_suggest_signature_bits_integer_exact_everywhere():
    """r14: the rule is pure integer arithmetic -- bit_length over
    ceil-division -- so it must equal BOTH its definition (the smallest
    k with target * 2^k >= n) and the float-log2 form it replaced, at
    every n including exact power-of-two boundaries where a 1-ulp log2
    difference would flip ceil(). The DuckDB oracle mirrors the same
    integer derivation (length(ltrim(bin(m-1),'0'))), so this is the
    cross-engine equality proof in miniature."""
    import math

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        suggest_signature_bits,
    )

    def smallest_k(n, t):
        k = 0
        while t * (1 << k) < n:
            k += 1
        return k

    for t in (64, 100, 500):
        for n in list(range(1, 300)) + [
            t * 2**k + d for k in range(1, 15) for d in (-1, 0, 1)
        ]:
            got = suggest_signature_bits(
                n, target_median_bucket=t, min_bits=0, max_bits=64
            )
            assert got == smallest_k(n, t), (n, t)
            float_form = math.ceil(math.log2(max(n / t, 1.0)))
            assert got == float_form, (n, t)


def test_auto_banded_signs_prefix_convention():
    """The banded-stride plane layout: band b's j-th bit uses plane
    b*MAX_AUTO_BITS + j whatever width the rule picks, so a k-bit bucket
    is the PREFIX of the 16-bit bucket -- the property that lets the
    static count-adaptive DuckDB twin substr() to the chosen width."""
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        MAX_AUTO_BITS,
        _hyperplane_signs,
        auto_banded_signs,
    )

    planes = _hyperplane_signs(16, 4 * MAX_AUTO_BITS)
    bits, signs = auto_banded_signs(2_000_000, bands=4, dim=16)
    assert bits == 15 and len(signs) == 4 * 15
    for b in range(4):
        assert (
            signs[b * bits : (b + 1) * bits]
            == planes[b * MAX_AUTO_BITS : b * MAX_AUTO_BITS + bits]
        )
    # narrower pick is the prefix of the wider pick, per band
    bits_s, signs_s = auto_banded_signs(500, bands=4, dim=16)
    assert bits_s == 4
    for b in range(4):
        assert signs_s[b * bits_s : (b + 1) * bits_s] == signs[b * bits : b * bits + bits_s]
    import pytest

    with pytest.raises(ValueError):
        auto_banded_signs(10, max_bits=MAX_AUTO_BITS + 1)


def test_embedding_neardup_auto_sizing_matches_adaptive_oracle(spark, caplog):
    """r14 wiring of the one r13 weak: bits_per_band=None sizes the
    signature from the corpus count on BOTH engines -- Spark via
    suggest_signature_bits + banded-stride planes, DuckDB via the
    count-adaptive params CTE + substr -- so one STATIC oracle string is
    bit-exact at any corpus size. Also pins the structured sizing log
    line a cluster operator sees."""
    import logging

    import duckdb

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _emb_neardup_lsh_sql,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    with caplog.at_level(
        logging.INFO,
        logger="prometheus_pulsar_remote_write_spark.operators.similarity",
    ):
        got = sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in embedding_neardup_pairs(
                emb, threshold=0.3, bands=4, bits_per_band=None
            ).collect()
        )
    assert any("LSH_AUTO_SIZE" in r.message for r in caplog.records)
    assert any('"bits_per_band": 4' in r.message for r in caplog.records)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            _emb_neardup_lsh_sql(0.3, bands=4, bits_per_band=None, max_bucket_size=None)
        ).fetchall()
    )
    con.close()
    assert got and got == want


def test_emb_lsh_bucket_stats_exact_order_statistics(spark):
    """r14 detector-as-relation: the one-row bucket-stats entry must
    equal (a) a numpy brute force over the banded bucket sizes -- pinning
    the DISCRETE median/p99 definition (value at ascending position
    (B+1)//2 resp. ceil(0.99B)) -- and (b) the DuckDB twin, bit-exact
    (all columns BIGINT, so strict and default compare coincide)."""
    import duckdb
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        _banded_embeddings,
        auto_banded_signs,
        embedding_lsh_bucket_stats_df,
    )
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        EMB_LSH_BUCKET_STATS_SQL,
        EMB_LSH_MAX_BUCKET,
    )

    emb = load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    row = (
        embedding_lsh_bucket_stats_df(
            emb, bands=4, bits_per_band=None, max_bucket_size=EMB_LSH_MAX_BUCKET
        )
        .collect()[0]
        .asDict()
    )

    n = emb.count()
    bits, signs = auto_banded_signs(n, bands=4)
    sizes = np.sort(
        np.array(
            _banded_embeddings(emb, signs, 4, bits, "vec_id", "embedding")
            .groupBy("band_id", "bucket")
            .count()
            .filter(F.col("count") >= 2)
            .select("count")
            .toPandas()["count"],
            dtype=np.int64,
        )
    )
    B = len(sizes)
    want = {
        "n_vectors": n,
        "bits_per_band": bits,
        "n_buckets": B,
        "max_bucket": int(sizes[-1]) if B else 0,
        "median_bucket": int(sizes[(B + 1) // 2 - 1]) if B else 0,
        "p99_bucket": int(sizes[(99 * B + 99) // 100 - 1]) if B else 0,
        "sum_size": int(sizes.sum()),
        "sum_sq_size": int((sizes * sizes).sum()),
        "over_cap_buckets": int((sizes > EMB_LSH_MAX_BUCKET).sum()),
    }
    assert row == want
    assert B > 0  # the smoke corpus must actually exercise the stats

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    cols, vals = zip(
        *sorted(
            zip(
                [d[0] for d in con.execute(EMB_LSH_BUCKET_STATS_SQL).description],
                con.execute(EMB_LSH_BUCKET_STATS_SQL).fetchall()[0],
            )
        )
    )
    con.close()
    assert dict(zip(cols, vals)) == want


def test_emb_lsh_bucket_stats_empty_collision_edge(spark):
    """A corpus with NO colliding bucket (single vector) must yield an
    all-zero stats row -- not NULLs -- on both engines, with the
    constant columns (n_vectors, min-clamped bits) still populated
    (the r13-advice coalesce contract, now oracle-shaped)."""
    import duckdb

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_lsh_bucket_stats_df,
    )
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _emb_lsh_bucket_stats_sql,
    )

    one = (
        load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"]
        .orderBy("vec_id")
        .limit(1)
    )
    row = (
        embedding_lsh_bucket_stats_df(
            one, bands=4, bits_per_band=None, max_bucket_size=10
        )
        .collect()[0]
        .asDict()
    )
    assert row == {
        "n_vectors": 1,
        "bits_per_band": 4,  # min clamp
        "n_buckets": 0,
        "max_bucket": 0,
        "median_bucket": 0,
        "p99_bucket": 0,
        "sum_size": 0,
        "sum_sq_size": 0,
        "over_cap_buckets": 0,
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF_SMOKE}/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 1"
    )
    got = con.execute(_emb_lsh_bucket_stats_sql(max_bucket_size=10)).fetchall()[0]
    names = [
        d[0] for d in con.execute(_emb_lsh_bucket_stats_sql(max_bucket_size=10)).description
    ]
    con.close()
    assert dict(zip(names, got)) == row


def test_signlsh_recall_holds_at_the_widest_auto_clamp(spark):
    """The auto-sizing rule widens signatures for boundedness; recall on
    GENUINE near-dups must survive the widest width it can ever pick
    (MAX_AUTO_BITS = 16, the clamp that binds at >= ~4M vectors).
    Analytically: a cosine-0.99 pair collides per 16-bit band with
    p = (1 - acos(.99)/pi)^16 ~ 0.48, so 4 bands give ~93% recall; the
    moderate-similarity band (cos ~0.95) is where wide signatures trade
    recall for boundedness, and THAT tradeoff is SCALE.md §12's
    documented bands-compensation knob, not a silent loss."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        MAX_AUTO_BITS,
        cosine_pairs_exact,
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        dup = v + rng.normal(scale=0.05, size=64)  # cosine ~0.99
        rows.append((1000 + i, [float(x) for x in dup]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    true_pairs = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_exact(emb, threshold=0.98).collect()
    }
    assert len(true_pairs) >= 50

    found = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, threshold=0.98, bands=4, bits_per_band=MAX_AUTO_BITS
        ).collect()
    }
    assert found <= true_pairs
    recall = len(found & true_pairs) / len(true_pairs)
    # expectation ~0.93 at 60 planted pairs; 0.75 leaves ~4.5 sigma of
    # sampling slack while still refuting any recall-collapse regression
    assert recall >= 0.75, f"16-bit-band recall collapsed: {recall:.2f}"


def test_suggest_signature_bits_equals_duckdb_params_cte():
    """Evaluate the oracle's ACTUAL width derivation -- the params-CTE
    expression GREATEST(min, LEAST(max, length(ltrim(bin(m-1),'0'))))
    over m = (n+t-1)//t -- in DuckDB itself, across boundary-dense n,
    and pin equality with suggest_signature_bits. The integer-exact
    pytest above proves the Python side equals its definition; this one
    proves the SQL twin computes the SAME function, so the two engines
    cannot disagree on the width at any corpus size."""
    import duckdb

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        suggest_signature_bits,
    )

    t = 64
    ns = list(range(1, 400)) + [
        t * 2**k + d for k in range(1, 30) for d in (-1, 0, 1)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE ns(n BIGINT)")
    con.executemany("INSERT INTO ns VALUES (?)", [(n,) for n in ns])
    rows = con.execute(
        f"""
        SELECT n, GREATEST(4, LEAST(16,
                 CASE WHEN m <= 1 THEN 0
                      ELSE length(ltrim(bin(m - 1), '0')) END)) AS bits
        FROM (SELECT n, (n + {t} - 1) // {t} AS m FROM ns)
        """
    ).fetchall()
    con.close()
    assert len(rows) == len(ns)
    for n, sql_bits in rows:
        assert sql_bits == suggest_signature_bits(n), n


def test_banded_embeddings_spreads_underparallel_scan(spark):
    """The under-parallel input guard (guide §2.5): a 1-partition input
    -- the single-row-group testdata layout -- is round-robin spread to
    defaultParallelism before the Arrow signature stage, so the per-row
    hyperplane work parallelizes instead of serializing onto one core.
    An input already at >= defaultParallelism partitions is left alone
    (the guard is a no-op at cluster scale, nothing is tuned to the
    local core count), and the pair set is identical either way."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_neardup_pairs,
        _banded_embeddings,
        _hyperplane_signs,
    )

    want = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    signs = _hyperplane_signs(64, 6)

    narrow = emb.coalesce(1)
    banded_narrow = _banded_embeddings(narrow, signs, 2, 3, "vec_id", "embedding")
    assert banded_narrow.rdd.getNumPartitions() == want

    wide = emb.repartition(want + 2)
    banded_wide = _banded_embeddings(wide, signs, 2, 3, "vec_id", "embedding")
    assert banded_wide.rdd.getNumPartitions() == want + 2

    kw = dict(threshold=0.1, bands=2, bits_per_band=3)
    got_narrow = sorted(
        tuple(r) for r in embedding_neardup_pairs(narrow, **kw).collect()
    )
    got_wide = sorted(
        tuple(r) for r in embedding_neardup_pairs(wide, **kw).collect()
    )
    assert got_narrow == got_wide and got_narrow


def test_cosine_pairs_exact_spreads_underparallel_scan(spark):
    """Same guard on the exact all-pairs baseline: the corpus is
    broadcast, so the per-partition matmul is the only distributed work
    and a 1-partition scan serializes it. The pair set must be identical
    between a coalesce(1) input and a pre-spread one."""
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        cosine_pairs_exact,
    )

    want = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(90)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    narrow = cosine_pairs_exact(emb.coalesce(1), threshold=0.1)
    assert narrow.rdd.getNumPartitions() == want
    got_narrow = sorted(tuple(r) for r in narrow.collect())
    got_wide = sorted(
        tuple(r)
        for r in cosine_pairs_exact(
            emb.repartition(want + 1), threshold=0.1
        ).collect()
    )
    assert got_narrow == got_wide and got_narrow
