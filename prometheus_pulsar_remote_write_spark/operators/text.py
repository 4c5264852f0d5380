"""Text-analysis operators over document tables (SURVEY.md §2.F F4).

All hot-path expressions are Spark built-ins (JVM, codegen); no Python in
the per-row path. Tokenization is whitespace-based to stay deterministic
and engine-portable (the DuckDB oracles apply the identical expressions).

Design for 100 TB: every operator is a narrow projection or a single
hash-aggregation keyed by doc_id/lang; no collect, no cross-joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Small closed-class marker sets per language for the n-gram/marker
#: language-ID heuristic. Public common stopwords.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "wo"],
}

#: English stopword subset used by the quality score.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; drops empty tokens from repeated spaces."""
    return F.filter(F.split(text, " "), lambda t: F.length(t) > 0)


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))


#: Exact fixed-point quality formulas (engine-portable determinism).
#: The score is a mean of three rationals with a common exact form:
#:   (d/t + (t-s)/t + L/200) / 3  ==  (200*(d+t-s) + L*t) / (600*t)
#: where t=n_tokens, d=n_distinct, s=n_stopwords, L=min(len, 200).
#: round(x, 4) of a DOUBLE is engine-dependent exactly at half
#: boundaries (Spark rounds the shortest-decimal BigDecimal of the
#: double, DuckDB the binary value): the round-11 sf0.1 strict gate
#: caught one doc landing on 0.83125 and hashing 0.8312 vs 0.8313 --
#: the q9 failure class again, found by varying SCALE instead of seed.
#: Both engines now round HALF-UP on the exact integer rational
#: (floor((2*10^4*num + den) / (2*den))), so the e4 integers -- and the
#: doubles e4/10000.0 derived from them -- are bit-identical everywhere.
#: Denominators are NULLIF-guarded: a zero-token (empty/whitespace-only)
#: doc yields NULL on BOTH engines instead of Spark's ANSI
#: DIVIDE_BY_ZERO crash vs DuckDB's silent NULL -- the same crash-vs-NULL
#: asymmetry class the Benford NULLIF fix closed (one malformed doc away
#: from splitting the gate).
_TTR_E4 = "(20000 * {d} + {t}) div (2 * nullif({t}, 0))"
_QUALITY_E4 = (
    "(20000 * (200 * ({d} + {t} - {s}) + least(length({text}), 200) * {t})"
    " + 600 * {t}) div (1200 * nullif({t}, 0))"
)


def _quality_e4_exprs(text_col: str) -> dict:
    # the text column is backtick-quoted into the SQL expr so names that
    # need quoting survive; __t/__d/__s are RESERVED intermediate names
    # (quality_features/with_quality_features overwrite then drop them)
    subs = dict(t="__t", d="__d", s="__s", text=f"`{text_col}`")
    # 10000.0D: the bare literal 10000.0 is DECIMAL in Spark SQL, which
    # would make the output a DECIMAL column instead of DOUBLE
    return {
        "type_token_ratio": F.expr(f"({_TTR_E4.format(**subs)}) / 10000.0D"),
        "quality_score": F.expr(f"({_QUALITY_E4.format(**subs)}) / 10000.0D"),
    }


def _token_stat_cols() -> dict:
    """__t/__d/__s over a ``__toks`` column computed in a PRIOR projection.

    Tokenizing once and deriving the three counts from the array column
    replaces three independent split+filter passes per row (CollapseProject
    declines to inline a non-cheap producer referenced three times, so the
    two-projection shape survives optimization)."""
    return {
        "__t": F.size("__toks").cast("long"),
        "__d": F.size(F.array_distinct("__toks")).cast("long"),
        "__s": F.size(
            F.filter(
                F.col("__toks"),
                lambda t: F.array_contains(
                    F.array(*[F.lit(w) for w in STOPWORDS]), t
                ),
            )
        ).cast("long"),
    }


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    Score: mean of (type-token ratio, non-stopword ratio, length prior)
    -- a deterministic stand-in for a trained quality model; the Spark-side
    and oracle-side formulas are identical, computed in exact integer
    e4 fixed point (see _QUALITY_E4) so no float rounding boundary can
    split the engines.
    """
    text = F.col(text_col)
    exprs = _quality_e4_exprs(text_col)
    return (
        df.withColumn("__toks", tokens_col(text))
        .withColumns(_token_stat_cols())
        .select(
            "doc_id",
            F.col("__t").cast("int").alias("n_tokens"),
            F.col("__d").cast("int").alias("n_distinct"),
            F.col("__s").cast("int").alias("n_stopwords"),
            punct_count(text).alias("n_punct"),
            exprs["type_token_ratio"].alias("type_token_ratio"),
            exprs["quality_score"].alias("quality_score"),
        )
    )


def with_quality_features(
    df: DataFrame, text_col: str = "text", keep_tokens: bool = False
) -> DataFrame:
    """``quality_features`` as added columns, keeping every input column.

    Same formulas; use this in composed pipelines so quality scoring is a
    narrow projection instead of a doc_id self-join back to the corpus.

    ``keep_tokens=True`` keeps the ``__toks`` array column so a caller can
    derive further token features (e.g. the dedup prefix key) without
    paying a second tokenize pass; callers drop it when done.
    """
    out = (
        df.withColumn("__toks", tokens_col(F.col(text_col)))
        .withColumns(_token_stat_cols())
        .withColumns(
            {
                "n_tokens": F.col("__t").cast("int"),
                "quality_score": _quality_e4_exprs(text_col)["quality_score"],
            }
        )
        .drop("__t", "__d", "__s")
    )
    return out if keep_tokens else out.drop("__toks")


def _shingles_of_tokens(tk: Column, k: int) -> Column:
    """Shingle expression over an already-evaluated tokens array (a lambda
    variable or materialized column -- NEVER the raw tokenize expression:
    a subtree referenced inside a ``transform`` lambda is re-evaluated per
    element, so inlining ``tokens_col`` here costs one full tokenize PER
    SHINGLE POSITION)."""
    n = F.size(tk)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(tk, i, k), " "),
            )
        )
    )


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams) as an array of strings.

    Expressed with sequence/transform/slice so it runs entirely JVM-side;
    a document with fewer than k tokens yields an empty array.

    The tokens array is bound ONCE through a single-element ``transform``
    lambda: higher-order lambda bodies are not common-subexpression
    eliminated, so the previous inline form re-ran split+filter for every
    shingle position (O(n_tokens) tokenizations per document; measured
    5.3x on the sf0.1 shingle projection, identical output)."""
    return F.transform(
        F.array(tokens_col(text)), lambda tk: _shingles_of_tokens(tk, k)
    )[0]


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hit counts.

    Ties break by a fixed language order, so results are deterministic and
    reproducible in the oracle.
    """
    # tokenize ONCE into a prior-projection column; the per-language
    # marker filters then read the array attribute (the previous inline
    # form re-ran split+filter once per language -- five tokenize passes
    # per row for identical counts)
    scored = df.withColumn("__lid_toks", tokens_col(F.col(text_col)))
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scored = scored.withColumn(
            f"score_{lang}",
            F.size(
                F.filter(F.col("__lid_toks"), lambda t: F.array_contains(arr, t))
            ),
        )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.withColumn("predicted_lang", pred).drop("__lid_toks")


#: BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs --
#: the regex family GPT-style tokenizers apply before byte-pair merging.
#: Plain ASCII classes only, so Java regex (Spark) and RE2 (DuckDB) agree.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_tokens_col(text: Column) -> Column:
    """BPE-ish pre-tokens (whole-match regexp_extract_all)."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)


def char_kgram_hashes_col(text: Column, k: int = 8) -> Column:
    """Rolling char k-gram hash sequence (md5 stands in for Karp-Rabin:
    same selectivity, byte-identical in the DuckDB oracle)."""
    n = F.length(text)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(text.substr(i, F.lit(k))),
        )
    )


def winnow_from_hashes_col(hashes: Column, w: int = 4) -> Column:
    """Winnowing (Schleimer et al., SIGMOD'03): min hash of each w-window
    of the rolling hash sequence, distinct + sorted = the fingerprint set.

    Takes a *materialized* hash-array column (not the raw expression) so
    the k-gram hashes are computed once per row, not once per window.
    """
    n_windows = F.size(hashes) - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), n_windows), lambda j: F.array_min(F.slice(hashes, j, w))
    )
    return F.when(n_windows < 1, F.array().cast("array<string>")).otherwise(
        F.array_sort(F.array_distinct(mins))
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Attach a ``fingerprints`` column: winnowed k-gram document sketch."""
    return df.withColumn("__kgram_hashes", char_kgram_hashes_col(F.col(text_col), k)).withColumn(
        "fingerprints", winnow_from_hashes_col(F.col("__kgram_hashes"), w)
    ).drop("__kgram_hashes")


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash fingerprint (<= 32 bits) from md5 nibbles of distinct tokens.

    For bit i, sum +1/-1 over tokens according to whether the i-th hex
    nibble of md5(token) is >= '8'; bit set iff the sum is positive.
    md5 is available and byte-identical in both Spark and DuckDB, which
    makes this near-dup fingerprint oracle-checkable. md5 has 32 hex
    nibbles, so bits <= 32.
    """
    assert 1 <= bits <= 32

    # Evaluate tokenize+distinct and the per-token md5 ONCE per row by
    # binding them through single-element transform lambdas (the
    # shingles_col idiom): as inline subtrees the distinct-token array
    # re-evaluated once per bit and md5(token) once per (token, bit) --
    # ``bits`` full tokenize passes and 16x the hashing for identical
    # output. The fold still reads a nibble per (token, bit), but from
    # the bound hex-prefix array.
    def _from_hexes(hx: Column) -> Column:
        bit_vals = [
            F.when(
                F.aggregate(
                    hx,
                    F.lit(0),
                    lambda acc, h: acc
                    + F.when(F.substring(h, i + 1, 1) >= "8", 1).otherwise(-1),
                )
                > 0,
                F.lit(1 << (bits - 1 - i)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ]
        total = bit_vals[0]
        for b in bit_vals[1:]:
            total = total + b
        return total

    hexes = F.transform(
        F.array(F.array_distinct(tokens_col(text))),
        lambda tk: F.transform(tk, lambda t: F.substring(F.md5(t), 1, bits)),
    )[0]
    return F.transform(F.array(hexes), _from_hexes)[0]


def simhash16(text: Column) -> Column:
    return simhash(text, 16)


def winnow_fingerprints_batch(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
):
    """Arrow-batched winnowing: one pass per document in a pandas UDF.

    Byte-identical to ``winnow_fingerprints`` (same k-gram md5s, same
    window-min + distinct + sort -- parity is pytest-asserted), but the
    expression tier re-slices the hash array per window under the
    interpreter while this hashes each k-gram exactly once per document.
    Narrow stage, no shuffle; scales with input partitions.
    """
    import hashlib
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("fingerprints", T.ArrayType(T.StringType()), True)]
    )

    def _winnow(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            fps = []
            for text in pdf[text_col]:
                s = text or ""
                if len(s) < k:
                    fps.append([])
                    continue
                hs = [md5(s[i : i + k].encode()).hexdigest() for i in range(len(s) - k + 1)]
                if len(hs) < w:
                    fps.append([])
                    continue
                fps.append(sorted({min(hs[j : j + w]) for j in range(len(hs) - w + 1)}))
            yield pd.DataFrame({id_col: pdf[id_col], "fingerprints": fps})

    return df.select(id_col, text_col).mapInPandas(_winnow, out_schema)


# --- PII scrubbing ------------------------------------------------------------

#: redaction patterns restricted to the Java-regex / RE2 common subset
#: (no backrefs, no lookaround) so the DuckDB oracle replays them exactly
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
)


def pii_scrub(df, text_col: str = "text"):
    """Redact PII (emails, IPv4s, international phone numbers) from a text
    column -- the compliance pass a training-data pipeline runs before any
    content leaves curation. Pure ``regexp_replace``/``regexp_count``
    expression work: narrow stage, whole-stage codegen, no Python.

    Appends per-pattern match counts (``n_email``/``n_ipv4``/``n_phone``)
    and the redacted text as ``scrubbed``. Patterns apply in declaration
    order (emails first, so an address is never half-eaten by the phone
    rule).
    """
    out = df
    scrubbed = F.col(text_col)
    for name, pattern, token in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pattern)))
        scrubbed = F.regexp_replace(scrubbed, pattern, token)
    return out.withColumn("scrubbed", scrubbed)


# --- inverted-index serving layout (sparse-retrieval analog of the IVF index)


def _term_bucket(term: "Column", n_buckets: int) -> "Column":
    """Deterministic engine-portable term bucket: md5-prefix int mod n."""
    return (
        F.conv(F.substring(F.md5(term), 1, 7), 16, 10).cast("long") % n_buckets
    )


def term_bucket_py(term: str, n_buckets: int) -> int:
    """The same bucket computed driver-side (probe planning)."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:7], 16) % n_buckets


def persist_inverted_index(
    docs, path: str, n_buckets: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Persist a BUCKET-PARTITIONED inverted index: postings (bucket,
    term, doc_id, tf) partitioned by the term's md5 bucket, plus the
    side relations BM25 serving needs (per-doc lengths, per-term doc
    frequencies, corpus stats). The sparse-retrieval twin of
    similarity.persist_ivf_index: a probe only reads the partitions its
    query terms hash into, so retrieval cost scales with |query|, not
    vocabulary -- at 100 TB the postings are the big relation and this
    partition pruning is the serving plan."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    tf = tf.localCheckpoint(eager=True)  # one derivation for all four outputs
    (
        tf.withColumn("bucket", _term_bucket(F.col("term"), n_buckets))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dl.coalesce(1).write.mode("overwrite").parquet(f"{path}/_doclens")
    tf.groupBy("term").agg(F.count("*").alias("df")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_df")
    dl.agg(
        F.sum("dl").cast("long").alias("corpus_len"),
        F.count("*").cast("long").alias("n_docs"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_stats")


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list,
    k: int = 5,
    n_buckets: int = 16,
    id_col: str = "doc_id",
):
    """BM25 top-k served from a persisted inverted index: the query's
    term buckets become a PARTITION-LEVEL predicate on the postings scan
    (only |query-term buckets| of n_buckets directories are read), then
    the same exact-rational BM25 arithmetic as the inline
    docs_bm25_topk (k1=1.2, b=0.75, micro-idf, common-denominator
    BIGINT division). ``query_terms`` is [(query_id, term), ...]."""
    from pyspark.sql import Window

    buckets = sorted({term_bucket_py(t, n_buckets) for _, t in query_terms})
    postings = spark.read.parquet(index_path).where(F.col("bucket").isin(buckets))
    qt = spark.createDataFrame(query_terms, ["query_id", "term"])
    dl = spark.read.parquet(f"{index_path}/_doclens")
    # semi-join the vocabulary-sized df relation down to the query terms
    # BEFORE broadcasting -- broadcasting the whole vocabulary would be
    # the classic 100 TB serving mistake
    dfreq = spark.read.parquet(f"{index_path}/_df").join(
        F.broadcast(qt.select("term").distinct()), "term", "left_semi"
    )
    stats = spark.read.parquet(f"{index_path}/_stats")
    scored = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_micro",
            F.floor(
                F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) * 1e6
            ).cast("long"),
        )
        .withColumn(
            "term_score",
            F.expr(
                "(idf_micro * tf * 22 * corpus_len) DIV "
                "(10 * corpus_len * tf + 3 * corpus_len + 9 * dl * n_docs)"
            ),
        )
    )
    per = scored.groupBy("query_id", id_col).agg(
        F.sum("term_score").alias("score"),
        F.count("*").alias("n_matched_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            id_col,
            "score",
            "n_matched_terms",
        )
    )
