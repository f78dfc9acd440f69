"""Text / dedup query surface over the documents corpus — the
training-data-pipeline operators (SURVEY.md §7-M3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from udacity_datalake_spark_spark.operators.text import (
    EN_STOPWORDS,
    bpe_token_estimate,
    stopword_hits,
    token_count,
    tokens,
)
from udacity_datalake_spark_spark.plans.registry import query
from udacity_datalake_spark_spark.sources.readers import read_table

# Shared oracle fragment: exact 3-gram shingle Jaccard pairs ≥ 0.6.
# (Same SQL backs q45 and q46: on this corpus MinHash-LSH recall at 16
# bands × 4 rows is 1 - (1-J⁴)¹⁶ ≈ 1-1e-18 for the planted J≈0.98 pairs,
# so the verified-LSH output equals the exact computation.)
_JACCARD_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, len(arr) - 1),
                         i -> array_to_string(arr[i:i+2], ' ')))) AS shingle
           FROM t WHERE len(arr) >= 3),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT p.d1, p.d2,
           CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
    FROM pairs p
    JOIN sz sa ON p.d1 = sa.doc_id
    JOIN sz sb ON p.d2 = sb.doc_id
    WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.6
"""


@query(
    "q40_dedup_exact",
    oracle=r"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM all_docs
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-content fingerprint hash-groupBy.  The
    corpus has no exact dups, so the query simulates a re-crawl batch
    (10% overlap union) and reports the duplicate groups the operator
    collapses — one shuffle on the 128-bit fingerprint at any scale."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.where(F.col("doc_id") % 10 == 0)
    return exact_dup_groups(docs.unionByName(recrawl), "doc_id", "text")


@query(
    "q41_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           length(text) AS n_chars,
           (length(text) - len(string_split(text, ' ')) + 1)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def q41_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats, all codegen'd array functions."""
    d = read_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(tokens("text"))).alias("n_uniq_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        ((F.length("text") - n_tok + 1) / n_tok).alias("avg_token_len"),
    )


@query(
    "q42_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ({", ".join("'" + w + "'" for w in EN_STOPWORDS)}))) AS sw_hits,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents
    )
    SELECT doc_id,
           CAST(sw_hits AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
           CASE WHEN CAST(n_uniq AS DOUBLE) / n_tokens > 0.5
                 AND CAST(sw_hits AS DOUBLE) / n_tokens < 0.4
                THEN 'good' ELSE 'low' END AS quality
    FROM t
    """,
)
def q42_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio + vocabulary diversity →
    keep/drop label (the corpus-filtering stage of a training pipeline)."""
    d = read_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    sw_ratio = stopword_hits("text").cast("double") / n_tok
    uniq_ratio = F.size(F.array_distinct(tokens("text"))).cast("double") / n_tok
    return d.select(
        "doc_id",
        sw_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        F.when((uniq_ratio > 0.5) & (sw_ratio < 0.4), "good").otherwise("low").alias("quality"),
    )


@query(
    "q43_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ({", ".join("'" + w + "'" for w in EN_STOPWORDS)}))) AS en_hits
        FROM documents
    )
    SELECT doc_id, lang, en_hits,
           CASE WHEN en_hits >= 2 THEN 'en' ELSE 'unk' END AS predicted_lang,
           CASE WHEN (CASE WHEN en_hits >= 2 THEN 'en' ELSE 'unk' END) = lang
                THEN 1 ELSE 0 END AS agrees_with_label
    FROM t
    """,
)
def q43_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic vs. the labeled lang column.
    (Real pipelines swap in an n-gram model; the Spark shape — token
    filter + conditional — is identical.)"""
    d = read_table(spark, sf_dir, "documents")
    en_hits = stopword_hits("text")
    predicted = F.when(en_hits >= 2, "en").otherwise("unk")
    return d.select(
        "doc_id",
        "lang",
        en_hits.alias("en_hits"),
        predicted.alias("predicted_lang"),
        F.when(predicted == F.col("lang"), 1).otherwise(0).alias("agrees_with_label"),
    )


@query(
    "q44_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           md5(substring(text, 1, 64)) AS prefix_hash
    FROM documents
    """,
)
def q44_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content + prefix hashes (cheap
    first-pass URL/content dedup keys)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
        F.md5(F.substring("text", 1, 64).cast("binary")).alias("prefix_hash"),
    )


@query("q45_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q45_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.6 via shingle equi-join —
    quadratic only within shared-shingle buckets, never a cross join.
    collapse_exact='auto' (round 8): duplicate-heavy corpora verify each
    distinct-text pair ONCE and fan out through group membership —
    output-invariant by construction; the gate skips the collapse on
    the ~fully-distinct driver fixture (plan unchanged there)."""
    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.6, collapse_exact="auto"
    )


@query("q46_minhash_lsh", oracle=_JACCARD_ORACLE)
def q46_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + 32-band LSH candidates (4 rows per band),
    exact-Jaccard verified — the linear-scan near-dup path for 100 TB.
    Oracle is the exact-Jaccard SQL: banding recall for the corpus's
    J≈0.98 pairs is 1-(1-J⁴)³² ≈ 1, and verification makes precision
    exact, so outputs coincide."""
    d = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.6)


@query(
    "q47_simhash",
    oracle="""
    WITH dup AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM documents a JOIN documents b
          ON a.text = b.text AND a.doc_id < b.doc_id
    )
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
           TRUE AS pairs_within_radius,
           TRUE AS pairs_canonical_distinct,
           dup.n AS n_expected_pairs,
           dup.n AS n_recovered_pairs,
           TRUE AS expected_pairs_recovered,
           TRUE AS deterministic
    FROM dup
    """,
)
def q47_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) near-dup pairs within Hamming distance 7, banded by the
    pigeonhole chunking (8 chunks × 8 bits).  Word-level near-dups vote a
    handful of bits differently, so the radius is wider than byte-level
    simhash deployments.

    Invariant-frame output (the q103 pattern — the xxhash64 bit patterns
    are Spark-specific, so the raw pair set has no SQL twin): n_docs
    pinned to the corpus count, Hamming-radius and canonical-pair
    booleans, the must-hit contract that every identical-text pair
    (identical text → identical simhash → guaranteed band collision) is
    recovered, and a two-run determinism signature.  Raw pairs via
    operators.dedup.simhash_near_pairs, whose planted-pair recall test
    (tests/test_llm_ops.py) pins the accuracy on real near-dups."""
    from udacity_datalake_spark_spark.operators.invariants import (
        hamming_pair_invariants,
    )

    d = read_table(spark, sf_dir, "documents")
    dig = d.select("doc_id", F.md5("text").alias("__dg"))
    expected = (
        dig.alias("a")
        .join(dig.alias("b"), "__dg")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    )
    return hamming_pair_invariants(
        d,
        lambda: simhash_near_pairs(d, "doc_id", "text", max_hamming=7),
        max_hamming=7,
        count_alias="n_docs",
        expected_pairs=expected,
    )


@query(
    "q59_bpe_token_estimate",
    oracle=r"""
    SELECT doc_id,
           CAST(list_sum(list_transform(
                    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
                    x -> CAST(ceil(length(x) / 7.0) AS BIGINT)))
                AS BIGINT) AS bpe_tokens,
           len(string_split(text, ' ')) AS ws_tokens
    FROM documents
    """,
)
def q59_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token estimate next to the whitespace count —
    regex piece extraction + per-piece ceil(len/7), all inside codegen
    (operators.text.bpe_token_estimate); no Python tokenizer on the scan."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bpe_token_estimate("text").alias("bpe_tokens"),
        token_count("text").alias("ws_tokens"),
    )
