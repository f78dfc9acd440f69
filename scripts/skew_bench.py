"""Skew-adversarial bench twin: the uniform synthetic corpus hides the
failure mode 100 TB production data actually has — Zipf token
distributions, duplicate-heavy spam sources, and hot join keys.  This
script regenerates the skew-sensitive tables adversarially, times the
skew-exposed headliners at two scales, and reports the same
slope-vs-10×-data measurement bench.py records on uniform data.

Skewed fixture (per scale, built in a temp dir; all other tables
symlink to the real /root/testdata sf dir):

- ``documents``: Zipf(1.4) tokens over a 2000-term vocabulary (a few
  hot shingles appear in most docs — the worst case for shingle-keyed
  candidate joins), one "spam" source holding 30% of the corpus as
  near-duplicates of 20 master docs (duplicate-heavy CC components),
  doc lengths Zipf-distributed too (one 100×-median giant).
- ``lineitem``: the real table plus one hot order inflated to ~10% of
  all rows (hot-key join fan-out for q38/q109).
- ``orders``: unchanged rows (the hot key already exists there).

Measured queries: q95/q195 (LSH dedup + curation pipelines: candidate
generation must not blow up on hot shingles), q38/q109 (salted join /
hot-key skew join: the inflated order stresses the very thing they
exist for), q45 (PPJoin prefix filter under hot shingles), q301
(impact-pruned lexical top-k under Zipf postings).

Round 5 adds the embedding path: ``embeddings`` is regenerated as a
CLUSTERED corpus with one tight mega-cluster holding 30% of vectors
(one direction cone → one LSH bucket per table, one IVF cell) — the
adversarial shape for bucketed ANN.  q48 (brute force — skew-neutral
baseline), q49 (hyperplane LSH), q56 (embedding near-dup), q60 (IVF)
are sloped on it; ``operators.similarity.lsh_bucket_stats`` plus the
``max_bucket_rows`` sub-split guard cover the blowup the slope would
expose (tests/test_llm_ops.py).

Output: one JSON line {"metric": "skew_slopes", "slopes": {...},
"flagged_ge20x": [...], "small_secs": {...}, "big_secs": {...}} —
recorded as a table in SCALE.md.

Round 8 (`--sf1`, VERDICT r7 #3): the adversarial corpus at the SECOND
decade — 50 000 skewed docs (10× the big tier), the .localdata/sf1
lineitem (6 M rows) with the same ~10% hot key, and the clustered
embedding corpus at 10× vectors for the bucket-guarded ANN paths.  Two
deliberate, logged deviations from a blind ×10:

- q56 (embedding near-dup): the mega-cluster makes the TRUE answer
  quadratic in vectors — ×10 vectors means ×100 output rows, and no
  plan outruns its own output.  The q56 tier therefore grows VECTORS
  ×√10 so the OUTPUT grows ×10 (the measured decade is the output,
  which is the scale variable of an output-bound operator); the run
  also records n_pairs per tier so sec-per-pair is visible — flat
  sec-per-pair IS the output-bound proof.
- q48 (brute-force cosine top-k) is SKIPPED at this tier and logged:
  it is the documented Θ(n²)-compute baseline (one BLAS matmul over
  all pairs); its decade is priced by the FLOP model, and the scale
  paths under guard here are q49 (LSH) and q60 (IVF).

Usage: python scripts/skew_bench.py          # sf0.01→sf0.1 decade
       python scripts/skew_bench.py --sf1    # sf0.1→sf1 decade
                                             # (needs .localdata/sf1)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np

from bench import min_time

SKEW_QUERIES = [
    "q38_salted_join",
    "q45_ngram_jaccard",
    "q95_dedup_corpus",
    "q109_hot_key_skew_join",
    "q195_curation_pipeline",
    "q301_sparse_cosine_topk",
    # embedding path (clustered + mega-cluster fixture)
    "q48_embedding_topk",
    "q49_ann_lsh",
    "q56_embedding_near_dup",
    "q60_ann_ivf",
]

VOCAB = 2000
ZIPF_A = 1.4


def _zipf_probs(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def build_skewed_documents(n_docs: int, seed: int = 7, exact_spam: bool = False):
    """Rows (doc_id, text, lang, source, n_chars) with Zipf tokens and a
    duplicate-heavy spam source.  ``exact_spam=True`` makes the spam 30%
    EXACT copies of the 20 masters — the identical-signature mega-group
    regime no hash can sub-split (the collapse_exact guard's target)."""
    rng = np.random.default_rng(seed)
    probs = _zipf_probs(VOCAB, ZIPF_A)
    vocab = np.array([f"tok{i}" for i in range(VOCAB)])
    # Zipf-distributed doc lengths: median ~60 tokens, one giant ~100×
    lengths = np.minimum((60 * rng.pareto(1.3, n_docs) + 20).astype(int), 6000)
    lengths[0] = 6000  # the planted giant
    n_spam = int(0.3 * n_docs)
    masters = [
        " ".join(rng.choice(vocab, size=int(lengths[i]), p=probs)) for i in range(20)
    ]
    rows = []
    for i in range(n_docs):
        if i < n_docs - n_spam:
            text = " ".join(rng.choice(vocab, size=int(lengths[i]), p=probs))
            source = f"src{i % 4}"
        else:
            # near-duplicate of a master: one token appended → Jaccard ≈ 1
            # (or a byte-exact copy in the exact_spam regime)
            m = masters[i % 20]
            text = m if exact_spam else m + f" tail{i % 7}"
            source = "spam"
        rows.append((i, text, "en" if i % 5 else "de", source, len(text)))
    return rows


def build_clustered_embeddings(n_vecs: int, dim: int = 64, seed: int = 11):
    """Rows (vec_id, embedding, label): 30% of vectors in ONE tight
    direction cone (sigma 0.02 — same hyperplane sign pattern, same IVF
    cell), the rest over 7 looser clusters."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((8, dim))
    centers /= np.sqrt((centers * centers).sum(axis=1, keepdims=True))
    n_mega = int(0.3 * n_vecs)
    rows = []
    for i in range(n_vecs):
        if i < n_mega:
            c, sigma = centers[0], 0.02
        else:
            c, sigma = centers[1 + i % 7], 0.3
        v = (c + sigma * rng.standard_normal(dim)).astype("float32")
        rows.append((i, [float(x) for x in v], int(i >= n_mega)))
    return rows


def build_fixture(spark, base_sf_dir: str, out_dir: str, n_docs: int) -> None:
    """Skewed documents + hot-key lineitem + clustered embeddings in
    out_dir; symlink the rest."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    docs = spark.createDataFrame(
        build_skewed_documents(n_docs),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(4).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    li = spark.read.parquet(f"{base_sf_dir}/lineitem.parquet")
    hot = li.agg(F.min("l_orderkey").alias("k")).first().k
    n = li.count()
    hot_rows = (
        li.limit(max(1, n // 200))
        .withColumn("l_orderkey", F.lit(hot).cast("long"))
        .crossJoin(spark.range(20).select(F.col("id").alias("__rep")))
        .drop("__rep")
    )  # ~10% of all rows under ONE key
    li.unionByName(hot_rows).coalesce(8).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )

    n_vecs = 4 * n_docs  # 2000 @ small, 20000 @ big — 10x like the rest
    spark.createDataFrame(
        build_clustered_embeddings(n_vecs),
        "vec_id long, embedding array<float>, label int",
    ).coalesce(4).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    for t in os.listdir(base_sf_dir):
        dst = os.path.join(out_dir, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_sf_dir, t), dst)


def dedup_secs(spark, sf_dir: str, collapse: bool) -> float:
    """Min-of-2 seconds of the q95 dedup shape (MinHash LSH pairs →
    connected components → anti-join of the losers) over
    ``sf_dir/documents.parquet``, with minhash_lsh_pairs'
    ``collapse_exact`` guard set to ``collapse``."""
    from pyspark.sql import functions as F

    from udacity_datalake_spark_spark.operators.dedup import minhash_lsh_pairs
    from udacity_datalake_spark_spark.operators.graph import connected_components

    def build():
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        edges = minhash_lsh_pairs(
            d, "doc_id", "text", n=3, threshold=0.6, collapse_exact=collapse
        )
        labels = connected_components(edges, src="d1", dst="d2")
        losers = labels.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("loser")
        )
        return d.join(
            F.broadcast(losers), F.col("doc_id") == F.col("loser"), "left_anti"
        )

    return min_time(build, 2)


def run_sf1_tier(spark, tmp: str) -> None:
    """The adversarial decade above: big (5k docs / sf0.1 facts / 20k
    vecs) → huge (50k docs / sf1 facts / guarded-ANN 200k vecs; q56 on
    a √10-vector = 10×-output corpus).  Prints one JSON line
    {"metric": "skew_slopes_sf1", ...} for the SCALE.md table."""
    from udacity_datalake_spark_spark import scratch
    from udacity_datalake_spark_spark.plans import QUERIES

    sf1_dir = os.path.join(REPO, ".localdata", "sf1")
    if not os.path.isdir(sf1_dir):
        sys.exit("--sf1 needs .localdata/sf1 — run scripts/make_sf1.py first")

    big, huge = f"{tmp}/big", f"{tmp}/huge"
    build_fixture(spark, "/root/testdata/sf0.1", big, 5000)
    build_fixture(spark, sf1_dir, huge, 50000)

    # q56's output-decade corpus: vectors ×√10 vs big → true pair count
    # (quadratic in the mega-cluster) grows ×10.  Everything else in the
    # dir symlinks to the huge fixture.
    huge_q56 = f"{tmp}/huge_q56"
    os.makedirs(huge_q56, exist_ok=True)
    n_vec_q56 = int(4 * 5000 * (10 ** 0.5))  # 20 000 × √10 ≈ 63 245
    spark.createDataFrame(
        build_clustered_embeddings(n_vec_q56),
        "vec_id long, embedding array<float>, label int",
    ).coalesce(8).write.mode("overwrite").parquet(f"{huge_q56}/embeddings.parquet")
    for t in os.listdir(huge):
        dst = os.path.join(huge_q56, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(huge, t), dst)

    corpus_queries = [
        "q38_salted_join",
        "q45_ngram_jaccard",
        "q95_dedup_corpus",
        "q109_hot_key_skew_join",
        "q148_media_phash_pairs",
        "q195_curation_pipeline",
        "q301_sparse_cosine_topk",
        "q49_ann_lsh",
        "q60_ann_ivf",
    ]
    skipped = {
        "q48_embedding_topk": "documented Θ(n²)-compute BLAS baseline; "
        "scale paths q49/q60 measured instead"
    }

    # warm-up on the big tier (same plan shapes)
    for name in corpus_queries + ["q56_embedding_near_dup"]:
        min_time(lambda: QUERIES[name](spark, big), 1)

    big_secs: dict[str, float] = {}
    huge_secs: dict[str, float] = {}
    for name in corpus_queries:
        big_secs[name] = min_time(lambda: QUERIES[name](spark, big), 2)
        huge_secs[name] = min_time(lambda: QUERIES[name](spark, huge), 2)
        print(
            f"  {name}: big {big_secs[name]}s  huge {huge_secs[name]}s  "
            f"slope {round(huge_secs[name] / big_secs[name], 2)}"
        )
        sys.stdout.flush()

    # q56: time on the output-decade corpus and record n_pairs per tier
    big_secs["q56_embedding_near_dup"] = min_time(
        lambda: QUERIES["q56_embedding_near_dup"](spark, big), 2
    )
    huge_secs["q56_embedding_near_dup"] = min_time(
        lambda: QUERIES["q56_embedding_near_dup"](spark, huge_q56), 2
    )
    pairs_big = QUERIES["q56_embedding_near_dup"](spark, big).count()
    scratch.release()
    pairs_huge = QUERIES["q56_embedding_near_dup"](spark, huge_q56).count()
    scratch.release()
    q56 = {
        "n_vecs": {"big": 20000, "huge": n_vec_q56},
        "n_pairs": {"big": pairs_big, "huge": pairs_huge},
        "sec_per_mpair": {
            "big": round(big_secs["q56_embedding_near_dup"] * 1e6 / pairs_big, 3),
            "huge": round(huge_secs["q56_embedding_near_dup"] * 1e6 / pairs_huge, 3),
        },
    }
    print(f"  q56 output-bound evidence: {q56}")

    slopes = {
        n: round(huge_secs[n] / big_secs[n], 2) if big_secs[n] > 0 else 0.0
        for n in huge_secs
    }
    print(
        json.dumps(
            {
                "metric": "skew_slopes_sf1",
                "slopes": slopes,
                "flagged_ge20x": [n for n, s in slopes.items() if s >= 20.0],
                "big_secs": big_secs,
                "huge_secs": huge_secs,
                "q56_output_bound": q56,
                "skipped": skipped,
            }
        )
    )

    # collapse_exact guard at the decade: 50k docs, 30% byte-exact
    # copies of 20 masters (750 docs/group).  Only the collapse mode
    # runs here — guard-OFF's quadratic is already priced at the big
    # tier (every identical group fans C(group,2) in EVERY band); at
    # this tier it would only re-prove the blowup more slowly.
    big_x, huge_x = f"{tmp}/big_exact", f"{tmp}/huge_exact"
    for out_dir, n_docs in ((big_x, 5000), (huge_x, 50000)):
        os.makedirs(out_dir, exist_ok=True)
        spark.createDataFrame(
            build_skewed_documents(n_docs, exact_spam=True),
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    dedup_secs(spark, big_x, collapse=True)  # warm
    s_big = dedup_secs(spark, big_x, collapse=True)
    s_huge = dedup_secs(spark, huge_x, collapse=True)
    print(
        json.dumps(
            {
                "metric": "minhash_collapse_guard_sf1",
                "big_secs": s_big,
                "huge_secs": s_huge,
                "slope": round(s_huge / s_big, 2) if s_big > 0 else 0.0,
            }
        )
    )


def run_q148_evidence(spark, tmp: str) -> None:
    """Output-bound proof for q148 at the skew sf1 decade — the q56
    pattern applied to the media-phash pair job.  The committed
    SKEW_SF1.json slope (16.3 on ×10 docs) was READ as "pair output
    grows ~×100 like q45's", but never measured: q148's registered
    query returns a 1-row invariant frame, so its output volume is
    invisible in the sweep.  This mode rebuilds the SAME seeded corpora
    (build_skewed_documents, seed 7 — byte-identical to the timing
    run's fixtures), runs the raw pair operator per tier, and records
    n_pairs + sec-per-Mpair: flat-or-falling sec-per-Mpair on a
    super-linear pair decade is the output-bound proof; rising means a
    real super-linear compute term the slope alone can't distinguish.

    Usage: python scripts/skew_bench.py --q148-evidence
    """
    from udacity_datalake_spark_spark import scratch
    from udacity_datalake_spark_spark.operators.dedup import hamming_band_pairs
    from udacity_datalake_spark_spark.operators.multimodal import (
        perceptual_hash64,
        with_binary_payload,
    )

    tiers = {"big": 5000, "huge": 50000}
    dirs: dict[str, str] = {}
    for tier, n_docs in tiers.items():
        out_dir = f"{tmp}/{tier}_q148"
        os.makedirs(out_dir, exist_ok=True)
        spark.createDataFrame(
            build_skewed_documents(n_docs),
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
        dirs[tier] = out_dir

    def pair_job(sf_dir: str):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sig = perceptual_hash64(with_binary_payload(d), id_col="doc_id")
        return hamming_band_pairs(sig, "doc_id", "phash", max_hamming=10)

    secs: dict[str, float] = {}
    n_pairs: dict[str, int] = {}
    for tier in tiers:
        # per-tier untimed warm pass (ADVICE r8): warming only 'big'
        # left the huge tier's first timed rep carrying cold-read/
        # first-plan effects, inflating raw_pair_slope — min-of-2 only
        # partially mitigated it because both reps shared the cold file
        # cache.  Now every tier's timed reps compare equally warmed.
        min_time(lambda: pair_job(dirs[tier]), 1)
        secs[tier] = min_time(lambda: pair_job(dirs[tier]), 2)
        n_pairs[tier] = pair_job(dirs[tier]).count()
        scratch.release()
    print(
        json.dumps(
            {
                "metric": "q148_output_bound",
                "n_docs": tiers,
                "raw_pair_secs": secs,
                "raw_pair_slope": round(secs["huge"] / secs["big"], 2),
                "n_pairs": n_pairs,
                "pair_growth": round(n_pairs["huge"] / max(1, n_pairs["big"]), 1),
                "sec_per_mpair": {
                    t: round(secs[t] * 1e6 / max(1, n_pairs[t]), 3) for t in tiers
                },
                "note": "raw hamming_band_pairs job only (the registered "
                "q148 adds invariant checks on top); same seeded corpora "
                "as the committed SKEW_SF1.json timings",
            }
        )
    )


def run_hot_gram_evidence(spark, tmp: str) -> None:
    """Planted mega-gram corpus for q311's hot-gram guard (round 9,
    VERDICT r8 #1): one 15-token phrase in 80% of docs makes each of
    its 8 constituent 8-grams occur in ~0.8·n_docs documents — the
    regime where the unframed Window.partitionBy('g') buffers a
    mega-gram's full occurrence list on one task.  This mode builds the
    corpus at two sizes and records, per tier: the guard's probe
    decision (must be hot=True), wall seconds of the window form vs the
    groupBy+join fallback on the SAME grams, and the hit-count equality
    (the fallback is a physical strategy, not a semantics change —
    bit-identity is test-pinned in tests/test_wave4x_ops.py).

    Usage: python scripts/skew_bench.py --hot-gram-evidence
    """
    from pyspark.sql import functions as F

    from udacity_datalake_spark_spark.plans.wave47 import (
        SPAN_W,
        _hot_gram_stats,
        _probe_hot,
        cross_doc_dup_hits,
    )

    rng = np.random.default_rng(31)
    phrase = " ".join(f"hot{j}" for j in range(15))
    tiers = {"big": 5000, "huge": 50000}
    result: dict[str, dict] = {}
    for tier, n_docs in tiers.items():
        rows = []
        for i in range(n_docs):
            filler = " ".join(f"u{i}w{j}" for j in range(40))
            if i % 5 != 0:
                text = filler + " " + phrase
            else:
                text = filler + " " + " ".join(
                    str(x) for x in rng.integers(0, 10**9, size=15)
                )
            rows.append((i, text, "en", f"s{i % 4}", len(text)))
        out_dir = f"{tmp}/{tier}_hotgram"
        os.makedirs(out_dir, exist_ok=True)
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

        def build():
            d = spark.read.parquet(f"{out_dir}/documents.parquet")
            docs = d.select(
                "doc_id", F.split("text", " ").alias("w")
            ).where(F.size("w") >= SPAN_W)
            grams = docs.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, size(w) - {SPAN_W}),"
                        f" i -> concat_ws(' ', slice(w, i + 1, {SPAN_W})))"
                    )
                ).alias("p0", "g"),
            ).select("doc_id", (F.col("p0") + 1).alias("p"), "g")
            return docs, grams

        docs, grams = build()
        mx, tot, nd = _hot_gram_stats(grams)
        forms: dict[str, float] = {}
        counts: dict[str, int] = {}
        for form, flag in (("window", False), ("groupby_join", True)):
            # one untimed warm pass per form per tier, then min-of-2
            min_time(lambda: cross_doc_dup_hits(docs, grams, hot_gram_guard=flag), 1)
            forms[form] = min_time(
                lambda: cross_doc_dup_hits(docs, grams, hot_gram_guard=flag), 2
            )
            counts[form] = cross_doc_dup_hits(
                docs, grams, hot_gram_guard=flag
            ).count()
        result[tier] = {
            "n_docs": n_docs,
            "max_gram_doc_freq": round(mx / nd, 4) if nd else 0.0,
            "guard_decision_hot": bool(_probe_hot(grams)),
            "secs": forms,
            "n_hits": counts,
            "hits_equal": counts["window"] == counts["groupby_join"],
        }
    print(json.dumps({"metric": "hot_gram_guard_evidence", "tiers": result}))


def main() -> None:
    from udacity_datalake_spark_spark.plans import QUERIES
    from udacity_datalake_spark_spark.session import get_session

    spark = get_session(app_name="skew-bench")
    tmp = tempfile.mkdtemp(prefix="skewfix-")
    if "--hot-gram-evidence" in sys.argv:
        run_hot_gram_evidence(spark, tmp)
        spark.stop()
        return
    if "--q148-evidence" in sys.argv:
        run_q148_evidence(spark, tmp)
        spark.stop()
        return
    if "--sf1" in sys.argv:
        run_sf1_tier(spark, tmp)
        spark.stop()
        return
    small, big = f"{tmp}/small", f"{tmp}/big"
    build_fixture(spark, "/root/testdata/sf0.01", small, 500)
    build_fixture(spark, "/root/testdata/sf0.1", big, 5000)

    def run(sf_dir: str) -> dict[str, float]:
        return {
            name: min_time(lambda: QUERIES[name](spark, sf_dir), 2)
            for name in SKEW_QUERIES
        }

    run(small)  # warm-up: JIT + codegen on the same plan shapes
    small_secs = run(small)
    big_secs = run(big)
    slopes = {
        n: round(big_secs[n] / small_secs[n], 2) if small_secs[n] > 0 else 0.0
        for n in SKEW_QUERIES
    }
    print(
        json.dumps(
            {
                "metric": "skew_slopes",
                "slopes": slopes,
                "flagged_ge20x": [n for n, s in slopes.items() if s >= 20.0],
                "small_secs": small_secs,
                "big_secs": big_secs,
            }
        )
    )

    # Round-6: MinHash occupancy-guard evidence on the identical-heavy
    # corpus (30% byte-exact copies of 20 masters).  Time the q95 dedup
    # shape guard-OFF vs collapse_exact at both scales: OFF fans each
    # identical group quadratically in EVERY band; collapse emits
    # linear star edges, so its slope stays ~data-linear.
    small_x, big_x = f"{tmp}/small_exact", f"{tmp}/big_exact"
    for out_dir, base, n_docs in (
        (small_x, "/root/testdata/sf0.01", 500),
        (big_x, "/root/testdata/sf0.1", 5000),
    ):
        os.makedirs(out_dir, exist_ok=True)
        spark.createDataFrame(
            build_skewed_documents(n_docs, exact_spam=True),
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(4).write.mode("overwrite").parquet(
            f"{out_dir}/documents.parquet"
        )
    guard = {}
    for mode, collapse in (("guard_off", False), ("collapse_exact", True)):
        dedup_secs(spark, small_x, collapse)  # warm
        s, b = dedup_secs(spark, small_x, collapse), dedup_secs(spark, big_x, collapse)
        guard[mode] = {
            "small_secs": s,
            "big_secs": b,
            "slope": round(b / s, 2) if s > 0 else 0.0,
        }
    print(json.dumps({"metric": "minhash_guard_identical_corpus", **guard}))
    spark.stop()


if __name__ == "__main__":
    main()
