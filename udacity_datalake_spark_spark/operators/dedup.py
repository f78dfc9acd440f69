"""Deduplication family for training-data pipelines, smallest-shuffle-first:

- exact:   hash-groupBy on a normalized-content fingerprint (one shuffle)
- n-gram Jaccard: shingle-join — exact near-dup, quadratic only within
  shared-shingle buckets
- MinHash+LSH: signature → bands → bucket-join candidates → exact-Jaccard
  verify; the 100 TB near-dup path (candidate generation is linear in
  corpus size, the verify join touches only candidates)
- SimHash: 64-bit bit-majority fingerprint; near-dups differ in few bits

All deterministic: hash functions are seeded ``xxhash64(lit(seed), col)``;
no RNG at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.operators.text import (
    content_fingerprint,
    explode_shingles,
    shingles,
    spread,
    tokens,
)
from udacity_datalake_spark_spark.scratch import spersist

MINHASH_K = 128  # signature length
#: MinHash hash-scheme version (ADVICE r11): round 11 moved to the
#: one-hash construction (h = xxhash64(shingle); h_i = xxhash64(i, h)).
#: Any persisted LSH index (the materialized banded table described in
#: ``incremental_lsh_probe``) built under a DIFFERENT scheme version
#: produces zero collisions against fresh signatures — silently missed
#: near-dups, no error — so deployments must stamp their indexes with
#: this constant and invalidate on mismatch.  Bump it whenever the
#: signature derivation (``_signature_agg``) or the band key
#: (``_band_keys``) changes.  In-repo paths always recompute both
#: sides, so they are scheme-agnostic.
MINHASH_SCHEME = 2
# 32 bands × 4 rows: a pair at exactly J=0.6 collides in ≥1 band with
# probability 1−(1−0.6⁴)³² ≈ 0.988 (16 bands gave only ≈0.89); pairs above
# the threshold do better.  Recall is deterministic per dataset (seeded
# hashes) and complete on the corpus fixture (asserted vs the exact path);
# when guaranteed-exact output is required, ngram_jaccard_pairs is the
# prefix-filtered exact path with the same output contract.
MINHASH_BANDS = 32


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per normalized-content fingerprint (smallest id wins —
    deterministic, unlike dropDuplicates' arbitrary survivor)."""
    fp = content_fingerprint(text_col).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate groups: fingerprint, surviving id, copy count (>1 only)."""
    return (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def ngram_jaccard_components(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Candidate pairs with their exact integer Jaccard components —
    (d1, d2, __sz1, __sz2, __inter) for every prefix-filter candidate at
    ``threshold`` — BEFORE the admission filter.  ``ngram_jaccard_pairs``
    applies the float Jaccard cut on top; callers that sweep multiple
    cutoffs (q341) or need integer cross-multiplied admission use the
    components directly (one candidate pass, any number of cuts ≥ the
    generation threshold).

    Exact n-gram Jaccard near-dup candidates via prefix filtering
    (AllPairs / PPJoin candidate generation).

    A naive shingle self-join materializes Σ_s cnt(s)² pair-rows — at a
    repetitive corpus the common shingles make that quadratic in corpus
    size.  Prefix filtering restores near-linear cost while staying
    EXACT:

    1. order each doc's shingle set by global rarity (document frequency
       asc, shingle asc — one canonical order for the whole corpus);
    2. a pair with J ≥ t must share a shingle within each doc's first
       ``sz − ⌈t·sz⌉ + 1`` shingles of that order (if all shared shingles
       sat in the suffix, the intersection would be ≤ ⌈t·sz⌉ − 1 < t·sz ≤
       |x∩y| — contradiction), so the candidate join runs on PREFIX rows
       only, concentrating on rare shingles where cnt(s) is small;
    3. exact intersection counts are then computed ONLY for candidate
       pairs, and the exact Jaccard test remains the sole admission
       criterion — the rewrite changes cost, never results.

    The per-doc shingle ARRAY is the unit of state: sizes ride along with
    the exploded rows (no size-lookup join), and the verify step joins the
    candidate pairs back to two array columns and counts the true
    intersection with ``array_intersect`` inside codegen — no second
    exploded shuffle.
    """
    arrs = (
        spread(df)
        .where(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col), shingles(text_col, n).alias("__arr"))
        .withColumn("__sz", F.size("__arr"))
        .transform(spersist)
    )
    # candidate generation runs on 64-bit token hashes, not shingle
    # strings — int64 exchanges instead of string exchanges.  A collision
    # only merges two rarity buckets (slightly longer prefixes, a few
    # extra candidates); the verify below intersects the TRUE string
    # arrays, so collisions can never change the result set.
    sh = arrs.select(id_col, "__sz", F.explode("__arr").alias("__shingle")).select(
        id_col, "__sz", F.xxhash64(F.lit(7), F.col("__shingle")).alias("__tok")
    )

    # global document frequency = the canonical rarity order
    dfreq = sh.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "__tok")
    # prefix length sz − ⌈t·sz⌉ + 1; the ε keeps float ceil from rounding
    # UP past an exact boundary (that would shorten the prefix — unsafe;
    # a longer prefix only adds candidates)
    pref_len = F.col("__sz") - F.ceil(F.col("__sz") * threshold - 1e-9) + 1
    prefix = (
        sh.join(dfreq, "__tok")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= pref_len)
        .select(F.col(id_col), "__tok", "__sz")
    )

    # size-band prune: J ≥ t needs inter ≤ min(sz1,sz2) and inter ≥
    # t·(sz1+sz2)/(1+t); pairs violating min·(1+t) ≥ t·(sz1+sz2) can
    # never qualify (ε guards exact-boundary float rounding)
    band = F.least("__sz1", "__sz2") * (1 + threshold) >= (
        (F.col("__sz1") + F.col("__sz2")) * threshold - F.lit(1e-9)
    )
    a = prefix.select(F.col(id_col).alias("d1"), F.col("__sz").alias("__sz1"), "__tok")
    b = prefix.select(F.col(id_col).alias("d2"), F.col("__sz").alias("__sz2"), "__tok")
    cand = (
        a.join(b, ["__tok"])
        .where((F.col("d1") < F.col("d2")) & band)
        .select("d1", "d2", "__sz1", "__sz2")
        .distinct()
    )

    # exact verify on candidates only: two equi-joins pull in the shingle
    # arrays, array_intersect counts true overlap — all codegen, no
    # exploded aggregate
    return (
        cand.join(arrs.select(F.col(id_col).alias("d1"), F.col("__arr").alias("__a1")), "d1")
        .join(arrs.select(F.col(id_col).alias("d2"), F.col("__arr").alias("__a2")), "d2")
        .select(
            "d1",
            "d2",
            "__sz1",
            "__sz2",
            F.size(F.array_intersect("__a1", "__a2")).alias("__inter"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    collapse_exact: bool | str = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (d1 < d2, jaccard ≥ threshold):
    ``ngram_jaccard_components`` candidates with the exact Jaccard test as
    the sole admission criterion — the prefix-filter rewrite changes
    cost, never results.

    ``collapse_exact`` (round 8 — the q45 twin of ``minhash_lsh_pairs``'s
    guard, SKEW_SF1.json): Jaccard depends ONLY on the shingle set, so
    byte-identical texts are interchangeable — on a duplicate-heavy
    corpus the verify stage burns its time re-intersecting the SAME two
    arrays |g1|·|g2| times (the sf1 skew tier measured 463 s at 50 k
    docs whose 30% spam held only 140 distinct texts).  With the guard
    on, the PPJoin candidate+verify pipeline runs over DISTINCT texts
    only (min-id representative per md5 group), then the admitted rep
    pairs fan back out through group membership (cross-group products +
    intra-group all-pairs at jaccard 1.0).  Unlike the minhash star
    collapse this expansion reproduces the EXACT pair set — the q45
    contract — so it is output-invariant, not just
    component-invariant (test-pinned bit-identical).  ``"auto"``
    measures the identical-text share with the same single bounded agg
    as the minhash guard and collapses at ≥ 5%; the 99.8%-distinct
    driver fixture skips it, so registered plans are unchanged.

    Cache note: when the collapse is enabled the fingerprint pass stays
    persisted for the life of the returned frame (rep base + both
    expansions consume it lazily); tracked in the package scratch pool
    (``udacity_datalake_spark_spark.scratch``, round 11) — released on
    entry to the next registered query, or explicitly via
    ``scratch.release()``; same scoping as ``minhash_lsh_pairs``."""
    if collapse_exact == "auto":
        n_rows, n_uniq = df.agg(
            F.count(F.lit(1)), F.approx_count_distinct(F.col(text_col))
        ).first()
        collapse_exact = n_rows > 0 and (n_rows - n_uniq) >= 0.05 * n_rows
    if not collapse_exact:
        comp = ngram_jaccard_components(df, id_col, text_col, n, threshold)
        jac = F.col("__inter").cast("double") / (
            F.col("__sz1") + F.col("__sz2") - F.col("__inter")
        )
        return comp.select("d1", "d2", jac.alias("jaccard")).where(
            F.col("jaccard") >= threshold
        )

    # one fingerprint pass, one shuffle (window on the md5 group): rep =
    # min id per identical text, restricted to shingle-eligible docs so
    # group membership matches exactly what the base path would verify
    w_rep = F.min(id_col).over(Window.partitionBy("__fp"))
    tagged = (
        spread(df)
        .where(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("__fp"))
        .select(F.col(id_col), F.col(text_col), w_rep.alias("__rep"))
        .transform(spersist)
    )
    reps = tagged.where(F.col(id_col) == F.col("__rep")).select(id_col, text_col)
    rep_pairs = ngram_jaccard_pairs(
        reps, id_col, text_col, n, threshold, collapse_exact=False
    )
    members = tagged.select(F.col("__rep"), F.col(id_col).alias("__member"))

    # cross-group expansion: every admitted rep pair holds for every
    # (member of g1) × (member of g2); re-order ids after the fan-out
    # (jaccard is symmetric, so only the (d1 < d2) convention moves)
    m1 = members.select(F.col("__rep").alias("d1"), F.col("__member").alias("__i"))
    m2 = members.select(F.col("__rep").alias("d2"), F.col("__member").alias("__j"))
    cross = (
        rep_pairs.join(m1, "d1")
        .join(m2, "d2")
        .select(
            F.least("__i", "__j").alias("d1"),
            F.greatest("__i", "__j").alias("d2"),
            "jaccard",
        )
    )
    # intra-group expansion: identical texts ⇒ jaccard exactly 1.0
    g2 = members.select(
        F.col("__rep").alias("__rep2"), F.col("__member").alias("__j")
    )
    intra = (
        members.join(
            g2,
            (F.col("__rep") == F.col("__rep2"))
            & (F.col("__member") < F.col("__j")),
        )
        .select(
            F.col("__member").alias("d1"),
            F.col("__j").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def shingle_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold_permille: int = 900
) -> DataFrame:
    """Asymmetric containment pairs: (small, big, containment, jaccard)
    where C(small→big) = |S∩B| / |S| ≥ threshold and |S| ≤ |B| — the
    quote/aggregator detector.  A doc whose shingles live almost
    entirely inside a LARGER doc is invisible to symmetric Jaccard
    (J ≈ |S|/|B| can be tiny), which is exactly how quoted articles and
    scraped aggregations evade near-dup removal.

    Prefix filter, containment flavor (ngram_jaccard_pairs's machinery
    with the asymmetric bound): a qualifying pair must share a shingle
    within the SMALL doc's first ``⌊(1−t)·sz⌋ + 1`` rarest shingles —
    if every shared shingle sat beyond that prefix, the intersection
    would be ≤ sz − (⌊(1−t)·sz⌋+1) < t·sz.  Only the small side prunes
    (the big side must stay fully probeable), orientation is
    (size, id)-lexicographic so each unordered pair is generated once,
    and the exact verify intersects the true shingle arrays in codegen
    — candidates only, never all pairs.  The admission test is exact
    integer cross-multiplication (inter·1000 ≥ t‰·sz) — a float
    threshold times an int size rounds wrong on exact boundaries."""
    t = threshold_permille
    arrs = (
        spread(df)
        .where(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col), shingles(text_col, n).alias("__arr"))
        .withColumn("__sz", F.size("__arr"))
        .transform(spersist)
    )
    sh = arrs.select(id_col, "__sz", F.explode("__arr").alias("__shingle")).select(
        id_col, "__sz", F.xxhash64(F.lit(7), F.col("__shingle")).alias("__tok")
    )
    dfreq = sh.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "__tok")
    # ⌊(1000−t)·sz/1000⌋ + 1 in pure integer arithmetic
    pref_len = ((F.col("__sz") * (1000 - t)) / 1000).cast("long") + 1
    small = (
        sh.join(dfreq, "__tok")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= pref_len)
        .select(F.col(id_col).alias("d_small"), F.col("__sz").alias("__szs"), "__tok")
    )
    big = sh.select(
        F.col(id_col).alias("d_big"), F.col("__sz").alias("__szb"), "__tok"
    )
    oriented = (F.col("__szs") < F.col("__szb")) | (
        (F.col("__szs") == F.col("__szb")) & (F.col("d_small") < F.col("d_big"))
    )
    cand = (
        small.join(big, "__tok")
        .where(oriented)
        .select("d_small", "d_big", "__szs", "__szb")
        .distinct()
    )
    inter = F.size(F.array_intersect("__a1", "__a2"))
    return (
        cand.join(
            arrs.select(F.col(id_col).alias("d_small"), F.col("__arr").alias("__a1")),
            "d_small",
        )
        .join(
            arrs.select(F.col(id_col).alias("d_big"), F.col("__arr").alias("__a2")),
            "d_big",
        )
        .select("d_small", "d_big", "__szs", "__szb", inter.alias("__inter"))
        .where(F.col("__inter") * 1000 >= t * F.col("__szs"))
        .select(
            "d_small",
            "d_big",
            F.round(F.col("__inter") / F.col("__szs").cast("double"), 6).alias(
                "containment"
            ),
            F.round(
                F.col("__inter")
                / (F.col("__szs") + F.col("__szb") - F.col("__inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _signature_agg(hashed: DataFrame, id_col: str, k: int) -> DataFrame:
    """The one place the MinHash signature lives (ADVICE r11): k-permutation
    signature aggregation over ``(id, __sh)`` rows, where ``__sh`` is the
    64-bit ``xxhash64(shingle)`` of each distinct shingle.  Permutation i
    is ``xxhash64(i, __sh)`` — the one-hash construction
    (MINHASH_SCHEME=2).  Both ``minhash_signatures`` (which feeds
    ``_banded``/``incremental_lsh_probe``/``minhash_band_stats``) and
    ``minhash_lsh_pairs`` (which aggregates from its persisted shingle
    arrays) call this, so a future scheme change cannot desynchronize
    banding between the index builders and the probe path.

    Returns ``(id, __sig)``: the k minima as one ``array<bigint>``, from
    ONE SQL expression — one py4j call instead of k ``F.*`` Column chains,
    still planned as a codegen'd hash aggregate.  (A lambda form,
    ``transform(sequence(0, k-1), …)``, is interpreted, hence slower.)"""
    mins = ", ".join(f"min(xxhash64({i}, __sh))" for i in range(k))
    return hashed.groupBy(id_col).agg(F.expr(f"array({mins})").alias("__sig"))


def _band_keys(k: int, bands: int) -> Column:
    """The one place the LSH band key lives: an ``array<bigint>`` of
    ``bands`` keys over a ``__sig`` column, band b's key being
    ``xxhash64(b, __sig[b·r], …, __sig[b·r + r − 1])`` with r = k/bands
    rows per band.  One SQL expression, like the signature; callers
    ``posexplode`` it into ``(__band_idx, __band_hash)`` rows."""
    rows = k // bands
    keys = ", ".join(
        "xxhash64({}, {})".format(
            b, ", ".join(f"__sig[{b * rows + r}]" for r in range(rows))
        )
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """k-permutation MinHash signature per document: one exploded-shingle
    aggregation computing all k mins at once (single shuffle on id).

    Hash scheme (round 11, guide §1.2 per-task work): the shingle STRING
    is hashed exactly once (``xxhash64(shingle)``) and the k permutation
    values derive from that 8-byte value (``xxhash64(i, h)``) — the
    classic one-hash MinHash construction (Broder; same family as
    Dahlgaard et al.'s fast similarity sketching).  The prior form
    re-hashed the full string k times (``xxhash64(i, shingle)``), i.e.
    k passes over every shingle's bytes; deriving from the 64-bit value
    keeps the same independent-permutation semantics at 1/k of the
    string-hash work — measured 1.15 s → 0.75 s for the signature stage
    on the sf0.1 corpus, and the saving is per-shingle compute, so it
    scales with corpus bytes.  Downstream consumers only ever use
    signatures for banding; every registered output is exact-verified
    after candidate generation, and band recall on the fixtures is
    re-proven by the oracle parity suite (q46/q95/q195/q325 MATCH).
    Returns ``(id, __sig)`` (see ``_signature_agg``)."""
    sh = explode_shingles(df, id_col, text_col, n)
    hashed = sh.select(F.col(id_col), F.xxhash64(F.col("shingle")).alias("__sh"))
    return _signature_agg(hashed, id_col, k)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    collapse_exact: bool | str = False,
    max_bucket_rows: int | None = None,
    sub_buckets: int = 64,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Candidates: documents agreeing on any full band (rows = k/bands hash
    values).  Verification re-computes exact n-gram Jaccard only on the
    candidate set, so the output is deterministic and identical to
    ``ngram_jaccard_pairs`` whenever LSH recall is complete.

    Two occupancy guards for the adversarial 100 TB regimes (both off by
    default — the exact-banding semantics the oracle-checked queries
    pin):

    - ``collapse_exact``: identical-text documents share their FULL
      signature, so no hash can sub-split them and a 30%-identical
      corpus fans one band bucket into (0.3n)² candidates.  This guard
      collapses each exact-dup group (md5 of the text, shingle-eligible
      docs only) to its min-id representative BEFORE banding, runs LSH
      on unique texts, and emits (rep, member, 1.0) STAR edges for the
      group — O(n) rows that preserve connected components exactly
      (members are shingle-identical to their rep, so every cross edge
      the member had, the rep has).  Component-level consumers (q95/
      q195 dedup survivors) are invariant; the raw pair SET is not
      (cross-group pairs surface once at rep level, not |g1|·|g2|
      times).
    - ``max_bucket_rows``: buckets of DISTINCT signatures above the cap
      (near-identical boilerplate — licenses with timestamps, templated
      spam) are sub-split by a SIMILARITY-SENSITIVE per-band secondary:
      the first minhash row of the NEXT band.  Two docs agree on that
      position with probability J, so a J≈0.95 boilerplate pair stays
      together in most sub-splits while unrelated pile-ups scatter; a
      pair split apart in one band still collides in other bands (each
      band uses a different secondary position) — the same
      graceful-degradation contract as the embedding path's
      ``_lsh_near_dup_pairs`` cap, but minhash-native (a hash of the
      signature would be similarity-blind and cut J<1 recall hard).
      Identical signatures always share every position, so exact-dup
      recall is never cut (their blowup is ``collapse_exact``'s job).
      ``sub_buckets`` coarsens the secondary via pmod to bound the
      sub-bucket key space.

    ``collapse_exact="auto"`` (round 7, VERDICT r6 #4): measure the
    identical-text share with ONE bounded gate action — a single agg of
    ``count`` + ``approx_count_distinct(text)`` over the corpus scan
    (no md5, no window, no persist) — and enable the star collapse when
    the duplicate share is ≥ 5% (the regime the guard was built for).
    On the 99.8%-distinct fixture the gate measures ~0 share and skips
    the collapse, so the +15% always-on overhead never applies; a 30%-
    identical crawl (the EXPECTED case at 100 TB) routes through the
    collapse with byte-identical dedup survivors
    (tests/test_llm_ops.py::test_minhash_auto_collapse_gate).

    Cache note: when the collapse is enabled, the fingerprint pass
    (``tagged``) stays persisted for the life of the returned frame —
    the star expansion and the rep-only base both consume it lazily, so
    it cannot be unpersisted before return (round-6 ADVICE).  Scoped
    like ``_lsh_near_dup_pairs``: tracked in the package scratch pool
    (round 11) — released on entry to the next registered query or via
    ``scratch.release()``; library callers holding the frame past that
    point just recompute lineage on the next action.
    """
    rows_per_band = k // bands
    if collapse_exact == "auto":
        n_rows, n_uniq = df.agg(
            F.count(F.lit(1)), F.approx_count_distinct(F.col(text_col))
        ).first()
        collapse_exact = n_rows > 0 and (n_rows - n_uniq) >= 0.05 * n_rows
    star = None
    base = df
    if collapse_exact:
        # ONE corpus fingerprint pass with a single shuffle (window on
        # the md5 group), persisted: the rep tag feeds both the star
        # expansion and the rep-only base — carrying the text through
        # means NO join is needed to rebuild the collapsed corpus
        w_rep = F.min(id_col).over(Window.partitionBy("__fp"))
        tagged = (
            spread(df)
            .where(F.size(tokens(text_col)) >= n)
            .select(
                F.col(id_col),
                F.col(text_col),
                F.md5(F.col(text_col)).alias("__fp"),
            )
            .select(F.col(id_col), F.col(text_col), w_rep.alias("__rep"))
            .transform(spersist)
        )
        star = (
            tagged.where(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("d1"),
                F.col(id_col).alias("d2"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        base = tagged.where(F.col(id_col) == F.col("__rep")).select(
            id_col, text_col
        )
    # ONE corpus shingle pass (round 11): the per-doc shingle ARRAYS the
    # exact-Jaccard verify needs are computed (and persisted) up front,
    # and the signature aggregation explodes THOSE instead of
    # re-tokenizing the corpus — the same share the containment operator
    # already used.  Shingling is the CPU-dominant stage of every dedup
    # path (explode_shingles docstring), so this halves the per-corpus
    # transform work; shingle strings are identical, so signatures and
    # all downstream results are byte-unchanged.
    arrs = (
        spread(base)
        .where(F.size(tokens(text_col)) >= n)
        .select(F.col(id_col), shingles(text_col, n).alias("__arr"))
        .withColumn("__sz", F.size("__arr"))
        .transform(spersist)  # feeds the signature pass AND both verify joins
    )
    hashed = arrs.select(F.col(id_col), F.explode("__arr").alias("shingle")).select(
        F.col(id_col), F.xxhash64(F.col("shingle")).alias("__sh")
    )
    sig = _signature_agg(hashed, id_col, k)
    # stack bands into rows — ONE self-equi-join on (band_idx, band_hash)
    # instead of `bands` separate joins each recomputing the signature plan
    if max_bucket_rows is not None:
        # per-band secondary = first minhash row of the NEXT band,
        # zipped in so the explode carries exactly one extra long
        secondary = ", ".join(
            f"__sig[{((b + 1) % bands) * rows_per_band}]" for b in range(bands)
        )
        banded = sig.select(
            F.col(id_col),
            F.posexplode(
                F.arrays_zip(_band_keys(k, bands), F.expr(f"array({secondary})"))
            ).alias("__band_idx", "__z"),
        ).select(
            id_col,
            "__band_idx",
            F.col("__z.0").alias("__band_hash"),
            F.pmod(F.col("__z.1"), F.lit(sub_buckets)).alias("__sec"),
        ).transform(spersist)
        sizes = banded.groupBy("__band_idx", "__band_hash").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        # bucket-count-sized join (NOT broadcast: bucket cardinality is
        # corpus-scale); co-partitioned with the candidate self-join below
        banded = banded.join(sizes, ["__band_idx", "__band_hash"]).select(
            id_col,
            "__band_idx",
            "__band_hash",
            F.when(F.col("__bn") > max_bucket_rows, F.col("__sec"))
            .otherwise(F.lit(-1))
            .alias("__sub"),
        )
        bucket_keys = ["__band_idx", "__band_hash", "__sub"]
    else:
        # single consumer since the bucket-local rewrite below — no persist
        banded = _banded(sig, id_col, k, bands)
        bucket_keys = ["__band_idx", "__band_hash"]
    # Bucket-local pair generation (round 12, guide §2.4/§1.2): group the
    # banded rows ONCE on the bucket key and emit each bucket's ordered id
    # pairs directly from the sorted in-bucket array (posexplode picks d1,
    # slice+explode yields every LATER element as d2 — each unordered pair
    # exactly once per colliding bucket, d1 < d2 by the sort).  This
    # replaces the banded self-join: the join exchanged the (persisted)
    # banded frame on the same bucket key for BOTH inputs, ran m² rows per
    # bucket through join machinery, then discarded half on d1 < d2; the
    # groupBy spends the identical exchange once, drops the ~singleton
    # buckets (the vast majority) before any pair exists, and generates
    # only the m·(m−1)/2 surviving combinations inside codegen.  Candidate
    # SET unchanged — order/multiplicity are absorbed by the distinct()
    # exactly as before.  A pathological hot bucket is a quadratic pair
    # bomb under EITHER form; ``max_bucket_rows`` (whose __sub key lands
    # in ``bucket_keys`` and therefore bounds the collected array too) is
    # the documented mitigation at adversarial scale.
    buckets = (
        banded.groupBy(*bucket_keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    candidates = (
        buckets.select("__ids", F.posexplode("__ids").alias("__i", "d1"))
        .select(
            "d1",
            F.explode(
                F.slice("__ids", F.col("__i") + 2, F.size("__ids"))
            ).alias("d2"),
        )
        .distinct()
    )

    # exact-Jaccard verification restricted to the candidate set, same
    # array-side verify as ngram_jaccard_pairs: two equi-joins pull the
    # per-doc shingle ARRAYS (the persisted ``arrs`` frame the signature
    # pass already materialized) onto each candidate pair and
    # ``array_intersect`` counts true overlap inside codegen — no second
    # exploded string-keyed shuffle (the exchange carries one array per
    # doc, and only for docs that appear in a candidate pair)
    jac = F.col("__inter").cast("double") / (F.col("__sz1") + F.col("__sz2") - F.col("__inter"))
    verified = (
        candidates.join(
            arrs.select(F.col(id_col).alias("d1"), F.col("__arr").alias("__a1"),
                        F.col("__sz").alias("__sz1")),
            "d1",
        )
        .join(
            arrs.select(F.col(id_col).alias("d2"), F.col("__arr").alias("__a2"),
                        F.col("__sz").alias("__sz2")),
            "d2",
        )
        .select(
            "d1", "d2", "__sz1", "__sz2",
            F.size(F.array_intersect("__a1", "__a2")).alias("__inter"),
        )
        .select("d1", "d2", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.unionByName(star) if star is not None else verified


def minhash_band_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Per-band bucket-occupancy diagnostic for the MinHash LSH index:
    (band, max_bucket, n_buckets, candidate_pairs) where candidate_pairs
    = Σ C(size, 2) over the band's buckets — the exact self-join fan-out
    the band would contribute.  The MinHash twin of the embedding path's
    ``lsh_bucket_stats``: a 30%-identical corpus shows up as max_bucket
    ≈ 0.3·n with quadratic candidate_pairs, the alert a 100 TB dedup
    deployment fires BEFORE running the candidate join (then mitigates
    with ``collapse_exact`` / ``max_bucket_rows``)."""
    sig = minhash_signatures(df, id_col, text_col, n, k)
    banded = _banded(sig, id_col, k, bands)
    per_bucket = banded.groupBy("__band_idx", "__band_hash").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return per_bucket.groupBy(F.col("__band_idx").alias("band")).agg(
        F.max("__n").cast("long").alias("max_bucket"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum((F.col("__n") * (F.col("__n") - 1) / 2).cast("long"))
        .cast("long")
        .alias("candidate_pairs"),
    )


def _banded(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """Stack a ``(id, __sig)`` signature frame into (id, band_idx,
    band_hash) rows — the LSH index layout (one row per band per doc)."""
    return sig.select(
        F.col(id_col),
        F.posexplode(_band_keys(k, bands)).alias("__band_idx", "__band_hash"),
    )


def incremental_lsh_probe(
    base: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Incremental near-dup detection: probe a NEW document batch against
    the BASE corpus's LSH index without re-pairing the base — the nightly
    ingest shape at 100 TB, where the base banded frame is a materialized
    bucketed table (bucketed on band_hash) and only the new batch is
    signed, banded, and joined.  Candidates are (new, base) band
    collisions only — no base×base and no new×new pairs — verified with
    the same exact-Jaccard array kernel as ``minhash_lsh_pairs``.

    Returns (new_id, base_id, jaccard) pairs with jaccard ≥ threshold.
    q182 is the exact-fingerprint incremental twin; this is the NEAR-dup
    one."""
    new_b = _banded(minhash_signatures(new, id_col, text_col, n, k), id_col, k, bands)
    base_b = _banded(minhash_signatures(base, id_col, text_col, n, k), id_col, k, bands)
    candidates = (
        new_b.select(F.col(id_col).alias("new_id"), "__band_idx", "__band_hash")
        .join(
            base_b.select(F.col(id_col).alias("base_id"), "__band_idx", "__band_hash"),
            ["__band_idx", "__band_hash"],
        )
        .select("new_id", "base_id")
        .distinct()
    )

    def arrs(side: DataFrame, out_id: str, arr: str, sz: str) -> DataFrame:
        return (
            spread(side)
            .where(F.size(tokens(text_col)) >= n)
            .select(
                F.col(id_col).alias(out_id),
                shingles(text_col, n).alias(arr),
            )
            .withColumn(sz, F.size(arr))
        )

    jac = F.col("__inter").cast("double") / (
        F.col("__sz1") + F.col("__sz2") - F.col("__inter")
    )
    return (
        candidates.join(arrs(new, "new_id", "__a1", "__sz1"), "new_id")
        .join(arrs(base, "base_id", "__a2", "__sz2"), "base_id")
        .select(
            "new_id",
            "base_id",
            "__sz1",
            "__sz2",
            F.size(F.array_intersect("__a1", "__a2")).alias("__inter"),
        )
        .select("new_id", "base_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: token-hash bit-majority vote.

    Exploded-token aggregation with 64 conditional sums (one shuffle);
    near-duplicate texts land within a few bits of Hamming distance.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    h = F.xxhash64(F.col("__tok"))
    votes = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
            f"__b{i}"
        )
        for i in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"__b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR == +
    return agg.select(F.col(id_col), sim.alias("simhash"))


def hamming_band_pairs(
    sig: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs within a Hamming radius over ANY 64-bit signature
    column (SimHash, perceptual hash, …), banded for scale: split the
    hash into (max_hamming+1) chunks — a pair within the radius must
    agree exactly on at least one chunk (pigeonhole), so candidates come
    from equi-joins on chunks, never a cross join.

    Round-7 scale rework (the sf1 tier caught the old shape at ~300 s on
    50 k docs; now ~15 s):

    * **Band over DISTINCT signatures when they collapse.**  Signature
      columns can collapse hard (the sf1 corpus has 12.8 k distinct
      phashes across 50 k docs — text-derived payloads are identical
      across exact-dup docs), and identical signatures can never be
      band-separated, so banding rows squares the redundancy: candidate
      volume fell 15× by joining unique signatures and expanding id
      pairs afterwards from the (bounded) matched-signature frame.
      Gated on the MEASURED collapse ratio (one agg on the persisted
      projection, approx_count_distinct for the gate scalar): on a
      low-collapse corpus (sf1 simhash: 49.6 k distinct of 50 k) the
      extra distinct + two expansion joins are pure overhead (+3×
      measured), so rows are banded directly there — the round-6
      measure-before-gating lesson applied.
    * **Unequal chunk widths so ALL 64 bits participate** — the old
      uniform 64//chunks width left 64 % chunks high bits out of every
      band; at radius 10 that meant 11 five-bit bands ignoring 9 bits
      (32-bucket bands → ~n²·chunks/32 candidates).  The first
      ``64 % chunks`` chunks get one extra bit; the pigeonhole guarantee
      (≤ radius differing bits over radius+1 chunks ⇒ ≥1 chunk agrees
      exactly) is width-agnostic.
    * **Exact-distance filter BEFORE the pair distinct** — hamming is a
      function of the signature pair, so filtering first is equivalent
      but runs map-side in the join output stage; the distinct then
      shuffles only within-radius signature pairs, never raw band
      collisions.

    Cache note: one internal ``persist`` on the (id, hash) projection —
    the signature lineage (often an Arrow-batched media decode) feeds
    the gate action plus the band/expansion joins, and would otherwise
    be recomputed per consumer.  Scoped like ``_lsh_near_dup_pairs``:
    tracked in the package scratch pool (round 11), released on entry to
    the next registered query or via ``scratch.release()``.
    Not fully lazy: one bounded gate action (count + approx-distinct on
    8-byte signatures) runs at build time to pick the regime.
    """
    sigp = sig.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
    ).transform(spersist)
    # gate scalars in ONE action on the frame we must materialize anyway
    # (approx_count_distinct, not count_distinct — an exact distinct pair
    # in one agg plans an Expand; the gate only needs the decade)
    n_rows, n_uniq = sigp.agg(
        F.count(F.lit(1)), F.approx_count_distinct("__h")
    ).first()

    chunks = max_hamming + 1
    base = 64 // chunks
    extra = 64 - base * chunks
    widths = [base + 1] * extra + [base] * (chunks - extra)
    offsets = [sum(widths[:i]) for i in range(chunks)]

    def chunk_arr() -> object:
        return F.array(
            *[
                F.shiftright(F.col("__h"), off).bitwiseAND(F.lit((1 << w) - 1))
                for off, w in zip(offsets, widths)
            ]
        )

    hamming = F.bit_count(F.col("__s1").bitwiseXOR(F.col("__s2")))

    if n_uniq >= 0.67 * n_rows:
        # low-collapse regime: band rows directly — the distinct +
        # expansion joins cost more than they save (measured 3× on the
        # 99%-distinct sf1 simhash corpus)
        stacked = sigp.select(
            "__id", "__h", F.posexplode(chunk_arr()).alias("__ci", "__ck")
        )
        l = stacked.select(
            F.col("__id").alias("d1"), F.col("__h").alias("__s1"), "__ci", "__ck"
        )
        r = stacked.select(
            F.col("__id").alias("d2"), F.col("__h").alias("__s2"), "__ci", "__ck"
        )
        return (
            l.join(r, ["__ci", "__ck"])
            .where(F.col("d1") < F.col("d2"))
            .where(hamming <= max_hamming)
            .select("d1", "d2", hamming.alias("hamming"))
            .distinct()
        )

    # high-collapse regime: band over distinct signatures, expand after
    uniq = sigp.select("__h").distinct()
    stacked = uniq.select(F.col("__h"), F.posexplode(chunk_arr()).alias("__ci", "__ck"))
    l = stacked.select(F.col("__h").alias("__s1"), "__ci", "__ck")
    r = stacked.select(F.col("__h").alias("__s2"), "__ci", "__ck")
    sig_pairs = (
        l.join(r, ["__ci", "__ck"])
        .where(F.col("__s1") < F.col("__s2"))
        .where(hamming <= max_hamming)
        .select("__s1", "__s2", hamming.alias("hamming"))
        .distinct()
    )

    # expand matched signature pairs back to id pairs: each id belongs to
    # exactly one signature group and __s1 != __s2, so every unordered id
    # pair appears once — canonical (d1 < d2) via least/greatest, no
    # distinct needed
    a = sigp.select(F.col("__id").alias("__ida"), F.col("__h").alias("__s1"))
    b = sigp.select(F.col("__id").alias("__idb"), F.col("__h").alias("__s2"))
    cross = (
        sig_pairs.join(a, "__s1")
        .join(b, "__s2")
        .select(
            F.least("__ida", "__idb").alias("d1"),
            F.greatest("__ida", "__idb").alias("d2"),
            "hamming",
        )
    )
    # identical-signature groups: every intra-group pair is a true pair
    # at distance 0 (this is OUTPUT, inherent to the pair contract)
    s1 = sigp.select(F.col("__id").alias("d1"), "__h")
    s2 = sigp.select(F.col("__id").alias("d2"), "__h")
    intra = (
        s1.join(s2, "__h")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.bit_count(F.lit(0).cast("long")).alias("hamming"))
    )
    return cross.unionByName(intra)


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius (see
    :func:`hamming_band_pairs` for the banding scheme)."""
    return hamming_band_pairs(simhash64(df, id_col, text_col), id_col, "simhash", max_hamming)
