"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (100 TB):
- exact: one hash-groupBy — the cheapest possible full-corpus pass.
- ngram_jaccard: EXACT set similarity computed by the inverted-index join
  (explode shingles -> self-join on shingle -> |intersection| per pair).
  No O(n^2) cross join; cost is bounded by shingle-bucket sizes (drop
  ultra-common shingles like stop-shingles with a document-frequency cap).
- minhash_lsh: candidate generation via banded MinHash signatures (join on
  (band_id, band_hash) buckets), then exact Jaccard verification of
  candidates only — the standard sub-quadratic near-dup pipeline.
- simhash: 60-bit simhash, banded for candidate pairs, Hamming-verified.
- embedding near-dup: cosine over candidate pairs from random-hyperplane
  LSH buckets (or brute-force below a size threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = ["exact_dedup", "exact_dup_groups", "shingles", "ngram_jaccard_pairs",
           "prefix_jaccard_pairs", "dedup_funnel",
           "minhash_signatures", "minhash_lsh_pairs", "minhash_lsh_pairs_between",
           "minhash_estimate_pairs",
           "simhash", "simhash_pairs",
           "embedding_neardup_pairs", "dup_ngram_coverage", "dedup_spans",
           "canonicalize_clusters", "fuzzy_pairs",
           "containment_pairs", "golden_record", "threshold_sweep",
           "cross_hash60", "MINHASH_P", "MINHASH_AB"]


# ---- cross-engine hashing -------------------------------------------------
#
# All content hashing below is derived from md5, NOT Spark's internal
# murmur3/xxhash64: md5 is bit-identical across engines (Spark, DuckDB,
# Python), which makes every probabilistic pipeline (MinHash, SimHash)
# DIFFERENTIALLY TESTABLE against an independent SQL oracle instead of
# "rows-only" checked. The 60-bit truncation (15 hex chars) keeps the
# value a positive BIGINT in every engine — no signed-overflow edge cases.

def cross_hash60(col) -> F.Column:
    """Cross-engine 60-bit content hash: first 15 hex chars of md5 as a
    positive bigint. DuckDB equivalent:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: modulus for the MinHash LCG family (Mersenne prime 2^61-1): with
#: multipliers < 2^29 and 32-bit inputs every intermediate stays < 2^62,
#: inside signed-64 range for BOTH Spark and DuckDB (which raises on
#: overflow rather than wrapping).
MINHASH_P = (1 << 61) - 1


def _minhash_constants(k: int = 64) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [(rng.randrange(1, 1 << 29), rng.randrange(0, MINHASH_P))
            for _ in range(k)]


#: (a_s, b_s) per MinHash function: h_s(x) = (a_s * x32 + b_s) mod P over
#: the lower 32 bits of the shingle's cross_hash60. Fixed seed so the
#: oracle SQL generated from the same table is deterministic.
MINHASH_AB = _minhash_constants()


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the smallest id per exact content hash (md5)."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (df.select(F.col(id_col), h)
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count("*").alias("n_copies")))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Only the hash groups with >1 copy (the actual duplicates)."""
    return exact_dedup(df, id_col, text_col).filter(F.col("n_copies") > 1)


def dedup_funnel(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 quality_threshold: float = 0.5) -> DataFrame:
    """Stage-attrition accounting of the standard corpus-cleaning
    cascade — the one-number-per-stage report every curation run logs:

        1_raw        documents in
        2_exact      survivors of byte-exact dedup (distinct md5(text))
        3_normalized survivors of normalized dedup (case/punct/space-
                     folded md5 — `normalize_text`'s key)
        4_quality    normalized representatives (min-id per group)
                     whose `quality_score` >= ``quality_threshold``

    Plan: ONE scan computes the exact hash, normalized hash, and
    quality per row (all whole-stage-codegen column arithmetic), one
    grouped aggregate per normalized group (count, per-group distinct
    exact hashes — exact duplicates can never span normalized groups,
    so the global distinct is the sum — and the min-id representative's
    quality via min_by), then a 4-number fold exploded to long form.
    No second corpus pass, no driver-side counting. Output:
    (stage, n_docs), stage names prefixed for stable ordering."""
    from .text import normalize_text, quality_score

    base = quality_score(normalize_text(df, text_col), text_col)
    per = base.select(F.col(id_col).alias("id"),
                      F.md5(F.col(text_col)).alias("_he"),
                      F.col("norm_hash"), F.col("quality"))
    g = (per.groupBy("norm_hash")
            .agg(F.count("*").alias("_n"),
                 F.count_distinct("_he").alias("_ne"),
                 F.min_by("quality", "id").alias("_rq")))
    one = g.agg(F.sum("_n").cast("bigint").alias("_raw"),
                F.sum("_ne").cast("bigint").alias("_exact"),
                F.count("*").cast("bigint").alias("_norm"),
                F.sum((F.col("_rq") >= quality_threshold).cast("bigint"))
                 .alias("_qual"))
    def _st(name, col):  # empty corpus: NULL sums -> 0 at every stage
        return F.struct(F.lit(name).alias("stage"),
                        F.coalesce(col, F.lit(0)).cast("bigint")
                         .alias("n_docs"))
    stages = F.array(_st("1_raw", F.col("_raw")),
                     _st("2_exact", F.col("_exact")),
                     _st("3_normalized", F.col("_norm")),
                     _st("4_quality", F.col("_qual")))
    return (one.select(F.explode(stages).alias("_s"))
               .select("_s.stage", "_s.n_docs"))


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct token n-gram shingles per document: (id, shingle)."""
    toks = tokens(F.col(text_col))
    if n == 1:
        sh = F.array_distinct(toks)
        return (df.select(F.col(id_col).alias("id"), F.explode(sh).alias("sh"))
                  .filter(F.length("sh") > 0))
    # Materialize the token array once per row: a lambda body that repeats
    # split() re-evaluates it per n-gram position (O(tokens^2) per doc);
    # referencing the aliased column keeps CollapseProject from inlining
    # the non-cheap split back into the lambda.
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    sh = F.array_distinct(F.expr(
        f"transform(sequence(0, greatest(size(_toks) - {n}, -1)), "
        f"p -> array_join(slice(_toks, p + 1, {n}), ' '))"))
    return (base.select("id", F.explode(sh).alias("sh"))
                .filter(F.length("sh") > 0))


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the scan yields
    fewer partitions than cores (tiny corpora arrive as one parquet
    split, which would serialize the CPU-heavy tokenize/shingle
    projection onto one task). At scale the scan already has >= cores
    partitions and this is a no-op — no extra shuffle."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def _doc_shingle_sets(df: DataFrame, id_col: str, text_col: str,
                      n: int) -> DataFrame:
    """(id, hs: array of distinct 60-bit shingle hashes, sz).

    ZERO-shuffle: shingles are a per-document property, so the whole
    shingle→dedup→hash pipeline is ONE whole-stage-codegen'd projection
    over each document row (transform/array_distinct/cross_hash60) — no
    groupBy, no exchange, and crucially no ObjectHashAggregate
    (collect_set/collect_list aggregates fall back to sort-based
    aggregation beyond a small key threshold, which is the slow path a
    full-corpus dedup pass cannot afford). Signatures, LSH bands, posting
    lists and exact verification all derive from this compact
    1-row-per-doc relation; re-evaluating it per consumer costs only the
    map-side scan, never a shuffle.

    60-bit hashing makes downstream set ops (array_intersect) exact up to
    collision probability ~|union|^2/2^60 — negligible for real document
    shingle counts — while staying reproducible in any engine with md5
    (see cross_hash60)."""
    toks = tokens(F.col(text_col))
    # token array as its own projection so the lambda below reads a plain
    # row attribute, never an inlined split() re-evaluated per element
    base = _spread_small_input(df).select(F.col(id_col).alias("id"),
                                          toks.alias("_toks"))
    if n == 1:
        sh_arr = F.array_distinct(F.col("_toks"))
    else:
        sh_arr = F.array_distinct(F.expr(
            f"transform(sequence(0, greatest(size(_toks) - {n}, -1)), "
            f"p -> array_join(slice(_toks, p + 1, {n}), ' '))"))
    hs = F.transform(F.filter(sh_arr, lambda x: F.length(x) > 0),
                     cross_hash60)
    # explode(array(.)) is a deliberate Generate BARRIER: `hs` becomes a
    # generator-output attribute, so CollapseProject can never inline the
    # whole tokenize+shingle+hash pipeline into each downstream consumer
    # (q32 alone derives 32 minhash expressions from hs — inlining would
    # re-run the pipeline 32x per row)
    # (A shared repartition("id") exchange for cross-branch reuse was
    # tried and measured SLOWER: per-branch column pruning specializes
    # each exchange's child schema, defeating ReuseExchange, so every
    # branch paid the shuffle on top of the map work.)
    out = (base.select("id", F.explode(F.array(hs)).alias("hs"))
               .select("id", "hs", F.size("hs").alias("sz"))
               .filter(F.col("sz") > 0))
    # EAGER localCheckpoint: the LSH/Jaccard pipelines read this relation
    # from up to 4 plan branches; checkpointing computes the tokenize
    # pipeline once and shares the compact per-doc blocks (measured
    # 15-20% off q31/q32; the blocks are GC-cleaned when the plan dies,
    # unlike a leaked persist). Eager, not lazy: a LAZY checkpoint's
    # deferred materialization job can outlive the SQL execution that
    # triggered it, and its late task completions then post metric
    # updates to already-unregistered accumulators — a burst of benign
    # but alarming "Failed to update accumulator (Unknown class)"
    # DAGScheduler ERRORs in any session that runs these pipelines
    # repeatedly (reproduced: 1125 ERROR lines across 5 bench reps of
    # q31+q32 with eager=False, 0 with eager=True; ~0.2 s extra on a
    # 1.8 s sf0.1 q32 run). TRADE-OFF: localCheckpoint sacrifices
    # lineage-based recompute of these blocks on executor loss.
    return out.localCheckpoint(eager=True)


def _banded(wide: DataFrame, num_hashes: int,
            rows_per_band: int) -> DataFrame:
    """(id, band, bandkey): explode the wide minhash row into one row
    per band, keyed by the EXACT tuple (array) of that band's min
    columns — deterministic, equality-joinable, collision-free."""
    band_cols = []
    b = 0
    while b * rows_per_band < num_hashes:
        lo = b * rows_per_band
        hi = min(lo + rows_per_band, num_hashes)
        band_cols.append(F.array(*[F.col(f"m{s}") for s in range(lo, hi)]))
        b += 1
    return wide.select(
        "id", F.posexplode(F.array(*band_cols)).alias("band", "bandkey"))


def _jaccard_from_sets(pairs: DataFrame, sets: DataFrame,
                       threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs: two narrow joins
    against the 1-row-per-doc hash-set relation, intersection via
    array_intersect — no second pass over the exploded shingle relation."""
    sa = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"),
                     F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"),
                     F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (pairs.join(sa, on="id_a").join(sb, on="id_b")
                 .withColumn("_i", inter)
                 .withColumn("jaccard",
                             F.round(F.col("_i")
                                     / (F.col("sz_a") + F.col("sz_b")
                                        - F.col("_i")), 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_doc_freq: int | None = 1000) -> DataFrame:
    """EXACT n-gram Jaccard similarity >= threshold, via inverted-index
    posting lists (no cross join). max_doc_freq drops shingles appearing
    in more than that many docs (stop-shingle cap, ON by default: a single
    shingle shared by f docs contributes f^2/2 join rows, so an uncapped
    common shingle is a quadratic hot bucket at 100 TB; pairs whose
    similarity rests only on ultra-common shingles are not near-dups.
    Pass None for exact completeness on small corpora)."""
    sets = _doc_shingle_sets(df, id_col, text_col, n)
    sh2 = sets.select("id", F.explode("hs").alias("h"))
    if max_doc_freq is not None:
        # stop-shingle cap: keep only shingles appearing in <= cap docs
        # (count agg + join — both whole-stage-codegen'd; the
        # self-join below is then bounded to cap^2/2 rows per shingle).
        # NOT a window over (h): measured 0.4 s SLOWER at sf0.1 — the
        # map-side-combined agg collapses to |vocabulary| rows before
        # any shuffle, where a window sort-shuffles the full posting
        # relation. (The LSH band caps DO use the window shape: there
        # the side relation carries the wide band keys and the
        # self-join already needs that shuffle.)
        # ANTI-join against the OVER-cap shingles (r12 optimization):
        # identical result to the old keep-side semi-join (every h has
        # exactly one count row, so keep df<=cap == drop df>cap), but
        # the join's build side is now the handful of ultra-common
        # shingles instead of the whole sub-cap vocabulary — it stays
        # broadcastable at ANY corpus size (hot shingles are few by
        # definition), where the semi-join's vocabulary side outgrows
        # the broadcast threshold and forces a second full shuffle of
        # the posting relation (guide §3.1: pick the build side).
        hot = (sh2.groupBy("h").agg(F.count("*").alias("_df"))
                  .filter(F.col("_df") > max_doc_freq).select("h"))
        sh2 = sh2.join(F.broadcast(hot), on="h", how="left_anti")
    # inverted-index self-join for candidates; exact Jaccard verified
    # against the per-doc hash sets (NOT from the capped join counts, so
    # the reported similarity is exact even with the cap active)
    a = sh2.alias("a")
    b = sh2.alias("b")
    pairs = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
              .distinct())
    return _jaccard_from_sets(pairs, sets, threshold)


def _minhash_wide(sets: DataFrame, num_hashes: int) -> DataFrame:
    """(id, hs, sz, m0..m{k-1}): k MinHash values computed per document
    from its compact shingle-hash array (_doc_shingle_sets) — k LCG
    re-hashes ``(a_s * x32 + b_s) mod P`` over the lower 32 bits of each
    shingle hash, inside `transform` + `array_min`, all JVM-side on a
    1-row-per-doc relation. No row blowup (the k (a, b) pairs become k
    expressions per doc row, not k rows), no extra pass over the exploded
    shingle relation — and the LCG family (unlike seeded murmur3) is
    reproducible in plain SQL, so the whole LSH pipeline oracles."""
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} not provisioned")
    mins = [F.expr(f"array_min(transform(hs, x -> "
                   f"({a}L * (x % 4294967296L) + {b}L) % {MINHASH_P}L))")
            .alias(f"m{s}") for s, (a, b) in
            zip(range(num_hashes), MINHASH_AB)]
    return sets.select("id", "hs", "sz", *mins)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 32) -> DataFrame:
    """MinHash signatures (id, seed, minhash): k independent hash
    functions realized as an LCG family over cross-engine 32-bit shingle
    hashes. Computed as wide per-doc columns then unpivoted — k× cheaper
    than exploding a seed dimension through the shuffle."""
    wide = _minhash_wide(_doc_shingle_sets(df, id_col, text_col, n),
                         num_hashes)
    arr = F.array(*[F.col(f"m{s}") for s in range(num_hashes)])
    return wide.select(
        "id", F.posexplode(arr).alias("seed", "minhash"))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.8,
                      max_bucket_size: int | None = 1000) -> DataFrame:
    """MinHash LSH near-dup: banded signatures -> bucket join for
    candidates -> EXACT Jaccard verification of candidates only.
    Output: (id_a, id_b, jaccard) pairs with verified jaccard >= threshold.
    (Probabilistic recall from banding; precision exact via verification.)

    max_bucket_size is the SKEW guard for web-scale corpora: a band
    bucket holding f docs (boilerplate, templated pages) contributes
    f^2/2 candidate rows landing in ONE join task — the quadratic hot
    key that stalls a 1000-executor job. Buckets over the cap switch
    from all-pairs to STAR expansion (every member vs the bucket's min
    id): linear rows. The cap defaults ON (1000, mirroring
    max_doc_freq) because at 100 TB templated corpora routinely put
    f >> 10^4 docs in one band bucket. Connectivity caveat: star pairs
    still pass the exact-Jaccard verification, so within an over-cap
    bucket a member survives ONLY if it verifies against the bucket's
    min-id representative — true for the identical-boilerplate case the
    cap targets, but members similar to each other yet below threshold
    against the representative lose their edges, so duplicate
    CLUSTERING over the pairs can differ from all-pairs mode for
    heterogeneous over-cap buckets. Pass None for exact all-pairs
    semantics. (The default flipped from None to 1000 in round 4 —
    CHANGELOG.md records the behavioral consequences.)"""
    rows_per_band = num_hashes // bands
    # Band keys straight off the wide (id, m0..m{k-1}) row: each band is
    # the EXACT tuple (array) of its slice of min columns — deterministic
    # by construction (column order is static, no shuffle-order
    # dependence), joinable as an equality key (Spark hash-joins array
    # keys), reproducible in the SQL oracle, and immune to band-hash
    # collisions; the only explode is `bands` rows per doc.
    sets = _doc_shingle_sets(df, id_col, text_col, n)
    wide = _minhash_wide(sets, num_hashes)
    banded = _banded(wide, num_hashes, rows_per_band)
    cand = _band_candidates(banded, max_bucket_size)
    # exact verification of candidates against the same compact hash-set
    # relation (shared exchange with the signature branch — no second
    # tokenize pass)
    return _jaccard_from_sets(cand, sets, threshold)


def _band_candidates(banded: DataFrame,
                     max_bucket_size: int | None) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs from a (id, band, bandkey)
    relation: band-bucket self-join with the default-ON hot-bucket STAR
    cap. Bucket size + representative ride WINDOW aggregates over the
    banded relation, not groupBy+join-back: one (band, bandkey) shuffle
    that the self-join then REUSES (its join keys match the window
    partitioning), where the agg+join shape paid three exchanges."""
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bandkey")
        tagged = (banded.withColumn("_f", F.count("*").over(wb))
                        .withColumn("_rep", F.min("id").over(wb)))
        banded = (tagged.filter(F.col("_f") <= max_bucket_size)
                        .select("id", "band", "bandkey"))
        star = (tagged.filter((F.col("_f") > max_bucket_size)
                              & (F.col("id") != F.col("_rep")))
                      .select(F.col("_rep").alias("id_a"),
                              F.col("id").alias("id_b")))
    else:
        star = None
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bandkey") == F.col("b.bandkey"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    if star is not None:
        cand = cand.unionByName(star)
    return cand.distinct()


def minhash_estimate_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 32, bands: int = 16,
                           max_bucket_size: int | None = 1000
                           ) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (fraction of agreeing signature
    components — the unbiased estimator banding itself is built on)
    NEXT TO the exact Jaccard and the absolute error. This is the
    monitoring query that answers "are my sketch parameters good
    enough to skip exact verification at the next scale-up?" — at
    32 hashes the estimator's s.d. is ~sqrt(J(1-J)/32) <= 0.09, which
    the output makes directly observable per pair.

    Same shingle/signature/banding relations as ``minhash_lsh_pairs``
    (one tokenize pass, shared candidate machinery, hot-bucket star
    cap ON); no similarity threshold — calibration wants the full
    candidate range. Output: (id_a, id_b, est, jaccard, abs_err),
    floats rounded 6."""
    rows_per_band = num_hashes // bands
    sets = _doc_shingle_sets(df, id_col, text_col, n)
    wide = _minhash_wide(sets, num_hashes)
    cand = _band_candidates(_banded(wide, num_hashes, rows_per_band),
                            max_bucket_size)
    exact = _jaccard_from_sets(cand, sets, threshold=0.0)
    sig = wide.select("id", F.array(*[F.col(f"m{s}")
                                      for s in range(num_hashes)])
                            .alias("sig"))
    ga = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("_ga"))
    gb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("_gb"))
    agree = F.aggregate(
        F.zip_with(F.col("_ga"), F.col("_gb"),
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    return (exact.join(ga, on="id_a").join(gb, on="id_b")
                 .withColumn("est", F.round(agree / float(num_hashes), 6))
                 .withColumn("abs_err",
                             F.round(F.abs(F.col("est")
                                           - F.col("jaccard")), 6))
                 .select("id_a", "id_b", "est", "jaccard", "abs_err"))


def minhash_lsh_pairs_between(new_df: DataFrame, corpus_df: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text", n: int = 3,
                              num_hashes: int = 32, bands: int = 8,
                              threshold: float = 0.8,
                              max_bucket_size: int | None = 1000
                              ) -> DataFrame:
    """INCREMENTAL (cross-corpus) MinHash LSH dedup: near-dup pairs
    (id_new, id_corpus) ONLY across the two relations — the ingestion
    gate that checks a new batch against the already-indexed corpus
    without ever forming corpus-internal pairs. Same banding, hashes,
    and exact-Jaccard verification as ``minhash_lsh_pairs``.

    Skew guard for the cross shape: a band bucket with L new docs and F
    corpus docs contributes L x F candidates; ``max_bucket_size`` caps
    the CORPUS side of each (band, bandkey) bucket to its
    ``max_bucket_size`` smallest ids (row_number over the band key —
    deterministic), bounding per-new-doc fan-out at cap x bands while
    leaving the new side complete. A boilerplate bucket thus matches
    each new doc against cap representatives instead of the full
    templated mass (documented recall trade at the cap boundary; pass
    None for the exact cross product). Ids must be distinct across the
    two relations (they identify which side a pair member came from).

    Output: (id_new, id_corpus, jaccard >= threshold)."""
    rows_per_band = num_hashes // bands
    sets_new = _doc_shingle_sets(new_df, id_col, text_col, n)
    sets_old = _doc_shingle_sets(corpus_df, id_col, text_col, n)
    banded_new = _banded(_minhash_wide(sets_new, num_hashes),
                         num_hashes, rows_per_band)
    banded_old = _banded(_minhash_wide(sets_old, num_hashes),
                         num_hashes, rows_per_band)
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bandkey").orderBy("id")
        banded_old = (banded_old
                      .withColumn("_rn", F.row_number().over(wb))
                      .filter(F.col("_rn") <= max_bucket_size)
                      .drop("_rn"))
    a = banded_new.alias("a")
    b = banded_old.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bandkey") == F.col("b.bandkey")))
             .select(F.col("a.id").alias("id_new"),
                     F.col("b.id").alias("id_corpus"))
             .distinct())
    sa = sets_new.select(F.col("id").alias("id_new"),
                         F.col("hs").alias("hs_a"),
                         F.col("sz").alias("sz_a"))
    sb = sets_old.select(F.col("id").alias("id_corpus"),
                         F.col("hs").alias("hs_b"),
                         F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (cand.join(sa, on="id_new").join(sb, on="id_corpus")
                .withColumn("_i", inter)
                .withColumn("jaccard",
                            F.round(F.col("_i")
                                    / (F.col("sz_a") + F.col("sz_b")
                                       - F.col("_i")), 6))
                .filter(F.col("jaccard") >= threshold)
                .select("id_new", "id_corpus", "jaccard"))


_SIMHASH_BITS = 60


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens: per bit position, sum of
    +-1 votes from each token's cross_hash60; bit set where the vote is
    positive. explode + single groupBy with 60 conditional-sum aggregates
    (all map-side combinable). Wide signatures (not 32-bit) keep the
    banded candidate join selective at corpus scale: with max_hamming=3
    each band carries 15 bits -> 32,768 bucket values, where a 32-bit
    signature's 8-bit bands (256 values) degrade toward all-pairs; 60
    bits (vs 64) keeps the signature a positive bigint reproducible by
    the md5-based SQL oracle with no signed-overflow edge."""
    toks = (_spread_small_input(df)
              .select(F.col(id_col).alias("id"),
                      F.explode(tokens(F.col(text_col))).alias("t"))
              .filter(F.length("t") > 0)
              .withColumn("h", cross_hash60(F.col("t"))))
    aggs = []
    for b in range(_SIMHASH_BITS):
        bit = F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{b}"))
    votes = toks.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("bigint")
    for b in range(_SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{b}") > 0,
                   F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(0))
    return votes.select("id", sig.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  max_bucket_size: int | None = 1000) -> DataFrame:
    """Near-dup candidates by SimHash: band the 60 bits into
    ``max_hamming + 1`` chunks (pigeonhole: a pair within max_hamming
    differing bits must share at least one exact chunk — the band count is
    DERIVED from the requested distance so recall is guaranteed for any
    max_hamming), join on (band, chunk), verify via bit_count(xor).

    max_bucket_size: same quadratic-hot-bucket skew guard as
    minhash_lsh_pairs, default ON (1000). (band, chunk) buckets over the
    cap expand as a STAR around the bucket's min id instead of
    all-pairs. Star pairs still pass the exact hamming verification, so
    precision is unchanged; within an over-cap bucket only pairs whose
    member verifies against the representative are listed — clustering
    matches all-pairs mode when members are within max_hamming of the
    representative (the templated-corpus case), and can drop edges for
    heterogeneous over-cap buckets. Pass None for exact all-pairs."""
    if not 0 <= max_hamming <= _SIMHASH_BITS - 1:
        raise ValueError(
            f"max_hamming must be in [0, {_SIMHASH_BITS - 1}] for "
            f"{_SIMHASH_BITS}-bit simhash")
    # both sides of the band self-join consume the signature relation;
    # share one computed copy (64 aggregate expressions over every token
    # — see _doc_shingle_sets for the trade-off and why eager, not lazy)
    sig = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    n_bands = max_hamming + 1
    base_w, rem = divmod(_SIMHASH_BITS, n_bands)
    bands = []
    offset = 0
    for k in range(n_bands):
        width = base_w + (1 if k < rem else 0)
        mask = -1 if width >= 64 else (1 << width) - 1
        # unsigned shift: the sign bit is data, not sign
        bands.append(sig.select(
            "id", "simhash", F.lit(k).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), offset)
             .bitwiseAND(F.lit(mask)).alias("chunk")))
        offset += width
    banded = bands[0]
    for p in bands[1:]:
        banded = banded.unionByName(p)
    if max_bucket_size is not None:
        # same single-shuffle window shape as minhash_lsh_pairs; the
        # representative is min(struct(id, simhash)) — ids are unique,
        # so struct ordering picks the min-id member and carries its
        # signature along for the star pairs' hamming verification
        wb = Window.partitionBy("band", "chunk")
        tagged = (banded.withColumn("_f", F.count("*").over(wb))
                        .withColumn("_rep",
                                    F.min(F.struct("id", "simhash"))
                                     .over(wb)))
        banded = (tagged.filter(F.col("_f") <= max_bucket_size)
                        .select("id", "simhash", "band", "chunk"))
        star = (tagged.filter((F.col("_f") > max_bucket_size)
                              & (F.col("id") != F.col("_rep.id")))
                      .select(F.col("_rep.id").alias("id_a"),
                              F.col("id").alias("id_b"),
                              F.col("_rep.simhash").alias("sig_a"),
                              F.col("simhash").alias("sig_b")))
    else:
        star = None
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.simhash").alias("sig_a"),
                     F.col("b.simhash").alias("sig_b")))
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.distinct()
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", ham.cast("int"))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def embedding_neardup_pairs(emb_df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            brute_force: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicates. brute_force=True computes the
    exact O(n^2) pairs (only sane below ~100k vectors — the oracle-able
    path); False routes through random-hyperplane LSH buckets
    (similarity.hyperplane_lsh_pairs) for the 100 TB path."""
    from .similarity import cosine_expr, hyperplane_lsh_pairs

    if not brute_force:
        return hyperplane_lsh_pairs(emb_df, id_col, vec_col, threshold)
    a = emb_df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb_df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return (pairs.withColumn("cosine", F.round(cos, 6))
                 .filter(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", "cosine"))


def dup_ngram_coverage(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """Sub-document duplication profile: for each document, the fraction
    of its distinct n-grams that also occur in >= min_docs documents
    corpus-wide — the "how much of this doc is boilerplate" score that
    document-level dedup (exact/MinHash) cannot see, and the standard
    pre-filter before expensive substring-level dedup.

    Scale shape: ONE linear pipeline over the gram relation — the
    tokenize+md5 explode (the expensive part at 14M+ gram rows) is
    scanned once: distinct (doc, gram-hash) rows (8-byte hashes), a
    document-frequency WINDOW over the gram-hash shuffle (tagging each
    row in place, where a groupBy+semi-join-back shape re-scanned the
    explode for each of its three branches — measured 31 s -> 20 s at
    100k docs), then one per-doc aggregate. No cartesians, no row
    expansion on hot grams. Output: (id, n_grams, n_dup, dup_frac) for
    ALL docs (docs shorter than n tokens count their whole text as one
    gram; empty docs report 0 grams, 0.0 coverage)."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    gexpr = F.expr(
        f"CASE WHEN size(_t) = 0 THEN array() "
        f"WHEN size(_t) <= {n} THEN array(array_join(_t, ' ')) "
        f"ELSE transform(sequence(0, size(_t) - {n}), "
        f"p -> array_join(slice(_t, p + 1, {n}), ' ')) END")
    base = (df.select(F.col(id_col).alias("id"), toks.alias("_t"))
              .select("id", F.explode(gexpr).alias("gram"))
              .select("id", cross_hash60(F.col("gram")).alias("gh"))
              .distinct())
    wgh = Window.partitionBy("gh")
    per = (base.withColumn("_docs", F.count("*").over(wgh))
               .groupBy("id")
               .agg(F.count("*").alias("n_grams"),
                    F.sum((F.col("_docs") >= min_docs).cast("bigint"))
                     .alias("n_dup")))
    return (df.select(F.col(id_col).alias("id"))
              .join(per, on="id", how="left")
              .select("id",
                      F.coalesce("n_grams", F.lit(0)).cast("bigint")
                       .alias("n_grams"),
                      F.coalesce("n_dup", F.lit(0)).cast("bigint")
                       .alias("n_dup"),
                      F.round(F.coalesce("n_dup", F.lit(0))
                              / F.greatest(F.coalesce("n_grams", F.lit(0)),
                                           F.lit(1)), 6)
                      .alias("dup_frac")))


def dedup_spans(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 5) -> DataFrame:
    """Exact-substring deduplication TRANSFORM (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" rewrite,
    token-window formulation): every n-token window that occurs more
    than once in the corpus keeps only its GLOBAL FIRST occurrence —
    min (doc, pos) — and every token position covered by any other
    occurrence is deleted; documents are reconstructed from the
    surviving tokens. Aggressive by design (a position inside both a
    duplicated and a unique window is still deleted), deterministic,
    and fully replayable in SQL. Complements dup_ngram_coverage, which
    only MEASURES duplication.

    Physical plan: the gram relation (one row per token position) is
    aggregated per gram with a map-side-combined groupBy (count +
    min-struct first occurrence) and JOINED back on the gram key — a
    sort-merge join AQE can skew-split, deliberately NOT a window over
    the gram partition: a boilerplate gram with 10^9 occurrences would
    strand a window in one task, while the groupBy's partial
    aggregation collapses it map-side. Deletion positions are a
    bounded explode (n rows per duplicate occurrence); reconstruction
    is one per-doc groupBy.

    Output: (doc_id, n_tokens, n_dropped, cleaned) for ALL docs (docs
    shorter than n tokens have no windows and pass through intact)."""
    from .text import tokens as _tokens

    toks = F.filter(_tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    t = df.select(F.col(id_col).alias("id"), toks.alias("_t"))
    # the shared token relation feeds the gram build, the anti-join and
    # the reconstruction — materialize once
    t = t.localCheckpoint(eager=True)
    tok = t.select("id", F.posexplode(F.col("_t")).alias("pos", "tok"))
    gexpr = F.expr(
        f"CASE WHEN size(_t) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(_t) - {n}), "
        f"p -> struct(p AS pos, array_join(slice(_t, p + 1, {n}), ' ') "
        f"AS gram)) END")
    grams = (t.select("id", F.explode(gexpr).alias("_g"))
              .select("id", F.col("_g.pos").alias("pos"),
                      F.col("_g.gram").alias("gram")))
    stats = (grams.groupBy("gram")
                  .agg(F.count("*").alias("_cnt"),
                       F.min(F.struct("id", "pos")).alias("_first")))
    dup = (grams.join(stats, on="gram")
                .filter((F.col("_cnt") > 1)
                        & ~((F.col("id") == F.col("_first.id"))
                            & (F.col("pos") == F.col("_first.pos")))))
    drop = (dup.select("id", F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1)))
                .alias("pos"))
               .distinct())
    kept = tok.join(drop, on=["id", "pos"], how="left_anti")
    rec = (kept.groupBy("id")
               .agg(F.count("*").alias("_n_kept"),
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda s: s.getField("tok")), " ")
                     .alias("cleaned")))
    return (t.select("id", F.size("_t").alias("_n"))
             .join(rec, on="id", how="left")
             .select(F.col("id").alias(id_col),
                     F.col("_n").cast("bigint").alias("n_tokens"),
                     (F.col("_n") - F.coalesce("_n_kept", F.lit(0)))
                      .cast("bigint").alias("n_dropped"),
                     F.coalesce("cleaned", F.lit("")).alias("cleaned")))


def canonicalize_clusters(df: DataFrame, cluster_col: str = "cluster",
                          id_col: str = "doc_id",
                          quality_col: str = "quality") -> DataFrame:
    """Representative selection — the step AFTER dedup clustering: per
    cluster keep the highest-quality member (ties -> smallest id) and
    report the cluster size. One map-side-combined groupBy with a
    max_by argmax (no window over the cluster partition, so a
    boilerplate cluster with 10^9 members collapses map-side instead of
    stranding one task). Output: (cluster, rep_id, n_members,
    best_quality)."""
    return (df.groupBy(F.col(cluster_col).alias("cluster"))
              .agg(F.max_by(F.col(id_col),
                            F.struct(F.col(quality_col).alias("q"),
                                     (-F.col(id_col)).alias("ni")))
                    .alias("rep_id"),
                   F.count("*").cast("bigint").alias("n_members"),
                   F.round(F.max(quality_col), 6).alias("best_quality")))


def fuzzy_pairs(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", max_dist: int = 2,
                max_len: int = 64) -> DataFrame:
    """Edit-distance near-match pairs over a string column (fuzzy
    entity matching): pairs with levenshtein <= max_dist. The quadratic
    hazard is blocked by LENGTH: |len(a) - len(b)| <= max_dist is a
    necessary condition, so candidates form only inside a banded
    length-bucket equi-join (each row joins its own bucket and the next
    max_dist buckets) — never all-pairs. Strings longer than max_len
    are excluded (levenshtein cost is O(len^2) per pair; bound it).

    Output: (id_a, id_b, dist) with id_a < id_b, verified distance."""
    s = (df.select(F.col(id_col).alias("id"),
                   F.col(text_col).alias("s"),
                   F.length(text_col).alias("_l"))
           .filter((F.col("_l") > 0) & (F.col("_l") <= max_len)))
    # band expansion on ONE side only: a joins buckets [l_a, l_a + d]
    a = s.select("id", "s",
                 F.explode(F.sequence(
                     F.col("_l"), F.col("_l") + F.lit(max_dist)))
                  .alias("_b"))
    b = s.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"),
                 F.col("_l").alias("_b"))
    # the band is ONE-SIDED (a reaches up to longer b), so a pair's
    # shorter member always arrives on the a side regardless of id
    # order — canonicalize ids AFTER the join (an id < id_b filter
    # before it would drop pairs whose shorter string sorts later)
    lt = F.col("id") < F.col("id_b")
    cand = (a.join(b, on="_b")
             .filter(F.col("id") != F.col("id_b"))
             .select(F.when(lt, F.col("id")).otherwise(F.col("id_b"))
                      .alias("id_a"),
                     F.when(lt, F.col("id_b")).otherwise(F.col("id"))
                      .alias("id_b"),
                     F.when(lt, F.col("s")).otherwise(F.col("s_b"))
                      .alias("s_a"),
                     F.when(lt, F.col("s_b")).otherwise(F.col("s"))
                      .alias("s_b"))
             .distinct())
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"))
    return (cand.withColumn("dist", dist.cast("int"))
                .filter(F.col("dist") <= max_dist)
                .select("id_a", "id_b", "dist"))


def prefix_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3,
                         threshold: float = 0.8) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold via PREFIX FILTERING (the
    AllPairs/PPJoin family) — the deterministic alternative to both the
    full inverted index (ngram_jaccard_pairs: every shared shingle makes
    a candidate) and MinHash LSH (probabilistic recall).

    Shingles are ordered rarest-first by (corpus document frequency,
    hash) — a TOTAL order, no global rank window needed — and each
    document indexes only its first ``sz - ceil(t * sz) + 1`` shingles:
    two sets with Jaccard >= t MUST share a prefix element under any
    common total order, so recall is exactly 1 while candidates shrink
    by ~(1 - t) per side AND concentrate on rare shingles (a shingle in
    f docs' prefixes still costs f^2/2 join rows, but rarest-first
    ordering makes hot shingles structurally unlikely in prefixes —
    the cap ngram_jaccard_pairs needs is built into the ordering here).
    The min/max size filter at join time prunes further (J <= min/max).

    Plan: identical shingle SETS first collapse to one min-id
    representative each (no blocking scheme bounds an identical
    cluster — its entire prefix is shared and its f^2/2 true pairs ARE
    the answer, so they re-expand AFTER the quadratic path: within a
    group every pair is jaccard 1 by construction, and a
    representative pair's jaccard carries to every cross-member pair);
    then doc-frequency agg on the vocabulary relation, one per-doc
    rank window for the prefix, the prefix self-join over
    REPRESENTATIVES only, and exact verification against the per-doc
    hash sets. Output: (id_a, id_b, jaccard) — identical to
    ngram_jaccard_pairs(None cap).
    """
    sets = _doc_shingle_sets(df, id_col, text_col, n)
    fp = F.md5(F.concat_ws(",", F.transform(
        F.array_sort("hs"), lambda x: x.cast("string"))))
    mem = (sets.select("id", "sz", "hs", fp.alias("_fp"))
               .localCheckpoint(eager=True))
    grp = mem.groupBy("_fp").agg(F.min("id").alias("_rep"),
                                 F.count("*").alias("_f"))
    grp = grp.localCheckpoint(eager=True)  # shared: dup check + joins
    # fast path: no identical sets anywhere (the common case) — skip
    # the collapse/re-expand joins entirely; one cheap aggregate on the
    # already-materialized group relation decides
    has_dups = grp.agg(F.max("_f").alias("m")).collect()[0]["m"]
    has_dups = (has_dups or 0) > 1
    if has_dups:
        reps = (mem.join(grp.select(F.col("_rep").alias("id"), "_fp"),
                         on=["_fp", "id"])
                   .select("id", "sz", "hs"))
    else:
        reps = mem.select("id", "sz", "hs")
    sh2 = reps.select("id", "sz", F.explode("hs").alias("h"))
    dfreq = sh2.groupBy("h").agg(F.count("*").alias("_df"))
    ranked = sh2.join(dfreq, on="h")
    w = Window.partitionBy("id").orderBy("_df", "h")
    plen = (F.col("sz")
            - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1)
    prefix = (ranked.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= plen)
                    .select("id", "sz", "h"))
    a = prefix.alias("a")
    b = prefix.alias("b")
    feasible = (F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(float(threshold))
                * F.greatest(F.col("a.sz"), F.col("b.sz")))
    pairs = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.id") < F.col("b.id")) & feasible)
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
              .distinct())
    rep_pairs = _jaccard_from_sets(pairs, reps, threshold)
    if not has_dups:
        return rep_pairs
    # re-expand the identical-set groups. Within-group: every member
    # pair, jaccard exactly 1. Cross-group: each representative pair
    # fans out to its two groups' member cross product (identical sets
    # => identical jaccard; includes the rep x rep pair itself), ids
    # re-canonicalized (a member id need not preserve the
    # representatives' order).
    ga = grp.select(F.col("_rep").alias("id_a"),
                    F.col("_fp").alias("_fa"))
    gb = grp.select(F.col("_rep").alias("id_b"),
                    F.col("_fp").alias("_fb"))
    ma = mem.select(F.col("_fp").alias("_fa"), F.col("id").alias("ia"))
    mb = mem.select(F.col("_fp").alias("_fb"), F.col("id").alias("ib"))
    cross = (rep_pairs.join(ga, on="id_a").join(gb, on="id_b")
                      .join(ma, on="_fa").join(mb, on="_fb")
                      .select(F.least("ia", "ib").alias("id_a"),
                              F.greatest("ia", "ib").alias("id_b"),
                              "jaccard"))
    if threshold > 1.0:
        return cross
    ml = mem.select("_fp", F.col("id").alias("id_a"))
    mr = mem.select("_fp", F.col("id").alias("id_b"))
    within = (ml.join(mr, on="_fp")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", F.lit(1.0).alias("jaccard")))
    return within.unionByName(cross)


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.9,
                      max_doc_freq: int | None = 1000) -> DataFrame:
    """EXACT n-gram containment C(A in B) = |A n B| / |A| >= threshold —
    the one-sided near-dup detector (a document swallowed by a longer
    one scores low Jaccard but containment ~1; the partial-duplication
    case Lee et al.'s span dedup and plain Jaccard both miss).

    Same inverted-index candidate generation and stop-shingle cap as
    ngram_jaccard_pairs (one posting self-join, bounded per shingle);
    each unordered candidate is then verified in BOTH directions from
    the per-doc hash sets, emitting (id_sub, id_super) rows for every
    direction crossing the threshold. Output:
    (id_sub, id_super, containment rounded 6).

    Pipeline order matters at scale: verification attaches each
    candidate pair's two shingle-set ARRAYS (KBs per doc), so a corpus
    dense with exact replicas (k replicas -> k^2/2 true pairs per
    original, every one carrying both arrays through the shuffle) pays
    tens of GB for what exact_dedup removes in one hash-groupBy. Run
    exact_dedup first — the same caveat prefix_jaccard_pairs
    documents."""
    sets = _doc_shingle_sets(df, id_col, text_col, n)
    sh2 = sets.select("id", F.explode("hs").alias("h"))
    if max_doc_freq is not None:
        # anti-join on the over-cap shingles — same result, bounded
        # broadcast build side (see ngram_jaccard_pairs)
        hot = (sh2.groupBy("h").agg(F.count("*").alias("_df"))
                  .filter(F.col("_df") > max_doc_freq).select("h"))
        sh2 = sh2.join(F.broadcast(hot), on="h", how="left_anti")
    a = sh2.alias("a")
    b = sh2.alias("b")
    pairs = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
              .distinct())
    sa = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"),
                     F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"),
                     F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    both = (pairs.join(sa, on="id_a").join(sb, on="id_b")
                 .withColumn("_i", inter))
    fwd = both.select(F.col("id_a").alias("id_sub"),
                      F.col("id_b").alias("id_super"),
                      F.round(F.col("_i") / F.col("sz_a"), 6)
                       .alias("containment"))
    rev = both.select(F.col("id_b").alias("id_sub"),
                      F.col("id_a").alias("id_super"),
                      F.round(F.col("_i") / F.col("sz_b"), 6)
                       .alias("containment"))
    return (fwd.unionByName(rev)
               .filter(F.col("containment") >= threshold))


def golden_record(df: DataFrame, cluster_col: str = "cluster",
                  prefer_col: str = "n_chars",
                  id_col: str = "doc_id") -> DataFrame:
    """Survivorship / golden-record selection: one representative row
    per cluster, the member maximizing (prefer_col, then lowest id) —
    the record-consolidation step after dup clustering (MDM's 'most
    complete wins, stable tie-break' rule).

    ONE map-side-combined aggregate — max over a struct whose leading
    fields encode the priority order — so a 20k-member boilerplate
    cluster costs its partial aggregates, never a per-cluster sort or
    window. Output: (cluster, id, prefer, cluster_size)."""
    s = F.struct(F.col(prefer_col).cast("double").alias("_p"),
                 (-F.col(id_col).cast("long")).alias("_nid"))
    return (df.groupBy(F.col(cluster_col).alias("cluster"))
              .agg(F.max(s).alias("_w"),
                   F.count("*").cast("bigint").alias("cluster_size"))
              .select("cluster",
                      (-F.col("_w._nid")).cast("bigint").alias("id"),
                      F.col("_w._p").alias("prefer"),
                      "cluster_size"))


def threshold_sweep(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    thresholds=(0.2, 0.4, 0.6, 0.8),
                    max_doc_freq: int | None = 1000) -> DataFrame:
    """Dedup-threshold tuning curve: exact n-gram Jaccard pair counts
    at EVERY candidate threshold from ONE pass — the 'how aggressive
    can we dedup' sweep that otherwise costs one pipeline run per
    threshold. Computes pairs once at min(thresholds) and folds the
    cumulative counts over the bounded (pair, jaccard) relation.
    Output: (thr, n_pairs) — pairs with jaccard >= thr."""
    lo = min(thresholds)
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n,
                                threshold=lo,
                                max_doc_freq=max_doc_freq)
    pairs = pairs.localCheckpoint()  # one pipeline run, k folds
    arms = None
    for t in sorted(thresholds):
        row = pairs.agg(
            F.lit(float(t)).alias("thr"),
            F.sum((F.col("jaccard") >= t).cast("bigint"))
             .cast("bigint").alias("n_pairs"))
        arms = row if arms is None else arms.unionByName(row)
    return arms


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_dist: int = 2,
                        max_bucket_size: int | None = 1000
                        ) -> DataFrame:
    """Typo-tolerant near-dup join: all unordered pairs with
    Levenshtein distance <= ``max_dist`` — the classic edit-distance
    similarity join (PassJoin-style segment blocking; Li/Deng/Feng,
    public literature), filling the gap the token-set family
    (Jaccard/MinHash/SimHash/containment) cannot: character-level
    typos, OCR noise, near-identical IDs/titles.

    BLOCKING (complete by pigeonhole): split every string s into
    D+1 even segments (D = max_dist). If ed(s, t) <= D with
    len(s) <= len(t), at least one segment survives untouched by any
    edit, so it appears VERBATIM in t, position-shifted by at most D
    (the net indels before it). Index side: each string's D+1
    segments keyed (len, seg_idx, seg). Probe side: every string
    emits, for each candidate source length l in [len-D, len], each
    segment index, each shift in [-D, D], the corresponding
    substring — O((D+1)^2 (2D+1)) ~ 45 keys per string at D=2,
    CONSTANT per row. Strings shorter than D+1 segments can't split:
    they index under a (len, -1, '') sentinel and probes cover the
    short lengths by length-band. Candidates then verify with ONE
    JVM `levenshtein` per distinct pair — no Python in the loop.

    ``max_bucket_size`` is the skew guard (same contract as the LSH
    family): a hot key (a segment shared by that many strings, e.g.
    a constant catalog prefix) keeps only its ``max_bucket_size``
    smallest ids on BOTH the index and the probe side — per-key join
    fan-out is capped at cap^2 instead of cap x bucket (an index-only
    cap still explodes against a 100k-string probe bucket), at the
    cost of recall INSIDE pathological buckets; pass None for exact
    completeness (the oracle-gated mode). Output: (id_a, id_b, dist)
    with id_a < id_b, dist <= max_dist (exact duplicates included at
    dist 0)."""
    D = int(max_dist)
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).cast("string").alias("t"))
              .where(F.col("t").isNotNull())
              .withColumn("l", F.length("t")))
    seg_start = F.floor(F.col("j") * F.col("ls") / (D + 1)).cast("int")
    seg_end = (F.floor((F.col("j") + 1) * F.col("ls") / (D + 1))
               .cast("int"))

    # ---- index side: (id, l, j, seg) ------------------------------
    idx_long = (base.where(F.col("l") >= D + 1)
                    .select("id", "t", F.col("l").alias("ls"),
                            F.explode(F.sequence(F.lit(0), F.lit(D)))
                             .alias("j"))
                    .withColumn("_st", seg_start)
                    .withColumn("_en", seg_end)
                    .select("id", F.col("ls").alias("l"), "j",
                            F.expr("substring(t, _st + 1, _en - _st)")
                             .alias("seg")))
    idx_short = (base.where(F.col("l") <= D)
                     .select("id", "l", F.lit(-1).alias("j"),
                             F.lit("").alias("seg")))
    index = idx_long.unionByName(idx_short)
    if max_bucket_size is not None:
        wb = Window.partitionBy("l", "j", "seg").orderBy("id")
        index = (index.withColumn("_rn", F.row_number().over(wb))
                      .where(F.col("_rn") <= max_bucket_size)
                      .drop("_rn"))

    # ---- probe side: (id_b, lt, l, j, seg) ------------------------
    pr_long = (base.where(F.col("l") >= D + 1)
                   .select("id", "t", F.col("l").alias("lt"),
                           F.explode(F.sequence(
                               F.greatest(F.col("l") - D,
                                          F.lit(D + 1)),
                               F.col("l"))).alias("ls"))
                   .select("id", "t", "lt", "ls",
                           F.explode(F.sequence(F.lit(0), F.lit(D)))
                            .alias("j"))
                   .withColumn("_st", seg_start)
                   .withColumn("_en", seg_end)
                   .select("id", "t", "lt", "ls", "j", "_st", "_en",
                           F.explode(F.sequence(F.lit(-D), F.lit(D)))
                            .alias("dx"))
                   .withColumn("_p", F.col("_st") + F.col("dx"))
                   .where((F.col("_p") >= 0)
                          & (F.col("_p") + F.col("_en") - F.col("_st")
                             <= F.col("lt")))
                   .select(F.col("id").alias("id_b"), "lt",
                           F.col("ls").alias("l"), "j",
                           F.expr("substring(t, _p + 1, _en - _st)")
                            .alias("seg")))
    pr_short = (base.where(F.col("l") - D <= D)
                    .select(F.col("id").alias("id_b"),
                            F.col("l").alias("lt"),
                            F.explode(F.sequence(
                                F.greatest(F.col("l") - D, F.lit(0)),
                                F.least(F.lit(D), F.col("l"))))
                             .alias("l"))
                    .withColumn("j", F.lit(-1))
                    .withColumn("seg", F.lit("")))
    probe = pr_long.unionByName(pr_short).distinct()
    if max_bucket_size is not None:
        wp = Window.partitionBy("l", "j", "seg").orderBy("id_b")
        probe = (probe.withColumn("_rn", F.row_number().over(wp))
                      .where(F.col("_rn") <= max_bucket_size)
                      .drop("_rn"))

    # ---- candidates -> ONE levenshtein per distinct pair ----------
    # l <= lt holds by construction (probes only emit source lengths
    # in [lt - D, lt]); the only live predicate is self-exclusion
    cand = (index.join(probe, on=["l", "j", "seg"])
                 .where(F.col("id") != F.col("id_b"))
                 .select(F.least("id", "id_b").alias("id_a"),
                         F.greatest("id", "id_b").alias("id_b"))
                 .distinct())
    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("_ta"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("_tb"))
    return (cand.join(ta, on="id_a").join(tb, on="id_b")
                .withColumn("dist",
                            F.levenshtein("_ta", "_tb").cast("int"))
                .where(F.col("dist") <= D)
                .select("id_a", "id_b", "dist"))


def hamming_pairs(df: DataFrame, id_col: str = "media_id",
                  hash_col: str = "dhash", bits: int = 56,
                  max_dist: int = 3,
                  max_bucket_size: int | None = 1000) -> DataFrame:
    """Generic Hamming-distance join over packed-BIGINT fingerprints
    (dHash, SimHash, any LSB-packed signature): all unordered pairs
    with popcount(xor) <= ``max_dist``. Blocking is the pigeonhole
    band split — ``max_dist + 1`` contiguous bit slices; two hashes
    within distance d leave at least one slice untouched, so an
    exact-match self-join per (band, slice_value) is COMPLETE.
    Verification is ONE JVM ``bit_count(a ^ b)`` per distinct
    candidate. Arithmetic-shift-then-mask slice extraction gives
    identical slices for negative hash values on every engine.

    ``max_bucket_size`` is the LSH-family star cap (via the shared
    `_band_candidates`): a slice value shared by that many hashes
    collapses to representative pairs — candidates stay linear in
    bucket count, recall capped only inside pathological buckets;
    pass None for exact completeness. Output: (id_a, id_b, dist)."""
    B = int(max_dist) + 1
    if not 1 <= B <= int(bits) <= 63:
        raise ValueError("need 1 <= max_dist + 1 <= bits <= 63")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(hash_col).cast("bigint").alias("_h")) \
             .where(F.col("_h").isNotNull())
    slices = None
    for j in range(B):
        start = j * bits // B
        width = (j + 1) * bits // B - start
        sl = base.select(
            "id", F.lit(j).alias("band"),
            F.shiftright(F.col("_h"), start)
             .bitwiseAND(F.lit((1 << width) - 1)).alias("bandkey"))
        slices = sl if slices is None else slices.unionByName(sl)
    cand = _band_candidates(slices, max_bucket_size)
    ha = base.select(F.col("id").alias("id_a"), F.col("_h").alias("_ha"))
    hb = base.select(F.col("id").alias("id_b"), F.col("_h").alias("_hb"))
    return (cand.join(ha, on="id_a").join(hb, on="id_b")
                .withColumn("dist",
                            F.bit_count(F.col("_ha")
                                         .bitwiseXOR(F.col("_hb")))
                             .cast("int"))
                .where(F.col("dist") <= max_dist)
                .select("id_a", "id_b", "dist"))
