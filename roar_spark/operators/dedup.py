"""Deduplication operators over the ``documents`` table — the operator
family a training-data pipeline runs at 100 TB (exact, MinHash-LSH,
SimHash, n-gram Jaccard; embedding near-dup lives in similarity.py).

Scale design:
- Exact dedup is a hash aggregation on the text digest — one shuffle on
  md5(text), never on the full text bytes.
- N-gram Jaccard never forms the n² pair space: candidates come from the
  PREFIX FILTER — an equi-join restricted to each doc's rarest
  n − ⌈t·n⌉ + 1 shingles in a canonical (frequency, shingle) order
  (provably lossless for J ≥ t; see _prefix_candidates), so disjoint
  documents never meet AND hot shingles never form join keys.
  MinHash-LSH below is the fully sub-quadratic path.
- MinHash-LSH: signatures are 8 aggregated MINs per doc (one shuffle),
  banding explodes to 4 (band, key) rows per doc, and the candidate join
  is an equi-join on band keys — O(docs × bands) state, no n² anywhere.
  Verification is candidate-driven: exact Jaccard via joins from the
  candidate pairs into the shingle table, O(|candidates| · shingles/doc),
  never a shingle self-join over the corpus.
- SimHash: one 60-bit signature per doc from token-bit aggregation; the
  pair stage dispatches by corpus size — broadcast all-pairs filter below
  SIMHASH_ALLPAIRS_MAX_DOCS (measured faster there), pigeonhole chunk
  equi-join above it (split the signature into hamming_k+1 chunks; a pair
  within the hamming budget must agree exactly on ≥1 chunk). Both paths
  produce identical results (tests/test_dedup_paths.py).

All hashing is md5-based (portable across engines — see
functions/text_fns.py), so every operator here has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roar_spark.caching import materialize
from roar_spark.catalog import load_table, table_row_count
from roar_spark.functions.text_fns import (
    SHINGLE_FANOUT,
    minhash_signed_sql,
    minhash_str,
    tokens,
    word_shingles,
)
from roar_spark.session import tuned_session

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = N_MINHASH // N_BANDS = 2
# Above this corpus size dedup_minhash_lsh materializes its candidate
# table and semi-join-prunes the verification collect to candidate doc
# ids (the 100 TB shape: verification bytes ∝ candidates, not corpus).
# Below it, the extra eager candidate action costs more than the pruned
# collect saves (measured at sf0.1: +1.4-1.5 s materialization vs
# ≤ 0.4 s collect savings over a 5 k-doc corpus where the whole
# shingle-set collect is ~0.3 s). The cutoff is a cost crossover, not a
# semantics switch — outputs are identical on both sides (pinned).
MINHASH_PRUNE_MIN_DOCS = 100_000
SIMHASH_BITS = 60  # 15 md5 hex digits; 60 < 63 keeps 1<<b clear of the
# int64 sign bit. Note this corpus's ~30-word vocabulary makes ALL docs
# similar under token-distribution cosine (what simhash estimates), so some
# non-planted pairs legitimately fall under any threshold — the oracle
# matches exactly either way. hamming ≤ 4 of 60 ≈ cosine ≥ 0.96.
SIMHASH_HAMMING = 4


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.
    Shuffles 16-byte digests, not document bodies."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_md5")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """(doc_id, shingle) distinct word-3-gram pairs.

    ``spread=True``: the tokenize+shingle+md5 pipeline above this table is
    the heaviest map work in the dedup family, and a single-row-group
    documents file would serialize it through a handful of tasks (measured
    12.5 s for the 4-task shingle build at n=80k vs ~3 s spread). Callers
    that PERSIST the result also inherit the spread partitioning for every
    downstream stage, which is where most of the win lives.

    Shuffle-width note: this helper does NOT tune the session (ADVICE r5 —
    a helper mutating width on behalf of callers with different plans was
    the leak). Callers whose groupBy/window shuffles carry the full
    ~SHINGLE_FANOUT-rows/doc table build on
    ``tuned_session(spark, n_docs * SHINGLE_FANOUT)`` BEFORE calling in,
    so the width travels with their own plan."""
    docs = load_table(spark, "documents", sf_dir, spread=spread)
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        # filter BEFORE shingling: F.sequence(0, size-3) runs backwards for
        # size < 3 and would fabricate wrap-around shingles
        .filter(F.size("t") >= 3)
        # array_distinct BEFORE explode: per-doc dedup is map-side (rows
        # are already doc-partitioned) — a post-explode .distinct() would
        # shuffle the whole (doc, shingle) table for nothing
        .select("doc_id", F.explode(F.array_distinct(word_shingles(F.col("t")))).alias("shingle"))
    )


JACCARD_THRESHOLD = 0.5


def _bucket_pairs(df: DataFrame, *keys: str) -> DataFrame:
    """Distinct (doc_id_a < doc_id_b) pairs of docs sharing a bucket key.

    One shuffle groups ``df`` by ``keys`` and collects each bucket's sorted
    doc ids; the i<j pairs are then expanded MAP-SIDE with nested array
    transforms. The equivalent self-join evaluates the (often expensive)
    plan below ``df`` once per join side and shuffles it twice — this form
    computes it once and shuffles it once. In-bucket expansion is quadratic
    per bucket by definition (a bucket IS the candidate set); callers keep
    buckets small (chained-minhash band keys, rarest-prefix shingles)."""
    ids = F.sort_array(F.collect_list("doc_id"))
    return (
        df.groupBy(*keys)
        .agg(ids.alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b"))
        .distinct()
    )


def _prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs via the PREFIX FILTER (Bayardo et al. / SSJoin) with
    the PPJoin POSITIONAL filter: shingles are canonically ordered by
    (global frequency asc, shingle), and each doc joins only on its first
    n − ⌈t·n⌉ + 1 shingles in that order. For J(A,B) ≥ t the canonically-
    smallest SHARED shingle provably lies in both prefixes (if all shared
    shingles sat outside A's prefix, A's suffix of ⌈t·n_A⌉ − 1 slots
    couldn't hold the ≥ ⌈t·n_A⌉ shared ones), so the prefix equi-join
    loses no qualifying pair. The join key set is biased toward the RAREST
    shingles — exactly the ones whose groups stay small — which is what
    kills hot-shingle pair blowup at corpus scale.

    The positional filter prunes INSIDE the pair expansion: a pair
    generated at prefix positions (rk_a, rk_b) can overlap by at most
    1 + min(n_a − rk_a, n_b − rk_b), and J ≥ t needs overlap ≥
    t/(1+t)·(n_a+n_b). Evaluated at the pair's canonically-FIRST shared
    shingle this bound is exact (nothing shared precedes it); at any later
    shared shingle both n−rk slacks only shrink, so a qualifying pair
    always survives via its first shared position and the filter is
    lossless. On the driver corpus, whose ~30-word vocabulary makes every
    shingle hot (the prefix filter's adversarial case), this cuts
    candidates 409k → 125k at sf0.1.

    Plan shape: ``sh`` arrives as (doc_id, n, shingle) with n — the doc's
    distinct-shingle count — already attached by the caller's projection
    from its per-doc array table (r12; the per-doc count window this
    function used to run was a whole extra pass over the explode), freq
    comes from one count window over the shingle table (no
    aggregate-then-join-back — the text_dup_ngrams lesson), then one
    groupBy(shingle) collects (doc_id, rk, n) structs and the i<j
    expansion applies the positional bound map-side before anything
    reaches the distinct."""
    x = sh.withColumn("freq", F.count(F.lit(1)).over(W.partitionBy("shingle")))
    x = x.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.asc("freq"), F.asc("shingle"))
        ),
    )
    # ceil over a 1e-9-nudged product: IEEE can overshoot an exact-integer
    # t·n (0.8·5 = 4.000000000000000222 → ceil 5), which SHRINKS the prefix
    # below the lossless bound n − ⌈t·n⌉ + 1 and silently drops qualifying
    # pairs. The nudge only corrects representation error — a genuinely
    # fractional t·n is ≫ 1e-9 away from the integer below it (r8 review;
    # latent at the sole t=0.5 call site, which is exact in binary).
    prefix = x.filter(
        F.col("rk")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    ).select("shingle", F.struct("doc_id", "rk", "n").alias("e"))
    min_frac = threshold / (1.0 + threshold)
    entries = F.sort_array(F.collect_list("e"))
    # KEEP IN SYNC with _bucket_pairs: same collect-sort-explode i<j pair
    # expansion, specialized here with struct entries + the positional
    # filter predicate (hot-bucket behavior must not drift between them).
    return (
        prefix.groupBy("shingle")
        .agg(entries.alias("es"))
        .filter(F.size("es") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("es"),
                        lambda a, i: F.transform(
                            F.filter(
                                F.slice(F.col("es"), i + F.lit(2), F.size(F.col("es"))),
                                lambda b: (
                                    F.lit(1)
                                    + F.least(a["n"] - a["rk"], b["n"] - b["rk"])
                                ).cast("double")
                                >= F.lit(min_frac) * (a["n"] + b["n"]).cast("double"),
                            ),
                            lambda b: F.struct(
                                a["doc_id"].alias("a"), b["doc_id"].alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b"))
        .distinct()
    )


def _prune_sets_to_candidates(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Semi-join the per-doc set table to the candidate pairs' doc ids
    (r12, verdict r11 item 1 — guide §2.2/§3): the verification join then
    holds only documents that appear in some candidate pair, so its
    state/shuffle scales with |candidates| · shingles/doc, never with the
    corpus (the 1M-doc probe in SCALE.md measured 65% of
    dedup_minhash_lsh's total shuffle bytes removed). Callers gate on
    corpus size AND must have ``cand`` materialized — the id derivation
    is a second consumer of the candidate plan, and an unmaterialized
    plan would recompute its whole candidate pipeline."""
    ids = cand.selectExpr("explode(array(doc_id_a, doc_id_b)) as doc_id").distinct()
    return sets.join(ids, "doc_id", "left_semi")


def _verify_pairs_sets(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Candidate-driven exact Jaccard (shared by dedup_ngram_jaccard and
    dedup_minhash_lsh): join candidates to the two per-doc
    (doc_id, sset ARRAY, n_shingles) sides and compute |A∩B| map-side
    with ``array_intersect`` inside codegen.

    The r10 form expanded every candidate to one row PER SHINGLE and
    re-joined the shingle table — O(|cand| · shingles/doc) rows through a
    hash-join shuffle (measured 21M rows / ~9 s at sf0.1 where the corpus'
    30-word vocabulary makes 409k of the 12.5M doc pairs candidates).
    Here the shuffled volume is |cand| + 2 scans of doc-sized arrays, and
    the per-pair set intersection is pure whole-stage-codegen compute —
    the same work lands in the CPU, not the network. (An r11-r12
    intermediate collected the arrays from an exploded row table with
    sort_array(collect_list(...)); both remaining callers now carry
    per-doc arrays end to end, so the collect half was deleted — the
    array table IS the materialized intermediate.)"""
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sset").alias("sset_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sset").alias("sset_b"), F.col("n_shingles").alias("n_b")
    )
    joined = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn("n_common", F.size(F.array_intersect("sset_a", "sset_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .drop("sset_a", "sset_b")
    )
    # Pushdown barrier (r12, guide §7.2 "duplicated UDF/expression
    # evaluation" applied to a builtin): every caller filters this result
    # on jaccard, and Catalyst pushes that filter INTO the pair join's
    # condition — where array_intersect is then evaluated per candidate
    # probe on the join's interpreted (non-codegen) path. Measured at
    # sf0.1 on dedup_ngram_jaccard's 125k candidates, same session,
    # back-to-back: joins + intersect in a codegen Project 1.9 s vs the
    # SAME work with the filter inside the join condition 6.5 s quiet /
    # 43-70 s under host steal. The single-row-group aggregate below is a
    # semantic identity — (doc_id_a, doc_id_b) is unique by candidate
    # construction (both generators end in .distinct()), so first() just
    # re-emits each row's values — but a predicate on an aggregated
    # column cannot be pushed below an Aggregate, so the threshold filter
    # stays ABOVE and the intersect runs exactly once per pair, in
    # whole-stage codegen. Cost: one hash aggregation over pair-numeric
    # rows (no arrays), ∝ candidates.
    return joined.groupBy("doc_id_a", "doc_id_b").agg(
        *[F.first(c).alias(c) for c in ("n_a", "n_b", "n_common", "jaccard")]
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with word-3-gram Jaccard ≥ 0.5 (the corpus has a
    clean gap: planted near-dups sit ≥ 0.9, background noise < 0.1).

    Candidates come from the prefix filter (rarest-shingle prefixes only —
    see _prefix_candidates) and are verified with the candidate-driven
    exact Jaccard; output is provably identical to the full co-shingle
    join the DuckDB oracle computes.

    Per-doc shingle ARRAYS are the materialized intermediate (r12 — the
    minhash/simhash fold lesson): the (doc_id, shingle) row table is
    derived by a NARROW explode only where rows are genuinely needed
    (the global shingle-frequency window and the prefix groupBy), and it
    carries n = size(sset) from the projection, so the per-doc count
    window _prefix_candidates used to run is gone; verification reads
    the materialized arrays directly (no collect_list re-aggregation). The
    intermediate shrinks from ~57 rows/doc to 1. Interleaved A/B at
    sf0.1, 3 clean rep pairs: old 6.12/6.21 s vs new 3.08/3.31 s
    (best/median, ~2×), outputs identical."""
    n_docs = table_row_count("documents", sf_dir)
    # heaviest shuffles: the shingle-frequency window and the prefix
    # groupBy over the full ~SHINGLE_FANOUT-rows/doc explode — width
    # travels with this plan via the (possibly cloned) session
    spark = tuned_session(spark, n_docs * SHINGLE_FANOUT)
    docs = load_table(spark, "documents", sf_dir, spread=True)
    # Materialized BEFORE the plan branches: docsets feeds the
    # frequency/prefix pipeline AND both verification sides. A lazily
    # filled cache is raced by the branches of one action — each can miss
    # and recompute the whole tokenize+shingle build (the racing
    # recompute costs multiples of the full query).
    docsets = materialize(
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        # filter BEFORE shingling: F.sequence(0, size-3) runs backwards
        # for size < 3 and would fabricate wrap-around shingles
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.sort_array(F.array_distinct(word_shingles(F.col("t")))).alias("sset"),
        )
    )
    sh = docsets.select(
        "doc_id", F.size("sset").alias("n"), F.explode("sset").alias("shingle")
    )
    # Materialized too: without stats Catalyst guesses the candidate side
    # small and broadcasts it — which executes the whole
    # freq-join+window+bucket-pair subtree ON THE DRIVER (measured ~20 s);
    # materialized, the broadcast is a cheap read and AQE sees real sizes.
    cand = materialize(_prefix_candidates(sh, JACCARD_THRESHOLD))
    sets = docsets.select("doc_id", "sset", F.size("sset").alias("n_shingles"))
    # candidate-id prune, same gate as dedup_minhash_lsh — free here
    # (cand is ALWAYS materialized for the stats reason above, so the
    # prune's only cost is the semi-join itself, which below the gate
    # buys nothing: the adversarial sf corpus makes most docs candidates)
    if n_docs > MINHASH_PRUNE_MIN_DOCS:
        sets = _prune_sets_to_candidates(cand, sets)
    return (
        _verify_pairs_sets(cand, sets)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .orderBy("doc_id_a", "doc_id_b")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: 8 portable minhashes per doc →
    4 bands of 2 → candidates share a band key → verify true Jaccard.

    With planted dups at j ≥ 0.9, P(candidate) = 1-(1-j²)⁴ ≥ 0.9997; the
    oracle replicates the SAME banding, so output matches exactly even for
    the probabilistic part.
    """
    # heaviest shuffle: the shingle build (when the scan is under-parallel
    # and must be spread); verification joins the per-doc arrays to the
    # candidate pairs (prune-gated at scale, below)
    n_docs = table_row_count("documents", sf_dir)
    spark = tuned_session(spark, n_docs * SHINGLE_FANOUT)
    # Per-doc shingle ARRAYS end to end (r12, guide §1.2 — the simhash
    # fold lesson applied to this family): both consumers of the shingle
    # table are per-document reductions — the signature is 8 mins over
    # the doc's own shingles, verification intersects two docs' sets — so
    # the exploded (doc_id, shingle) row table was never needed. One
    # materialized table of (doc_id, sorted distinct shingle array):
    # signatures become 8 array_min(transform(...)) in-row folds (the
    # r12 signed-long mapping keeps them longs — minhash_signed_sql, and
    # fixed-width band-key equality stays EXACTLY the oracle's hex-concat
    # equality; tests/test_minhash_signed.py), and verification reads the
    # arrays directly. Removed per corpus pass vs the r11/r12-row shape:
    # the ~57×n_docs-row explode, the 8-state signature HashAggregate and
    # its exchange, and the per-doc collect_list re-aggregation (whose
    # 4M-doc spill SCALE.md records). Interleaved A/B at sf0.1 on a
    # drift-0.6 quiet window: old 1.294/1.404 s vs new 1.135/1.239 s
    # (best/median), outputs identical.
    #
    # - the upfront repartition(width, doc_id) is a SPREAD, not a
    #   reusable layout: it parallelizes the tokenize+shingle+8×md5 map
    #   work when the footer shows an under-parallel scan, with a
    #   deterministic hash key (round-robin pays sort-before-repartition
    #   and is retry-unsafe, guide §2.5). On a real multi-file corpus the
    #   condition is False and full text never shuffles.
    # - materialize (a checkpoint, not persist): the branch-shared table
    #   is built race-free and the banding pipeline and both verification
    #   sides plan over a LogicalRDD leaf (the persist variant measured
    #   slower in the r12 A/B: columnar cache build + full-lineage
    #   replanning cost more than they return — interleaved array-form
    #   A/B, checkpoint best 1.37 s vs persist 1.86 s). Executor-loss
    #   caveat and cleanup: roar_spark.caching; trade adjudicated in
    #   SCALE.md.
    from roar_spark.catalog import scan_underparallel
    from roar_spark.session import shuffle_width_for

    width = shuffle_width_for(
        int(spark.conf.get("spark.sql.shuffle.partitions")), n_docs * SHINGLE_FANOUT
    )
    docs = load_table(spark, "documents", sf_dir)
    if scan_underparallel("documents", sf_dir, spark.sparkContext.defaultParallelism):
        docs = docs.repartition(width, "doc_id")
    docsets = materialize(
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.sort_array(F.array_distinct(word_shingles(F.col("t")))).alias("sset"),
        )
    )
    sig_cols = []
    for j in range(N_MINHASH):
        signed = minhash_signed_sql(f"md5(concat('{j}|', s))")
        sig_cols.append(f"array_min(transform(sset, s -> {signed})) AS mh{j}")
    sig = docsets.selectExpr("doc_id", *sig_cols)
    rows_per_band = N_MINHASH // N_BANDS
    key_fields = [f"k{r}" for r in range(rows_per_band)]
    # Single-pass banding: explode one array of (band, k0..k{r-1}) structs
    # per doc. A per-band union of selects over `sig` re-evaluates the
    # whole signature aggregation once PER BAND (4 copies of the min-agg
    # map side — measured as the dominant cost at n=80k); the explode plan
    # computes it exactly once.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"mh{b * rows_per_band + r}").alias(f"k{r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *[F.col(f"bb.{f}").alias(f) for f in ("band", *key_fields)])
    # Candidates by bucket grouping, not a bands⋈bands self-join (see
    # _bucket_pairs): the signature pipeline is computed once and the band
    # table shuffles once. Band keys are 2 chained minhashes, so bucket
    # cardinality stays near 1 except for true near-dup groups.
    cand = _bucket_pairs(bands, "band", *key_fields)
    # Candidate-id pruning of the verification stage (r12, verdict r11
    # item 1 — guide §2.2/§3), SIZE-GATED: above the cutoff, cand is
    # materialized (the prune consumes it twice: id
    # derivation + the pair join; unmaterialized, each consumer would
    # re-execute the whole banding pipeline) and the set table is
    # semi-joined to the candidate doc ids BEFORE the pair join, so
    # verification state/shuffle scales with |candidates| · shingles/doc,
    # never with the corpus (the 1M-doc probe in SCALE.md: 65% of total
    # shuffle bytes removed). Below the cutoff the extra eager candidate
    # action is pure fixed overhead that the savings cannot repay
    # (interleaved decomposition at sf0.1: cand materialization
    # +1.4-1.5 s vs ≤ 0.4 s saved — the events_sessionize trade
    # calculus); the driver SFs keep the single-action shape. Equal
    # outputs on both sides of the gate are pinned by
    # tests/test_minhash_signed.py.
    prune = n_docs > MINHASH_PRUNE_MIN_DOCS
    sets = docsets.select("doc_id", "sset", F.size("sset").alias("n_shingles"))
    if prune:
        cand = materialize(cand)
        sets = _prune_sets_to_candidates(cand, sets)
    return (
        _verify_pairs_sets(cand, sets)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .orderBy("doc_id_a", "doc_id_b")
    )


# Packed histogram fields are 16 bits wide (lane capacity 65535), but the
# SIGNED 64-bit sum accumulator bounds the guard: a worst-case token adds
# 0x0001000100010001, so 2^15-1 tokens is the largest count that can never
# overflow the top lane into the sign bit (property-tested in
# tests/test_simhash_packing.py). Beyond that the aggregate raises —
# loudly, never silently wrong. 32k whitespace tokens ≈ 200 KB of text,
# above any sane training-doc cap; longer docs should pre-chunk.
_PACK_FIELD_BITS = 16
_PACK_MAX_TOKENS = (1 << _PACK_FIELD_BITS) - 1  # lane mask / lane capacity
_PACK_SAFE_TOKENS = (1 << 15) - 1  # accumulator-safe per-doc token bound
# lookup[v] = the 4 bits of hex-digit value v spread into 16-bit lanes:
# lane r accumulates "count of tokens whose bit r is set" under SUM.
_PACK_LOOKUP = [
    sum(((v >> r) & 1) << (_PACK_FIELD_BITS * r) for r in range(4)) for v in range(16)
]


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SIMHASH_BITS-bit simhash from token md5 bits (portable).

    Aggregation shape: instead of 60 per-bit signed sums (a huge codegen
    unit — the round-1 cost center), each of the 15 hex digits contributes
    ONE packed long via a 16-entry lookup literal: digit value v maps to
    its 4 bits spread into 16-bit lanes, so SUM(packed) accumulates four
    set-bit counts at once. 15 sums + 1 count replace 60 sums; bit b of the
    signature is set iff 2·count_set(b) > n_tokens — identical to the
    sign-of-(±1-sum) definition the DuckDB oracle computes independently.
    Docs beyond _PACK_SAFE_TOKENS tokens raise (overflow guard).

    ``spread=True``: the per-token md5 + 15 hex-digit extractions are the
    heaviest per-row map work in the simhash path, and a few-row-group
    corpus file (4M rows / 4 row groups in the scale harness) serializes
    it through a handful of tasks — the fifth instance of the
    single-row-group-victim class the ≥320k harness keeps finding
    (measured at 4M: 288-422 s e2e unspread vs ~1/4 of that spread; a
    same-window sf0.1 A/B shows the exchange is free there). No-op on
    real multi-file corpora."""
    docs = load_table(spark, "documents", sf_dir, spread=True)
    # Per-doc ARRAY FOLD instead of explode + hash aggregate (r12, guide
    # §1.2 "remove unnecessary shuffles and passes"): the signature is a
    # per-document reduction over that document's own tokens, so it never
    # needed the (doc_id, token) row table — `transform` parses each
    # token's 15-digit md5 hex prefix into ONE long (a single conv, the
    # r6 rework) exactly once, and 15 `aggregate` folds accumulate the
    # packed 16-bit-lane histograms over the in-memory array. That
    # removes, per corpus pass: the ~SHINGLE_FANOUT×n_docs-row Generate,
    # the 16-state hash-aggregation machinery, and the doc_id exchange —
    # the build is now a pure narrow map (scan → project), and the
    # operator's only remaining shuffles are the pair stage's own.
    # Higher-order functions are interpreted (no whole-stage codegen),
    # but the per-token md5 dominates either way: interleaved same-
    # session A/B at sf0.1, 5 rep pairs — fold 1.17/1.45 s vs explode+agg
    # 1.61/1.99 s (best/median, ~1.4×), outputs exactly equal both
    # directions (exceptAll = 0; test_simhash_fold_matches_reference pins
    # a pure-Python md5 reference).
    #
    # All expressions are built as SQL strings and parsed server-side in
    # ONE call each (r11): the Column-API form of the 60-term majority
    # reconstruction cost ~7.8k py4j round trips (~1.6 s of driver time
    # PER INVOCATION — measured with cProfile). Semantics are expression-
    # for-expression identical; the oracle and the packing property tests
    # pin that.
    n_digits = SIMHASH_BITS // 4
    lookup_sql = ",".join(f"{v}L" for v in _PACK_LOOKUP)
    hs_sql = (
        "transform(split(lower(trim(text)), '\\\\s+'), t -> "
        f"CAST(conv(substring(md5(t), 1, {n_digits}), 16, 10) AS BIGINT))"
    )
    packed = (
        docs.selectExpr("doc_id", f"{hs_sql} AS _hs")
        # NULL text: explode() dropped the doc row; the fold must too
        .filter("_hs IS NOT NULL")
        .selectExpr(
            "doc_id",
            "size(_hs) AS n_tok",
            *[
                f"aggregate(_hs, 0L, (acc, x) -> acc +"
                f" element_at(array({lookup_sql}),"
                f" CAST((shiftright(x, {4 * (n_digits - 1 - d)}) & 15) AS INT) + 1))"
                f" AS h{d}"
                for d in range(n_digits)
            ],
        )
    )
    terms = []
    for b in range(SIMHASH_BITS):
        lane = f"(shiftright(h{b // 4}, {_PACK_FIELD_BITS * (b % 4)}) & {_PACK_MAX_TOKENS})"
        terms.append(f"(CASE WHEN ({lane} * 2) > n_tok THEN {1 << b}L ELSE 0L END)")
    sim_sql = " + ".join(terms)
    guarded_sql = (
        f"CASE WHEN n_tok <= {_PACK_SAFE_TOKENS} THEN CAST({sim_sql} AS BIGINT) "
        "ELSE CAST(raise_error('simhash: doc exceeds 32767 tokens;"
        " pre-chunk the corpus') AS BIGINT) END AS simhash"
    )
    return packed.selectExpr("doc_id", guarded_sql)


# Above this corpus size the pigeonhole equi-join beats the all-pairs
# filter; below it the chunk join's 3 shuffles + distinct never amortize
# against a trivial broadcast cross. Re-measured in r6 after the conv
# signature rework shifted the balance (the cheaper signature build used
# to be the pigeonhole path's overhead): interleaved A/B best-of —
# 5 k: 1.24 vs 1.74 s, 20 k: 1.38 vs 2.02 s (all-pairs wins both),
# 80 k: 3.48 vs 2.43 s (pigeonhole wins; n² popcounts caught up) —
# identical outputs at every size (equivalence also test-pinned). 30 k
# sits just under the projected ~2.1 s crossover.
SIMHASH_ALLPAIRS_MAX_DOCS = 30_000
# above this, the composite chunk-pair keys win: single-chunk candidates
# grow n²/2¹² while the composite form pays 3× keys for a 2²⁰ bucket
# space (crossover measured between 1M and 4M docs, SCALE.md)
SIMHASH_MULTIINDEX_MIN_DOCS = 2_000_000


def _simhash_pairs_allpairs(sig: DataFrame) -> DataFrame:
    """All-pairs signature comparison: one broadcast nested-loop with a
    cheap XOR+popcount filter. Right choice while docs ≲ 10⁵."""
    a = sig.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sim_a"))
    b = sig.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sim_b"))
    return a.join(b, F.col("doc_id_a") < F.col("doc_id_b")).select(
        "doc_id_a", "doc_id_b", "sim_a", "sim_b"
    )


def _simhash_pairs_pigeonhole(sig: DataFrame, composite: bool = True) -> DataFrame:
    """Sub-quadratic pair stage (the 100 TB path), multi-index form:
    split each signature into hamming_k+2 = 6 chunks of 10 bits and join
    on PAIRS of chunks — hamming ≤ 4 distributed over 6 chunks leaves
    ≥ 2 chunks untouched, so every true pair matches exactly on at least
    one of the C(6,2) = 15 composite (chunk_i, chunk_j) keys (lossless,
    same pigeonhole argument one level up).

    Why pairs of chunks: the single-chunk form (k+1 chunks, ≥ 1 match)
    buckets on only chunk_bits of signature — 2^12 values — and the
    in-bucket candidate volume grows n²/2^bits: at 4 M docs that is
    ~10 G popcount comparisons (measured 50 s; SCALE.md). Composite keys
    square the bucket space (2^20) for a 3× key-volume cost — candidate
    volume drops ~90× and the join is CPU-bound on real work again.

    ``composite=False`` keeps the single-chunk form (k+1 = 5 chunks of 12
    bits, ≥ 1 exact match): its key volume is 3× smaller, which wins
    while n²/2¹² candidate popcounts are still cheap — the caller
    dispatches on corpus size (footer metadata, no job), the same
    three-tier pattern as the all-pairs cutoff.

    The hamming popcount filter is applied INSIDE the join, before the
    dedup ``distinct``: signatures cluster (that is simhash's whole
    point), so buckets are skewed and the raw candidate space can be
    100×+ the surviving pair set. Deduplicating survivors instead of
    candidates keeps the expensive exchange proportional to OUTPUT, not
    to bucket skew."""
    n_chunks = SIMHASH_HAMMING + 2 if composite else SIMHASH_HAMMING + 1
    chunk_bits = SIMHASH_BITS // n_chunks

    def chunk(i: int) -> F.Column:
        return F.shiftright(F.col("simhash"), i * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )

    keys = (
        [(i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)]
        if composite
        else [(i, None) for i in range(n_chunks)]
    )
    chunks = None
    for key_id, (i, j) in enumerate(keys):
        val = chunk(i) if j is None else chunk(i) * (1 << chunk_bits) + chunk(j)
        part = sig.select(
            "doc_id",
            "simhash",
            F.lit(key_id).alias("chunk_id"),
            val.alias("chunk_val"),
        )
        chunks = part if chunks is None else chunks.unionAll(part)
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                <= SIMHASH_HAMMING
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )


def dedup_simhash(spark: SparkSession, sf_dir: str, force_pigeonhole: bool | None = None) -> DataFrame:
    """SimHash near-dup pairs: hamming ≤ SIMHASH_HAMMING over 60-bit
    signatures. Pair stage dispatches by corpus size: all-pairs filter for
    small corpora, pigeonhole chunk equi-join beyond
    SIMHASH_ALLPAIRS_MAX_DOCS (identical results either way — a test pins
    the equivalence). Corpus size comes from parquet footer metadata — a
    driver-side read, not a scheduled ``count()`` job."""
    n_docs = table_row_count("documents", sf_dir)
    # Heaviest shuffles here: the token-explode under simhash_signatures
    # (~SHINGLE_FANOUT rows/doc) and the 15-key composite chunk table
    # (15 rows/doc) — size the width from the larger fan-out
    spark = tuned_session(spark, n_docs * SHINGLE_FANOUT)
    use_pigeonhole = (
        force_pigeonhole
        if force_pigeonhole is not None
        else n_docs > SIMHASH_ALLPAIRS_MAX_DOCS
    )
    # Materialize the signatures and TRUNCATE LINEAGE on both branches
    # (r11). Two reasons, both measured at sf0.1: (a) the all-pairs join
    # references sig twice (stream + broadcast side) — uncached, the
    # whole scan→Generate→16-sum aggregate subtree is planned and
    # executed once per side, plus an isnotnull(<60-term reconstruction>)
    # filter the join pushes onto each copy; (b) even with persist(),
    # every downstream ACTION re-walks the giant reconstruction tree —
    # cache canonicalization and AQE's per-stage re-optimization copy it
    # with TreeNode.makeCopy (driver thread-dumped at ~9.7 s of CPU in
    # one bench invocation; execution itself was 0.13 s).
    # The checkpoint cuts the pair stage's plan to a LogicalRDD leaf:
    # the giant expression is planned exactly once, in sig's own job.
    # Cleanup and the executor-loss caveat: roar_spark.caching (the
    # signature table is n_docs × 16 B, tiny next to its shingle inputs).
    sig = materialize(simhash_signatures(spark, sf_dir))
    if use_pigeonhole:
        # third tier: composite (multi-index) keys only where the
        # single-chunk candidate volume n²/2¹² dominates the 3× key cost —
        # same-window crossover measured between 1 M (single 4.0 s vs
        # composite 6.3 s) and 4 M docs (45.5 s vs 19.6 s), SCALE.md
        pairs = _simhash_pairs_pigeonhole(
            sig, composite=n_docs > SIMHASH_MULTIINDEX_MIN_DOCS
        )
    else:
        pairs = _simhash_pairs_allpairs(sig)
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING)
        .select("doc_id_a", "doc_id_b", "hamming")
        .orderBy("doc_id_a", "doc_id_b")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str, max_iters: int = 20) -> DataFrame:
    """Near-dup clusters: connected components over the verified ngram-
    Jaccard pair graph, every doc labeled with its component's min doc_id
    (singletons label themselves).

    Iterative min-label propagation (Pregel-style BSP on DataFrames): each
    round every node takes min(own label, neighbors' labels); the fixpoint
    is reached in graph-diameter rounds, and near-dup graphs are unions of
    near-cliques, so the diameter — and round count — is tiny. Per round:
    one key-partitioned join + one map-side-combinable min aggregation,
    both hash-partitioned on doc_id, so AQE reuses one co-located shuffle
    layout. localCheckpoint() truncates lineage each round (an iterative
    plan would otherwise grow a 2^rounds tree); the convergence probe is a
    LIMIT 1 existence check, not a full count. The per-round driver action
    is inherent to any BSP loop (Pregel ticks the same way). At adversarial
    scale (long chains), swap the loop body for alternating large-/small-
    star (Kiveris et al., "Connected Components in MapReduce"), which
    converges in O(log n) rounds on any topology — same per-round shape.
    """
    # tune HERE so the jaccard call reuses this session (same corpus ->
    # same width -> tuned_session returns it unchanged) and the pair graph
    # composes with load_table's docs on ONE session
    spark = tuned_session(spark, table_row_count("documents", sf_dir) * SHINGLE_FANOUT)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return min_label_propagation(docs, pairs, max_iters).orderBy("doc_id")


def min_label_propagation(docs: DataFrame, pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """BSP min-label propagation: (doc_id, cluster_id) where cluster_id is
    the min doc_id reachable through the (doc_id_a, doc_id_b) pair graph.
    Factored out of dedup_clusters so chain (non-clique) topologies — which
    need label flow across MULTIPLE rounds — are unit-testable directly
    (the corpus's planted components are all cliques, where a broken
    single-round loop would still produce the right answer)."""
    edges = (
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")))
        .persist()
    )
    converged = False
    try:
        labels = docs.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint()
        for _ in range(max_iters):
            neigh = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = (
                labels.join(neigh, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            improved = (
                new_labels.join(labels.withColumnRenamed("label", "old"), "doc_id")
                .filter(F.col("label") < F.col("old"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if improved == 0:
                converged = True
                break
    finally:
        # unpersist on EVERY exit: an exception mid-round (executor loss
        # invalidating a checkpoint, an ANSI error) must not pin the
        # doubled edge table in storage memory for the rest of the session
        # (r8 review)
        edges.unpersist()
    if not converged:
        # labels still moving when the budget ran out = some component's
        # min label hasn't reached every member — returning would SILENTLY
        # split clusters (the min travels one hop per round, so any chain
        # longer than max_iters hits this). Same loud contract as
        # star_components (r8 review).
        raise RuntimeError(
            f"min_label_propagation did not converge in {max_iters} rounds; "
            "the pair graph has a longer chain than the round budget — "
            "raise max_iters or use star_components (O(log n) rounds)"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))



def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its LARGER neighbors to the
    minimum of its closed neighborhood. Strictly decreases large-neighbor
    edges; preserves connectivity."""
    both = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    grp = both.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.least(F.array_min("nbrs"), F.col("u"))
    return (
        grp.select(
            m.alias("m"),
            F.explode(F.filter("nbrs", lambda x: x > F.col("u"))).alias("w"),
        )
        .filter(F.col("w") != F.col("m"))
        .select(F.col("w").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star operation: orient every edge large→small, then each node
    re-points its SMALLER neighbors (and itself) at the minimum of that
    set. Together with large-star this converges to per-component stars in
    O(log n) rounds on ANY topology — including the long chains where
    plain min-label propagation needs diameter rounds."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    grp = oriented.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.least(F.array_min("nbrs"), F.col("u"))
    return (
        grp.select(
            "u",
            m.alias("m"),
            F.array_union("nbrs", F.array(F.col("u"))).alias("pts"),
        )
        .select(F.col("m"), F.explode("pts").alias("w"))
        .filter(F.col("w") != F.col("m"))
        .select(F.col("w").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def star_components(docs: DataFrame, pairs: DataFrame, max_iters: int = 30):
    """Connected components by alternating large-star/small-star — the
    adversarial-topology path SCALE.md names for the cluster operator:
    O(log n) rounds on any graph where min-label propagation needs
    graph-diameter rounds (long chains). Returns (labels, rounds) with the
    same (doc_id, cluster_id) contract as min_label_propagation; the
    equivalence on random graphs and chains is pinned by
    tests/test_dedup_paths.py.

    Per round: two groupBy(node) aggregations + explodes — the same
    key-partitioned shape as the min-label round. Convergence probe is an
    order-independent (count, xor-of-hashes) edge-set fingerprint: one
    tiny aggregate per round instead of a two-sided anti-join. (A 64-bit
    fingerprint collision would need 2^64-scale coincidence; the result
    itself stays exact — comparing AFTER the round's edges are already the
    new state means a declared convergence IS a fixpoint of small∘large.
    If max_iters rounds pass without reaching one, the function raises
    rather than returning the silently-split labels a non-fixpoint edge
    set would produce.)"""
    edges = (
        pairs.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: order-independent like sum but cannot
            # overflow int64 under ANSI mode
            F.coalesce(
                F.expr("bit_xor(xxhash64(least(u, v), greatest(u, v)))"),
                F.lit(0).cast("long"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(edges)
    rounds = 0
    converged = False
    for _ in range(max_iters):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        rounds += 1
        nfp = fingerprint(edges)
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if not converged:
        raise RuntimeError(
            f"star_components: no fixpoint within {max_iters} rounds — "
            "labels from a non-fixpoint edge set can split components; "
            "raise max_iters (expected rounds ~ O(log n), worst cases higher)"
        )
    # at the fixpoint every edge points (member -> component root); a
    # member with several root edges keeps the min (defensive: the true
    # fixpoint already has exactly one)
    member = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    labels = docs.select("doc_id").join(
        member.select(F.col("u").alias("doc_id"), "cluster_id"), "doc_id", "left"
    )
    return (
        labels.select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        ),
        rounds,
    )


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via alternating large-/small-star — the same
    (doc_id, cluster_id) contract (and DuckDB oracle) as dedup_clusters,
    computed by the O(log n)-round algorithm instead of diameter-round
    min-label propagation. Registry-visible so the adversarial-topology
    path earns its own driver row; the min-label equivalence on random
    graphs and 60-chains is pinned by tests/test_dedup_paths.py."""
    # single-session composition with the jaccard pair graph (see
    # dedup_clusters)
    spark = tuned_session(spark, table_row_count("documents", sf_dir) * SHINGLE_FANOUT)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    labels, _rounds = star_components(docs, pairs)
    return labels.orderBy("doc_id")


EVAL_MOD = 100  # doc_id % 100 == 0 stands in for the benchmark/eval set


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing ANY
    word-3-gram with the eval set (here: doc_id ≡ 0 mod 100 stands in for
    the benchmark suite) — the n-gram-overlap contamination check LLM
    data pipelines run before training.

    Scale shape: the eval side is small by nature (benchmarks are
    thousands of docs vs billions of training docs), so its distinct
    shingle set BROADCASTS — the training shingle table streams through a
    broadcast hash join and never shuffles; no threshold, no self-join.
    At extreme eval sizes the same plan degrades gracefully to a shuffle
    hash join on the shingle key (or a bloom-filter pre-pass). Output is
    per-contaminated-doc evidence counts, not just a flag."""
    # spread: the tokenize+shingle build is the heaviest map work here and
    # both sides derive from it; materialized so the eval-broadcast job's
    # pass over the corpus is reused by the training-side stream instead
    # of re-tokenizing the full corpus (SCALE.md 1M sweep).
    spark = tuned_session(spark, table_row_count("documents", sf_dir) * SHINGLE_FANOUT)
    sh = materialize(_doc_shingles(spark, sf_dir, spread=True))
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    eval_sh = F.broadcast(
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "shingle")
    )
    return (
        train.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("eval_doc_id").alias("n_eval_docs_hit"),
            # DISTINCT shingles: a bare COUNT(*) counted (shingle, eval_doc)
            # JOIN rows, so one hot 3-gram appearing in 5 eval docs read as
            # "5 shared shingles" — a contamination threshold like
            # "drop if ≥ 3 shared n-grams" then fires on a single n-gram
            # (r8 review; oracle updated in lockstep)
            F.count_distinct("shingle").alias("n_shared_shingles"),
        )
        .orderBy("doc_id")
    )


# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): the unit of duplication is a TOKEN SPAN,
# not a whole document — boilerplate headers, licence blocks, and quoted
# passages repeat verbatim across otherwise-distinct documents. The
# canonical implementation is a corpus-wide suffix array; the Spark-native
# equivalent below reaches the same ≥-L-token duplicated spans through
# fixed-length window seeds + island merging, which needs only equi-keyed
# shuffles (no global suffix order, no cross-partition binary search).
SUBSTRING_WINDOW = 10  # seed length L in tokens; spans reported are ≥ L


def dedup_substring_spans(
    spark: SparkSession, sf_dir: str, window: int = SUBSTRING_WINDOW
) -> DataFrame:
    """Maximal cross-document duplicated token spans (exact-substring
    dedup). A position is duplicated iff some L-token window covering it
    occurs verbatim in ≥ 2 distinct documents; overlapping/adjacent
    duplicated seeds merge into maximal spans (doc_id, span_start,
    span_end, span_len), token positions 0-based inclusive.

    Correctness: every duplicated substring of length ≥ L contains an
    L-window at each start offset, and each of those windows matches in
    the partner doc — so the union of flagged seeds covers exactly the
    duplicated positions and island-merging reconstructs the maximal
    span. Substrings shorter than L are invisible by contract (same
    threshold semantics as the suffix-array formulation's min-match
    length). Intra-document repeats are NOT flagged (min≠max doc test is
    cross-document by construction).

    Scale shape (100 TB): one per-token-position seed table (~n_tokens
    rows of (doc_id, start, 16-byte window hash)) shuffled once on the
    hash with a min/max-doc_id window attaching cross-doc evidence in
    place — the no-join single-pass form text_dup_ngrams measured 2×
    faster than df-agg + join-back at this fan-out (hot-hash caveat and
    the salted agg+join fallback documented there apply identically).
    Everything after the seed filter touches only duplicated seeds
    (corpus-sparse); the gaps-and-islands merge is two windows and an
    aggregation on the doc key. All JVM-side, md5 seeds → exact DuckDB
    oracle."""
    spark = tuned_session(spark, table_row_count("documents", sf_dir) * SHINGLE_FANOUT)
    docs = load_table(spark, "documents", sf_dir, spread=True)
    L = window
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(F.size("t") >= L)
    # one md5 per window start; posexplode keeps the 0-based start offset
    # unhex: the window hash is internal (never output), so carry it as
    # 16 raw bytes instead of 32 hex chars — halves the key bytes of the
    # one big shuffle and cheapens its sort comparisons (guide §2.3
    # "narrower types"). Same md5 → same collision behavior as the oracle.
    seeds = tok.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - L),
                lambda i: F.unhex(F.md5(F.concat_ws(" ", F.slice("t", i + 1, L)))),
            )
        ).alias("start", "wh"),
    )
    wh_win = W.partitionBy("wh")
    dup = (
        seeds.withColumn("mn", F.min("doc_id").over(wh_win))
        .withColumn("mx", F.max("doc_id").over(wh_win))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "start")
        # r12: the r11 repartitionByRange(doc_id) seed here was REVERTED
        # on a drift-1.000 interleaved A/B (old best/median 1.105/1.182 s
        # vs seeded 1.203/1.230 s over 5 rep pairs): the exchange the seed
        # removes carries only the corpus-sparse dup seeds, while the
        # range SAMPLING pass re-executes the full per-window-hash window
        # subtree above — the events_sessionize trade calculus, which the
        # r11 bundle A/B (seed + unhex key together) mis-attributed to
        # the seed. The unhex narrow-key half of that bundle stays (it is
        # what the strip variant measured alone). SCALE.md r12 records
        # both numbers.
    )
    # gaps-and-islands: seeds of length L overlap/abut iff the next start
    # is within L of the previous; a running sum of break flags numbers
    # the islands, and each island's extent is the maximal span
    doc_win = W.partitionBy("doc_id").orderBy("start")
    spans = (
        dup.withColumn(
            "brk",
            F.when(
                F.col("start")
                > F.coalesce(F.lag("start").over(doc_win), F.lit(-L - 1)) + L,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(doc_win.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            (F.max("start") + L - 1).cast("long").alias("span_end"),
            (F.max("start") + L - F.min("start")).cast("long").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
    )
    return spans


def dedup_substring_strip(
    spark: SparkSession, sf_dir: str, window: int = SUBSTRING_WINDOW
) -> DataFrame:
    """The transform half of exact-substring dedup (Lee et al. 2022 keep
    one occurrence): token position p in doc d is EXCISED iff covered by
    an L-window that also occurs in an earlier document (min owner
    doc_id < d) — the first document to carry a passage keeps it, every
    later carrier loses exactly the duplicated positions. Emits per-doc
    (n_tokens, n_removed, kept_md5) where kept_md5 digests the cleaned
    space-joined text (the text_pii_scrub convention — audit + content
    digest, no megabyte strings through the compare harness). A doc that
    is a verbatim later-copy strips to the empty string.

    Scale shape: seed generation + min-owner window + island merge are
    dedup_substring_spans' plan (one hash-keyed shuffle, downstream
    touches only duplicated seeds). The excision itself is ARRAY-NATIVE:
    per-doc removal spans aggregate to one (start, end) list, LEFT-join
    onto the corpus by doc_id, and a filter-with-index lambda drops
    covered positions in place — the token table is never exploded, so
    the rebuild costs one doc-keyed join against the corpus-sparse span
    table, with no per-token shuffle and no reassembly aggregation."""
    spark = tuned_session(spark, table_row_count("documents", sf_dir) * SHINGLE_FANOUT)
    docs = load_table(spark, "documents", sf_dir, spread=True)
    L = window
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # unhex: internal-only hash carried as 16 raw bytes, not 32 hex chars
    # (see dedup_substring_spans — same §2.3 narrowing of the big shuffle)
    seeds = tok.filter(F.size("t") >= L).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - L),
                lambda i: F.unhex(F.md5(F.concat_ws(" ", F.slice("t", i + 1, L)))),
            )
        ).alias("start", "wh"),
    )
    rm = (
        seeds.withColumn("mn", F.min("doc_id").over(W.partitionBy("wh")))
        .filter(F.col("mn") < F.col("doc_id"))
        .select("doc_id", "start")
    )
    doc_win = W.partitionBy("doc_id").orderBy("start")
    spans = (
        rm.withColumn(
            "brk",
            F.when(
                F.col("start")
                > F.coalesce(F.lag("start").over(doc_win), F.lit(-L - 1)) + L,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(doc_win.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), (F.max("start") + L - 1).alias("e"))
    )
    # one flat 0-based removed-position array per doc; islands are
    # disjoint by construction so the flatten needs no dedup
    rm_arr = spans.groupBy("doc_id").agg(
        F.flatten(
            F.collect_list(F.sequence(F.col("s"), F.col("e")))
        ).alias("rm_pos")
    )
    joined = tok.join(rm_arr, "doc_id", "left")
    kept = F.when(F.col("rm_pos").isNull(), F.col("t")).otherwise(
        F.filter(
            "t", lambda x, i: ~F.array_contains(F.col("rm_pos"), i)
        )
    )
    return (
        joined.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


BAND_EVIDENCE_SCHEMA = (
    "band int, band_key string, doc_id bigint, first_doc_id bigint,"
    " is_first boolean"
)


def dedup_stream_bands(
    parsed: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash-LSH near-dup CANDIDATE screen on the ingest path: the same
    8-minhash / 4-band family as batch dedup_minhash_lsh, evaluated as a
    continuous stream. Each arriving document emits one evidence row per
    band — (band, band_key, doc_id, first_doc_id, is_first) — where
    first_doc_id is the document that FIRST carried that band key
    (first-arrival-wins, the curate_stream convention: a stream cannot
    know the future, so on a doc_id-ordered replay it agrees with the
    batch min-doc_id banding — equality test-pinned). A doc with any
    evidence row where is_first is false shares a band with an earlier
    document and is exactly the candidate set the batch operator would
    verify; verification (true Jaccard) is a downstream batch join by
    contract, the same division of labor as the batch op.

    Scale shape: signatures are computed MAP-SIDE inside the micro-batch
    — array-native min over the per-doc shingle array (array_min ==
    the groupBy-min the batch op aggregates, no per-doc shuffle) — and
    the only stateful stage is keyed by band_key with state = ONE long
    per distinct key (the first owner). State grows with distinct band
    keys, not stream volume, and two chained minhashes per key keep
    bucket cardinality near 1 except for true near-dup groups (the same
    argument as the batch banding)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import parity

    rows_per_band = N_MINHASH // N_BANDS
    mh = [
        F.array_min(F.transform(F.col("sh"), lambda s, j=j: minhash_str(s, j)))
        for j in range(N_MINHASH)
    ]
    bands = (
        parsed.select(
            F.col(id_col).cast("long").alias("doc_id"), tokens(F.col(text_col)).alias("t")
        )
        # same guard as _doc_shingles: < 3 tokens would run word_shingles'
        # F.sequence backwards and fabricate wrap-around shingles
        .filter(F.size("t") >= 3)
        .select("doc_id", F.array_distinct(word_shingles(F.col("t"))).alias("sh"))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat(
                                *[mh[b * rows_per_band + r] for r in range(rows_per_band)]
                            ).alias("band_key"),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))
    )

    def _first_owner(key, pdfs, state: "GroupState"):
        band, band_key = int(key[0]), str(key[1])
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(pdf["doc_id"].astype("int64").tolist())
        ids.sort()  # in-batch determinism: lowest doc_id wins the key
        (first,) = state.get if state.exists else (None,)
        if first is None:
            first = ids[0]
        state.update((int(first),))
        yield pd.DataFrame(
            {
                "band": [band] * len(ids),
                "band_key": [band_key] * len(ids),
                "doc_id": ids,
                "first_doc_id": [int(first)] * len(ids),
                "is_first": [i == first for i in ids],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("band", "band_key").applyInPandasWithState(
        _first_owner,
        outputStructType=BAND_EVIDENCE_SCHEMA,
        stateStructType="first_doc_id bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
