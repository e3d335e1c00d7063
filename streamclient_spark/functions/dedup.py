"""Deduplication operators for LLM-data pipelines (SURVEY.md §2B B-L1/L2).

Five dedup families. The linear-cost paths (hashing, signatures, LSH
banding) are JVM-side builtins; the two *quadratic* kernels (pairwise
trigram intersection, pairwise cosine) run as single BLAS GEMMs behind
``applyInPandas`` — per-pair work is exactly where interpreted
expressions lose to vectorized numpy by an order of magnitude.

- exact dedup by content hash (``q_dedup_exact``)
- MinHash + LSH near-dup candidate generation with exact-Jaccard
  verification (``q_dedup_near``)
- SimHash near-dup with Hamming-distance pairing (``q_dedup_simhash``)
- character n-gram Jaccard top-k most-similar pairs (``q_dedup_jaccard``)
- embedding-cosine near-dup with label blocking (``q_dedup_embed``)

Hash convention: the base hash is the first 8 hex chars of ``md5`` read
as a 32-bit integer — md5 is the one hash both engines implement
identically, which is what makes every one of these oracle-checkable.
At the 100 TB design point you would swap it for ``xxhash64`` (Spark)
since the oracle bridge is no longer needed; nothing else changes.

Scale notes (100 TB):

- MinHash signatures are one explode + one hash-aggregate per document
  (map-side combined); the LSH band self-join shuffles only
  ``(doc_id, band, 2×32-bit key)`` — the whole point of LSH is that the
  join key space is tiny compared to pairwise.
- The exact-Jaccard verification joins shingle sets only for LSH
  *candidates* (output of the band join), never all pairs.
- SimHash is two hash-aggregates; the pair step is a self-join on a
  64× reduced table (one row per doc).
- The embedding near-dup blocks on ``label`` (stand-in for an IVF
  coarse quantizer cell) so the pair space is |cell|²·cells, not N².
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamclient_spark.cacheutil import (
    cached_frame,
    managed_persist,
    release_managed,
)
from streamclient_spark.functions.text import (
    SQL_TOKENS,
    shingles,
    sql_shingles,
    tokens,
)
from streamclient_spark.plans.registry import register
from streamclient_spark.tables import load, split_recovery

# ---------------------------------------------------------------------------
# hashing primitives (shared with similarity.py)
# ---------------------------------------------------------------------------

#: modulus for the universal-hash permutation family (Mersenne 2^31-1)
MINHASH_P = 2_147_483_647
#: number of MinHash permutations / bands×rows layout
MINHASH_PERMS = 32
LSH_BANDS = 16
LSH_ROWS = MINHASH_PERMS // LSH_BANDS  # 2

# fixed (a, b) coefficients of the permutation family a·h + b mod P —
# arbitrary distinct constants; md5 already mixes, the perms only need
# to be distinct affine maps.
PERM_A = tuple(97 + 31 * i for i in range(MINHASH_PERMS))
PERM_B = tuple(911 + 997 * i for i in range(MINHASH_PERMS))


def hash32(col: Column | str) -> Column:
    """First 8 hex chars of md5 as a non-negative 32-bit int (BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def sql_hash32(expr: str) -> str:
    """DuckDB twin of :func:`hash32`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


_SQL_SHINGLE_SETS = f"""
    WITH _toks AS (
      SELECT doc_id, {SQL_TOKENS.format(col="text")} AS toks FROM documents
    ), shingle_sets AS (
      SELECT doc_id, {sql_shingles("toks")} AS s FROM _toks
    )
"""


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id", shingles(tokens("text")).alias("s")
    )


# ---------------------------------------------------------------------------
# q_dedup_exact — content-hash dedup (B-L1)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_md5,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L1/B-T4: exact dedup — group by content hash, keep the lowest
    doc_id per group (deterministic survivor rule). One hash aggregate
    with map-side combine; at 100 TB the only shuffle is on the 128-bit
    digest, which is uniformly distributed — no skew by construction."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_near — MinHash + LSH + exact-Jaccard verify (B-L2)
# ---------------------------------------------------------------------------

_NEAR_THRESHOLD = 0.8


@register(
    "q_dedup_near",
    oracle=f"""
    {_SQL_SHINGLE_SETS}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= {_NEAR_THRESHOLD}
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: near-duplicate pairs via MinHash + LSH banding + exact
    verification.

    Pipeline: 5-gram word shingles → 32 MinHash signatures (universal
    affine perms over a 32-bit md5 base hash) → 16 bands × 2 rows →
    band-bucket self-join for candidates → exact Jaccard ≥ 0.8 filter.

    The oracle is the *ground truth* (brute-force pairwise Jaccard): the
    check passes exactly when LSH recall on above-threshold pairs is
    100%. At 16×2 banding the miss probability of a J=0.8 pair is
    (1-0.8²)¹⁶ ≈ 8e-8, and the fixture's planted near-dups sit at
    J≈0.99 (miss ≈ 3e-23); everything else is ≤0.016, far below the
    verify threshold — so LSH∘verify and brute force agree and the
    comparison is deterministic (the md5 pipeline has no runtime
    randomness).
    """
    release_managed()  # drop the previous query's cached intermediates
    return near_dup_pairs(spark, sf_dir)


def _shingle_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup profile in ONE Arrow pass: distinct 5-gram
    shingle set, 32 MinHash signature values, and the 16 LSH band keys
    — ``(doc_id, s, band_keys)``.

    Everything here is builtin-expressible (and the DuckDB oracle
    expresses it that way), but Spark's higher-order-function
    expressions are interpreted per element, outside whole-stage
    codegen — the Catalyst formulation (shingle HOF → explode → md5 →
    32-way min aggregate → band concat) measured ~9 s at sf0.1 where
    this single ``mapInPandas`` projection takes ~1 s, and it also
    deletes the signature shuffle entirely (the explode→groupBy
    round-trip becomes a per-row loop that never leaves the
    partition). Hash math is identical: hashlib md5 == Spark md5 ==
    DuckDB md5, and the affine permutation mins are exact int64."""
    import hashlib
    import re

    A = np.array(PERM_A, dtype=np.int64)[:, None]
    B = np.array(PERM_B, dtype=np.int64)[:, None]
    ws = re.compile("[ \t\n\f\r]+")  # RE2 \s, the oracle's class (no \x0b)

    def profiles(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # NULL text = no tokens, like the oracle
                    continue
                toks = [t for t in ws.split(text) if t]
                if len(toks) >= 5:
                    sh = list(
                        {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
                    )
                else:
                    sh = [" ".join(toks)]
                h = np.array(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                        for s in sh
                    ],
                    dtype=np.int64,
                )
                sig = ((A * h[None, :] + B) % MINHASH_P).min(axis=1)
                keys = [
                    "_".join(
                        str(sig[j * LSH_ROWS + r]) for r in range(LSH_ROWS)
                    )
                    for j in range(LSH_BANDS)
                ]
                out.append((doc_id, sh, keys))
            yield pd.DataFrame(out, columns=["doc_id", "s", "band_keys"])

    # split recovery: the fixture file carries 1-3 row groups, so this
    # CPU-bound pass would otherwise run on 1-3 tasks at any core
    # count (measured 32 s → 9 s for q_dedup_near at sf1); with real
    # multi-split input the repartition is a no-op to delete
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(split_recovery(spark, sf_dir, "documents"))
        .mapInPandas(
            profiles,
            "doc_id bigint, s array<string>, band_keys array<string>",
        )
    )


#: max docs per (band, key) bucket before the bucket is deemed
#: boilerplate-driven and excluded from candidate generation. A bucket
#: of B docs emits B(B-1)/2 candidate pairs — one boilerplate-heavy
#: bucket (cookie banners, license headers) turns the linear band join
#: quadratic. Dropping a hot bucket is recall-safe in expectation: a
#: TRUE near-dup pair (J ≥ 0.8) collides in ≥1 of the 16 bands with
#: p ≈ 1-(1-J²)¹⁶ ≈ 0.9999, so it almost surely also collides in a
#: band whose bucket is NOT hot; the property test plants a
#: boilerplate cluster and pins both the bound and the recall.
LSH_BUCKET_CAP = 512


def lsh_candidate_pairs(
    bands: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Candidate pairs from an exploded band table ``(doc_id, band,
    key)`` via the bucket equi-join, with hot buckets (> ``bucket_cap``
    docs) excluded FIRST. The hot-bucket list is tiny by construction
    (it only contains pathological keys), so the exclusion is a
    broadcast anti-join — the candidate count is then bounded by
    Σ_buckets min(|bucket|, cap)², never corpus²."""
    hot = (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > bucket_cap)
        .select("band", "key")
    )
    capped = bands.join(F.broadcast(hot), ["band", "key"], "left_anti")
    return (
        capped.alias("x")
        .join(capped.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id")
        )
        .distinct()
    )


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs ``(a_id, b_id, jaccard)`` — the engine
    API behind :func:`q_dedup_near`, reused as the edge list of
    :func:`q_dedup_cluster`.

    The result registers as a *keyed* shared index (bounded:
    O(duplicate pairs) rows of three scalars), so whichever of the two
    consumers runs first pays for the LSH+verify pipeline and the
    other reads the cache — the in-session analog of materializing
    the dedup index once and joining against it downstream."""
    hit = cached_frame(f"near_pairs:{sf_dir}")
    if hit is not None:
        return hit
    # The band self-join and the two verification joins re-reference the
    # profile table, and Spark does not common-subexpression-eliminate
    # across DataFrame branches — persist so profiling runs once, not
    # 3×. At 100 TB the profile table would be materialized to storage
    # anyway (it IS the dedup index); persist() is the in-session
    # analog. Registered with cacheutil so the next query's builder
    # releases it (a builder can't unpersist after the caller's action).
    sets = managed_persist(_shingle_profiles(spark, sf_dir))
    bands = sets.select(
        "doc_id", F.posexplode("band_keys").alias("band", "key")
    )

    cand = managed_persist(lsh_candidate_pairs(bands))
    # Verification touches only documents that appear in a candidate
    # pair. LSH makes that set tiny (non-dup band collisions are rare
    # by construction), but Catalyst cannot infer it — without the
    # semi-join below, BOTH verify joins shuffle the full shingle-array
    # table (~10 KB/row: the dominant I/O of the whole query, measured
    # 20 s → 8 s at sf1 / 184 s → 49 s at sf10).
    cand_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    vsets = sets.join(cand_ids, "doc_id", "left_semi")
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return managed_persist(
        cand.join(
            vsets.select(
                F.col("doc_id").alias("a_id"), F.col("s").alias("sh_a")
            ),
            "a_id",
        )
        .join(
            vsets.select(
                F.col("doc_id").alias("b_id"), F.col("s").alias("sh_b")
            ),
            "b_id",
        )
        .filter(j >= _NEAR_THRESHOLD)
        .select("a_id", "b_id", F.round(j, 6).alias("jaccard")),
        key=f"near_pairs:{sf_dir}",
    )


# ---------------------------------------------------------------------------
# q_dedup_cluster — connected components over the near-dup graph (B-L2)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_SETS.strip().removeprefix("WITH")},
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= {_NEAR_THRESHOLD}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, m) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT node AS doc_id, min(m) AS cluster_id
             FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS INT) AS is_canonical
    FROM comp
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: duplicate *clusters* — connected components over the
    verified near-dup pair graph, with the minimum doc_id as the
    cluster's canonical survivor. This is the step an actual dedup
    pipeline runs after pair generation: A≈B and B≈C must collapse to
    one kept document even when A≈C was never scored.

    Components are computed by distributed min-label propagation:
    every node starts as its own label, and each round takes the min of
    its own and its neighbors' labels (one equi-join + partial-agg
    min per round, ``localCheckpoint`` to cut lineage). Rounds =
    graph diameter — near-dup components are tiny dense cliques, so
    2-3 rounds in practice; for unknown/large diameters use the
    O(log n)-round alternating variant
    (:func:`streamclient_spark.scale.connected_components_star`,
    tested equal to this query's labels). The rounds run on
    :func:`streamclient_spark.scale.fixpoint` — all data stays
    distributed.

    The oracle computes the same components by recursive transitive
    closure, which is only viable because components are small — the
    propagation formulation is the one that scales."""
    from streamclient_spark.scale import fixpoint

    release_managed()
    # persist BEFORE the symmetric union: both union branches reference
    # the pair subtree, which would otherwise run the whole LSH+verify
    # pipeline twice
    pairs = managed_persist(
        near_dup_pairs(spark, sf_dir).select("a_id", "b_id")
    )
    edges = managed_persist(
        pairs.union(pairs.select(F.col("b_id"), F.col("a_id"))).toDF(
            "src", "dst"
        )
    )
    init = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def propagate(labels: DataFrame, _r: int) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        return labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
            .alias("label"),
        )

    labels, _rounds = fixpoint(init, propagate, max_rounds=64)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("cluster_id")).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_simhash — SimHash + Hamming pairs (B-L2)
# ---------------------------------------------------------------------------

#: 60-bit SimHash (Manku-style wide fingerprint: 15 hex chars of md5 as
#: the per-shingle base hash — 60 bits keeps the value and every SQL
#: shift inside signed-BIGINT range on both engines).
_SIMHASH_BITS = 60
_HAMMING_MAX = 8

#: Pigeonhole bands: 9 disjoint pieces of the 60-bit signature
#: (6×7 bits + 3×6 bits). Any pair within Hamming distance 8 differs in
#: at most 8 pieces, so it MATCHES on at least one of the 9 — band
#: equality is a lossless candidate filter for the ≤8 predicate, and
#: 6-7-bit pieces (64-128 values each) block hard enough that the
#: candidate set is a small fraction of all pairs.
_SIMHASH_BANDS: list[tuple[int, int]] = [  # (bit offset, width)
    *[(7 * i, 7) for i in range(6)],
    (42, 6),
    (48, 6),
    (54, 6),
]
# Consistency of the hardcoded band table with the signature width and
# Hamming bound (the pigeonhole argument needs BOTH: full coverage and
# bands = distance+1). Raises, not asserts, so the guard survives
# ``python -O`` (VERDICT r9 #6 — closes the assert carve-out).
if sum(w for _, w in _SIMHASH_BANDS) != _SIMHASH_BITS:
    raise ValueError("_SIMHASH_BANDS must cover all signature bits")
if len(_SIMHASH_BANDS) != _HAMMING_MAX + 1:
    raise ValueError("_SIMHASH_BANDS must have HAMMING_MAX+1 pieces")


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash in ONE Arrow pass (same fused-
    profile trick as :func:`_shingle_profiles`, measured ~9× over the
    explode→groupBy bit-vote formulation): shingle → md5 → per-bit ±1
    votes → sign word, all inside a ``mapInPandas`` projection. Hash
    math is exact integer arithmetic on the identical md5 prefix both
    engines compute, so the signature is engine-independent."""
    import hashlib
    import re

    ws = re.compile("[ \t\n\f\r]+")  # RE2 \s, the oracle's class (no \x0b)
    bit_idx = np.arange(_SIMHASH_BITS, dtype=np.int64)

    def signatures(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # NULL text = no tokens, like the oracle
                    continue
                toks = [t for t in ws.split(text) if t]
                if len(toks) >= 5:
                    sh = {
                        " ".join(toks[i : i + 5])
                        for i in range(len(toks) - 4)
                    }
                else:
                    sh = {" ".join(toks)}
                h = np.array(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in sh
                    ],
                    dtype=np.int64,
                )
                bits = (h[:, None] >> bit_idx) & 1  # n_shingles × 60
                votes = (2 * bits - 1).sum(axis=0)
                sim = int(((votes > 0).astype(np.int64) << bit_idx).sum())
                out.append((doc_id, sim))
            yield pd.DataFrame(out, columns=["doc_id", "simhash"])

    # split recovery — same rationale as _shingle_profiles
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(split_recovery(spark, sf_dir, "documents"))
        .mapInPandas(signatures, "doc_id bigint, simhash bigint")
    )


def sql_hash60(expr: str) -> str:
    """DuckDB twin of the 60-bit base hash (15 hex chars of md5)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


@register(
    "q_dedup_simhash",
    oracle=f"""
    {_SQL_SHINGLE_SETS},
    hashes AS (
      SELECT doc_id, {sql_hash60("unnest(s)")} AS h FROM shingle_sets
    ),
    bit_sums AS (
      SELECT doc_id, b.b AS b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
      FROM hashes CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BITS})) AS b) b
      GROUP BY doc_id, b.b
    ),
    sims AS (
      SELECT doc_id,
             sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
               AS simhash
      FROM bit_sums GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: SimHash near-dup — 60-bit SimHash over shingle hashes
    (per-bit ±1 vote, bit set when the vote sum is positive), then all
    pairs within Hamming distance 8.

    The pair step is NOT a quadratic self-join: signatures explode into
    9 pigeonhole bands (Manku et al.'s fingerprint pieces), candidates
    come from an equi-join on ``(band, piece)``, and the exact Hamming
    predicate verifies candidates only. Pigeonhole makes the band
    filter lossless for distance ≤ 8 (9 pieces, ≤8 differing bits ⇒
    ≥1 equal piece), so output is identical to the brute-force oracle;
    6-7-bit pieces keep each band bucket small, so candidates stay a
    small fraction of N². The banded equi-join shuffles on a real key
    instead of nested-looping the corpus against itself — the shape
    that survives 100 TB; the oracle's brute-force pairing is the
    ground truth it must equal."""
    release_managed()
    sims = _simhash_signatures(spark, sf_dir)
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {off}) & {(1 << w) - 1}"
                        ).alias("piece"),
                    )
                    for i, (off, w) in enumerate(_SIMHASH_BANDS)
                ]
            )
        ).alias("bp"),
    )
    bands = managed_persist(
        bands.select("doc_id", "simhash", "bp.band", "bp.piece")
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= _HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])  # a pair may match >1 band;
        # all duplicate rows are identical, so the survivor is unique
    )


# ---------------------------------------------------------------------------
# q_dedup_jaccard — character-trigram Jaccard top-k pairs (B-L2)
# ---------------------------------------------------------------------------

_TOPK_PAIRS = 20


@register(
    "q_dedup_jaccard",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i + 1, 3)
                            for i in range(0, length(text) - 2)]) AS g
      FROM documents WHERE length(text) >= 3 AND doc_id < 500
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, jaccard
    FROM pairs
    ORDER BY jaccard DESC, a_id, b_id
    LIMIT {_TOPK_PAIRS}
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: character-trigram Jaccard — the 20 most similar document
    pairs, fully ordered (jaccard DESC, then ids) so the selected set is
    deterministic. The jaccard value is a single IEEE division of two
    exact ints — bit-identical across engines, so ranking agrees too.

    Capped at a fixed 500-document sample: all-pairs comparison is
    O(N²) by construction and exists as the exact ground-truth probe;
    the corpus-scale path is ``q_dedup_near`` (LSH).

    Execution: the probe gathers the sample into one ``applyInPandas``
    task and computes every pairwise intersection size as a single
    binary doc×trigram incidence GEMM (``X @ X.T``) — |union| then
    follows from per-doc set sizes. A pairwise set-intersect join does
    the same work as ~125k interpreted array operations (measured 20×
    slower); counts stay < 2^24 so float32 accumulation is exact, and
    the final jaccard is the same IEEE division of exact ints as the
    oracle's."""
    d = load(spark, sf_dir, "documents").filter(
        (F.length("text") >= 3) & (F.col("doc_id") < 500)
    )

    def topk_pairs(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        gram_sets = [
            {t[i : i + 3] for i in range(len(t) - 2)} for t in pdf["text"]
        ]
        vocab: dict[str, int] = {}
        for gs in gram_sets:
            for g in gs:
                vocab.setdefault(g, len(vocab))
        X = np.zeros((len(gram_sets), len(vocab)), dtype="float32")
        for r, gs in enumerate(gram_sets):
            X[r, [vocab[g] for g in gs]] = 1.0
        inter = (X @ X.T).astype("int64")
        sizes = inter.diagonal()
        i, j = np.triu_indices(len(gram_sets), k=1)
        jac = inter[i, j].astype("float64") / (sizes[i] + sizes[j] - inter[i, j])
        ids = pdf["doc_id"].to_numpy()
        order = np.lexsort((ids[j], ids[i], -jac))[:_TOPK_PAIRS]
        return pd.DataFrame(
            {"a_id": ids[i[order]], "b_id": ids[j[order]], "jaccard": jac[order]}
        )

    return (
        d.select("doc_id", "text")
        .groupBy(F.lit(1).alias("_probe"))
        .applyInPandas(
            topk_pairs, "a_id bigint, b_id bigint, jaccard double"
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_embed — embedding-cosine near-dup with blocking (B-L2/B-L3)
# ---------------------------------------------------------------------------

_EMBED_THRESHOLD = 0.8
_PLANT_OFFSET = 100_000


@register(
    "q_dedup_embed",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET}, label, embedding FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
             AS cos_sim
    FROM corpus a JOIN corpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
          >= {_EMBED_THRESHOLD}
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: embedding-cosine near-dup. The corpus is the embeddings
    table plus a planted copy of itself (ids offset by 100000) so the
    operator's positive class is non-empty: the fixture's natural max
    pairwise cosine is ≈0.51, far below the 0.8 threshold, while planted
    copies sit at 1.0 — no threshold-boundary float risk.

    Pairing is *blocked* on ``label`` (the stand-in for an IVF coarse
    cell): the pair space is per-cell quadratic instead of global
    quadratic, which is the actual scale path for embedding dedup.

    Cost model: cells group onto executors (``applyInPandas``), where
    the quadratic term runs as BLAS GEMMs on L2-normalized blocks.
    Every vector crosses Arrow once per task — a join that materialized
    per-*pair* vector copies would move |cell|× more bytes to do the
    same flops. Oversized cells are CHUNKED (see
    :func:`cosine_pairs_blocked`): a cell larger than the per-task row
    budget splits into chunk-pair tasks, so one hot cell can never OOM
    an executor — per-task memory is O(chunk²) regardless of cell
    size. At 100 TB the cells come from a real coarse quantizer."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    corpus = e.unionByName(
        e.select(
            (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    return cosine_pairs_blocked(
        corpus,
        cell_col="label",
        threshold=_EMBED_THRESHOLD,
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    *,
    cell_col: str,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    chunk_rows: int = 4096,
) -> DataFrame:
    """All vector pairs within a cell whose cosine ≥ ``threshold``,
    with bounded per-task memory.

    Each cell is split into ``k = ceil(|cell| / chunk_rows)`` chunks by
    a deterministic hash of the id; every unordered chunk pair
    ``(ci ≤ cj)`` becomes one GEMM task scoring chunk ci against chunk
    cj (upper triangle when ci == cj). A vector is replicated to the k
    tasks that involve its chunk, so per-task input is ≤ 2·chunk_rows
    vectors and the score matrix ≤ chunk_rows² — a hot cell costs more
    *tasks*, never more memory. k == 1 cells degenerate to exactly the
    unchunked single-GEMM plan. Output: ``(a_id, b_id, cos_sim)`` with
    ``a_id < b_id``, cosine rounded to 4 decimals."""
    sizes = (
        corpus.groupBy(cell_col)
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_k",
            F.greatest(
                F.lit(1), F.ceil(F.col("_n") / chunk_rows)
            ).cast("int"),
        )
        .drop("_n")
    )
    c = (
        corpus.join(F.broadcast(sizes), cell_col)
        .withColumn(
            "_chunk",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_k")).cast("int"),
        )
        # replicate to every chunk-pair task containing this chunk
        .withColumn(
            "_other", F.explode(F.sequence(F.lit(0), F.col("_k") - 1))
        )
        .withColumn("_ci", F.least("_chunk", "_other"))
        .withColumn("_cj", F.greatest("_chunk", "_other"))
        .select(cell_col, "_ci", "_cj", "_chunk", id_col, emb_col)
    )

    def chunk_pair_sims(pdf):
        ci, cj = int(pdf["_ci"].iloc[0]), int(pdf["_cj"].iloc[0])
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        if ci == cj:
            X = np.stack(pdf[emb_col].to_numpy()).astype(
                "float64", copy=False
            )
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            sims = X @ X.T
            i, j = np.triu_indices(len(pdf), k=1)
            keep = sims[i, j] >= threshold
            ids = pdf[id_col].to_numpy()
            a, b, s = ids[i[keep]], ids[j[keep]], sims[i[keep], j[keep]]
        else:
            pa = pdf[pdf["_chunk"] == ci]
            pb = pdf[pdf["_chunk"] == cj]
            if len(pa) == 0 or len(pb) == 0:
                return pd.DataFrame(
                    {"a_id": [], "b_id": [], "cos_sim": []}
                ).astype({"a_id": "int64", "b_id": "int64"})
            A = np.stack(pa[emb_col].to_numpy()).astype("float64", copy=False)
            B = np.stack(pb[emb_col].to_numpy()).astype("float64", copy=False)
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
            sims = A @ B.T
            i, j = np.nonzero(sims >= threshold)
            u = pa[id_col].to_numpy()[i]
            v = pb[id_col].to_numpy()[j]
            a, b = np.minimum(u, v), np.maximum(u, v)
            s = sims[i, j]
        return pd.DataFrame(
            {"a_id": a, "b_id": b, "cos_sim": np.round(s, 4)}
        )

    return c.groupBy(cell_col, "_ci", "_cj").applyInPandas(
        chunk_pair_sims, "a_id bigint, b_id bigint, cos_sim double"
    )


# ---------------------------------------------------------------------------
# q_dedup_chunks — chunk-level exact dedup (CCNet/RefinedWeb paragraph-
# dedup analog on a fixture whose documents carry no paragraph breaks)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 16
_CHUNK_DUP_MAX_FRAC = 0.5


@register(
    "q_dedup_chunks",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               t[(i*{_CHUNK_TOKENS}+1):(i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS})],
               ' ')) AS h
      FROM toks, LATERAL unnest(
        range(CAST((len(t)+{_CHUNK_TOKENS}-1)//{_CHUNK_TOKENS} AS BIGINT))
      ) AS u(i)
    ),
    cc AS (SELECT doc_id, h,
                  count(*) OVER (PARTITION BY h) AS c
           FROM chunks)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                <= {_CHUNK_DUP_MAX_FRAC} * count(*) AS INT) AS keep
    FROM cc GROUP BY doc_id
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: split every document into fixed
    16-token chunks, hash each chunk, count corpus-wide occurrences,
    and score each document by its duplicated-chunk fraction (keep ⟺
    ≤ 50% duplicated). This is the paragraph-level dedup step of
    web-corpus pipelines (CCNet / RefinedWeb) — boilerplate that
    repeats across pages survives *document*-level dedup but falls to
    chunk-level counting; the fixture documents have no newlines, so
    the fixed token window stands in for the paragraph boundary.

    Plan: ONE fused Arrow pass tokenizes and hashes every 16-token
    window, emitting ``(doc_id, h, k)`` with within-document repeats
    already combined (an earlier pure-Catalyst formulation built the
    chunk array with split/sequence/slice HOF lambdas — interpreted
    per element, measured 11.5 s vs ~2 s at sf1 — the same
    split-recovery story as every fused token pass in text.py). Then
    one shuffle on the chunk hash sums corpus-wide occurrences, and
    the co-partitioned join + doc_id rollup scores each document. The
    keep test is exact integer arithmetic (2·n_dup ≤ n_chunks — no
    float fraction on either engine).

    100 TB: chunk hashes are uniform by construction (md5), so the
    occurrence-count shuffle has no skew; the per-doc rollup groups on
    the natural key. The md5 → xxhash64 swap applies here as
    everywhere (md5 is the cross-engine parity choice)."""
    import hashlib
    import re
    from collections import Counter

    import pandas as pd

    release_managed()
    ws = re.compile("[ \t\n\f\r]+")  # RE2 \s, the oracle's class (no \x0b)

    def chunk_counts(batches):
        for pdf in batches:
            ids, hs, ks = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # NULL text = no tokens, like the oracle
                    continue
                toks = [t for t in ws.split(text) if t]
                acc: Counter = Counter(
                    hashlib.md5(
                        " ".join(toks[i : i + _CHUNK_TOKENS]).encode()
                    ).hexdigest()
                    for i in range(0, len(toks), _CHUNK_TOKENS)
                )
                for h, k in acc.items():
                    ids.append(doc_id)
                    hs.append(h)
                    ks.append(k)
            yield pd.DataFrame({"doc_id": ids, "h": hs, "k": ks})

    # split recovery (near-unsplittable fixture file, CPU-bound pass)
    # persist: both the totals aggregate and the join probe side read
    # this frame — without it the CPU-bound Arrow chunking pass runs
    # twice (Spark does not CSE across DataFrame branches)
    chunks = managed_persist(
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(split_recovery(spark, sf_dir, "documents"))
        .mapInPandas(chunk_counts, "doc_id bigint, h string, k long")
    )
    totals = chunks.groupBy("h").agg(F.sum("k").alias("c"))
    per_doc = (
        chunks.join(totals, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, F.col("k")).otherwise(0)).alias(
                "n_dup"
            ),
        )
    )
    # 2·n_dup ≤ n_chunks ⟺ n_dup ≤ 0.5·n_chunks, in exact integers
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_dup",
        (F.lit(2) * F.col("n_dup") <= F.col("n_chunks"))
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# q_dedup_incremental — dedup a NEW batch against an EXISTING corpus (B-L2)
# ---------------------------------------------------------------------------

#: deterministic batch split for the incremental scenario: the "new"
#: arrivals are doc_id < 100, the standing corpus is everything else.
_INCR_NEW_MAX = 100


@register(
    "q_dedup_incremental",
    oracle=f"""
    {_SQL_SHINGLE_SETS},
    m AS (
      SELECT a.doc_id AS new_id, b.doc_id AS old_id
      FROM shingle_sets a JOIN shingle_sets b
        ON a.doc_id < {_INCR_NEW_MAX} AND b.doc_id >= {_INCR_NEW_MAX}
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= {_NEAR_THRESHOLD}
    )
    SELECT t.doc_id,
           CAST(count(m.old_id) AS BIGINT) AS n_matches,
           CAST(count(m.old_id) > 0 AS INT) AS is_dup,
           COALESCE(MIN(m.old_id), -1) AS first_match
    FROM shingle_sets t LEFT JOIN m ON m.new_id = t.doc_id
    WHERE t.doc_id < {_INCR_NEW_MAX}
    GROUP BY t.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2: *incremental* near-dedup — flag each document of a new
    batch that near-duplicates the standing corpus, without ever
    comparing corpus docs to each other. This is the shape a
    continuously-ingesting pretraining pipeline actually runs (CCNet /
    RefinedWeb style): the corpus's LSH band index is materialized
    once; each arriving batch probes it and only verified hits are
    dropped.

    Plan: one shared profiling pass (same fused MinHash profiler as
    q_dedup_near), then an ASYMMETRIC band equi-join — new-side band
    keys against corpus-side band keys only, so candidate generation
    is |new|-driven, not |corpus|²-driven — followed by exact-Jaccard
    verification restricted to candidates and a left join back onto
    the batch (never-matching docs report is_dup=0). At 100 TB the
    corpus band index is a bucketed table keyed by band key; a batch
    probe is an index lookup, not a corpus scan. The oracle is the
    brute-force ground truth over the same split — the check passes
    exactly when banding recall on above-threshold pairs is 100%
    (same argument as q_dedup_near: planted dups sit at J≈0.99,
    miss probability ≈3e-23)."""
    release_managed()
    sets = managed_persist(_shingle_profiles(spark, sf_dir))
    new = sets.filter(F.col("doc_id") < _INCR_NEW_MAX)
    old = sets.filter(F.col("doc_id") >= _INCR_NEW_MAX)
    nb = new.select(
        F.col("doc_id").alias("new_id"), F.explode("band_keys").alias("key")
    )
    ob = old.select(
        F.col("doc_id").alias("old_id"), F.explode("band_keys").alias("key")
    )
    cand = nb.join(ob, "key").select("new_id", "old_id").distinct()
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    matches = (
        cand.join(
            new.select(F.col("doc_id").alias("new_id"), F.col("s").alias("sh_a")),
            "new_id",
        )
        .join(
            old.select(F.col("doc_id").alias("old_id"), F.col("s").alias("sh_b")),
            "old_id",
        )
        .filter(j >= _NEAR_THRESHOLD)
        .select("new_id", "old_id")
    )
    return (
        new.select("doc_id")
        .join(matches, new["doc_id"] == matches["new_id"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("old_id").alias("n_matches"),
            (F.count("old_id") > 0).cast("int").alias("is_dup"),
            F.coalesce(F.min("old_id"), F.lit(-1)).alias("first_match"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_canonical — keep-best document selection per near-dup cluster
# ---------------------------------------------------------------------------


@register(
    "q_dedup_canonical",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLE_SETS.strip().removeprefix("WITH")},
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= {_NEAR_THRESHOLD}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, m) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT node AS doc_id, min(m) AS cluster_id
             FROM reach GROUP BY node),
    sized AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    ),
    keepers AS (SELECT cluster_id, doc_id AS keeper_id FROM sized
                WHERE rn = 1)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(k.keeper_id, d.doc_id) AS keeper_id,
           CAST(COALESCE(k.keeper_id, d.doc_id) = d.doc_id AS INT) AS keep
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    LEFT JOIN keepers k ON k.cluster_id = c.cluster_id
    """,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-L2 capstone: the full dedup DECISION — every document tagged
    keep/drop, with near-dup clusters keeping their single best
    representative (longest text, doc_id tie-break: the keep-longest
    policy of RefinedWeb-style pipelines) and singletons keeping
    themselves. This is the list a training-data materialization
    actually consumes: detect (LSH) → verify (Jaccard on candidates)
    → cluster (connected components) → select canonical → emit.

    Reuses the cluster derivation (q_dedup_cluster, including its
    cross-query cached pair table); selection adds one ranking window
    over the tiny cluster-membership table and two broadcast-sized
    joins back onto the corpus spine — the expensive graph work is not
    repeated per policy change. The oracle recomputes everything by
    brute force (all-pairs Jaccard + recursive closure)."""
    clusters = q_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = clusters.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    keepers = (
        sized.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keeper_id"))
    )
    return (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .join(keepers, "cluster_id", "left")
        .withColumn("keeper_id", F.coalesce("keeper_id", "doc_id"))
        .select(
            "doc_id",
            "cluster_id",
            "keeper_id",
            (F.col("keeper_id") == F.col("doc_id")).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_substring — cross-document duplicated token spans (C-148)
# ---------------------------------------------------------------------------

#: span width in tokens for exact-substring duplication detection
SPAN_TOKENS = 8


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, toks FROM (
        SELECT doc_id, {SQL_TOKENS.format(col="text")} AS toks
        FROM documents
      ) WHERE len(toks) >= {SPAN_TOKENS}
    ),
    sp AS (
      SELECT doc_id,
             unnest([array_to_string(toks[i+1:i+{SPAN_TOKENS}], ' ')
                     for i in range(0, len(toks) - {SPAN_TOKENS} + 1)])
               AS span
      FROM t
    ),
    pd AS (
      SELECT doc_id, span, count(*) AS cnt FROM sp GROUP BY 1, 2
    ),
    ss AS (SELECT span, count(*) AS nd FROM pd GROUP BY 1),
    agg AS (
      SELECT pd.doc_id, CAST(SUM(pd.cnt) AS BIGINT) AS n_dup
      FROM pd JOIN ss USING (span) WHERE ss.nd >= 2 GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.toks) - {SPAN_TOKENS} + 1 AS BIGINT) AS n_spans,
           coalesce(agg.n_dup, 0) AS n_dup_spans,
           CAST(coalesce(agg.n_dup, 0) * 1000
                // (len(t.toks) - {SPAN_TOKENS} + 1) AS BIGINT)
             AS dup_permille
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication profile — for every document,
    how many of its sliding {SPAN_TOKENS}-token spans also occur in at
    least one OTHER document (the span-level dedup signal of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — public literature: whole-doc dedup misses boilerplate,
    licenses, and quoted passages that repeat across otherwise-unique
    pages). Output is per-doc long form: total spans, cross-duplicated
    span positions, and the integer-permille duplication ratio a
    filtering pipeline thresholds on.

    Shape (the q_dedup_chunks recipe, which races 1.7×): ONE fused
    Arrow pass tokenizes, slides the span window, and emits ``(doc_id,
    span_fp, cnt, n_spans)`` with within-document repeats already
    Counter-combined and the span collapsed to a 128-bit blake2b
    fingerprint carried as two longs — the per-(doc, span) collapse
    that used to be its own span-string shuffle now costs nothing,
    and the one shuffle that remains (the cross-doc span frequency)
    moves 16-byte int pairs, not ~40-byte span strings. The posting side is df-floored to nd ≥ 2
    BEFORE the mark join back (dup spans are a small fraction of the
    span vocabulary), and both per-doc outputs (total spans carried
    from the pass, duplicated positions = Σcnt over marked spans) fall
    out of one final doc_id aggregate. The earlier pure-Catalyst form
    (transform/slice HOF lambdas + two span-string shuffles) measured
    4.6 s vs 1.7 s oracle at sf1 — interpreted HOFs over per-element
    lambdas plus string shuffle payload, the same split-recovery story
    as every fused token pass. At 100 TB: span fingerprints are
    uniform, so the frequency shuffle has no skew; the mark join
    inherits LSH-style bucketing for mega-frequent boilerplate spans
    (cap df, the q_sim_sparse hub rule). The 128-bit fingerprint is
    internal only — both engines still agree on exact span equality
    semantics; at 128 bits a cross-document collision is ~1e-20 even
    at 1e9 distinct spans (widened from 64 bits per ADVICE r5, which
    was ~1e-7 — real odds to bet an 'exact' contract on)."""
    import hashlib
    import re
    from collections import Counter

    import pandas as pd

    k = SPAN_TOKENS
    par = spark.sparkContext.defaultParallelism
    release_managed()
    ws = re.compile("[ \t\n\f\r]+")  # RE2 \s, the oracle's class (no \x0b)

    def span_counts(batches):
        for pdf in batches:
            ids, h1s, h2s, cs, ns = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # NULL text = no tokens, like the oracle
                    continue
                toks = [t for t in ws.split(text) if t]
                n = len(toks) - k + 1
                if n <= 0:
                    continue  # oracle's len(toks) >= k gate
                acc: Counter = Counter()
                for i in range(n):
                    d = hashlib.blake2b(
                        " ".join(toks[i : i + k]).encode(),
                        digest_size=16,
                    ).digest()
                    acc[
                        (
                            int.from_bytes(d[:8], "big") - (1 << 63),
                            int.from_bytes(d[8:], "big") - (1 << 63),
                        )
                    ] += 1
                for (h1, h2), c in acc.items():
                    ids.append(doc_id)
                    h1s.append(h1)
                    h2s.append(h2)
                    cs.append(c)
                    ns.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "h1": h1s,
                    "h2": h2s,
                    "cnt": cs,
                    "n_spans": ns,
                }
            )

    # split recovery (near-unsplittable fixture file, CPU-bound pass);
    # persist: the frequency aggregate and the mark join both read it
    spans = managed_persist(
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(par)
        .mapInPandas(
            span_counts,
            "doc_id bigint, h1 bigint, h2 bigint, cnt long, n_spans long",
        )
    )
    dup = (
        spans.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)  # df-floor BEFORE the join back
        .select("h1", "h2", F.lit(1).alias("is_dup"))
    )
    return (
        spans.join(dup, ["h1", "h2"], "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("n_dup_spans * 1000 div n_spans").alias("dup_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_containment — asymmetric containment via rare-shingle blocking
# ---------------------------------------------------------------------------

#: document-frequency band for blocking shingles (rare but shared)
CONTAIN_DF_MIN, CONTAIN_DF_MAX = 2, 10
#: emit pairs whose containment is at least this (permille)
CONTAIN_MIN_PERMILLE = 600


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               {sql_shingles(SQL_TOKENS.format(col="text"))},
               s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)))
               AS sh
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    rare AS (
      SELECT s FROM ex GROUP BY s
      HAVING count(*) BETWEEN {CONTAIN_DF_MIN} AND {CONTAIN_DF_MAX}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM ex a JOIN rare USING (s) JOIN ex b USING (s)
      WHERE a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT CASE WHEN (len(ta.sh), pairs.ia) <= (len(tb.sh), pairs.ib)
                  THEN pairs.ia ELSE pairs.ib END AS small_id,
             CASE WHEN (len(ta.sh), pairs.ia) <= (len(tb.sh), pairs.ib)
                  THEN pairs.ib ELSE pairs.ia END AS large_id,
             CAST(len(list_intersect(ta.sh, tb.sh)) * 1000
                  // least(len(ta.sh), len(tb.sh)) AS BIGINT)
               AS containment_permille
      FROM pairs
      JOIN t ta ON ta.doc_id = pairs.ia
      JOIN t tb ON tb.doc_id = pairs.ib
    )
    SELECT * FROM scored
    WHERE containment_permille >= {CONTAIN_MIN_PERMILLE}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: CONTAINMENT of the smaller document's
    shingle set in the larger's — |A∩B| / |A| — the measure that
    catches quote-inside-article, snippet-of-page, and
    version-superset duplicates that symmetric Jaccard scores low
    (small A, big B ⇒ tiny union ratio but total containment).

    Candidate pairs come from RARE-shingle blocking: only shingles
    shared by {CONTAIN_DF_MIN}–{CONTAIN_DF_MAX} documents generate
    pairs, so each posting list emits at most C({CONTAIN_DF_MAX},2)
    pairs and boilerplate mega-shingles generate none (the hub rule —
    same posting-list discipline as q_sim_sparse). Containment is then
    EXACT on the candidate pairs via one array-intersection per pair,
    with the (smaller, larger) orientation decided by the total order
    (set size, doc_id).

    Shingles are md5-hashed to 32-bit ints IMMEDIATELY after the
    shingle build (the module's hash32/sql_hash32 bridge — both
    engines hash identically, so a collision collapses the same pair
    of shingles on both sides and the permille still matches): every
    downstream structure — the exploded posting list, the df band,
    the pair join keys, and the per-pair intersected arrays — carries
    4-byte ints instead of ~50-byte strings, ~6× less shuffle/CPU
    (measured 12 s → ~5 s at sf1). At 100 TB: shuffles are the
    shingle posting join (df-capped) and two doc_id joins to fetch the
    pair's hashed-set arrays; nothing quadratic in the corpus."""
    # split recovery + pinned width before the CPU-heavy shingle build
    # (the fixture file is near-unsplittable; AQE keeps a user-pinned
    # partition count)
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = managed_persist(
        d.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles(tokens("text")), lambda s: hash32(s)
                )
            ).alias("sh"),
        )
    )
    ex = t.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(CONTAIN_DF_MIN, CONTAIN_DF_MAX))
        .select("s")
    )
    blocked = ex.join(rare, "s")
    pairs = (
        blocked.select(F.col("doc_id").alias("ia"), "s")
        .join(blocked.select(F.col("doc_id").alias("ib"), "s"), "s")
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("ia"), F.col("sh").alias("sha"))
    tb = t.select(F.col("doc_id").alias("ib"), F.col("sh").alias("shb"))
    joined = pairs.join(ta, "ia").join(tb, "ib")
    a_small = (F.size("sha") < F.size("shb")) | (
        (F.size("sha") == F.size("shb")) & (F.col("ia") <= F.col("ib"))
    )
    scored = joined.select(
        F.when(a_small, F.col("ia")).otherwise(F.col("ib")).alias("small_id"),
        F.when(a_small, F.col("ib")).otherwise(F.col("ia")).alias("large_id"),
        F.expr(
            "size(array_intersect(sha, shb)) * 1000 "
            "div least(size(sha), size(shb))"
        ).alias("containment_permille"),
    )
    return scored.filter(
        F.col("containment_permille") >= CONTAIN_MIN_PERMILLE
    )


# ---------------------------------------------------------------------------
# q_dedup_semantic — SemDeDup: cluster-local keep/drop decision over
# embedding near-dup components
# ---------------------------------------------------------------------------


# Star-CC rounds the q_dedup_semantic oracle unrolls. The engine runs to
# the converged fixpoint, so engine==oracle only if convergence happens
# within this unroll — tests/test_scale.py::
# test_dedup_semantic_converges_within_oracle_unroll pins it with margin
# on the planted-copy corpus (the q_graph_cc lesson, ADVICE r3).
_SEMANTIC_CC_ROUNDS = 6


def _sql_semantic_oracle() -> str:
    from streamclient_spark.compat import sql_star_cc

    return (
        f"""
    WITH corpus AS MATERIALIZED (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET}, label, embedding FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM corpus a JOIN corpus b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[]))
            >= {_EMBED_THRESHOLD}
    )"""
        + sql_star_cc("pairs", _SEMANTIC_CC_ROUNDS)
        + """
    SELECT c.vec_id,
           coalesce(l.component, c.vec_id) AS keep_id,
           coalesce(l.component, c.vec_id) <> c.vec_id AS is_dup
    FROM corpus c LEFT JOIN star_labels l ON l.node = c.vec_id
    """
    )


@register("q_dedup_semantic", oracle=_sql_semantic_oracle())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication in
    embedding space — cluster the corpus coarsely, connect items whose
    cosine exceeds the dedup threshold WITHIN each cluster, and keep
    exactly one representative (the minimum id) per connected
    component. This is the embedding-space analog of
    q_dedup_canonical's detect→cluster→keep decision, and the step a
    training pipeline runs between q_dedup_embed (pair detection) and
    the sampler: its output is a per-row verdict, not a pair list.
    Corpus = the planted-copy table of q_dedup_embed, so the positive
    class is non-empty and the components are known cliques.

    Composition of the repo's own kernels, all already scale-proven:
    per-cell chunked GEMM pair detection (cosine_pairs_blocked — a hot
    cell costs tasks, never memory), large-star/small-star components
    (O(log n) rounds; these near-dup cliques are diameter ≤ 2), and a
    left join back onto the corpus so never-paired rows keep
    themselves. The oracle replays the SAME star rounds in SQL via
    compat.sql_star_cc — a converged edge set is a fixpoint, so the
    6-round unroll equals the engine's fixpoint labels."""
    from streamclient_spark.scale import connected_components_star

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    corpus = e.unionByName(
        e.select(
            (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    pairs = cosine_pairs_blocked(
        corpus, cell_col="label", threshold=_EMBED_THRESHOLD
    ).select("a_id", "b_id")
    labels, _rounds = connected_components_star(
        pairs, src="a_id", dst="b_id"
    )
    return (
        corpus.select("vec_id")
        .join(labels, corpus["vec_id"] == labels["node"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id")).alias("keep_id"),
            (
                F.coalesce(F.col("label"), F.col("vec_id"))
                != F.col("vec_id")
            ).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_source_matrix — near-dup pair counts by source pair (round 3)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_source_matrix",
    oracle=f"""
    {_SQL_SHINGLE_SETS}, pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s)))
            >= {_NEAR_THRESHOLD}
    )
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           count(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON p.a_id = da.doc_id
    JOIN documents db ON p.b_id = db.doc_id
    GROUP BY 1, 2
    """,
)
def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate source×source matrix — the data-governance view
    over B-L2's pair detection: which SOURCES copy from each other
    (cross-source cells) and which are internally redundant (diagonal
    cells). This is the report that decides licensing questions and
    per-source dedup budgets in a pretraining corpus. Reuses
    q_dedup_near's full MinHash→LSH→exact-verify pipeline (so the
    matrix inherits its 100%-recall-at-threshold contract), then maps
    doc ids to sources with two shuffle joins on doc_id and collapses
    to a ≤|sources|² cell count; the unordered pair is normalized with
    least/greatest so (a,b) and (b,a) land in one cell. At 100 TB the
    added cost over pair detection is two joins against a projected
    2-column dim — negligible beside the banding step."""
    pairs = q_dedup_near(spark, sf_dir).select("a_id", "b_id")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    da = src.select(
        F.col("doc_id").alias("a_id"), F.col("source").alias("sa")
    )
    db = src.select(
        F.col("doc_id").alias("b_id"), F.col("source").alias("sb")
    )
    return (
        pairs.join(da, "a_id")
        .join(db, "b_id")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q_dedup_prefix — deterministic prefix-blocked Jaccard verify (C-248)
# ---------------------------------------------------------------------------

#: prefix length for the blocking fingerprint: long enough that random
#: documents never collide, short enough that template/near-dup heads do
_PREFIX_LEN = 80
#: boilerplate guard, the LSH_BUCKET_CAP analog: a prefix shared by more
#: documents than this is a template header, not a duplicate signal
_PREFIX_BLOCK_CAP = 256
#: verify threshold (integer permille trigram Jaccard)
_PREFIX_JACCARD_MIN = 600


@register(
    "q_dedup_prefix",
    oracle=f"""
    WITH blk AS (
      SELECT doc_id, text, substr(text, 1, {_PREFIX_LEN}) AS p
      FROM documents WHERE length(text) >= {_PREFIX_LEN}
    ),
    sizes AS (
      SELECT p, count(*) AS n FROM blk GROUP BY 1
      HAVING count(*) >= 2 AND count(*) <= {_PREFIX_BLOCK_CAP}
    ),
    grams AS (
      SELECT blk.doc_id, blk.p,
             list_distinct([substr(blk.text, i + 1, 3)
                            for i in range(0, length(blk.text) - 2)])
               AS g
      FROM blk JOIN sizes USING (p)
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(len(list_intersect(a.g, b.g)) AS BIGINT) * 1000
               // len(list_distinct(list_concat(a.g, b.g)))
               AS jaccard_permille
      FROM grams a JOIN grams b
        ON a.p = b.p AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, jaccard_permille
    FROM pairs WHERE jaccard_permille >= {_PREFIX_JACCARD_MIN}
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint near-dup detection: block documents on their
    first 80 characters, verify within-block pairs by exact
    character-trigram Jaccard (integer permille), keep pairs ≥ 0.6 —
    the DETERMINISTIC cheap first pass real corpus pipelines run
    before MinHash (crawl re-fetches, mirrored pages, and versioned
    templates share their head verbatim; probabilistic LSH spends its
    budget on what this stage removes for one groupBy). Complements
    q_dedup_near (recall beyond shared heads) and q_dedup_jaccard
    (the all-pairs ground truth this blocking approximates).

    Plan: ONE scan and ONE hash(p) exchange total — block sizes come
    from a count window on the same block-keyed distribution the
    verify needs anyway, the [2, cap] filter drops singletons and
    boilerplate heads in place (the cap is the LSH_BUCKET_CAP
    doctrine: a prefix shared by >256 docs is a template header
    carrying no pair signal, dropped BEFORE any pairing), and the
    surviving partitions flow straight into a per-block
    ``applyInPandas`` verify computing every within-block pairwise
    trigram Jaccard with C-speed Python set ops (first written as a
    Catalyst self-join + ``array_intersect`` on the ~4k-element gram
    arrays: 82 s at sf1 — interpreted array ops per pair; the Arrow
    form does the identical exact math in 6 s). Per-group work is
    bounded by cap²·|grams| and nothing is quadratic in the corpus;
    the verify is exact integer division so the kept set is
    bit-stable."""
    import pandas as pd

    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(
        F.length("text") >= _PREFIX_LEN
    )
    blk = d.select(
        "doc_id", "text", F.substring("text", 1, _PREFIX_LEN).alias("p")
    )
    # block sizes via a window on the SAME hash(p) distribution the
    # Arrow verify needs anyway — one scan, one exchange (a separate
    # sizes aggregate + join back would scan and prefix the text
    # column twice)
    live = (
        blk.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("p"))
        )
        .filter(
            (F.col("n") >= 2) & (F.col("n") <= _PREFIX_BLOCK_CAP)
        )
        .select("doc_id", "text", "p")
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf["doc_id"].argsort()
        ids = pdf["doc_id"].to_numpy()[order]
        gsets = [
            {t[i : i + 3] for i in range(len(t) - 2)}
            for t in pdf["text"].to_numpy()[order]
        ]
        a_ids, b_ids, jps = [], [], []
        for i in range(len(ids)):
            gi = gsets[i]
            for j in range(i + 1, len(ids)):
                inter = len(gi & gsets[j])
                jp = inter * 1000 // (len(gi) + len(gsets[j]) - inter)
                if jp >= _PREFIX_JACCARD_MIN:
                    a_ids.append(ids[i])
                    b_ids.append(ids[j])
                    jps.append(jp)
        return pd.DataFrame(
            {
                "a_id": pd.Series(a_ids, dtype="int64"),
                "b_id": pd.Series(b_ids, dtype="int64"),
                "jaccard_permille": pd.Series(jps, dtype="int64"),
            }
        )

    return live.groupBy("p").applyInPandas(
        verify, "a_id long, b_id long, jaccard_permille long"
    )
