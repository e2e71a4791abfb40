"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the 100 TB shapes):

* **exact**: hash-groupBy on the dedup key — one shuffle, map-side
  partial aggregation, AQE coalescing. Never a distinct-then-join.
* **jaccard (exact similarity join)**: prefix filtering (AllPairs /
  PPJoin family, Bayardo et al. WWW'07). Each doc indexes only its
  first ``n - ceil(t*n) + 1`` shingles under a global canonical order
  (sorted by xxhash64): for any pair with jaccard >= t, the overlap is
  >= ceil(t*max(|A|,|B|)), so the *smallest common shingle* cannot sit
  in either doc's suffix (each suffix is shorter than the overlap) —
  candidate generation over prefixes alone is lossless. Candidates also
  pass the length filter min(|A|,|B|) >= t*max(|A|,|B|), then exact
  set-jaccard verification. Identical output to the brute-force join,
  at ~(1-t)² of its shuffle volume — the property that matters at
  100 TB, where the full inverted-index self-join is the bottleneck.
* **MinHash-LSH**: per-doc minhash signature (one explode + 128
  map-side-combined ``min`` aggregates — a single shuffle), banded into
  (band, hash) buckets; only bucket collisions generate candidates, then
  candidates are **verified with the exact Jaccard**, so LSH only prunes
  work — the output equals the exact join's output with probability
  1 - (1 - s^r)^b (r=2, b=64: a true 0.7-similar pair is missed with
  p < 2e-19). This is the standard web-scale near-dup pipeline shape.
  The 128 permutations are universal linear hashes h_i = (b1 + i*b2)
  mod (2^31-1) over two xxhash64 base draws — 2 string hashes per
  shingle instead of 128 (and 3× less codegen), standard Broder-style
  minhash; 31-bit space keeps ``b1 + 127*b2 < 2^38`` ANSI-overflow-safe.
* **SimHash**: 60-bit signature from md5 token hashes (cross-engine
  deterministic); pairs within Hamming distance d found by pigeonhole
  banding (d+1 bands → at least one band exactly equal), then exact
  ``bit_count(xor)`` verification — exact, not probabilistic.
"""

from __future__ import annotations

import warnings

from typing import Optional

from pyspark.sql import DataFrame, Observation, functions as F

from bamboo_spark.operators._cache import tracked_persist
from bamboo_spark.operators.text import (
    md5_int60_duck,
    md5_int60_sql,
    word_shingles_duck,
    word_shingles_sql,
)

# ---------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact key. One hash-aggregate shuffle."""
    return (
        df.groupBy(key)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


# ------------------------------------------------------- exact jaccard join


def _shingle_sets(df: DataFrame, k: int = 3) -> DataFrame:
    from bamboo_spark.operators.scale import fan_out

    sh = word_shingles_sql("split(text, ' ')", k)
    # single-row-group test parquet gives the scan ONE split, so the
    # shingle/hash compute would run on one core — spread it first
    # (no-op when the input is already parallel; guide §2.5)
    return fan_out(df, "doc_id").select(
        "doc_id", F.expr("array_distinct(%s)" % sh).alias("shingles")
    ).where(F.size("shingles") > 0)


def _hashed_sets(df: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, n, hs) with hs = sorted array<bigint> of xxhash64(shingle).

    All downstream set algebra — prefix indexes, inverted joins, verify
    intersections — runs on 8-byte longs instead of ~25-byte shingle
    strings: smaller shuffles, cheaper comparisons, and the sorted array
    doubles as the canonical global order for prefix filtering. 64-bit
    collisions (~2^-57 per doc) are the standard web-scale tradeoff.
    """
    sets = _shingle_sets(df, k)
    return sets.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hs"),
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    max_shingle_df: Optional[int] = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via prefix filtering.

    Returns (doc_a, doc_b, jaccard) for pairs ≥ threshold, doc_a < doc_b.
    Lossless candidate pruning (see module docstring); the 1e-9 epsilons
    keep the float ceil/compare from rounding an exact boundary (e.g.
    0.8*45) the wrong way — always erring toward longer prefixes /
    looser filters, never dropping a qualifying pair.

    ``max_shingle_df`` bounds per-key skew: a prefix shingle shared by D
    docs contributes O(D²) candidate pairs from that one join key, so a
    stop-phrase shingle in millions of docs would make the self-join
    quadratic. Keys above the cutoff are dropped from the *index* (not
    from verification sets). NOTE this makes the join APPROXIMATE for
    pairs whose every common prefix shingle is hotter than the cutoff —
    dropping a prefix element breaks the losslessness proof; pairs found
    are still exact-verified (no false positives, possible false
    negatives). Default 10 000 bounds any key to ~5·10⁷ candidate pairs;
    set None for the lossless join when the corpus is known skew-free.
    """
    t = float(threshold)
    hsets = tracked_persist(_hashed_sets(df, k))
    n = F.col("n")
    # hs is hash-sorted: a slice of it IS the canonical-order prefix,
    # and posexplode positions are positions in the full sorted set
    p_len = F.greatest(
        F.lit(1), (n - F.ceil(n * F.lit(t) - 1e-9) + 1).cast("int")
    )
    prefix = hsets.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("hs", F.lit(1), p_len)).alias("pos", "h"),
    )
    if max_shingle_df is not None:
        freq = prefix.groupBy("h").count().where(F.col("count") <= max_shingle_df)
        prefix = prefix.join(F.broadcast(freq.select("h")), "h")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # positional filter (PPJoin): a shared element at positions (pa, pb)
    # caps the overlap at 1 + min(remaining_a, remaining_b); the pair's
    # FIRST shared element (which always joins, prefixes are order
    # prefixes) gives the loosest cap, so keeping pairs where any match
    # passes is lossless. Required overlap: jaccard >= t ⇒
    # |A∩B| >= t/(1+t) * (|A|+|B|).
    overlap_cap = F.lit(1) + F.least(
        F.col("a.n") - 1 - F.col("a.pos"), F.col("b.n") - 1 - F.col("b.pos")
    )
    overlap_req = (F.col("a.n") + F.col("b.n")) * F.lit(t / (1.0 + t)) - 1e-9
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: jaccard >= t  ⇒  min(|A|,|B|) >= t * max(|A|,|B|)
            & (F.col("a.n").cast("double") >= F.col("b.n") * t - 1e-9)
            & (F.col("b.n").cast("double") >= F.col("a.n") * t - 1e-9)
            & (overlap_cap.cast("double") >= overlap_req),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, hsets, t)


def _verify_jaccard(candidates: DataFrame, hsets: DataFrame, threshold: float) -> DataFrame:
    """Exact set-jaccard verification of candidate (doc_a, doc_b) pairs
    against the hashed shingle sets.

    The length filter (jaccard >= t ⇒ min(|A|,|B|) >= t·max(|A|,|B|))
    runs BEFORE the O(|A|+|B|) intersect/union: LSH band candidates are
    not length-filtered at generation (PPJoin's are), and near-lossless
    bandings (r=2, b=64) admit every pair down to s ≈ 0.2 — the integer
    compare kills those candidates without touching the arrays. Implied
    by the output predicate, so the result set is unchanged."""
    t = float(threshold)
    sets = hsets.select("doc_id", "n", "hs")
    verified = (
        candidates.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("_na"),
                F.col("hs").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("_nb"),
                F.col("hs").alias("sb"),
            ),
            "doc_b",
        )
        .where(
            F.least("_na", "_nb").cast("double")
            >= F.greatest("_na", "_nb") * F.lit(t) - 1e-9
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def jaccard_pairs_duck(
    threshold: float = 0.8, k: int = 3, source: str = "documents"
) -> str:
    """DuckDB oracle: brute-force exact pairwise Jaccard (same result).

    ``source`` lets callers gate a filtered slice (e.g. the hash-stable
    sample of ``q_minhash_recall(sample_pct=...)``) against the same
    brute-force ground truth."""
    sh = word_shingles_duck("string_split(text, ' ')", k)
    return """
with sets as (
  select doc_id, list_distinct({sh}) shingles from {src}
  where len(list_distinct({sh})) > 0
),
ex as (select doc_id, len(shingles) n, unnest(shingles) sh from sets),
inter as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) cnt,
         any_value(a.n) na, any_value(b.n) nb
  from ex a join ex b on a.sh = b.sh and a.doc_id < b.doc_id
  group by 1, 2
)
select doc_a, doc_b,
       round(cnt::DOUBLE / (na + nb - cnt)::DOUBLE, 6) as jaccard
from inter
where round(cnt::DOUBLE / (na + nb - cnt)::DOUBLE, 6) >= {t}
""".format(sh=sh, t=threshold, src=source)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    max_shingle_df: Optional[int] = 10_000,
) -> DataFrame:
    """ASYMMETRIC near-containment join: directed pairs (doc_a, doc_b)
    with C(A→B) = |S_A ∩ S_B| / |S_A| ≥ threshold — the
    partial-duplicate detector Jaccard misses (a tweet quoted inside a
    long article has tiny Jaccard but containment ≈ 1, so
    MinHash/Jaccard pipelines never see it; a containment pass catches
    quote-expansion and wrapper-boilerplate relations).

    Shape — the PPJoin machinery of ``jaccard_pairs``, asymmetric:
    |A∩B| ≥ t·|A| means at least one shared element falls in A's first
    |A| − ⌈t·|A|⌉ + 1 canonical-order elements, so only the A-side
    PREFIX explodes into the index; the containing side must index every
    element (a qualifying hash can sit anywhere in B). Candidates are
    length-filtered (|B| ≥ t·|A|) and position-filtered (remaining-
    element cap ≥ t·|A| via the pair's first shared element — the
    loosest cap, so the prune is lossless), then exact-verified with an
    array intersect against the full hashed sets. ``max_shingle_df``
    drops stop-phrase keys from the index (same skew bound and the same
    documented approximation as ``jaccard_pairs``); pass ``None`` for
    the lossless oracle-gated form."""
    t = float(threshold)
    hsets = tracked_persist(_hashed_sets(df, k))
    n = F.col("n")
    p_len = F.greatest(
        F.lit(1), (n - F.ceil(n * F.lit(t) - 1e-9) + 1).cast("int")
    )
    prefix = hsets.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("hs", F.lit(1), p_len)).alias("pos", "h"),
    )
    full = hsets.select("doc_id", "n", F.posexplode("hs").alias("pos", "h"))
    if max_shingle_df is not None:
        freq = (
            full.groupBy("h").count().where(F.col("count") <= max_shingle_df)
        )
        prefix = prefix.join(F.broadcast(freq.select("h")), "h")
        full = full.join(F.broadcast(freq.select("h")), "h")
    a = prefix.alias("a")
    b = full.alias("b")
    overlap_cap = F.lit(1) + F.least(
        F.col("a.n") - 1 - F.col("a.pos"), F.col("b.n") - 1 - F.col("b.pos")
    )
    req = F.col("a.n") * F.lit(t) - 1e-9
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n").cast("double") >= req)
            & (overlap_cap.cast("double") >= req),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = hsets.select("doc_id", "hs", "n")
    verified = (
        candidates.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.col("na").cast("double"),
                6,
            ).alias("containment"),
        )
    )
    return verified.where(F.col("containment") >= threshold)


def containment_pairs_duck(threshold: float = 0.5, k: int = 3) -> str:
    """DuckDB oracle: brute-force directed containment (same result as
    the lossless ``max_shingle_df=None`` engine form)."""
    sh = word_shingles_duck("string_split(text, ' ')", k)
    return """
with sets as (
  select doc_id, list_distinct({sh}) shingles from documents
  where len(list_distinct({sh})) > 0
),
ex as (select doc_id, len(shingles) n, unnest(shingles) sh from sets),
inter as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) cnt, any_value(a.n) na
  from ex a join ex b on a.sh = b.sh and a.doc_id != b.doc_id
  group by 1, 2
)
select doc_a, doc_b, round(cnt::DOUBLE / na::DOUBLE, 6) containment
from inter
where round(cnt::DOUBLE / na::DOUBLE, 6) >= {t}
""".format(sh=sh, t=threshold)


# ------------------------------------------------------------ minhash lsh


_MERSENNE31 = (1 << 31) - 1


def _minhash_base(hsets: DataFrame) -> DataFrame:
    """(doc_id, b1, b2) per shingle: two 31-bit base draws carved out of
    the single 64-bit shingle hash (bits 0-30 and 31-61, b2 forced odd)
    — no further string hashing anywhere in the signature aggregation."""
    ex = hsets.select("doc_id", F.explode("hs").alias("h"))
    return ex.select(
        "doc_id",
        F.col("h").bitwiseAND(F.lit(_MERSENNE31)).alias("b1"),
        F.shiftrightunsigned("h", 31)
        .bitwiseAND(F.lit(_MERSENNE31))
        .bitwiseOR(F.lit(1))
        .alias("b2"),
    )


def _minhash_aggs(num_hashes: int) -> list:
    """min((b1 + i*b2) mod p) — universal linear permutations; the two
    string hashes are computed once per shingle, each of the 128 lanes
    is a mul/add/mod (vs 128 full xxhash64 evals — 3× less codegen)."""
    # one F.expr per lane instead of 5 nested Column constructors: the
    # 128-lane list used to cost ~1 s of py4j round trips at plan-BUILD
    # time (measured, guide §1) — the SQL string parses once in the JVM
    return [
        F.expr(
            "min(pmod(b1 + %d * b2, %d)) AS mh%d" % (i, _MERSENNE31, i)
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(df: DataFrame, num_hashes: int = 128, k: int = 3) -> DataFrame:
    """One row per doc with `num_hashes` minhash values.

    Implementation: explode distinct shingles once, then `num_hashes`
    map-side-combined min() aggregates — a single shuffle keyed by
    doc_id, no repeated array traversals.
    """
    return (
        _minhash_base(_hashed_sets(df, k))
        .groupBy("doc_id")
        .agg(*_minhash_aggs(num_hashes))
    )


def _band_rows(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, h): one row per (doc, band) with the band's lane
    values hashed together — the LSH bucket key."""
    num_bands = num_hashes // rows_per_band
    # ONE SQL expression (inline = explode array<struct> straight into
    # (band, h) columns): the per-band Column-constructor loop cost
    # ~0.5 s of py4j traffic per call at plan-build time (measured)
    terms = ", ".join(
        "struct(%d AS band, xxhash64(%s) AS h)"
        % (
            b,
            ", ".join(
                "mh%d" % (b * rows_per_band + r) for r in range(rows_per_band)
            ),
        )
        for b in range(num_bands)
    )
    return sig.select("doc_id", F.expr("inline(array(%s))" % terms))


def build_band_index(
    df: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """(doc_id, band, h) MinHash band index for a corpus — the stored
    side of incremental near-dup ingestion. Persist it bucketed by
    (band, h) (``scale.write_bucketed``) so every ingest batch's
    candidate probe is a bucket-local join with no index shuffle."""
    hsets = _hashed_sets(df, k)
    sig = _minhash_base(hsets).groupBy("doc_id").agg(*_minhash_aggs(num_hashes))
    return _band_rows(sig, num_hashes, rows_per_band)


def minhash_incremental(
    df: DataFrame,
    split_id: int = 250,
    threshold: float = 0.7,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    k: int = 3,
    index: Optional[DataFrame] = None,
) -> DataFrame:
    """Incremental NEAR-dup ingestion: a new batch (``doc_id >=
    split_id``) checked against the already-ingested corpus's MinHash
    band index (``doc_id < split_id``) — the append-only twin of
    ``minhash_lsh_pairs`` (which re-pairs the whole corpus). In
    production the old side IS the stored band table (bucketed by
    (band, h)); every ingest batch computes signatures for its own docs
    only, joins the index for candidates, exact-verifies, and appends
    its bands back. Cost per batch: O(batch) signatures + an index
    probe — never a corpus re-scan.

    Output: one row per flagged new doc — (doc_id, dup_of, jaccard),
    ``dup_of`` = the best-matching ingested doc (highest verified
    Jaccard, ties → lowest id).

    ``index``: a pre-built/loaded band index for the ingested side
    (``build_band_index``, persisted bucketed by (band, h)); when
    given, only the NEW batch's signatures are computed and the old
    side is the stored table — the true production shape. Exact verify
    still reads both sides' shingle sets from ``df``.
    """
    from pyspark.sql import Window

    hsets = tracked_persist(_hashed_sets(df, k))
    if index is not None:
        old_b = index
        new_b = build_band_index(
            df.where(F.col("doc_id") >= split_id), num_hashes, rows_per_band, k
        )
    else:
        sig = (
            _minhash_base(hsets).groupBy("doc_id").agg(*_minhash_aggs(num_hashes))
        )
        bands = _band_rows(sig, num_hashes, rows_per_band)
        old_b = bands.where(F.col("doc_id") < split_id)
        new_b = bands.where(F.col("doc_id") >= split_id)
    candidates = (
        new_b.alias("a")
        .join(
            old_b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.h") == F.col("b.h")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _verify_jaccard(candidates, hsets, threshold)
    w = Window.partitionBy("doc_a").orderBy(
        F.col("jaccard").desc(), F.col("doc_b").asc()
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )


def minhash_incremental_duck(
    split_id: int = 250, threshold: float = 0.7, k: int = 3
) -> str:
    """Oracle: brute-force asymmetric Jaccard (new × ingested) + best
    match — identical to the LSH path up to its negligible miss
    probability (p < 5e-10 at t=0.7, r=2, b=64)."""
    sh = word_shingles_duck("string_split(text, ' ')", k)
    return """
with sets as (
  select doc_id, list_distinct({sh}) shingles from documents
  where len(list_distinct({sh})) > 0
),
ex as (select doc_id, len(shingles) n, unnest(shingles) sh from sets),
inter as (
  select a.doc_id doc_id, b.doc_id dup_of, count(*) cnt,
         any_value(a.n) na, any_value(b.n) nb
  from ex a join ex b on a.sh = b.sh
       and a.doc_id >= {s} and b.doc_id < {s}
  group by 1, 2
),
j as (
  select doc_id, dup_of,
         round(cnt::DOUBLE / (na + nb - cnt)::DOUBLE, 6) jaccard
  from inter
  where round(cnt::DOUBLE / (na + nb - cnt)::DOUBLE, 6) >= {t}
)
select doc_id, dup_of, jaccard from (
  select *, row_number() over (partition by doc_id
                               order by jaccard desc, dup_of asc) rn
  from j
) where rn = 1
order by doc_id
""".format(sh=sh, s=split_id, t=threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Candidate generation by banded minhash + exact Jaccard verify.

    Output is identical to ``jaccard_pairs(df, threshold)`` (up to the
    negligible LSH miss probability) — the verification step recomputes
    the true Jaccard for every candidate pair.
    """
    hsets = tracked_persist(_hashed_sets(df, k))  # reused: signatures + verify
    sig = _minhash_base(hsets).groupBy("doc_id").agg(*_minhash_aggs(num_hashes))
    bands = tracked_persist(_band_rows(sig, num_hashes, rows_per_band))
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, hsets, threshold)


# ------------------------------------------------- duplicate clustering


def _symmetrize(fwd: DataFrame) -> DataFrame:
    """Both orientations of a (src, dst) edge list in ONE pass over the
    input: explode(array(struct(src,dst), struct(dst,src))). The
    union(swap) idiom executes the upstream pair-generation pipeline
    once per branch (ReuseExchange shares the exchange but not the
    post-shuffle verify compute), which doubled the most expensive
    stage of every CC/kcore consumer."""
    return fwd.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("src"), F.col("dst").alias("dst")
                ),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def connected_components(
    pairs: DataFrame,
    iterations: int = 8,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Label duplicate clusters: synchronous min-label propagation over
    the (undirected) near-dup pair graph for a FIXED number of
    supersteps. Returns (doc_id, component) for every doc that appears
    in a pair; component = min doc_id reachable in ``iterations`` hops
    — the canonical representative once converged (diameter ≤
    iterations, true for near-dup clusters, which are near-cliques).

    Fixed iteration count (not run-to-convergence) keeps the result a
    pure deterministic function of the input — the DuckDB oracle
    unrolls the same K steps, so parity is exact even on a
    pathological long-chain graph. Each superstep is one shuffle join
    + min-aggregate (the Pregel shape); at 100 TB use K ≈ log(max
    component size) with large-star/small-star if components can be
    deep.
    """
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # symmetrize with ONE explode, not union(swap): a union's branches
    # each execute the (expensive) pair-generation pipeline —
    # ReuseExchange shares only the exchange, not the post-shuffle
    # verify compute — so every CC consumer paid the pair join twice.
    # The explode emits both orientations in a single pass; eager
    # checkpoint then materializes the edge set once for the loop.
    edges = _symmetrize(fwd).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for i in range(iterations):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        labels = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "label"
            ),
        )
        # iterative joins double the logical plan per superstep —
        # truncate lineage (every other step bounds depth at 2 while
        # halving the blocking-materialization jobs)
        if i % 2 == 1 or i == iterations - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def connected_components_converged(
    pairs: DataFrame,
    max_supersteps: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact connected components with POINTER JUMPING and convergence
    detection — the deep-graph scale path ``connected_components``'s
    fixed-K propagation lacks.

    Each superstep takes label'(v) = min(label(v), label(label(v)),
    min over neighbors' labels): the label-of-label hop doubles the
    propagation distance per step, so a diameter-D chain converges in
    O(log D) supersteps instead of D (this is the min-label variant of
    the alternating-star contraction family). Convergence is detected
    (a changed-labels count per superstep — one metadata-sized action)
    and the loop exits early, so the result is the true fixpoint:
    component = min reachable id, independent of iteration budget —
    which is what makes it oracle-checkable (the DuckDB oracle computes
    the same fixpoint with a recursive CTE, components_fixpoint_duck).

    Per superstep: two shuffle joins + a min-aggregate, lineage
    truncated with an eager localCheckpoint. State is one (id, label)
    row per node — never neighborhood sets.
    """
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # one-pass symmetrize (see connected_components): union(swap) ran
    # the pair pipeline once per branch
    edges = _symmetrize(fwd).distinct().localCheckpoint(eager=True)
    # seed labels at the SUPERSTEP-1 state: label(v) = min(v, min
    # neighbor) is exactly what the first iteration computes from
    # identity labels (label-of-label is the identity there), so the
    # loop starts one superstep ahead — legal ONLY in this converged
    # variant, whose output is the iteration-independent fixpoint
    # (the fixed-K `connected_components` must NOT seed: its result is
    # defined as exactly K hops). Same job count as the identity init
    # (one checkpoint), one fewer superstep job per call.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_mn")).alias("label"),
        )
    ).localCheckpoint(eager=True)
    for _ in range(max_supersteps):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        hop = labels.select(
            F.col("id").alias("label"), F.col("label").alias("ll")
        )  # label-of-label lookup table
        # the changed-labels count rides the checkpoint's OWN
        # materialization as an observed metric — one job per superstep
        # instead of two (checkpoint + a separate count action)
        obs = Observation()
        new_labels = (
            labels.join(nbr, "id", "left")
            .join(hop, "label", "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_min", F.col("label")),
                    F.coalesce("ll", F.col("label")),
                ).alias("label"),
                F.col("label").alias("_old"),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("label") != F.col("_old"), F.lit(1))
                ).alias("changed"),
            )
        ).localCheckpoint(eager=True)
        labels = new_labels.drop("_old")
        if int(obs.get["changed"]) == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def connected_components_contraction(
    pairs: DataFrame,
    max_rounds: int = 30,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact connected components by alternating LARGE-STAR /
    SMALL-STAR edge contraction (the Kiveris et al. "Connected
    Components in MapReduce and Beyond" family) — the third CC variant,
    for graphs where even the (id, label) table of the propagation
    variants is dwarfed by the EDGE list: every round rewires edges
    toward component minima and the edge set itself contracts toward a
    star forest, so late rounds touch far fewer rows than early ones
    (min-propagation re-joins the full edge list every superstep).

    * large-star: per node u over the symmetric adjacency, connect
      every larger neighbor v > u to m(u) = min(N(u) ∪ {u}).
    * small-star: per node u over the big→small directed edges,
      connect u and its smaller neighbors to m(u).

    Both steps preserve connectivity and never create edges outside a
    component; at the fixpoint every node points straight at its
    component's minimum id, which is the same fixpoint the recursive-
    CTE oracle computes (components_fixpoint_duck) — so the result is
    budget-independent and oracle-checkable. Convergence is detected
    with a metadata-sized (count, hash-sum) aggregate per round.

    Per round: two groupBy-min + two joins on the current (shrinking)
    edge set, lineage truncated with eager localCheckpoints.
    """
    # normalize to directed big→small (u > v), self-loops dropped
    raw = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y")).where(
        F.col(a_col) != F.col(b_col)
    )
    e = (
        raw.select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # edge-set signature (count, xor-fold of xxhash64 — order-
    # independent, ANSI-overflow-free) rides each round's checkpoint
    # materialization as an OBSERVED metric: one job per round instead
    # of checkpoint + a separate signature collect
    _SIG_AGGS = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    )

    def signature(df: DataFrame):
        return df.agg(*_SIG_AGGS).collect()[0]

    sig = signature(e)
    converged = False
    for _ in range(max_rounds):
        # ---- large-star over the symmetric adjacency
        sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", F.col("u")).alias("m"))
        ls = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star over directed big→small edges
        m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        attach = ls.join(m2, "u")
        obs = Observation()
        ss = (
            attach.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(attach.select("u", "m"))
            .where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .observe(obs, *_SIG_AGGS)
            .localCheckpoint(eager=True)
        )
        new_sig = obs.get
        e = ss
        if (new_sig["n"], new_sig["h"]) == (sig["n"], sig["h"]):
            converged = True
            break
        sig = new_sig
    if not converged:
        warnings.warn(
            "connected_components_contraction exhausted max_rounds=%d before "
            "the edge-set fixpoint: labels may not be component minima — "
            "raise max_rounds (contraction converges in O(log^2 n) rounds)"
            % max_rounds
        )
    # fixpoint: a star forest — every non-root has exactly one edge to
    # its component min; roots have no outgoing (u-side) edge
    return (
        nodes.join(e.withColumnRenamed("u", "id"), "id", "left")
        .groupBy("id")
        .agg(F.min("v").alias("root"))
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("root", F.col("id")).alias("component"),
        )
    )


def _segment_blocks(
    df: DataFrame, block_tokens: int, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, blk_idx, block, bh): fixed token-window segments + md5
    digest — the shared splitter for all segment-dedup variants."""
    from bamboo_spark.operators.scale import fan_out

    if block_tokens < 1:
        raise ValueError("block_tokens must be >= 1, got %d" % block_tokens)
    df = fan_out(df, id_col)
    return df.selectExpr(
        id_col,
        "posexplode(transform(sequence(0, cast(ceil(size(split({c}, ' ')) / {b}.0)"
        " as int) - 1), i -> array_join(slice(split({c}, ' '), i * {b} + 1, {b}),"
        " ' '))) as (blk_idx, block)".format(c=col, b=block_tokens),
    ).selectExpr(id_col, "blk_idx", "block", "md5(block) as bh")


def _reassemble(flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_blocks, n_kept, dedup_text) from flagged segment rows —
    one doc-keyed aggregate; collect_list skips the nulled (dropped)
    blocks, array_sort restores document order."""
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("blk_idx"), F.col("block")),
                            )
                        )
                    ),
                    lambda s: s["block"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def segment_dedup(
    df: DataFrame,
    block_tokens: int = 20,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact dedup (RefinedWeb-style "remove duplicated
    spans, keep the document"): split each doc into fixed
    ``block_tokens`` segments, drop every segment whose exact content
    already occurred earlier in the corpus (first occurrence by
    (doc_id, position) survives), and reassemble the surviving text.

    Scale shape: the corpus-wide first-occurrence pass shuffles md5
    DIGESTS (32 bytes), never segment text, and is a groupBy +
    min(struct) aggregate — map-side combined, so a boilerplate segment
    repeated a billion times costs one combiner cell per task instead
    of a single-reducer window sort. The flag join keys on the digest
    (distinct-segment sized; AQE broadcasts when small) and reassembly
    is one doc-keyed aggregate. Output: (doc_id, n_blocks, n_kept,
    dedup_text).
    """
    blocks = _segment_blocks(df, block_tokens, col, id_col)
    keepers = blocks.groupBy("bh").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("blk_idx").alias("i"))).alias(
            "first_occ"
        )
    )
    flagged = blocks.join(keepers, "bh").withColumn(
        "keep",
        (F.col("first_occ.d") == F.col(id_col))
        & (F.col("first_occ.i") == F.col("blk_idx")),
    )
    return _reassemble(flagged, id_col)


def segment_dedup_incremental(
    df: DataFrame,
    split_id: int = 250,
    block_tokens: int = 20,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental paragraph dedup — the append-only ingestion shape of
    ``segment_dedup``: new docs (id ≥ ``split_id``) drop every segment
    whose exact content ALREADY EXISTS in the stored corpus (id <
    ``split_id``) and are reassembled; the corpus itself is never
    rewritten. The corpus side reduces to a distinct digest table
    (store it once at index-build time); the batch side joins on
    digests only. The streaming twin
    (``streaming.core.segment_bloom_guard_stream``) puts a broadcast
    Bloom of the same digests in front of this join so micro-batches
    pre-filter map-side."""
    corpus = df.where(F.col(id_col) < split_id)
    batch = df.where(F.col(id_col) >= split_id)
    corpus_digests = (
        _segment_blocks(corpus, block_tokens, col, id_col)
        .select("bh")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    flagged = (
        _segment_blocks(batch, block_tokens, col, id_col)
        .join(corpus_digests, "bh", "left")
        .withColumn("keep", F.col("_dup").isNull())
    )
    return _reassemble(flagged, id_col)


def segment_dedup_incremental_duck(
    split_id: int = 250, block_tokens: int = 20
) -> str:
    """DuckDB oracle twin of ``segment_dedup_incremental``."""
    return """
with t as (
  select doc_id, string_split(text, ' ') toks from documents
),
b as (
  select doc_id, unnest(range(ceil(len(toks) / {b}.0)::int)) blk_idx, toks
  from t
),
seg as (
  select doc_id, blk_idx,
         array_to_string(
           list_slice(toks, blk_idx * {b} + 1,
                      least((blk_idx + 1) * {b}, len(toks))), ' ') block
  from b
),
cd as (
  select distinct md5(block) bh from seg where doc_id < {s}
),
f as (
  select seg.doc_id, seg.blk_idx, seg.block,
         (cd.bh is not null) dup
  from seg left join cd on cd.bh = md5(seg.block)
  where seg.doc_id >= {s}
)
select doc_id,
       count(*)::BIGINT n_blocks,
       sum((not dup)::int)::BIGINT n_kept,
       coalesce(array_to_string(
         list(block order by blk_idx) filter (where not dup), ' '), '')
         dedup_text
from f group by doc_id order by doc_id
""".format(b=block_tokens, s=split_id)


def segment_dedup_duck(block_tokens: int = 20, src: str = "documents") -> str:
    """DuckDB oracle twin of ``segment_dedup`` (window rank at oracle
    scale; the engine side is the combiner-friendly min-struct form).
    ``src`` lets a composed pipeline oracle run it over a CTE."""
    return """
with t as (
  select doc_id, string_split(text, ' ') toks from {src}
),
b as (
  select doc_id, unnest(range(ceil(len(toks) / {b}.0)::int)) blk_idx, toks
  from t
),
seg as (
  select doc_id, blk_idx,
         array_to_string(
           list_slice(toks, blk_idx * {b} + 1,
                      least((blk_idx + 1) * {b}, len(toks))), ' ') block
  from b
),
r as (
  select *, row_number() over (
    partition by md5(block) order by doc_id, blk_idx) rn
  from seg
)
select doc_id,
       count(*)::BIGINT n_blocks,
       sum((rn = 1)::int)::BIGINT n_kept,
       coalesce(array_to_string(
         list(block order by blk_idx) filter (where rn = 1), ' '), '')
         dedup_text
from r group by doc_id order by doc_id
""".format(b=block_tokens, src=src)


def canonical_docs(
    labels: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Pick each duplicate cluster's surviving representative: the
    highest-``quality`` member, ties broken by the smallest id — the
    "keep the best copy" step that turns a components labeling into an
    actionable delete list.

    Deliberately an aggregate, NOT a row_number window: ``max`` over a
    (quality, -id) struct partial-combines map-side, so a pathological
    million-member cluster costs one combiner cell per task instead of
    a full per-cluster sort on one reducer. Output: (component,
    keep_id, keep_quality, n_members).
    """
    member = labels.join(scored.select(id_col, quality_col), id_col)
    best = F.max(
        F.struct(
            F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid")
        )
    ).alias("best")
    return (
        member.groupBy("component")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "component",
            (-F.col("best.nid")).alias("keep_id"),
            F.col("best.q").alias("keep_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def canonical_docs_duck(pairs_cte: str, quality_duck: str) -> str:
    """DuckDB oracle for ``canonical_docs`` over the converged-components
    labeling: recursive-CTE fixpoint + per-cluster argmax (row_number
    is fine at oracle scale; the engine side uses the combiner-friendly
    max-struct form)."""
    return """
with labels as materialized (
  select * from ({fixpoint}) fixpoint_labels
),
scored as (select doc_id, {quality} quality from documents),
m as (
  select l.component, l.doc_id, s.quality
  from labels l join scored s using (doc_id)
),
r as (
  select *,
         row_number() over (
           partition by component order by quality desc, doc_id
         ) rn,
         count(*) over (partition by component) n_members
  from m
)
select component, doc_id keep_id, quality keep_quality,
       n_members::BIGINT n_members
from r where rn = 1 order by component
""".format(fixpoint=components_fixpoint_duck(pairs_cte), quality=quality_duck)


def components_fixpoint_duck(pairs_cte: str) -> str:
    """DuckDB oracle for the converged components: transitive closure
    via a recursive CTE, then min reachable id per node — the same
    fixpoint pointer jumping reaches, with no iteration parameter."""
    return """
with recursive pairs as materialized ({pairs}),
edges as materialized (
  select doc_a src, doc_b dst from pairs
  union
  select doc_b src, doc_a dst from pairs
),
reach(id, lbl) as (
    select src, src from (select distinct src from edges)
  union
    select e.src, r.lbl from edges e join reach r on e.dst = r.id
)
select id doc_id, min(lbl) component from reach group by id
""".format(pairs=pairs_cte)


def components_duck(pairs_cte: str, iterations: int = 8) -> str:
    """DuckDB oracle: the same K min-propagation steps, unrolled.

    ``pairs_cte`` is a complete CTE body producing (doc_a, doc_b).
    """
    steps = []
    prev = "l0"
    for k in range(1, iterations + 1):
        cur = "l%d" % k
        # MATERIALIZED is load-bearing: each step references its
        # predecessor twice; inlined CTEs re-evaluate the whole chain
        # per reference (2^K expansions of the pairs join)
        steps.append(
            "{cur} as materialized (select l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) as lbl "
            "from {prev} l left join edges e on e.src = l.id "
            "left join {prev} n on n.id = e.dst group by l.id, l.lbl)".format(
                cur=cur, prev=prev
            )
        )
        prev = cur
    return """
with pairs as materialized ({pairs}),
edges as materialized (
  select doc_a src, doc_b dst from pairs
  union
  select doc_b src, doc_a dst from pairs
),
l0 as (select id, id as lbl from (select distinct src id from edges)),
{steps}
select id doc_id, lbl component from {last} order by doc_id
""".format(pairs=pairs_cte, steps=",\n".join(steps), last=prev)


# --------------------------------------------------------------- simhash

SIMHASH_BITS = 60


def simhash_docs(df: DataFrame) -> DataFrame:
    """60-bit SimHash per doc over distinct whitespace tokens.

    bit j = 1  iff  2 * (#tokens with md5-bit j set) > #tokens.
    Derived entirely from md5 → reproducible in the DuckDB oracle.

    The 60 per-bit counters are packed 3-per-aggregate into 21-bit
    fields (20 sum() buffers instead of 60): max packed value is
    (2^21-1)*(2^42+2^21+1) = 2^63-1, exactly the signed-long max, so
    the sums are ANSI-overflow-safe for docs up to 2^21-1 (~2M)
    distinct tokens. A third of the aggregation state and generated
    code for identical results.
    """
    from bamboo_spark.operators.scale import fan_out

    tok = fan_out(df, "doc_id").select(
        "doc_id", F.explode(F.expr("array_distinct(split(text, ' '))")).alias("t")
    ).select("doc_id", F.expr(md5_int60_sql("t")).alias("v"))
    packed = [
        F.sum(
            F.expr(
                "((v >> %d) & 1) + (((v >> %d) & 1) << 21) + (((v >> %d) & 1) << 42)"
                % (3 * g, 3 * g + 1, 3 * g + 2)
            )
        ).alias("p%d" % g)
        for g in range(SIMHASH_BITS // 3)
    ]
    agg = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *packed)
    sim = " + ".join(
        "(case when 2 * ((p%d >> %d) & 2097151) > n then cast(%d as bigint)"
        " else cast(0 as bigint) end)" % (j // 3, 21 * (j % 3), 1 << j)
        for j in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", F.expr(sim).alias("simhash"))


def simhash_expr_cols(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-ROW SimHash — the same 60-bit signature as ``simhash_docs``
    computed as a pure projection (one packed HOF aggregate over the
    token array; no explode, no shuffle). This is the STREAMING form: a
    stateless expression applies per micro-batch row, where the batch
    twin's explode+groupBy would be a stateful repartition. The packed
    3-bits-per-long accumulator keeps the expression at 20 struct
    fields instead of 60 counters (same codegen-width discipline as the
    batch twin). Adds ``simhash`` to ``df``; equality with
    ``simhash_docs`` is pinned in tests."""
    from bamboo_spark.operators.text import md5_int60_sql

    vals = "transform(array_distinct(split(%s, ' ')), t -> %s)" % (
        col,
        md5_int60_sql("t"),
    )
    init = "named_struct(%s)" % ", ".join(
        "'p%d', cast(0 as bigint)" % g for g in range(SIMHASH_BITS // 3)
    )
    merge = ", ".join(
        "'p%d', acc.p%d + ((v >> %d) & 1) + (((v >> %d) & 1) << 21)"
        " + (((v >> %d) & 1) << 42)" % (g, g, 3 * g, 3 * g + 1, 3 * g + 2)
        for g in range(SIMHASH_BITS // 3)
    )
    staged = df.withColumn(
        "__sh_acc", F.expr("aggregate(%s, %s, (acc, v) -> named_struct(%s))" % (vals, init, merge))
    ).withColumn("__sh_n", F.expr("size(array_distinct(split(%s, ' ')))" % col))
    sim = " + ".join(
        "(case when 2 * ((__sh_acc.p%d >> %d) & 2097151) > __sh_n"
        " then cast(%d as bigint) else cast(0 as bigint) end)"
        % (j // 3, 21 * (j % 3), 1 << j)
        for j in range(SIMHASH_BITS)
    )
    return staged.withColumn("simhash", F.expr(sim)).drop("__sh_acc", "__sh_n")


def simhash_pairs(df: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Pairs within `max_hamming` via pigeonhole banding (exact).

    Splitting 60 bits into (max_hamming + 1) bands guarantees any pair
    with ≤ max_hamming differing bits agrees on ≥ 1 whole band; the
    bucket join therefore finds *every* qualifying pair, and the
    bit_count(xor) filter is exact verification (no false negatives).
    """
    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands
    sh = simhash_docs(df)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            "(simhash >> %d) & %d" % (b * band_bits, (1 << band_bits) - 1)
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    bands = tracked_persist(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_duck(max_hamming: int = 2) -> str:
    sums = ", ".join("sum((v >> %d) & 1) s%d" % (j, j) for j in range(SIMHASH_BITS))
    sim = " + ".join(
        "(case when 2 * s%d > n then %d::BIGINT else 0::BIGINT end)" % (j, 1 << j)
        for j in range(SIMHASH_BITS)
    )
    return """
with tok as (
  select doc_id, unnest(list_distinct(string_split(text, ' '))) t from documents
),
tv as (select doc_id, {v} v from tok),
agg as (select doc_id, count(*) n, {sums} from tv group by doc_id),
sh as (select doc_id, {sim} as simhash from agg)
select a.doc_id doc_a, b.doc_id doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT as hamming
from sh a join sh b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= {d}
""".format(v=md5_int60_duck("t"), sums=sums, sim=sim, d=max_hamming)


# ------------------------------------------- bloom-filter incremental ingest
#
# The canonical exact-key ingest guard at corpus scale: build a Bloom
# filter over the already-ingested corpus's keys ONCE, broadcast the
# (fixed-size) bitmap, and let every new batch filter itself map-side —
# the clean majority of new documents never shuffles at all; only
# Bloom-positive rows (true dups + the engineered false-positive
# fraction) reach the exact verify join, which removes every false
# positive. Bloom filters have no false negatives, so the final result
# is EXACT — the filter only prunes work, identically to the LSH/prefix
# candidate generators above.
#
# Distribution shape: the key is hashed JVM-side (xxhash64, codegen);
# each scan partition sets bits into a local num_bits/8-byte bitmap
# (`mapInArrow`, one output row per partition); partition bitmaps are
# OR-folded in a bounded-fan-in executor stage so the driver collects
# at most `merge_fanout` bitmaps regardless of partition count. Driver
# holds O(num_bits), never O(rows). Size num_bits ~ 10 bits/key for
# ~1% FP (1 GiB bitmap covers ~860M keys; shard the keyspace into
# multiple filters beyond that).

_BLOOM_MIX = 0x9E3779B97F4A7C15  # 64-bit golden-ratio multiplier


def _bloom_hits(h, bitmap_or_none, num_bits: int, num_hashes: int):
    """Vectorized double-hashing core (Kirsch–Mitzenmacher: position_i =
    h1 + i*h2 suffices for k independent probes). With a bitmap: returns
    the boolean might-contain mask. Without: sets the bits in-place into
    a fresh bitmap and returns it."""
    import numpy as np

    h = h.astype(np.int64).view(np.uint64)
    h1 = h
    # mix for the stride draw; force odd so every stride generates the
    # full group when num_bits is a power of two
    h2 = ((h ^ (h >> np.uint64(33))) * np.uint64(_BLOOM_MIX)) | np.uint64(1)
    mask = np.uint64(num_bits - 1)
    if bitmap_or_none is None:
        bitmap = np.zeros(num_bits >> 3, dtype=np.uint8)
        for i in range(num_hashes):
            pos = (h1 + np.uint64(i) * h2) & mask
            np.bitwise_or.at(bitmap, pos >> np.uint64(3),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return bitmap
    bitmap = bitmap_or_none
    ok = np.ones(len(h), dtype=bool)
    for i in range(num_hashes):
        pos = (h1 + np.uint64(i) * h2) & mask
        bits = (bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        ok &= bits.astype(bool)
    return ok


def bloom_build(
    hashes: DataFrame,
    num_bits: int = 1 << 20,
    num_hashes: int = 7,
    merge_fanout: int = 64,
) -> bytes:
    """OR-fold a Bloom bitmap over ``hashes`` (single bigint column of
    xxhash64 key hashes). Returns the final bitmap bytes (driver-side,
    broadcast-sized by construction)."""
    import numpy as np
    import pyarrow as pa

    if num_bits & (num_bits - 1):
        raise ValueError("num_bits must be a power of two")
    col = hashes.columns[0]
    out_schema = "bitmap binary"

    def per_partition(batches):
        bm = None
        for batch in batches:
            h = batch.column(0).to_numpy(zero_copy_only=False)
            part = _bloom_hits(h, None, num_bits, num_hashes)
            bm = part if bm is None else (bm | part)
        if bm is not None:
            yield pa.RecordBatch.from_pydict({"bitmap": [bm.tobytes()]})

    part_maps = hashes.select(F.col(col).cast("long")).mapInArrow(
        per_partition, out_schema
    )

    def or_group(_key, pdf):
        import pandas as pd

        acc = None
        for raw in pdf["bitmap"]:
            arr = np.frombuffer(raw, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame({"bitmap": [acc.tobytes()]})

    merged = (
        part_maps.groupBy(
            (F.xxhash64(F.monotonically_increasing_id()) % merge_fanout).alias("g")
        )
        .applyInPandas(or_group, "bitmap binary")
        .collect()
    )
    acc = np.zeros(num_bits >> 3, dtype=np.uint8)
    for row in merged:
        acc |= np.frombuffer(row[0], dtype=np.uint8)
    return acc.tobytes()


def bloom_shard_expr(h_col, num_shards: int):
    """Shard id of an xxhash64 value: high 32 bits mod ``num_shards``.
    Bit positions inside a shard's filter use the LOW bits of the hash
    (``_bloom_hits``), so shard choice and bit positions are drawn from
    disjoint hash bits — sharding costs no independence."""
    return F.pmod(F.shiftrightunsigned(h_col, 32), F.lit(num_shards)).cast("long")


def bloom_build_sharded(
    hashes: DataFrame,
    num_shards: int,
    num_bits: int = 1 << 20,
    num_hashes: int = 7,
) -> DataFrame:
    """Hash-range-sharded Bloom build: returns a ``(shard int, bitmap
    binary)`` DataFrame with one independent ``num_bits``-bit filter per
    shard — the >860M-key regime a single broadcast bitmap can't reach
    (~1.2 GiB of bits at 1% fpp; Spark caps broadcasts well below
    that). The keyspace is range-partitioned on the hash's high 32 bits
    (:func:`bloom_shard_expr`), each shard OR-folds exactly like
    :func:`bloom_build`, and the result stays DISTRIBUTED: the hashes
    shuffle ONCE on shard id (8 bytes/row) so each build task holds
    only the shards that land in its partition (expected one — never
    the whole index) and each shard's fold output is a single bitmap
    row; total filter capacity scales linearly with ``num_shards`` at
    O(num_bits/8) per-task memory.
    Persist or write the returned frame at index-build time; probe with
    :func:`bloom_filter_sharded`."""
    import numpy as np
    import pyarrow as pa

    if num_bits & (num_bits - 1):
        raise ValueError("num_bits must be a power of two")
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    col = hashes.columns[0]

    def per_partition(batches):
        maps: dict = {}
        for batch in batches:
            h = batch.column(0).to_numpy(zero_copy_only=False)
            hu = h.astype(np.int64).view(np.uint64)
            shards = (hu >> np.uint64(32)) % np.uint64(num_shards)
            for s in np.unique(shards):
                part = _bloom_hits(h[shards == s], None, num_bits, num_hashes)
                prev = maps.get(int(s))
                maps[int(s)] = part if prev is None else (prev | part)
        if maps:
            yield pa.RecordBatch.from_pydict(
                {
                    "shard": [int(s) for s in maps],
                    "bitmap": [bm.tobytes() for bm in maps.values()],
                }
            )

    # co-locate each shard before the fold: without this every input
    # partition touches every shard and each map task accumulates the
    # ENTIRE index (num_shards bitmaps) instead of ~one
    keyed = hashes.select(F.col(col).cast("long").alias("_h")).withColumn(
        "_shard", bloom_shard_expr(F.col("_h"), num_shards)
    )
    part_maps = (
        keyed.repartition(num_shards, "_shard")
        .select("_h")
        .mapInArrow(per_partition, "shard long, bitmap binary")
    )

    def or_group(_key, pdf):
        import pandas as pd

        acc = None
        for raw in pdf["bitmap"]:
            arr = np.frombuffer(raw, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame({"shard": [pdf["shard"].iloc[0]], "bitmap": [acc.tobytes()]})

    return part_maps.groupBy("shard").applyInPandas(or_group, "shard long, bitmap binary")


def bloom_filter_sharded(
    df: DataFrame,
    shard_maps: DataFrame,
    num_shards: int,
    h_col: str = "h",
    num_bits: int = 1 << 20,
    num_hashes: int = 7,
    probe_subsplits: int = 8,
) -> DataFrame:
    """Probe a :func:`bloom_build_sharded` index: keep only rows of
    ``df`` whose ``h_col`` hash MIGHT be in the sharded corpus filter
    (no false negatives, same fpp math as the single-bitmap probe).

    Shape: the batch shuffles ONCE on (shard, subsplit) and cogroups
    with the shard table — each task pairs ~1/(num_shards ·
    probe_subsplits) of the batch with ONE shard bitmap copy, so probe
    parallelism is NOT capped at num_shards and no task materializes
    more than its slice + one bitmap. The subsplit key is mid-range
    hash bits (partitioning only — correctness never depends on it),
    and the bitmap side replicates probe_subsplits ways
    (num_shards · probe_subsplits rows — metadata-sized). Nothing is
    broadcast; the batch side is the small side by contract (the corpus
    is what outgrew the broadcast)."""
    out_schema = df.schema
    cols = list(df.columns)
    staged = df.withColumn(
        "_shard", bloom_shard_expr(F.col(h_col), num_shards)
    ).withColumn(
        "_sub",
        F.pmod(F.shiftrightunsigned(F.col(h_col), 16), F.lit(probe_subsplits)),
    )
    keyed_maps = shard_maps.withColumnRenamed("shard", "_shard").withColumn(
        "_sub", F.explode(F.sequence(F.lit(0), F.lit(probe_subsplits - 1)))
    )

    def probe_group(left, right):
        import numpy as np
        import pandas as pd

        if not len(left):
            return pd.DataFrame({c: [] for c in cols})
        if not len(right):
            # no corpus key hashed into this shard: nothing can match
            return left[cols].iloc[0:0]
        bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
        h = left[h_col].to_numpy(dtype=np.int64)
        ok = _bloom_hits(h, bitmap, num_bits, num_hashes)
        return left.loc[ok, cols]

    return (
        staged.groupBy("_shard", "_sub")
        .cogroup(keyed_maps.groupBy("_shard", "_sub"))
        .applyInPandas(probe_group, out_schema)
    )


def bloom_might_contain(
    spark, bitmap: bytes, num_bits: int = 1 << 20, num_hashes: int = 7
):
    """Boolean pandas UDF over an xxhash64 column: vectorized probe of a
    broadcast Bloom bitmap. Apply BEFORE any shuffle so clean rows die in
    the scan stage."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(np.frombuffer(bitmap, dtype=np.uint8))

    @pandas_udf("boolean")
    def probe(h):
        import pandas as pd

        res = _bloom_hits(h.to_numpy(), bc.value, num_bits, num_hashes)
        return pd.Series(res)

    return probe


def bloom_dedup_incremental(
    df: DataFrame,
    key: "F.Column",
    split_id: int = 250,
    id_col: str = "doc_id",
    num_bits: int = 1 << 20,
    num_hashes: int = 7,
    num_shards: int = 1,
) -> DataFrame:
    """Exact-key incremental dedup through a Bloom pre-filter: new batch
    (``id >= split_id``) vs ingested corpus (``id < split_id``) on an
    arbitrary key expression (exact hash, normalized text, or a content
    fingerprint). Output (doc_id, dup_of): each new doc whose key
    already exists in the corpus, with the lowest matching ingested id.

    Exactness: the Bloom filter admits all true dups (no false
    negatives); the verify join's equality predicate drops every false
    positive — so the result equals the plain old⋈new key join, at a
    fraction of its shuffle (only Bloom survivors are joined, and at
    real dup rates the survivor side is small enough for a broadcast
    join that never shuffles the corpus side either).

    ``num_shards`` > 1 switches to the hash-range-sharded filter
    (:func:`bloom_build_sharded` + :func:`bloom_filter_sharded`) for
    corpora whose bitmap outgrows one broadcast (~860M keys at 1% fpp):
    total capacity num_shards x num_bits, identical output — sharding
    changes the probe topology (one batch shuffle on shard id), never
    the result.
    """
    spark = df.sparkSession
    keyed = tracked_persist(
        df.select(F.col(id_col), key.alias("k")).withColumn("h", F.xxhash64("k"))
    )
    old = keyed.where(F.col(id_col) < split_id)
    new = keyed.where(F.col(id_col) >= split_id)
    if num_shards > 1:
        shard_maps = bloom_build_sharded(
            old.select("h"), num_shards, num_bits, num_hashes
        )
        cand = bloom_filter_sharded(
            new, shard_maps, num_shards, "h", num_bits, num_hashes
        )
    else:
        bitmap = bloom_build(old.select("h"), num_bits, num_hashes)
        probe = bloom_might_contain(spark, bitmap, num_bits, num_hashes)
        cand = new.where(probe(F.col("h")))
    return (
        cand.alias("n")
        .join(old.alias("o"), F.col("n.k") == F.col("o.k"))
        .groupBy(F.col("n." + id_col).alias(id_col))
        .agg(F.min(F.col("o." + id_col)).alias("dup_of"))
    )


def bloom_dedup_incremental_duck(key_duck: str, split_id: int = 250) -> str:
    """DuckDB oracle: the exact old⋈new key join the Bloom path equals."""
    return """
with keyed as (select doc_id, {k} as k from documents)
select n.doc_id as doc_id, min(o.doc_id) as dup_of
from keyed n join keyed o on n.k = o.k and o.doc_id < {s}
where n.doc_id >= {s}
group by n.doc_id
""".format(k=key_duck, s=split_id)


# --------------------------------------- exact duplicated-substring spans


def duplicate_spans(
    df: DataFrame,
    ngram: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated substring spans — the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), reduced from suffix arrays to its
    shuffle-friendly n-gram core: a token position is covered when some
    ``ngram``-token window starting at it occurs in >= ``min_df``
    DISTINCT documents, and maximal runs of covered windows merge into
    spans (gaps-and-islands: a new island starts when the next flagged
    start is more than ``ngram`` past the previous one). Emits
    (doc_id, span_start, span_end, span_tokens) in token offsets,
    span = [span_start, span_end). Downstream, spans are what you cut
    (or down-weight) before training.

    Scale: one posexplode of the shingle array; document frequency is
    one gram-keyed aggregate (map-combined count_distinct over doc_id);
    only the duplicated grams — tiny vs the corpus — join back
    (broadcast); the island merge is a per-doc window, skew-free by
    construction (a doc's flagged positions are bounded by its length).
    No suffix array, no global sort, nothing driver-sized."""
    from pyspark.sql import Window

    from bamboo_spark.operators.scale import fan_out

    sh = word_shingles_sql("split(%s, ' ')" % text_col, ngram)
    # persisted: grams feeds both the duplicated-gram aggregate and the
    # flag join — unpersisted, the corpus-wide tokenize+shingle+explode
    # would execute twice. fan_out first: the tokenize+shingle compute
    # fuses into the scan stage, which on a single-split source runs on
    # one core (guide §2.5; no-op on already-parallel input).
    grams = tracked_persist(
        fan_out(df, id_col).selectExpr(
            id_col, "posexplode(%s) as (pos, g)" % sh
        )
    )
    hot = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("g")
    )
    flagged = grams.join(F.broadcast(hot), "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= ngram, F.lit(0)
    ).otherwise(F.lit(1))
    islands = flagged.withColumn("_brk", brk).withColumn(
        "_gid", F.sum("_brk").over(w)
    )
    return (
        islands.groupBy(id_col, "_gid")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            id_col,
            F.col("_s").cast("bigint").alias("span_start"),
            (F.col("_e") + ngram).cast("bigint").alias("span_end"),
            (F.col("_e") + ngram - F.col("_s")).cast("bigint").alias("span_tokens"),
        )
    )


def duplicate_spans_duck(ngram: int = 5, min_df: int = 2) -> str:
    """DuckDB oracle: same shingle starts, same DF cutoff, same island
    merge."""
    sh = word_shingles_duck("t", ngram)
    return """
with toks as (select doc_id, string_split(text, ' ') t from documents),
grams as (
  select doc_id, generate_subscripts({sh}, 1) - 1 as pos, unnest({sh}) as g
  from toks
),
hot as (select g from grams group by g having count(distinct doc_id) >= {mdf}),
fl as (select doc_id, pos from grams join hot using (g)),
isl as (
  select doc_id, pos,
         case when pos - lag(pos) over (partition by doc_id order by pos)
                   <= {n} then 0 else 1 end brk
  from fl
),
grp as (
  select doc_id, pos,
         sum(brk) over (partition by doc_id order by pos) gid
  from isl
)
select doc_id, min(pos)::BIGINT span_start, (max(pos) + {n})::BIGINT span_end,
       (max(pos) + {n} - min(pos))::BIGINT span_tokens
from grp group by doc_id, gid
order by doc_id, span_start
""".format(sh=sh, mdf=min_df, n=ngram)


def components_incremental(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "component",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_supersteps: int = 20,
) -> DataFrame:
    """Incremental connected components: merge a NEW batch of edges
    into a STORED labeling without touching the old edge list — the
    append-only ingest shape for duplicate-cluster maintenance.

    Old components are contracted to SUPER-NODES (their stored label):
    each new edge maps its endpoints through the stored labeling
    (unlabeled endpoints stay themselves), and the converged CC runs on
    this contracted graph — whose size is O(new edges), not O(corpus).
    Because contracting a connected set preserves connectivity, and the
    stored label is the component's min id, the result equals a full
    recompute over (old ∪ new) edges exactly (the oracle proves it per
    run). Output: (id, component) for every doc in the stored labeling
    or incident to a new edge.

    Contract: ``old_labels`` is a converged min-id labeling of the old
    edge set (what ``connected_components_converged`` emits); new edges
    must involve at least one unlabeled (new) doc OR may connect old
    components — both merge correctly.
    """
    lab_a = old_labels.select(
        F.col(id_col).alias(a_col), F.col(label_col).alias("_la")
    )
    lab_b = old_labels.select(
        F.col(id_col).alias(b_col), F.col(label_col).alias("_lb")
    )
    contracted = (
        new_pairs.join(lab_a, a_col, "left")
        .join(lab_b, b_col, "left")
        .select(
            F.coalesce(F.col("_la"), F.col(a_col)).alias("_ca"),
            F.coalesce(F.col("_lb"), F.col(b_col)).alias("_cb"),
        )
        .where(F.col("_ca") != F.col("_cb"))
        .select(
            F.least("_ca", "_cb").alias(a_col),
            F.greatest("_ca", "_cb").alias(b_col),
        )
        .distinct()
    )
    # connected_components_converged always emits (doc_id, component)
    # regardless of its input edge column names — select those fixed
    # names, not the caller's id_col/label_col.
    comp = connected_components_converged(
        contracted, max_supersteps=max_supersteps, a_col=a_col, b_col=b_col
    ).select(F.col("doc_id").alias("_sup"), F.col("component").alias("_final"))

    # every doc's super-node: its stored label, or itself if new
    new_docs = (
        new_pairs.select(F.col(a_col).alias(id_col))
        .unionByName(new_pairs.select(F.col(b_col).alias(id_col)))
        .distinct()
        .join(old_labels.select(id_col), id_col, "left_anti")
        .select(id_col, F.col(id_col).alias("_sup"))
    )
    supers = old_labels.select(
        id_col, F.col(label_col).alias("_sup")
    ).unionByName(new_docs)
    return supers.join(comp, "_sup", "left").select(
        id_col,
        F.coalesce(F.col("_final"), F.col("_sup")).alias(label_col),
    )


# shared peel budget: kcore_edges iterates (with convergence detection)
# and kcore_duck unrolls to the SAME depth, so the oracle reaches any
# fixpoint the Spark side can reach within budget
KCORE_MAX_ROUNDS = 20


def kcore_edges(
    pairs: DataFrame,
    k: int = 2,
    max_rounds: int = KCORE_MAX_ROUNDS,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The k-core of the near-duplicate graph: repeatedly peel nodes of
    degree < k until the remaining induced subgraph is stable, and
    return its (undirected, both-direction) edge list.

    Why a dedup pipeline wants this: the k-core separates CLIQUE-like
    duplicate clusters (every member near-dups every other — safe to
    collapse to one canonical doc) from CHAIN-like ones (a-b-c-d where
    only adjacent pairs match — collapsing the whole component
    over-merges, the same transitivity hazard ``q_dup_triangles``
    audits). A 2-core membership bit is the cheap per-node version of
    the triangle census.

    Scale shape: peeling is degree-count + two semi-joins per round —
    state is only the current edge list, never neighborhoods. Each
    round is an eager ``localCheckpoint`` (lineage cut, same discipline
    as ``connected_components_converged``); convergence is detected
    with one metadata-sized count per round, so the result is the true
    fixpoint independent of the iteration budget — which is what makes
    it oracle-checkable by an unrolled peel. Rounds needed =
    peel depth, bounded by the longest chain in any component
    (duplicate clusters are shallow; web-corpus measurements in
    Batagelj & Zaversnik's O(m) peeling paper show tiny depths).
    """
    fwd = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    # every edge count rides its checkpoint's OWN materialization as an
    # observed metric — one job per peel round instead of two
    # (checkpoint + a separate count action), the same discipline as
    # connected_components_converged's convergence check; symmetrize is
    # the one-pass explode (union(swap) ran the pair pipeline twice)
    obs0 = Observation()
    edges = (
        _symmetrize(fwd)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs0.get["n"])
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("a")
        )
        obs = Observation()
        new_edges = (
            edges.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .select("a", "b")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_new = int(obs.get["n"])
        edges = new_edges
        if n_new == n_edges:
            break
        n_edges = n_new
    return edges


def kcore_duck(
    pairs_sql: str, k: int = 2, rounds: int = KCORE_MAX_ROUNDS
) -> str:
    """DuckDB oracle: the same peel, unrolled ``rounds`` deep — the
    SAME budget as ``kcore_edges``'s ``max_rounds`` default, so on any
    graph the Spark side can finish within budget the oracle reaches
    the identical fixpoint (a deeper-than-budget graph would fail
    parity loudly on both sides rather than silently truncate)."""
    lines = [
        "with pr as materialized (%s)," % pairs_sql.strip().rstrip(";"),
        "e0 as materialized (select doc_a a, doc_b b from pr"
        " union select doc_b, doc_a from pr)",
    ]
    for i in range(rounds):
        lines.append(
            ", n{j} as materialized (select a from e{i} group by a"
            " having count(*) >= {k})"
            ", e{j} as materialized (select e.a, e.b from e{i} e"
            " join n{j} x on e.a = x.a"
            " join n{j} y on e.b = y.a)".format(i=i, j=i + 1, k=k)
        )
    return "\n".join(lines) + "\nselect a, b from e%d" % rounds


def winnow_fingerprints(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowed document fingerprints (the MOSS local fingerprinting
    algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every
    character ``k``-gram of the whitespace-stripped lowercased text,
    slide a ``w``-hash window, keep each window's minimum — rightmost
    on ties, the paper's robust-winnowing rule. Returns one
    ``(id, fp)`` row per distinct selected hash.

    The guarantee that makes this the plagiarism/boilerplate detector
    (vs shingle Jaccard's whole-document view): any substring match of
    length >= k + w - 1 chars between two documents YIELDS a shared
    fingerprint, while nothing shorter than k chars can. Density is
    ~2/(w+1) of positions — the index is a tunable fraction of corpus
    size, independent of document length.

    Scale shape: everything up to the explode is per-row codegen
    (array lambdas over the condensed string — no UDF, no shuffle);
    the condensed string is materialized as a column FIRST so lambdas
    reference an attribute (expressions under a lambda re-evaluate per
    element — the ``word_shingles_sql`` lesson). Hashes are the shared
    60-bit md5 ints, so only 8-byte keys ever shuffle, never text."""
    from bamboo_spark.operators.scale import fan_out

    min_len = k + w - 1
    # the per-position md5 chain below is the most compute-dense scan in
    # the engine — spread a one-split input across the cluster first
    # (no-op when the scan is already parallel; guide §2.5)
    s = fan_out(df, id_col).select(
        F.col(id_col),
        F.expr("replace(lower(%s), ' ', '')" % text_col).alias("_s"),
    ).where(F.length("_s") >= min_len)
    from .text import md5_int60_sql

    g = s.select(
        F.col(id_col),
        F.expr(
            "transform(sequence(1, length(_s) - {k} + 1), "
            "i -> named_struct('h', {h}, 'negpos', -i))".format(
                k=k, h=md5_int60_sql("substr(_s, i, %d)" % k)
            )
        ).alias("_g"),
    )
    return g.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(_g) - {w} + 1), "
                    "p -> array_min(slice(_g, p, {w})).h)".format(w=w)
                )
            )
        ).alias("fp"),
    )


def winnow_pairs(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    max_fp_df: int = 8,
    min_shared: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints,
    with ``overlap`` = shared / smaller fingerprint set — the
    containment-style score that still fires when a small doc is
    embedded in a big one.

    ``max_fp_df`` drops fingerprints appearing in more than that many
    documents before the self-join — the same stop-key guard as
    ``jaccard_pairs``'s ``max_shingle_df``: ubiquitous boilerplate
    fingerprints would otherwise contribute df² join rows each while
    carrying no pair signal. Self-join is on the 60-bit int, map-side
    combinable count, no windows."""
    from ._cache import tracked_persist

    # persist the fingerprints: the df-cap aggregate AND the semi-join
    # probe both consume them, and the two exchanges differ after column
    # pruning so ReuseExchange never fires — unpersisted, the whole
    # per-position md5 scan runs twice
    fps = tracked_persist(
        winnow_fingerprints(df, k=k, w=w, id_col=id_col, text_col=text_col)
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_fp_df)
        .select("fp")
    )
    capped = fps.join(rare, "fp", "left_semi")
    capped = tracked_persist(capped)
    sizes = capped.groupBy(id_col).agg(F.count(F.lit(1)).alias("nf"))
    pairs = (
        capped.alias("x")
        .join(capped.alias("y"), "fp")
        .where(F.col("x." + id_col) < F.col("y." + id_col))
        .groupBy(
            F.col("x." + id_col).alias("doc_a"),
            F.col("y." + id_col).alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return (
        pairs.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("nf").alias("_na")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("nf").alias("_nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.round(
                F.col("shared_fps") / F.least("_na", "_nb"), 6
            ).alias("overlap"),
        )
    )


def winnow_fps_duck(
    k: int = 16,
    w: int = 8,
    max_fp_df: int = 8,
    source: str = "documents",
) -> str:
    """DuckDB CTE fragment (no leading WITH) producing the capped
    winnowed fingerprint set ``fps(doc_id, fp)`` — the same winnow
    (window-min over (h, -pos) structs = rightmost-min rule) and df-cap
    as :func:`winnow_fingerprints` + the ``winnow_pairs`` rare filter.
    Shared by the pair and contamination oracles."""
    from .text import md5_int60_duck

    h = md5_int60_duck("substr(s, pos, %d)" % k)
    return """
norm as (
  select doc_id, replace(lower(text), ' ', '') s from {src}
  where len(replace(lower(text), ' ', '')) >= {minlen}
),
g as (
  select doc_id, pos, {h} h
  from norm, lateral unnest(generate_series(1, len(s) - {k} + 1)) t(pos)
),
win as (
  select doc_id, pos,
         min(struct_pack(h := h, negpos := -pos))
           over (partition by doc_id order by pos
                 rows between current row and {wm1} following) m,
         count(*) over (partition by doc_id) ng
  from g
),
fps0 as (select distinct doc_id, m.h fp from win where pos <= ng - {w} + 1),
rare as (select fp from fps0 group by fp having count(*) <= {cap}),
fps as materialized (select fps0.doc_id, fps0.fp from fps0 join rare using (fp))
""".format(
        src=source, h=h, k=k, w=w, wm1=w - 1, minlen=k + w - 1, cap=max_fp_df
    ).strip()


def winnow_pairs_duck(
    k: int = 16,
    w: int = 8,
    max_fp_df: int = 8,
    min_shared: int = 5,
    source: str = "documents",
) -> str:
    """DuckDB oracle: the same winnow (window-min over (h, -pos)
    structs = rightmost-min rule) and the same capped self-join."""
    return """
with {fps},
sizes as (select doc_id, count(*) nf from fps group by doc_id),
pairs as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) shared_fps
  from fps a join fps b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2 having count(*) >= {mins}
)
select p.doc_a, p.doc_b, p.shared_fps,
       round(p.shared_fps::DOUBLE / least(sa.nf, sb.nf)::DOUBLE, 6) overlap
from pairs p
join sizes sa on sa.doc_id = p.doc_a
join sizes sb on sb.doc_id = p.doc_b
""".format(
        fps=winnow_fps_duck(k=k, w=w, max_fp_df=max_fp_df, source=source),
        mins=min_shared,
    )
