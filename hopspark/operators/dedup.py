"""Deduplication operators for LLM training-data pipelines (extension
beyond the reference — BASELINE.json north star).

Scale design (100 TB thinking):
  * exact dedup — hash-groupBy on a 128-bit content fingerprint: one
    shuffle of (16-byte key, doc_id) pairs after column pruning, never the
    text payload. At 1000 executors this is the classic map-side-combine
    friendly aggregation; AQE handles the (rare) hot fingerprint.
  * MinHash LSH — per-doc signature computed scan-side with built-in
    Catalyst expressions (shingle → xxhash64 → array_min), then banding:
    only (band_id, band_hash, doc_id) rows shuffle. Candidate pairs come
    from equi-joining compact band keys — the O(n²) pair space is never
    materialized. Exact Jaccard verification re-joins the shingle sets for
    candidates only.
  * Everything is expression-level (whole-stage codegen). No Python UDFs.

The MinHash/Jaccard pipeline is not ANSI-SQL-expressible with engine-
identical hashes, so its driver check is rows-only; tests/test_dedup.py
verifies semantics on crafted near-duplicate corpora instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hopspark.catalog import read_table
from hopspark.ckpt import materialize

# --- exact dedup -----------------------------------------------------------


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(normalized text): keeper = min doc_id."""
    docs = read_table(spark, "documents", sf_dir)
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_GROUPS_SQL = r"""
SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY fingerprint
ORDER BY keeper_doc_id
"""


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level dedup: keep the lowest doc_id per fingerprint (window
    row_number — the distributed analogue of DISTINCT ON)."""
    from pyspark.sql import Window as W

    docs = read_table(spark, "documents", sf_dir)
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.select("doc_id", "source", fp.alias("fingerprint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "fingerprint")
        .orderBy("doc_id")
    )


DEDUP_EXACT_KEEP_FIRST_SQL = r"""
SELECT doc_id, source, fingerprint FROM (
  SELECT doc_id, source,
         md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
         ROW_NUMBER() OVER (PARTITION BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
                            ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY doc_id
"""

# --- MinHash + LSH near-dedup ---------------------------------------------

N_HASHES = 32
BAND_SIZE = 4  # 8 bands × 4 rows: P(candidate | j=0.9) ≈ 0.9999, j=0.5 ≈ 0.40
SHINGLE_K = 3


def _tokens(col: str = "text") -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def shingle_set(col: str = "text", k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles: slice the token array at each offset."""
    toks = _tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def hashed_shingle_set(th: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-gram shingles as 64-bit hashes over a pre-hashed token
    array `th` (array<long>). Hashing tokens once and combining longs is
    ~an order of magnitude cheaper than materializing string shingles —
    the 64-bit space makes collisions negligible (~n²/2⁶⁴), documented.
    Assumes k=3 (the engine default)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(th) - k, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(F.get(th, i), F.get(th, i + 1), F.get(th, i + 2)),
        )
    )


def minhash_signature(shingles: Column, n_hashes: int = N_HASHES) -> Column:
    """n_hashes MinHash values: min over shingles of a seeded xxhash64.
    Seeding by string suffix keeps it a pure Catalyst expression."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(s, F.lit(j)))
            )
            for j in range(n_hashes)
        ]
    )


def minhash_bands(sig: Column, band_size: int = BAND_SIZE) -> Column:
    """Band keys: hash each contiguous band of the signature."""
    n_bands = N_HASHES // band_size
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[sig[b * band_size + r] for r in range(band_size)]
            )
            for b in range(n_bands)
        ]
    )


def _hashed_shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<long>) — tokens hashed once, then k-gram hashes.
    The token-hash array is materialized in its own projection; passing the
    expression straight into the shingle builder would inline (and so
    recompute) it for every element access."""
    base = docs.select(
        "doc_id", F.transform(_tokens(), lambda t: F.xxhash64(t)).alias("th")
    )
    return base.select("doc_id", hashed_shingle_set(F.col("th")).alias("sh"))


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hashed_shingles_of(read_table(spark, "documents", sf_dir))


# Max representatives kept per LSH band bucket. After exact-duplicate
# collapse a bucket this hot means >cap genuinely-distinct docs collide on a
# whole band (templated boilerplate); the cap bounds both the aggregation
# state and the local pair quadratic. Survivors usually still pair through
# their other bands; use minhash_bucket_stats() to audit what a corpus drops.
LSH_BUCKET_CAP = 256


def _exact_groups(base: DataFrame, payload: str) -> tuple[DataFrame, DataFrame]:
    """(reps, members) for exact-duplicate collapse. `base` = (doc_id, fp,
    payload). reps = one representative (min doc_id) per fingerprint WITH
    its payload carried through the same groupBy via min_by — so every
    downstream consumer of the representatives (signatures, both verify
    sides) references ONE canonically-identical aggregation subtree and
    Spark's exchange reuse makes the scan+shuffle happen once, instead of
    re-expanding the document scan per consumer. members maps every doc to
    its representative (one compact-key join)."""
    reps = base.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.min_by(payload, "doc_id").alias(payload)
    )
    members = (
        base.select("doc_id", "fp")
        .join(reps.select("fp", F.col("doc_id").alias("rep")), "fp")
        .select("doc_id", "rep")
    )
    return reps.select("doc_id", payload), members


def _capped_buckets(banded: DataFrame, member_col: str, cap: int) -> DataFrame:
    """Group banded rows into per-(band_idx, band_hash) member arrays with
    bounded state: a row_number window caps membership BEFORE collect_list,
    so a degenerate bucket never materializes more than `cap` members in any
    aggregation buffer. The groupBy reuses the window's hash partitioning
    (same keys), so the cap costs a sort, not an extra exchange."""
    from pyspark.sql import Window as W

    w = W.partitionBy("band_idx", "band_hash").orderBy(member_col)
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(member_col)).alias("members"))
        .filter(F.size("members") > 1)
    )


def _bucket_pairs(buckets: DataFrame, pair_struct) -> DataFrame:
    """All i<j pairs inside each (capped) bucket via array combinatorics —
    the quadratic stays bucket-local and ≤ cap²/2."""
    return buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "members",
                    lambda x, i: F.transform(
                        F.slice(F.col("members"), i + 2, F.size("members")),
                        lambda y: pair_struct(x, y),
                    ),
                )
            )
        ).alias("p")
    )


def _expand_exact_dups(
    rep_pairs: DataFrame, members: DataFrame, value_col: str, within_value
) -> DataFrame:
    """Expand representative-level verified pairs to all document pairs.
    Exact duplicates share signatures with their representative, so
    (x, y) is a candidate iff (rep(x), rep(y)) is, with the same score;
    within-group pairs score `within_value` (jaccard 1.0 / hamming 0).
    Joins are plain shuffles on compact ids — the quadratic of a huge
    duplicate group lands distributed across tasks, never in one array."""
    ma = members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("m_a"))
    mb = members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            F.col(value_col),
        )
    )
    g1 = members.select("rep", F.col("doc_id").alias("doc_a"))
    g2 = members.select("rep", F.col("doc_id").alias("doc_b"))
    within = (
        g1.join(g2, "rep")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", within_value.alias(value_col))
    )
    return cross.unionByName(within)


def _minhash_rep_pairs(
    rep_sh: DataFrame, jaccard_threshold: float, bucket_cap: int
) -> DataFrame:
    """Banding + exact-Jaccard verify over exact-dup representatives."""
    sig = rep_sh.select("doc_id", minhash_signature(F.col("sh")).alias("sig"))
    banded = sig.select(
        "doc_id",
        F.posexplode(minhash_bands(F.col("sig"))).alias("band_idx", "band_hash"),
    )
    buckets = _capped_buckets(banded, "doc_id", bucket_cap)
    pairs = (
        _bucket_pairs(
            buckets, lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sh_a = rep_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = rep_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    # plain equi-joins on compact doc ids: the candidate set is NOT force-
    # broadcast (its size is data-dependent — a duplicate-heavy corpus can
    # make it huge); AQE may still broadcast a side it measures as small.
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def _minhash_pipeline(
    sh: DataFrame, jaccard_threshold: float, bucket_cap: int
) -> DataFrame:
    """Full near-dup pipeline over a (doc_id, sh: array<long>) frame:
    exact-dup collapse → banding over representatives → shuffle-join verify
    → expansion back to all doc pairs (output identical to banding the full
    corpus, minus >cap bucket tails).

    The shared frames are localCheckpoint()ed (r12, guide §2.4/§5): `base`
    feeds the collapse groupBy AND the members join; `rep_sh` feeds the
    signature stage AND both exact-Jaccard verify sides; `members` feeds
    four expansion joins. Without the checkpoints Catalyst re-expands the
    document scan + shingle construction once per consumer (measured: 11
    parquet scans and 4 SortAggregate collapse passes in the r12 before-
    plan); with them each stage computes exactly once per run — the same
    reuse discipline similarity_join_edges already applies."""
    base = materialize(sh.withColumn("fp", F.xxhash64("sh")))
    rep_sh, members = _exact_groups(base, "sh")
    rep_sh = materialize(rep_sh)
    members = materialize(members)
    rep_pairs = _minhash_rep_pairs(rep_sh, jaccard_threshold, bucket_cap)
    return _expand_exact_dups(rep_pairs, members, "jaccard", F.lit(1.0))


def dedup_minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    jaccard_threshold: float = 0.5,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    shingle Jaccard ≥ threshold.

    Scale shape (100 TB): exact duplicates collapse to one representative
    BEFORE banding (identical shingle sets ⇒ identical signatures), so a
    million-copy boilerplate group costs one signature, not 5·10¹¹ bucket
    pairs; representative band buckets are capped at `bucket_cap` with
    bounded aggregation state; the exact-Jaccard verify is a shuffle
    equi-join on compact doc ids (no data-dependent broadcast); verified
    representative pairs expand back through the duplicate groups with
    distributed joins. Only (band_idx, band_hash, doc_id) rows and
    candidate shingle rows shuffle — the text payload never moves."""
    sh = _hashed_shingles(spark, sf_dir)
    return _minhash_pipeline(sh, jaccard_threshold, bucket_cap).orderBy(
        "doc_a", "doc_b"
    )


def minhash_bucket_stats(
    spark: SparkSession, sf_dir: str, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Audit helper: per-band bucket-size histogram plus how many buckets
    exceed `bucket_cap` (their tails are dropped by the capped pipeline) —
    the monitoring hook for the documented recall trade-off."""
    sh = _hashed_shingles(spark, sf_dir)
    rep_sh, _ = _exact_groups(sh.withColumn("fp", F.xxhash64("sh")), "sh")
    sig = rep_sh.select("doc_id", minhash_signature(F.col("sh")).alias("sig"))
    banded = sig.select(
        "doc_id",
        F.posexplode(minhash_bands(F.col("sig"))).alias("band_idx", "band_hash"),
    )
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.sum((F.col("bucket_size") > bucket_cap).cast("long")).alias(
            "n_capped_buckets"
        ),
        F.sum(
            F.when(
                F.col("bucket_size") > bucket_cap,
                F.col("bucket_size") - bucket_cap,
            ).otherwise(0)
        ).alias("members_dropped"),
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard between consecutive doc_ids (a deterministic,
    SQL-checkable slice of the pairwise-similarity operator: the pairing is
    doc_id vs doc_id+1, so the oracle can reproduce it)."""
    docs = read_table(spark, "documents", sf_dir)
    sh = docs.select("doc_id", shingle_set().alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        a.join(b, "doc_a")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .orderBy("doc_a")
    )


DEDUP_NGRAM_JACCARD_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)
         ]) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
ORDER BY doc_a
"""


# --- Edit-distance verify stage ---------------------------------------------

LEV_PREFIX_CHARS = 96  # cap the O(n*m) DP: compare fixed-length prefixes
LEV_NEAR_MAX = 24  # near-dup label threshold on the capped prefix


def dedup_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify stage over deterministic candidate pairs
    (doc_id vs doc_id+1, the same SQL-checkable pairing as
    dedup_ngram_jaccard): Levenshtein distance between capped text
    prefixes, with a near-dup flag.

    This is the *verify* half of a fuzzy-dedup pipeline — candidates come
    from a cheap generator (MinHash bands, SimHash buckets, prefix
    clusters), and each surviving pair pays one bounded edit-distance
    check.  The DP cost is O(LEV_PREFIX_CHARS²) per pair regardless of
    document length, so the stage scales with the candidate count, never
    with corpus text size; `levenshtein` is a JVM built-in, so the whole
    plan stays codegen'd (no Python in the pair loop).  The reference has
    le_dst/levenshtein as scalar UDFs only
    (be/src/exprs/string-functions-ir.cc) — users compose the same shape.
    """
    docs = read_table(spark, "documents", sf_dir)
    pre = docs.select(
        "doc_id", F.substring(F.trim(F.col("text")), 1, LEV_PREFIX_CHARS).alias("pre")
    )
    a = pre.select(F.col("doc_id").alias("doc_a"), F.col("pre").alias("pre_a"))
    b = pre.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("pre").alias("pre_b"),
    )
    dist = F.levenshtein(F.col("pre_a"), F.col("pre_b"))
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("lev_dist"),
            (dist <= LEV_NEAR_MAX).cast("int").alias("is_near"),
        )
        .orderBy("doc_a")
    )


DEDUP_LEVENSHTEIN_VERIFY_SQL = rf"""
WITH pre AS (
  SELECT doc_id, substr(trim(text), 1, {LEV_PREFIX_CHARS}) AS pre FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pre, b.pre) AS INT) AS lev_dist,
       CAST(levenshtein(a.pre, b.pre) <= {LEV_NEAR_MAX} AS INT) AS is_near
FROM pre a JOIN pre b ON b.doc_id = a.doc_id + 1
ORDER BY doc_a
"""


# --- SimHash near-dedup ----------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 × 16-bit bands; pair candidates share ≥1 band
# Hamming cutoff: on this corpus (~54-token docs) true near-dups measure
# 0-6 bits apart while unrelated pairs start appearing at 3-4 and explode
# past 5; 4 keeps ~85% recall at ~10× better precision than 8. SimHash is a
# candidate generator — compose with exact-Jaccard verify for a final set.
MAX_HAMMING = 4


def _token_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, th: array<long>) — per-doc token-hash array (shared by the
    simhash fingerprint and signature stages)."""
    docs = read_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", F.transform(_tokens(), lambda t: F.xxhash64(t)).alias("th")
    )


def _simhash_fold(th: DataFrame) -> DataFrame:
    """Catalyst-fold reference for the SimHash bit-vote (kept for the
    kernel parity test): computed scan-side with an array fold — the
    bit-vote accumulator never leaves the row, so signatures cost ZERO
    shuffle (measured 4× faster than the explode + 64-sum groupBy
    alternative at sf0.1).  Superseded as the execution path by the
    vectorized Arrow kernel in _simhash_from_tokens (r13): Spark executes
    higher-order array functions WITHOUT codegen, and this nested
    zip_with-inside-aggregate fold was the single biggest interpreted-
    expression hotspot in the bench."""

    def _shr(h: "F.Column", j: "F.Column") -> "F.Column":
        return F.call_function("shiftrightunsigned", h, j)

    votes = F.aggregate(
        F.col("th"),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda a, j: a + (_shr(h, j).bitwiseAND(F.lit(1)).cast("int") * 2 - 1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda v, j: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return th.select("doc_id", sim.alias("simhash"))


def _simhash_from_tokens(th: DataFrame) -> DataFrame:
    """(doc_id, simhash) over a (doc_id, th: array<long>) frame: 64-bit
    SimHash via a vectorized numpy kernel in mapInArrow (guide §4.2 — hand
    whole Arrow batches to native code instead of interpreted expressions;
    Spark runs higher-order array functions without codegen, and the fold
    in _simhash_fold was the biggest interpreted hotspot in the bench).

    BIT-EQUAL to the fold by construction — pure integer arithmetic:
    votes[j] = Σ_tokens ((h >>> j) & 1) * 2 - 1 = 2*ones[j] - n_tokens,
    bit j set iff votes[j] > 0 — asserted by
    tests/test_dedup.py::test_simhash_kernel_matches_fold at two SFs.
    Only (doc_id, th) cross the Python boundary (~8·n_tokens bytes/row);
    per-batch scratch is bounded by the 2048-doc sub-chunking
    (~2048 docs × tokens × 64 × 4 B ≈ 30 MB at this corpus's ~54
    tokens/doc), independent of arrow.maxRecordsPerBatch."""

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        J = np.arange(SIMHASH_BITS, dtype=np.uint64)
        CHUNK = 2048
        for batch in batches:
            doc = batch.column(0)
            lst = batch.column(1)
            lens_arr = pc.list_value_length(lst)
            null_mask = np.asarray(lens_arr.is_null())
            lens = (
                np.asarray(lens_arr.fill_null(0)).astype(np.int64)
                if len(lens_arr)
                else np.zeros(0, dtype=np.int64)
            )
            # list_flatten skips null lists, matching the fill_null(0)
            # lengths above, so offsets stay aligned.  It keeps null
            # ELEMENTS: fill them so the uint64 view reads integer bits.
            flat_arr = pc.list_flatten(lst)
            flat = np.asarray(flat_arr.fill_null(0)).view(np.uint64)
            ends = np.cumsum(lens)
            starts = ends - lens
            sim = np.zeros(len(lens), dtype=np.int64)
            for lo in range(0, len(lens), CHUNK):
                hi = min(lo + CHUNK, len(lens))
                v = flat[starts[lo] : ends[hi - 1]] if hi > lo and ends[hi - 1] > starts[lo] else flat[:0]
                # n_tok × 64 bit matrix; bit j of token = (h >> j) & 1
                # (little bitorder over the little-endian byte view).
                bits = np.unpackbits(
                    v.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )
                c = np.zeros((len(v) + 1, SIMHASH_BITS), dtype=np.int32)
                np.cumsum(bits, axis=0, out=c[1:])
                base0 = starts[lo]
                ones = c[ends[lo:hi] - base0] - c[starts[lo:hi] - base0]
                votes = 2 * ones.astype(np.int64) - lens[lo:hi, None]
                simbits = (votes > 0).astype(np.uint64)
                sim[lo:hi] = (simbits << J).sum(axis=1, dtype=np.uint64).view(
                    np.int64
                )
            if flat_arr.null_count:
                # the fold's vote accumulator turns NULL at a null token
                # and then sets no bit: such documents hash to 0
                null_pos = np.flatnonzero(np.asarray(flat_arr.is_null()))
                sim[np.searchsorted(ends, null_pos, side="right")] = 0
            out = pa.array(sim, mask=null_mask if null_mask.any() else None)
            yield pa.record_batch([doc, out], names=["doc_id", "simhash"])

    return th.select("doc_id", "th").mapInArrow(
        _kernel, "doc_id long, simhash long"
    )


def _simhash_pipeline(th: DataFrame, max_hamming: int, bucket_cap: int) -> DataFrame:
    """Near-dup pipeline over (doc_id, th): exact-dup collapse (identical
    token sequences ⇒ identical simhash) → band buckets over
    representatives, capped like the MinHash path → Hamming verify inside
    the bucket combinatorics → expansion back to all doc pairs (within an
    exact-dup group, hamming = 0).

    Frames with more than one consumer are localCheckpoint()ed like the
    MinHash pipeline: `base` feeds collapse + members, `members` feeds four
    expansion joins — one computation per stage per run instead of one per
    consumer.  `rep_th` has one consumer, the SimHash signature fold, so a
    checkpoint there would only add an eager job."""
    base = materialize(th.withColumn("fp", F.xxhash64("th")))
    rep_th, members = _exact_groups(base, "th")
    members = materialize(members)
    sigs = _simhash_from_tokens(rep_th)
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    banded = sigs.select(
        F.struct("doc_id", "simhash").alias("m"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * band_width).bitwiseAND(
                        F.lit((1 << band_width) - 1)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    buckets = _capped_buckets(banded, "m", bucket_cap)
    rep_pairs = (
        _bucket_pairs(
            buckets,
            lambda x, y: F.struct(
                x.doc_id.alias("doc_a"),
                y.doc_id.alias("doc_b"),
                F.bit_count(x.simhash.bitwiseXOR(y.simhash)).alias("hamming"),
            ),
        )
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return _expand_exact_dups(rep_pairs, members, "hamming", F.lit(0))


def dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = MAX_HAMMING,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: band-bucket candidates (any equal
    16-bit quarter), verified by Hamming distance ≤ max_hamming.
    Same scale shape as MinHash: exact-dup collapse before banding, capped
    buckets with bounded aggregation state, compact keys shuffle, no
    payload movement, distributed expansion of duplicate groups."""
    th = _token_hashes(spark, sf_dir)
    return _simhash_pipeline(th, max_hamming, bucket_cap).orderBy("doc_a", "doc_b")


# --- embedding-cosine near-dup ---------------------------------------------

COSINE_NEAR_DUP = 0.9


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup scores on the deterministic consecutive-id
    pair slice (SQL-checkable, like dedup_ngram_jaccard); the full pairwise
    detector composes this scorer with the ann_lsh bucketing in
    hopspark/operators/similarity.py. Fold order is left-to-right in both
    engines; emitted value rounded to 6 decimals."""
    emb = read_table(spark, "embeddings", sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("vec_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    da = F.transform(F.col("ea"), lambda x: x.cast("double"))
    db = F.transform(F.col("eb"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with(da, da, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.zip_with(db, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    cos = F.round(dot / (na * nb), 6)
    return (
        a.join(b, "vec_a")
        .select(
            "vec_a",
            "vec_b",
            cos.alias("cos_sim"),
            (cos >= COSINE_NEAR_DUP).alias("is_near_dup"),
        )
        .orderBy("vec_a")
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb)
             / (SQRT(list_dot_product(a.emb, a.emb))
                * SQRT(list_dot_product(b.emb, b.emb))), 6) AS cos_sim,
       ROUND(list_dot_product(a.emb, b.emb)
             / (SQRT(list_dot_product(a.emb, a.emb))
                * SQRT(list_dot_product(b.emb, b.emb))), 6) >= {COSINE_NEAR_DUP}
         AS is_near_dup
FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
ORDER BY vec_a
"""


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW ingest batch (top fifth of the doc_id
    range) is deduped against the HISTORICAL corpus (the rest) by exact
    content hash — the shape every continuously-fed training pipeline
    needs, where re-deduping 100 TB of history per ingest is not an
    option.

    100 TB design: the history side is reduced to DISTINCT hashes before
    the join (one shuffle over ~16-byte keys, not documents); the
    left-anti equi-join then shuffles only hashes. When history >> batch,
    AQE turns the batch side into the build side; a persisted
    hash-bucketed history table makes the anti-join shuffle-free on the
    history side. Within-batch dups collapse first (min doc_id keeper),
    so the join input is already distinct."""
    docs = read_table(spark, "documents", sf_dir)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    hashed = docs.select("doc_id", h.alias("h"))
    cutoff = (
        hashed.agg(
            (F.max("doc_id") * F.lit(4) / F.lit(5)).cast("bigint").alias("c")
        )
    )
    hist = (
        hashed.join(cutoff, F.col("doc_id") < F.col("c"))
        .select("h")
        .distinct()
    )
    newb = (
        hashed.join(cutoff, F.col("doc_id") >= F.col("c"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        newb.join(hist, "h", "left_anti")
        .select("doc_id", "h")
        .orderBy("doc_id")
    )


DEDUP_INCREMENTAL_BATCH_SQL = r"""
WITH d AS (
  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h
  FROM documents
),
cut AS (SELECT CAST(MAX(doc_id) * 4 / 5 AS BIGINT) AS c FROM d),
hist AS (SELECT DISTINCT h FROM d, cut WHERE doc_id < c),
newb AS (SELECT h, MIN(doc_id) AS doc_id FROM d, cut WHERE doc_id >= c GROUP BY h)
SELECT n.doc_id, n.h
FROM newb n
WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = n.h)
ORDER BY n.doc_id
"""


# --- prefix-cluster dedup ---------------------------------------------------

#: tokens of document head that define a prefix cluster
PREFIX_LEN = 4


def dedup_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster documents by their first PREFIX_LEN tokens — the cheap
    head-prefix heuristic crawl pipelines run before MinHash: template
    pages, mirrored articles, and boilerplate-led duplicates share an
    exact head even when tails diverge. Emits the cluster-size histogram
    plus per-bucket doc count and representative count (min doc_id per
    cluster is the keeper).

    100 TB design: the prefix key is a scan-side md5 of a bounded slice
    (no full-text shuffle — only the 16-byte key and doc_id move);
    clustering is one hash aggregation with map-side partials, and the
    histogram is a second tiny aggregation over one row per cluster.
    Unlike MinHash banding there is no candidate explosion: a hot
    template cluster costs one (key, count) partial per scan task."""
    docs = read_table(spark, "documents", sf_dir)
    prefix = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, PREFIX_LEN), " "
    )
    clusters = (
        docs.select(F.md5(prefix).alias("pkey"), "doc_id")
        .groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("csize"),
            F.min("doc_id").alias("rep_id"),
        )
    )
    return (
        clusters.groupBy("csize")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("csize").alias("n_docs"),
            F.min("rep_id").alias("min_rep_id"),
        )
        .orderBy("csize")
    )


DEDUP_PREFIX_CLUSTERS_SQL = f"""
WITH clusters AS (
  SELECT md5(array_to_string(
           list_slice(string_split_regex(trim(text), '\\s+'), 1, {PREFIX_LEN}),
           ' ')) AS pkey,
         COUNT(*) AS csize,
         MIN(doc_id) AS rep_id
  FROM documents GROUP BY 1
)
SELECT CAST(csize AS BIGINT) AS csize,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(csize) AS BIGINT) AS n_docs,
       MIN(rep_id) AS min_rep_id
FROM clusters GROUP BY csize ORDER BY csize
"""


QUERIES: dict[str, tuple] = {
    "dedup_prefix_clusters": (dedup_prefix_clusters, DEDUP_PREFIX_CLUSTERS_SQL),
    "dedup_exact_groups": (dedup_exact_groups, DEDUP_EXACT_GROUPS_SQL),
    "dedup_incremental_batch": (
        dedup_incremental_batch,
        DEDUP_INCREMENTAL_BATCH_SQL,
    ),
    "dedup_exact_keep_first": (dedup_exact_keep_first, DEDUP_EXACT_KEEP_FIRST_SQL),
    "dedup_minhash_candidates": (dedup_minhash_candidates, None),
    "dedup_simhash": (dedup_simhash, None),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_levenshtein_verify": (
        dedup_levenshtein_verify,
        DEDUP_LEVENSHTEIN_VERIFY_SQL,
    ),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL),
}
