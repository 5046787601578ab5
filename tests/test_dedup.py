"""Semantic tests for the dedup operators on crafted corpora (the driver's
oracle can't check MinHash — hash functions are engine-specific — so these
pin the behavior instead)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hopspark.operators.dedup import (
    minhash_bands,
    minhash_signature,
    shingle_set,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("lazy", "sleepy")  # one-token change → high jaccard
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different content about spark query engines and planners"),
        (5, "another unrelated document mentioning catalyst optimizer rules only"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles(corpus):
    row = corpus.filter(F.col("doc_id") == 1).select(
        shingle_set().alias("sh")
    ).head()
    assert "the quick brown" in row.sh
    assert all(len(s.split(" ")) == 3 for s in row.sh)


def test_minhash_identical_docs_equal_signatures(corpus):
    sigs = (
        corpus.select("doc_id", minhash_signature(shingle_set()).alias("sig"))
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r.doc_id: r.sig for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert shared >= 8, f"only {shared}/16 minhashes shared for near-dup"


def test_lsh_banding_finds_near_dups(spark, corpus):
    sh = corpus.select("doc_id", shingle_set().alias("shingles"))
    sig = sh.select("doc_id", minhash_signature(F.col("shingles")).alias("sig"))
    banded = sig.select(
        "doc_id", F.explode(minhash_bands(F.col("sig"))).alias("band_hash")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = {
        (r.x, r.y)
        for r in a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .collect()
    }
    assert (1, 2) in pairs  # exact dup must always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup should collide
    assert (4, 5) not in pairs  # unrelated docs must not


def test_exact_dedup_on_testdata(spark, sf_dir):
    from hopspark.operators.dedup import dedup_exact_groups, dedup_exact_keep_first

    groups = dedup_exact_groups(spark, sf_dir)
    kept = dedup_exact_keep_first(spark, sf_dir)
    assert groups.count() == kept.count()  # one keeper per fingerprint


def test_simhash_detects_high_jaccard_pairs(spark, sf_dir):
    """SimHash candidates must recover most exact high-Jaccard near-dups
    (it is a candidate generator: recall matters, perfect precision not)."""
    from hopspark.operators.dedup import dedup_minhash_candidates, dedup_simhash

    mh = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_candidates(spark, sf_dir).collect()
        if r.jaccard >= 0.95
    }
    sh = {(r.doc_a, r.doc_b) for r in dedup_simhash(spark, sf_dir).collect()}
    assert sh, "simhash found no candidate pairs"
    if mh:
        recall = len(mh & sh) / len(mh)
        assert recall >= 0.7, f"simhash recall {recall:.2f} over {len(mh)} pairs"


def test_minhash_hot_bucket_identical_docs(spark):
    """A degenerate corpus — hundreds of identical docs — must not funnel
    into one bucket array: exact-dup collapse reduces the group to ONE
    representative before banding, and the pairwise output (all pairs,
    jaccard 1.0) is regenerated by distributed joins. Output must equal
    the full quadratic."""
    from hopspark.operators.dedup import _hashed_shingles_of, _minhash_pipeline

    n = 200
    boiler = "this exact boilerplate footer appears on every single crawled page today"
    rows = [(i, boiler) for i in range(n)]
    rows.append((n, "a genuinely different document about distributed query planning"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = _hashed_shingles_of(docs)
    out = _minhash_pipeline(sh, jaccard_threshold=0.5, bucket_cap=256)
    got = out.collect()
    expect_pairs = n * (n - 1) // 2
    assert len(got) == expect_pairs, (len(got), expect_pairs)
    assert all(r.jaccard == 1.0 for r in got)
    pair_set = {(r.doc_a, r.doc_b) for r in got}
    assert len(pair_set) == expect_pairs  # distinct, canonical a<b ordering
    assert all(a < b for a, b in pair_set)


def test_minhash_exact_collapse_preserves_cross_group_pairs(spark):
    """Duplicate groups A={1,2} and B={3,4} of near-dup text: expansion must
    emit all four cross pairs with the representative pair's jaccard plus
    both within-group pairs at 1.0."""
    from hopspark.operators.dedup import _hashed_shingles_of, _minhash_pipeline

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = base.replace("lazy", "sleepy")
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, near)], ["doc_id", "text"]
    )
    out = _minhash_pipeline(_hashed_shingles_of(docs), 0.5, 256)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert got[(1, 2)] == 1.0 and got[(3, 4)] == 1.0
    cross = [(1, 3), (1, 4), (2, 3), (2, 4)]
    assert all(p in got for p in cross), got
    assert len({got[p] for p in cross}) == 1  # same rep-level jaccard
    assert 0.5 <= got[(1, 3)] < 1.0


def test_minhash_bucket_cap_drops_tails(spark):
    """With a tiny cap, near-dup (distinct) docs sharing a band are
    truncated to the cap; with the default cap they all pair up."""
    from hopspark.operators.dedup import _hashed_shingles_of, _minhash_pipeline

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    # distinct docs: append a unique trailing token — high mutual jaccard
    docs = spark.createDataFrame(
        [(i, f"{base} tail{i}") for i in range(12)], ["doc_id", "text"]
    )
    sh = _hashed_shingles_of(docs)
    full = _minhash_pipeline(sh, 0.5, 256).count()
    capped = _minhash_pipeline(sh, 0.5, 3).count()
    assert full > 0
    assert capped < full, (capped, full)


def test_embedding_cosine_scores_bounded(spark, sf_dir):
    from hopspark.operators.dedup import dedup_embedding_cosine

    rows = dedup_embedding_cosine(spark, sf_dir).collect()
    assert rows
    assert all(-1.0001 <= r.cos_sim <= 1.0001 for r in rows)
    assert all(r.is_near_dup == (r.cos_sim >= 0.9) for r in rows)


def test_incremental_batch_semantics(spark, sf_dir):
    """Survivors of the incremental batch dedup are (a) from the new-batch
    doc_id range, (b) hash-distinct, and (c) absent from history."""
    from hopspark.operators.dedup import dedup_incremental_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).head()[0]
    cutoff = int(max_id * 4 / 5)
    hist_hashes = {
        r.h
        for r in docs.filter(F.col("doc_id") < cutoff)
        .select(
            F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("h")
        )
        .collect()
    }
    out = dedup_incremental_batch(spark, sf_dir).collect()
    assert out, "new batch should have survivors"
    assert all(r.doc_id >= cutoff for r in out)
    hashes = [r.h for r in out]
    assert len(hashes) == len(set(hashes))
    assert not (set(hashes) & hist_hashes)


def test_dup_ngram_fraction_bounds(spark, sf_dir):
    """Per-doc duplicate-3-gram fraction is in [0,1), distinct<=total, and
    a degenerately repetitive doc would score high (invariant check over
    the real corpus — crafted-case parity is the oracle suite's job)."""
    from hopspark.operators.text import text_dup_ngram_fraction

    rows = text_dup_ngram_fraction(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_distinct_grams <= r.n_grams
        assert 0.0 <= r.dup_frac < 1.0
        assert abs(r.dup_frac - round(1 - r.n_distinct_grams / r.n_grams, 6)) < 1e-9


def test_prefix_clusters_crafted(spark):
    """Docs sharing their first PREFIX_LEN tokens cluster together; the
    histogram buckets by cluster size with min-doc_id representatives."""
    from hopspark.operators import dedup as D

    rows = [
        (1, "alpha beta gamma delta tail one", "en", "s", 30),
        (2, "alpha beta gamma delta other tail", "en", "s", 30),
        (3, "alpha beta gamma delta third variant", "en", "s", 30),
        (4, "completely different head text here", "en", "s", 30),
        (5, "another unique head of words", "en", "s", 28),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string, source string, n_chars int")
    import tempfile, os
    d = tempfile.mkdtemp(prefix="prefix_clusters_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["csize"]: r.asDict() for r in D.dedup_prefix_clusters(spark, d).collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3 and out[3]["min_rep_id"] == 1
    assert out[1]["n_clusters"] == 2 and out[1]["n_docs"] == 2 and out[1]["min_rep_id"] == 4


def test_simhash_kernel_matches_fold(spark, sf_dir):
    """The r13 numpy mapInArrow SimHash kernel must be BIT-EQUAL to the
    Catalyst fold reference (_simhash_fold) — same integer bit-vote
    arithmetic, so any divergence is a kernel bug.  Also covers null and
    empty token lists and a null token, which the corpus never produces."""
    from pyspark.sql import functions as F

    from hopspark.operators import dedup as D

    th = D._token_hashes(spark, sf_dir)
    fast = {r.doc_id: r.simhash for r in D._simhash_from_tokens(th).collect()}
    slow = {r.doc_id: r.simhash for r in D._simhash_fold(th).collect()}
    assert fast == slow and len(fast) > 0

    edge = spark.createDataFrame(
        [(1, [7, -3]), (2, []), (3, None), (4, [0]), (5, [7, None, -3])],
        "doc_id long, th array<long>",
    )
    fe = {r.doc_id: r.simhash for r in D._simhash_from_tokens(edge).collect()}
    se = {r.doc_id: r.simhash for r in D._simhash_fold(edge).collect()}
    assert fe == se


def test_materialize_reliable_checkpoint_env(spark, tmp_path, monkeypatch):
    """HOPSPARK_CHECKPOINT_DIR switches the shared-intermediate
    materialization from localCheckpoint to reliable checkpoint()
    (hopspark/ckpt.py) — the escape hatch for executor-loss recovery."""
    import os

    from hopspark.ckpt import materialize

    local = materialize(spark.range(10))
    # lineage is cut: the plan reads a materialized RDD, not Range
    assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan().toString()
    assert local.count() == 10
    ckpt_dir = tmp_path / "ckpt"
    monkeypatch.setenv("HOPSPARK_CHECKPOINT_DIR", str(ckpt_dir))
    rel = materialize(spark.range(5))
    assert "LogicalRDD" in rel._jdf.queryExecution().optimizedPlan().toString()
    assert rel.count() == 5
    # reliable mode wrote checkpoint files under the env'd directory
    found = [f for _, _, fs in os.walk(ckpt_dir) for f in fs]
    assert found, "no reliable checkpoint files written"
