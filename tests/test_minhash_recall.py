"""MinHash-LSH candidate recall behavior at the r4 128-perm scale-aware
config (__spark_entry__.q_dd_minhash_lsh): exact duplicates always
collide, disjoint docs never do, and the band shape follows the
scale-aware rule."""

import os

import pytest


def test_band_rows_scale_rule():
    from __spark_entry__ import _MINHASH_PERMS, _minhash_band_rows

    assert _MINHASH_PERMS == 128
    assert _minhash_band_rows(1) == 2
    assert _minhash_band_rows(500) == 3      # ceil(log2(500)/4) = 3
    assert _minhash_band_rows(5_000) == 4
    assert _minhash_band_rows(10**9) == 8    # clamped
    # monotone non-decreasing in n
    vals = [_minhash_band_rows(n) for n in (10, 100, 10**4, 10**6, 10**9)]
    assert vals == sorted(vals)


@pytest.fixture(scope="module")
def mini_sf(spark, tmp_path_factory):
    """A tiny documents.parquet: A == B exactly, C shares most of A's
    shingles (one token changed), D is disjoint."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),  # exact dup of 0
        (2, base.replace("eta theta", "eta CHANGED", 1), "en", "s", 1),
        (3, "totally different words nothing shared here at all " * 4, "en", "s", 1),
    ]
    d = tmp_path_factory.mktemp("minisf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_exact_dup_always_candidate_disjoint_never(spark, mini_sf):
    from __spark_entry__ import q_dd_minhash_lsh

    pairs = {(r["a"], r["b"]) for r in q_dd_minhash_lsh(spark, mini_sf).collect()}
    assert (0, 1) in pairs          # identical shingle sets: every band collides
    assert not any(3 in p for p in pairs)  # disjoint doc: no shared minhash band
    # near-dup (one shingle neighborhood changed) should be recalled at
    # this b/r shape: its Jaccard is far above the (1/b)^(1/r) sweet spot
    assert (0, 2) in pairs and (1, 2) in pairs


def test_recall_drops_when_rows_per_band_grow(spark, mini_sf):
    """Band-shape semantics: larger r makes collisions stricter — the
    candidate set at r=8 is a subset of the candidate set at r=2."""
    from __spark_entry__ import q_dd_minhash_lsh

    loose = {(r["a"], r["b"]) for r in q_dd_minhash_lsh(spark, mini_sf, band_rows=2).collect()}
    strict = {(r["a"], r["b"]) for r in q_dd_minhash_lsh(spark, mini_sf, band_rows=8).collect()}
    assert strict <= loose
    assert (0, 1) in strict  # exact dups survive any shape
