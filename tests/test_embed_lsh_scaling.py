"""Scale-aware embedding-LSH bands (dd_embed_cosine candidate generation).

Band width w = clamp(4, 24, ceil(log2 n)) grows with corpus size, so the
expected RANDOM-pair candidate count stays ~linear in n (2^-w per-band
collision * bands * n^2/2 ≈ bands*n) instead of the old fixed-width Θ(n²/16).
Verified empirically: quadrupling a random corpus must grow candidates by
~4x, not ~16x.
"""

import numpy as np
import pytest

import __spark_entry__ as entrymod


def _rand_emb(spark, n, seed):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, entrymod._DIM)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_band_width_grows_with_corpus():
    f = entrymod._emb_band_bits
    assert f(10) == 4          # floor
    assert f(512) == 9
    assert f(2048) == 11
    assert f(1 << 30) == 24    # cap


def test_candidates_scale_linearly_when_n_quadruples(spark):
    n1, n2 = 512, 2048
    c1 = entrymod._emb_candidates(
        _rand_emb(spark, n1, seed=7), entrymod._emb_band_bits(n1)
    ).count()
    c2 = entrymod._emb_candidates(
        _rand_emb(spark, n2, seed=7), entrymod._emb_band_bits(n2)
    ).count()
    # linear → ratio ≈ 4 (w grows by 2 bits as n quadruples, cancelling the
    # n² growth); the old fixed-width scheme gave ratio ≈ 16. Generous bound
    # for random-sign variance.
    assert c1 > 0
    ratio = c2 / max(c1, 1)
    assert ratio < 8.0, f"candidate growth {ratio:.1f}x looks quadratic"


def test_fixed_width_would_be_quadratic(spark):
    """Control: at a FIXED width, quadrupling n does quadruple-square the
    candidates — demonstrating the parameterization is what bounds them."""
    w = 9
    c1 = entrymod._emb_candidates(_rand_emb(spark, 512, seed=7), w).count()
    c2 = entrymod._emb_candidates(_rand_emb(spark, 2048, seed=7), w).count()
    assert c2 / max(c1, 1) > 8.0
