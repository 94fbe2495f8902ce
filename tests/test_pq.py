"""Product quantization (operators/pq.py): recall vs the exact scorer,
code compactness, determinism, and the driver guards.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from laygo_python_spark.operators.pq import pq_encode, pq_topk, train_codebooks
from laygo_python_spark.session import read_table


def _emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_pq_recall_vs_brute_force(spark, sf_dir):
    from laygo_python_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.limit(5)
    # The fixture's vectors are near-random — PQ's WORST case (no
    # cluster structure for codebooks to exploit); real embedding
    # corpora cluster and recall rises or compression deepens. m=32
    # (8x compression) recovers 0.8 of the exact top-10 here; the
    # production pattern is PQ-shortlist -> exact re-rank anyway.
    cb = train_codebooks(emb, m=32, ksub=64)
    codes = pq_encode(emb, cb)
    approx = pq_topk(codes, queries, cb, k=10)
    exact = brute_force_topk(emb, queries, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.6, recall


def test_pq_codes_are_compact_and_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cb = train_codebooks(emb, m=8, ksub=32)
    rows = pq_encode(emb, cb).collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 32 for r in rows for c in r["codes"])
    again = pq_encode(emb, cb).collect()
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in rows) == sorted(
        (r["vec_id"], tuple(r["codes"])) for r in again
    )
    # seeded training: same corpus -> bit-identical codebooks
    assert np.array_equal(cb, train_codebooks(emb, m=8, ksub=32))


def test_pq_adc_score_close_to_true_cosine(spark, sf_dir):
    # ADC approximates cosine of normalized vectors: reconstruction error
    # bounded — mean |adc - cosine| over the top hits stays small.
    from laygo_python_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.limit(3)
    cb = train_codebooks(emb, m=32, ksub=64)
    approx = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in pq_topk(pq_encode(emb, cb), queries, cb, k=5).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in brute_force_topk(emb, queries, k=50).collect()
    }
    common = set(approx) & set(exact)
    assert common
    err = np.mean([abs(approx[k] - exact[k]) for k in common])
    assert err < 0.15, err


def test_pq_dim_divisibility_guard(spark, sf_dir):
    with pytest.raises(ValueError, match="not divisible"):
        train_codebooks(_emb(spark, sf_dir), m=7)


def test_pq_train_guard(spark):
    big = spark.range(300_000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="driver guard"):
        train_codebooks(big, m=2, ksub=4)


def test_ivfpq_recall_and_pruning(spark, sf_dir):
    # The composed index must (a) recover a planted near-duplicate at
    # rank 1, (b) keep decent recall vs brute force, (c) actually prune:
    # scoring far fewer candidates than the exhaustive ADC scan.
    from laygo_python_spark.operators.pq import ivfpq_topk
    from laygo_python_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries = emb.limit(4)
    cb = train_codebooks(emb, m=32, ksub=64)
    out = ivfpq_topk(emb, queries, cb, k=10, n_centroids=8, n_probe=4)
    rows = out.collect()
    exact = brute_force_topk(emb, queries, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.35  # half the cells probed on random data
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_pq_index_parquet_roundtrip_matches_direct(spark, sf_dir, tmp_path):
    """Stored-index search: write codes + codebooks, reload cold, run
    pq_topk — identical ranking to the in-memory path (ADC is
    deterministic given codes and codebooks)."""
    import numpy as np

    from laygo_python_spark.operators.pq import (
        pq_encode,
        pq_index_read,
        pq_index_write,
        pq_topk,
        train_codebooks,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter("vec_id < 5")
    path = str(tmp_path / "pq_index")
    pq_index_write(emb, path, m=8, ksub=16)
    codes_disk, cb_disk = pq_index_read(spark, path)
    direct_cb = train_codebooks(emb, 8, 16)
    assert np.allclose(cb_disk, direct_cb)
    direct = pq_topk(pq_encode(emb, direct_cb), queries, direct_cb, k=10)
    from_disk = pq_topk(codes_disk, queries, cb_disk, k=10)
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in from_disk.collect())
    want = sorted((r.query_id, r.neighbor_id, r.rank) for r in direct.collect())
    assert got == want and got


def test_pq_encode_append_matches_rebuild(spark, sf_dir, tmp_path):
    """Verdict r4 ask #3: appending codes encoded with the FIXED stored
    codebooks must equal a from-scratch encode of the union — and ADC
    search over the appended index must match search over that
    rebuild."""
    from laygo_python_spark.operators.pq import (
        pq_encode,
        pq_encode_append,
        pq_index_read,
        pq_index_write,
        pq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    day1 = emb.filter("vec_id % 2 = 0")
    day2 = emb.filter("vec_id % 2 = 1")
    path = str(tmp_path / "pq")
    pq_index_write(day1, path, m=8, ksub=16)
    n = pq_encode_append(spark, path, day2)
    assert n == day2.count()

    codes, codebooks = pq_index_read(spark, path)
    fresh = pq_encode(day1.unionByName(day2), codebooks)
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in codes.collect()) == sorted(
        (r["vec_id"], tuple(r["codes"])) for r in fresh.collect()
    )

    queries = emb.filter("vec_id < 5")
    got = pq_topk(codes, queries, codebooks, k=5).collect()
    want = pq_topk(fresh, queries, codebooks, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ivfpq_indexed_search_matches_direct_and_prunes(spark, sf_dir, tmp_path):
    """The stored composed index must (a) return exactly what ivfpq_topk
    computes at the same trained state, and (b) read only the probed
    cell= directories — partition pruning visible in PartitionFilters —
    with the pruned bytes being m-byte codes, not raw vectors."""
    from laygo_python_spark.operators.ann_artifacts import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from laygo_python_spark.operators.pq import (
        ivfpq_index_write,
        ivfpq_search_indexed,
        ivfpq_topk,
    )
    from laygo_python_spark.plans import formatted_plan
    from laygo_python_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cb = load_pq_codebooks(sf_dir, m=32, ksub=64)
    cent = load_ivf_centroids(sf_dir, k=8)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_index_write(emb, path, codebooks=cb, centroids=cent)
    queries = emb.filter("vec_id < 5")
    indexed = ivfpq_search_indexed(spark, path, queries, k=10, n_probe=4)
    direct = ivfpq_topk(emb, queries, cb, k=10, n_probe=4, centroids=cent)
    got = sorted(map(tuple, indexed.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want and got
    plan = formatted_plan(indexed)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivfpq_index_add_matches_fixed_state_rebuild(spark, sf_dir, tmp_path):
    """Growing the stored composed index by assigning+encoding only the
    batch must be indistinguishable from rebuilding at the same fixed
    centroids/codebooks — the add ≡ rebuild differential applied to the
    composed artifact."""
    from laygo_python_spark.operators.ann_artifacts import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from laygo_python_spark.operators.pq import (
        ivfpq_index_add,
        ivfpq_index_write,
        ivfpq_search_indexed,
    )
    from laygo_python_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cb = load_pq_codebooks(sf_dir, m=32, ksub=64)
    cent = load_ivf_centroids(sf_dir, k=8)
    grown, rebuilt = str(tmp_path / "grown"), str(tmp_path / "rebuilt")
    ivfpq_index_write(emb.filter("vec_id % 2 = 0"), grown, codebooks=cb, centroids=cent)
    n = ivfpq_index_add(spark, grown, emb.filter("vec_id % 2 = 1"))
    assert n == emb.filter("vec_id % 2 = 1").count()
    ivfpq_index_write(emb, rebuilt, codebooks=cb, centroids=cent)
    queries = emb.filter("vec_id < 5")
    got = sorted(map(tuple, ivfpq_search_indexed(spark, grown, queries, k=10).collect()))
    want = sorted(map(tuple, ivfpq_search_indexed(spark, rebuilt, queries, k=10).collect()))
    assert got == want and got


def test_pq_m_distortion_curve_monotone_and_consistent(spark, sf_dir):
    from laygo_python_spark.operators.pq import pq_encode, train_codebooks
    from laygo_python_spark.queries.similarity_ops import pq_m_distortion_curve
    from laygo_python_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")

    rows = {r.m: r for r in pq_m_distortion_curve(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {8, 16, 32}
    # more bytes -> strictly less distortion, no-worse recall
    assert rows[8].avg_distortion > rows[16].avg_distortion > rows[32].avg_distortion
    assert rows[8].recall_at_10 <= rows[16].recall_at_10 <= rows[32].recall_at_10
    assert all(r.bytes_per_vec == r.m for r in rows.values())

    # the dist_col distortion equals a from-scratch reconstruction
    import numpy as np

    cb = train_codebooks(emb, m=8, ksub=64)
    got = {
        r.vec_id: r.d for r in pq_encode(emb, cb, dist_col="d").select("vec_id", "d").collect()
    }
    sample = emb.filter("vec_id < 20").collect()
    for r in sample:
        v = np.array(r.embedding, dtype=np.float64)
        n = np.linalg.norm(v)
        v = v / (n if n else 1.0)
        dist = 0.0
        for s in range(8):
            xs = v[s * 8 : (s + 1) * 8]
            d2 = ((cb[s] - xs[None, :]) ** 2).sum(axis=1)
            dist += float(d2.min())
        assert abs(got[r.vec_id] - dist) < 1e-9, r.vec_id


def _seeded_vectors(spark, n=48, dim=8, seed=7):
    from laygo_python_spark.session import local_rows_df

    rng = np.random.default_rng(seed)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(n)]
    return local_rows_df(spark, rows, "vec_id long, embedding array<double>"), rng


def test_assign_encode_equals_encode_join_assign_cells(spark):
    """The fused one-pass (codes, cell) equals pq_encode ⋈ _assign_cells
    bit for bit, including the lowest-cell tiebreak on a duplicated
    centroid."""
    from laygo_python_spark.operators.ivf import _assign_cells
    from laygo_python_spark.operators.pq import _assign_encode

    df, rng = _seeded_vectors(spark)
    centroids = rng.normal(size=(5, 8))
    centroids[4] = centroids[1]  # exact d2 tie: must break to cell 1
    codebooks = rng.normal(size=(2, 4, 4))
    fused = {r["vec_id"]: (list(r["codes"]), r["cell"]) for r in _assign_encode(df, centroids, codebooks).collect()}
    codes = pq_encode(df, codebooks)
    cells = _assign_cells(df, centroids, "vec_id", "v", "vec_id", "embedding", n_probe=1)
    joined = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in codes.join(cells.select("vec_id", "cell"), "vec_id").collect()
    }
    assert len(fused) == 48
    assert fused == joined
    assert 4 not in {cell for _, cell in fused.values()}


@pytest.mark.parametrize("n_probe", [1, 3, 9])
def test_assign_cells_driver_equals_assign_cells(spark, n_probe):
    """The driver-side query assignment equals the distributed one, probe
    order included (n_probe=9 over-probes the 5 cells)."""
    from laygo_python_spark.operators.ivf import _assign_cells
    from laygo_python_spark.operators.pq import _assign_cells_driver

    df, rng = _seeded_vectors(spark, n=20, seed=11)
    centroids = rng.normal(size=(5, 8))
    centroids[3] = centroids[0]
    qrows = df.select("vec_id", "embedding").orderBy("vec_id").collect()
    driver = _assign_cells_driver(qrows, centroids, n_probe)
    dist = (
        _assign_cells(df, centroids, "vec_id", "v", "vec_id", "embedding", n_probe=n_probe, rank_out="rank")
        .select("vec_id", "cell", "rank")
        .collect()
    )
    expect = np.zeros_like(driver)
    for r in dist:
        expect[r["vec_id"], r["rank"] - 1] = r["cell"]
    assert driver.shape == (20, min(n_probe, 5))
    assert len(dist) == driver.size
    assert np.array_equal(driver, expect)
