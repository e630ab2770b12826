"""The seeded input generators."""

import numpy as np
import pytest

import gen

SIZE = (200, 120, 6_000)


def _csv_bytes(tmp_path, seed, name):
    path = tmp_path / name
    gen.write_ratings_csv(gen.ratings(seed, *SIZE), str(path))
    return path.read_bytes()


def test_same_seed_same_bytes_other_seed_other_data(tmp_path):
    a = _csv_bytes(tmp_path, 7, "a.csv")
    assert a == _csv_bytes(tmp_path, 7, "b.csv")
    assert a != _csv_bytes(tmp_path, 8, "c.csv")


def test_ratings_follow_the_movielens_shape():
    cols = gen.ratings(3, *SIZE)
    u, m = cols["userId"], cols["movieId"]
    assert np.unique(u, return_counts=True)[1].min() >= gen.MIN_PER_USER
    assert len(np.unique(u.astype(np.int64) * 10**9 + m)) == len(u)
    r = cols["rating"]
    assert r.min() >= 0.5 and r.max() <= 5.0 and np.all(r * 2 == np.round(r * 2))
    assert np.all((cols["timestamp"] >= gen.T0) & (cols["timestamp"] < gen.T1))
    # Zipf popularity: the most-rated movie far above the median one
    counts = np.sort(np.unique(m, return_counts=True)[1])
    assert counts[-1] > 5 * np.median(counts)


def test_too_small_a_catalog_is_refused():
    with pytest.raises(ValueError):
        gen.ratings(1, 100, 30, 2_000)


def test_star_tables_are_seeded():
    a, b, c = (gen.star_tables(s, 0.001) for s in (5, 5, 6))
    for t in a:
        for col in a[t]:
            assert np.array_equal(np.asarray(a[t][col]), np.asarray(b[t][col])), (t, col)
    assert not np.array_equal(a["lineitem"]["l_partkey"], c["lineitem"]["l_partkey"])
    assert len(a["orders"]["o_orderkey"]) == 1_500 and len(a["lineitem"]["l_orderkey"]) == 6_000
