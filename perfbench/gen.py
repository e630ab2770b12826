"""Seeded input generators for the benchmark workloads.

``ratings`` / ``write_ratings_csv`` make a MovieLens-shaped ratings
CSV (FIXTURES.md §1) with numpy only: every user has at least 20
ratings, ``(userId, movieId)`` pairs are unique, movie popularity is
Zipf-distributed, ratings are half-stars in [0.5, 5] and timestamps
are epoch seconds.

``star_tables`` / ``write_star_parquet`` make the four star-schema
tables the breadth queries read (``lineitem``, ``orders``,
``documents``, ``embeddings``) with the column types and value domains
of the testdata star schema (FIXTURES.md §8), scaled by ``sf`` the same
way (sf0.01: 15k orders, 60k lineitems, 500 documents, 500 embeddings).

The same seed gives the same bytes; nothing reads the clock.
"""

from __future__ import annotations

import os

import numpy as np

MIN_PER_USER = 20
ZIPF_S = 1.0
T0, T1 = 946684800, 1577836800  # 2000-01-01 .. 2020-01-01, epoch seconds


def ratings(seed: int, n_users: int, n_movies: int, n_ratings: int) -> dict[str, np.ndarray]:
    """Columns of a ratings table, sorted by (userId, timestamp)."""
    if n_movies < 2 * MIN_PER_USER or n_ratings < MIN_PER_USER * n_users:
        raise ValueError("too few movies or ratings for >= 20 distinct ratings per user")
    rng = np.random.default_rng(seed)
    # per-user counts: 20 + a geometric tail whose mean fills n_ratings
    extra_mean = n_ratings / n_users - MIN_PER_USER
    extra = rng.geometric(1.0 / (1.0 + extra_mean), n_users) - 1 if extra_mean > 0 else 0
    counts = np.minimum(MIN_PER_USER + extra, n_movies // 2).astype(np.int64)

    # sparse movie ids; popularity rank is a random permutation of them
    movie_ids = np.sort(rng.choice(np.arange(1, 3 * n_movies), n_movies, replace=False))
    weights = 1.0 / np.arange(1, n_movies + 1) ** ZIPF_S
    pop = rng.permutation(n_movies)  # pop[r] = movie index with popularity rank r
    p = np.empty(n_movies)
    p[pop] = weights / weights.sum()

    # draw with replacement, keep the first distinct draws per user, top
    # up the users still short until every user has its count
    need = counts.copy()
    got_u, got_m = [], []
    seen = np.zeros(0, dtype=np.int64)
    while need.sum():
        u = np.repeat(np.arange(n_users, dtype=np.int64), need + need // 2 + 2)
        m = rng.choice(n_movies, u.size, p=p)
        key = u * n_movies + m
        _, first = np.unique(key, return_index=True)
        first.sort()
        key = key[first]
        key = key[~np.isin(key, seen)]
        u, m = key // n_movies, key % n_movies
        # rank of each draw within its user, in draw order
        order = np.argsort(u, kind="stable")
        starts = np.searchsorted(u[order], np.arange(n_users))
        rank = np.empty(u.size, dtype=np.int64)
        rank[order] = np.arange(u.size) - starts[u[order]]
        keep = rank < need[u]
        got_u.append(u[keep])
        got_m.append(m[keep])
        seen = np.concatenate([seen, key[keep]])
        need -= np.bincount(u[keep], minlength=n_users)
    u = np.concatenate(got_u)
    m = np.concatenate(got_m)

    # learnable ratings: movie quality + user bias + noise, half-star grid
    quality = rng.normal(3.4, 0.6, n_movies)
    bias = rng.normal(0.0, 0.4, n_users)
    raw = quality[m] + bias[u] + rng.normal(0.0, 0.7, u.size)
    stars = np.clip(np.round(raw * 2) / 2, 0.5, 5.0)
    ts = rng.integers(T0, T1, u.size)
    order = np.lexsort((ts, u))
    return {
        "userId": u[order] + 1,
        "movieId": movie_ids[m[order]],
        "rating": stars[order],
        "timestamp": ts[order],
    }


def write_ratings_csv(cols: dict[str, np.ndarray], path: str) -> int:
    """Headered CSV in the MovieLens layout; returns the row count."""
    rows = zip(
        cols["userId"].tolist(), cols["movieId"].tolist(),
        cols["rating"].tolist(), cols["timestamp"].tolist(),
    )
    with open(path, "w", newline="") as fh:
        fh.write("userId,movieId,rating,timestamp\n")
        fh.writelines(f"{u},{m},{r:.1f},{t}\n" for u, m, r, t in rows)
    return len(cols["userId"])


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01


def star_tables(seed: int, sf: float) -> dict[str, dict[str, np.ndarray | list]]:
    """Columns of lineitem / orders / documents / embeddings at ``sf``."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(int(10_000 * sf), 10)
    n_li = 4 * n_orders
    n_docs = n_vecs = int(50_000 * sf)

    odate = _EPOCH_1995_US + rng.integers(0, 2405, n_orders) * _DAY_US
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_orders,
        ),
    }

    lok = rng.integers(0, n_orders, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    order = np.argsort(lok, kind="stable")
    lok = lok[order]
    starts = np.searchsorted(lok, lok)
    lineitem = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": odate[lok] + rng.integers(1, 122, n_li) * _DAY_US,
    }

    # documents: random word runs; one in twenty repeats an earlier
    # document with a trailing "dup" (the near-duplicates dedup finds)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    documents = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "en", "en", "de", "es", "fr", "zh"]), n_docs),
        "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    vec = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }
    return {"lineitem": lineitem, "orders": orders, "documents": documents,
            "embeddings": embeddings}


def write_star_parquet(tables: dict, out_dir: str) -> dict[str, int]:
    """One ``<table>.parquet`` file per table; returns the row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_cols = {"o_orderdate", "l_shipdate"}
    sizes = {}
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if c in ts_cols:
                arrays[c] = pa.array(v, type=pa.timestamp("us"))
            elif c == "embedding":
                arrays[c] = pa.array([x.tolist() for x in v], type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = table.num_rows
    return sizes
