"""The benchmark's workloads: inputs, one operation, and output checks.

``pipeline`` runs the paper's whole pipeline through the CLI verbs, in
the order ``movielens_e2e_cli`` drives them.  ``breadth`` runs two
non-recommender registry queries: the iterative graph layer and the
SimHash dedup layer (a banded LSH join), both with ``localCheckpoint``
sites and mostly driver time.  Each workload writes its inputs
under its work directory and removes nothing itself; the caller
removes the directory.
"""

from __future__ import annotations

import contextlib
import gc
import io
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import gen

# (users, movies, ratings) of the pipeline's ratings CSV
PIPELINE_SIZE = (3_000, 2_000, 100_000)
# scale factor of the breadth workload's star schema
BREADTH_SF = 0.01
BREADTH_QUERIES = ("part_pagerank", "dedup_simhash")
RECOMMENDER_SPANS = (
    "cli.split", "cli.popularity", "cli.als", "recommender.fit",
    "recommender.save_model", "cli.evaluate", "recommender.load_model",
    "movielens.from_labeled",
)
REC_K, EXPORT_K = 100, 5


def _duck():
    import duckdb

    return duckdb.connect()


class Pipeline:
    """One op: ``split``, then ``popularity`` beside ``als``, then
    ``evaluate`` reusing all three artifacts."""

    name = "pipeline"
    # the program's warm-up classes (warmups.py) run at set-up; the
    # untimed warm-up op's real ALS fit stands in for warm_als's toy fit
    warmups = ("warm_parquet", "warm_arrow")

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.csv = os.path.join(work, "ratings.csv")
        self.warm_dir = os.path.join(work, "warm")

    def generate(self) -> dict:
        n_users, n_movies, n_ratings = PIPELINE_SIZE
        rows = gen.write_ratings_csv(
            gen.ratings(self.seed, n_users, n_movies, n_ratings), self.csv)
        # warm_parquet's footer read needs a lineitem table
        os.makedirs(self.warm_dir)
        gen.write_star_parquet(
            {"lineitem": gen.star_tables(self.seed, 0.001)["lineitem"]}, self.warm_dir)
        return {"ratings": rows, "users": n_users, "movies": n_movies}

    def wrap(self, tracer) -> None:
        from movie_recommendation_engine_spark import __main__ as cli
        from movie_recommendation_engine_spark.plans.movielens import MovieLensPipeline
        from movie_recommendation_engine_spark.plans.recommender import AlsRecommender

        for verb in ("split", "popularity", "als", "evaluate"):
            tracer.wrap(cli, f"cmd_{verb}", f"cli.{verb}")
        for meth in ("fit", "save_model", "load_model"):
            tracer.wrap(AlsRecommender, meth, f"recommender.{meth}")
        tracer.wrap(MovieLensPipeline, "from_labeled", "movielens.from_labeled")

    def op(self, spark, i: int) -> dict:
        from movie_recommendation_engine_spark.__main__ import main as cli

        out = os.path.join(self.work, f"op{i}")
        d = {k: os.path.join(out, k) for k in ("splits", "popularity", "recs", "model")}
        cli(["split", "--ratings", self.csv, "--out", d["splits"]])
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(cli, ["popularity", "--splits", d["splits"], "--k",
                                  str(REC_K), "--out", d["popularity"]]),
                pool.submit(cli, ["als", "--splits", d["splits"], "--rank", "8",
                                  "--max-iter", "4", "--reg", "0.1", "--k", str(EXPORT_K),
                                  "--save-model", d["model"], "--out", d["recs"]]),
            ]
            for f in futures:
                f.result()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli(["evaluate", "--splits", d["splits"], "--popularity", d["popularity"],
                 "--model-dir", d["model"], "--k", str(REC_K)])
        d["metrics"] = buf.getvalue().strip().splitlines()[-1]
        return d

    def check(self, results: dict[int, dict]) -> list[tuple[int, str]]:
        """(op, message) per wrong output; outputs are compared with a
        DuckDB recomputation from the CSV."""
        from movie_recommendation_engine_spark.registry.e2e import _E2E_ORACLE

        con = _duck()
        con.execute(
            "CREATE VIEW lineitem AS SELECT userId AS l_orderkey, movieId AS l_partkey, "
            f"rating AS l_quantity FROM read_csv('{self.csv}', header=true)")
        head, sep, _ = _E2E_ORACLE.rpartition("\nSELECT counts.")
        assert sep, "the e2e oracle no longer ends with its summary SELECT"
        want = con.execute(_E2E_ORACLE).fetchdf().iloc[0]
        want_pop = con.execute(
            head + "\nSELECT movieId, round(score * 1e6) FROM scored ORDER BY 1").fetchall()
        base_rmse = con.execute(head + """,
            mu AS (SELECT avg(rating) AS mu FROM train)
            SELECT sqrt(avg((v.rating - mu) * (v.rating - mu))) FROM val v, mu
            WHERE v.userId IN (SELECT userId FROM train)
              AND v.movieId IN (SELECT movieId FROM train)""").fetchone()[0]

        errors = []
        first = None
        for i, r in results.items():
            def bad(msg):
                errors.append((i, msg))

            counts = dict(con.execute(
                "SELECT split, count(*) FROM read_parquet("
                f"'{r['splits']}/*/*.parquet', hive_partitioning=true) GROUP BY 1").fetchall())
            for part in ("train", "validation", "test"):
                if counts.get(part) != want[f"n_{part}"]:
                    bad(f"{part} rows {counts.get(part)} != {want[f'n_{part}']}")
            pop = con.execute(
                f"SELECT movieId, round(score * 1e6) FROM '{r['popularity']}/*.parquet' "
                "ORDER BY 1").fetchall()
            if pop != want_pop:
                bad("popularity top-100 ids or scores differ from the recomputation")
            users, min_n, max_n = con.execute(
                "SELECT count(*), min(n), max(n) FROM (SELECT userId, count(*) AS n "
                f"FROM '{r['recs']}/*.parquet' GROUP BY 1)").fetchone()
            if users != want["rec_users"] or min_n != EXPORT_K or max_n != EXPORT_K:
                bad(f"recs: {users} users with {min_n}..{max_n} rows, want "
                    f"{want['rec_users']} with {EXPORT_K}")
            m = json.loads(r["metrics"])
            if not (math.isfinite(m["rmse"]) and m["rmse"] <= 2 * base_rmse):
                bad(f"rmse {m['rmse']} not finite or above 2x baseline {base_rmse}")
            for key in ("map_at_k", "mean_ndcg"):
                if not 0.0 <= m[key] <= 1.0:
                    bad(f"{key} {m[key]} outside [0, 1]")
            if abs(m["popularity_hit_ratio"] - want["pop_hit_ratio"]) > 5e-7:
                bad(f"hit ratio {m['popularity_hit_ratio']} != {want['pop_hit_ratio']}")
            first = first or r["metrics"]
            if r["metrics"] != first:
                bad("evaluate JSON differs from the first op's")
        con.close()
        return errors


class Breadth:
    """One op: each of the registry queries, collected with ``toPandas``."""

    name = "breadth"
    # the warm-up op's real pagerank replaces warm_iterative's toy graph
    warmups = ("warm_parquet",)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.star = self.warm_dir = os.path.join(work, "star")
        self.tracer = None

    def generate(self) -> dict:
        os.makedirs(self.star)
        return gen.write_star_parquet(gen.star_tables(self.seed, BREADTH_SF), self.star)

    def wrap(self, tracer) -> None:
        self.tracer = tracer

    def op(self, spark, i: int) -> dict:
        from movie_recommendation_engine_spark.registry import QUERIES

        tracer = self.tracer
        out = {}
        for q in BREADTH_QUERIES:
            with tracer.span(f"registry.{q}") if tracer else contextlib.nullcontext():
                df = QUERIES[q](spark, self.star)
                out[q] = df.toPandas()
            # release the query's checkpointed RDDs before the next one,
            # as bench.py does between queries
            df = None
            gc.collect()
        return out

    def check(self, results: dict[int, dict]) -> list[tuple[int, str]]:
        from movie_recommendation_engine_spark.registry import ORACLES
        from tools.check_oracle import canon_hash

        con = _duck()
        for t in ("lineitem", "orders", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.star}/{t}.parquet'")
        errors = []
        for q in BREADTH_QUERIES:
            want = con.execute(ORACLES[q]).fetchdf()
            want_hash = canon_hash(want)
            for i, r in results.items():
                got = r[q]
                if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                    errors.append((i, f"{q}: {len(got)} rows {list(got.columns)}, "
                                      f"oracle {len(want)} rows {list(want.columns)}"))
                elif canon_hash(got) != want_hash:
                    errors.append((i, f"{q}: value hash differs from the oracle"))
        con.close()
        return errors


WORKLOADS = {w.name: w for w in (Pipeline, Breadth)}
