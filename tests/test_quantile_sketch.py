"""The engine's quantile sketch: DataSketches KLL (operators/stats.py
kll_sketches / kll_quantiles / kll_merge / kll_drift, profile's "kll"
method). KLL compaction is randomized, so every check is a rank-error
bound, never an exact value."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_validator_spark.operators import stats

PROBS = [0.01, 0.5, 0.99]


def rank_of(sorted_vals: np.ndarray, est: float) -> float:
    return np.searchsorted(sorted_vals, est) / len(sorted_vals)


class TestKernel:
    def test_rank_error_bound_across_distributions(self, spark):
        rng = np.random.default_rng(0)
        data = {
            "uniform": rng.random(200_000),
            "lognormal": rng.lognormal(0, 2, 200_000),
            "bimodal": np.concatenate(
                [rng.normal(0, 1, 100_000), rng.normal(100, 1, 100_000)]
            ),
        }
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "d": np.repeat(list(data), 200_000),
                    "x": np.concatenate(list(data.values())),
                }
            )
        ).repartition(8)
        out = stats.kll_quantiles(df, "x", PROBS, group_by=["d"]).collect()
        assert len(out) == 9
        for r in out:
            assert r.n == 200_000
            rank = rank_of(np.sort(data[r.d]), r.estimate)
            assert abs(rank - r.prob) < 0.005, (r.d, r.prob, rank)

    def test_merge_is_associative_enough(self, spark):
        # eight partial sketches merged with kll_merge_agg_double stay
        # inside the single-pass rank bound
        rng = np.random.default_rng(7)
        data = rng.lognormal(0, 2, 90_000)
        df = spark.createDataFrame(
            pd.DataFrame({"part": np.arange(len(data)) % 8, "x": data})
        )
        partials = None
        for p in range(8):
            sk = stats.kll_sketches(df.filter(F.col("part") == p), ["x"])
            partials = sk if partials is None else partials.unionByName(sk)
        merged = stats.kll_merge(partials).select(
            "n",
            F.kll_sketch_get_quantile_double(
                "kll", F.array(*[F.lit(p) for p in PROBS])
            ).alias("q"),
        ).first()
        assert merged.n == len(data)
        s = np.sort(data)
        for p, e in zip(PROBS, merged.q):
            assert abs(rank_of(s, e) - p) < 0.005, (p, e)

    def test_edges(self, spark):
        df = spark.createDataFrame(
            [("empty", None), ("one", 42.0), ("nan", float("nan"))]
            + [("nan", 1.0), ("nan", 2.0)]
            + [("const", 3.25)] * 10_000,
            "g string, x double",
        )
        out = {}
        for r in stats.kll_quantiles(
            df, "x", [0.0, 0.01, 0.5, 0.99, 1.0], group_by=["g"]
        ).collect():
            out.setdefault(r.g, (r.n, []))[1].append(r.estimate)
        assert out["empty"] == (0, [None] * 5)
        assert out["one"] == (1, [42.0] * 5)
        assert out["const"] == (10_000, [3.25] * 5)
        assert out["nan"][0] == 2  # KLL skips NaN
        assert out["nan"][1] == [1.0, 1.0, 1.0, 2.0, 2.0]


class TestDriftFromSketches:
    def test_ks_between_sketches_tracks_exact_ks(self, spark):
        rng = np.random.default_rng(11)
        a = rng.normal(0.0, 1.0, 120_000)
        b = rng.normal(0.35, 1.0, 120_000)  # exact KS ~ 0.139
        sa = stats.kll_sketches(
            spark.createDataFrame(pd.DataFrame({"v": a})), ["v"]
        ).cache()
        sb = stats.kll_sketches(spark.createDataFrame(pd.DataFrame({"v": b})), ["v"])
        est = stats.kll_drift(sa, sb).first().ks
        allv = np.sort(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
        exact = float(np.max(np.abs(fa - fb)))
        assert est == pytest.approx(exact, abs=0.005)
        # the same persisted sketch on both sides -> exactly 0
        assert stats.kll_drift(sa, sa).first().ks == pytest.approx(0.0, abs=1e-9)
        sa.unpersist()


class TestSparkStage:
    def test_global_sketch_and_quantiles(self, spark):
        n = 60_000
        df = spark.range(0, n, numPartitions=8).select(
            (F.hash(F.col("id").cast("string")) % 10_000).cast("double").alias("x")
        )
        sk = stats.kll_sketches(df, ["x"]).collect()
        assert len(sk) == 1 and sk[0].n == n
        # estimates within the rank contract vs exact percentile
        q = stats.kll_quantiles(df, "x", PROBS).collect()
        exact = df.agg(
            F.percentile("x", [0.0, 0.008, 0.012, 0.49, 0.51, 0.988, 0.992, 1.0])
        ).first()[0]
        lo = {0.01: exact[1], 0.5: exact[3], 0.99: exact[5]}
        hi = {0.01: exact[2], 0.5: exact[4], 0.99: exact[6]}
        for r in q:
            assert r.n == n
            assert lo[r.prob] <= r.estimate <= hi[r.prob], r

    def test_grouped_quantiles(self, spark):
        df = spark.range(0, 30_000, numPartitions=6).select(
            (F.col("id") % 3).cast("string").alias("g"),
            # per-group shifted uniform: group k spans [1000k, 1000k+1000)
            ((F.col("id") % 3) * 1000 + F.abs(F.hash("id")) % 1000)
            .cast("double")
            .alias("x"),
        )
        out = stats.kll_quantiles(df, "x", [0.5], group_by=["g"]).collect()
        assert len(out) == 3
        for r in out:
            assert r.estimate == pytest.approx(int(r.g) * 1000 + 500, abs=25)

    def test_profile_many_columns_one_pass(self, spark):
        df = spark.range(0, 20_000, numPartitions=4).select(
            F.col("id").cast("double").alias("a"),
            (F.col("id") % 100).cast("double").alias("b"),
        )
        prof = stats.profile(
            df,
            [stats.ColumnSpec("a", "numeric"), stats.ColumnSpec("b", "numeric")],
            quantiles=[0.5],
            quantile_method="kll",
        )
        rows = {r.column_name: r for r in prof.collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"].n_rows == 20_000 and rows["b"].n_rows == 20_000
        assert rows["a"].quantiles[0] == pytest.approx(10_000, rel=0.01)
        assert rows["b"].quantiles[0] == pytest.approx(49.5, abs=2.0)
        # one scan, one Aggregate for every column, no Python stage
        plan = prof._jdf.queryExecution().executedPlan().toString()
        # after collect() AQE prints Final + Initial sections; audit the
        # final one only
        final = plan.split("== Initial Plan ==")[0].lower()
        assert final.count("range (0, 20000") == 1
        assert final.count("partial_kll_sketch_agg_double") == 2
        assert "mapinpandas" not in final and "flatmapgroupsinpandas" not in final

    def test_sketch_shuffle_carries_sketches_not_values(self, spark):
        df = spark.range(0, 20_000, numPartitions=4).select(
            (F.col("id") % 4).alias("g"), F.col("id").cast("double").alias("x")
        )
        q = stats.kll_quantiles(df, "x", [0.5], group_by=["g"])
        assert q.count() == 4
        plan = q._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # the only exchange sits on the map-side partial sketch
        # aggregate: what crosses the shuffle is one sketch buffer per
        # (group, partition), never the values
        assert final.count("Exchange") == 1
        below = final.split("Exchange", 1)[1]
        partial = below.index("partial_kll_sketch_agg_double")
        assert partial < below.index("Range (0, 20000")
