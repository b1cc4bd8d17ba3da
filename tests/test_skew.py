"""Skew-handling correctness: salted aggregation and skewed PIP joins must be
exact under pathological key distributions (the north rule's explicit
partitioning/skew mandate)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import python_nodes
from pyramids_spark import synth
from pyramids_spark.operators import pip
from pyramids_spark.operators.zonal import salted_agg


def test_salted_agg_equals_plain_agg_under_extreme_skew(spark):
    """99% of rows share one key; salted two-stage must recompose exactly."""
    n = 200_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
    )
    got = salted_agg(df, "k", "v", n_salt=32).toPandas().sort_values("k").reset_index(drop=True)
    exp = (
        df.groupBy("k")
        .agg(
            F.avg("v").alias("mean"), F.sum("v").alias("sum"), F.min("v").alias("min"),
            F.max("v").alias("max"), F.stddev_pop("v").alias("std"),
            F.var_pop("v").alias("var"), F.count("v").alias("count"),
        )
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert (got.k == exp.k).all()
    for c in ("sum", "min", "max", "count"):
        np.testing.assert_allclose(got[c].astype(float), exp[c].astype(float), rtol=0)
    for c in ("mean", "std", "var"):
        np.testing.assert_allclose(got[c], exp[c], rtol=1e-9)


def test_salt_col_spreads_hot_key(spark):
    """All rows share one key; the per-row salt must spread them across all
    salt buckets with no bucket dominating (the partial-agg stage then has
    no hot reducer)."""
    df = spark.range(100_000).select(F.lit(7).alias("k"))
    spread = (
        df.withColumn("s", pip.salt_col(16))
        .groupBy("s").count().toPandas()
    )
    assert len(spread) == 16
    assert spread["count"].max() < 100_000 * 0.2


def test_pip_join_udf_path_under_extreme_skew(spark):
    """90% of points in one cell, refined by BOTH forms: convex hulls take
    the flat half-plane test, a concave L over the hot cell ray-casts in
    the numpy UDF. The count equals the numpy ray-cast oracle."""
    from pyramids_spark import cells

    pts = synth.doc_points(spark, 30_000, hot_frac=0.9)
    L = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 0.0], [0.0, 0.0],
                  [0.0, 2.0], [-2.0, 2.0]])
    zones = synth.zone_polygons(4, "hull") + [{"zone_id": 50, "parts": [L]}]
    hits = pip.pip_join(pts, zones, zoom=6)
    assert python_nodes(hits)["ArrowEvalPython"] == 1
    xy = pts.select("x", "y").toPandas()
    exp = sum(
        int(cells.points_in_polygon(xy.x.to_numpy(), xy.y.to_numpy(), z["parts"][0]).sum())
        for z in zones
    )
    assert hits.count() == exp and exp > 0


def test_ngram_jaccard_df_cap_defuses_hot_shingle(spark):
    """Adversarial corpus: every doc shares one stopword shingle ('a b c').
    Uncapped, that shingle alone creates an n² intersection bucket; with
    max_df the hot shingle leaves the universe and only true near-dups pair."""
    from pyramids_spark.text import dedup

    n = 40
    rows = []
    for i in range(n):
        # all docs share 'a b c'; docs 2k/2k+1 additionally share a unique tail
        uniq = f"tok{i // 2}x tok{i // 2}y tok{i // 2}z tok{i // 2}w"
        rows.append((i, f"a b c {uniq}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, n=3)
    capped = dedup.ngram_jaccard(sh, min_sim=0.5, max_df=5).toPandas()
    # expected: exactly the 20 twin pairs, each with jaccard over the
    # filtered universe (shared tail shingles only)
    assert len(capped) == n // 2
    assert sorted(zip(capped.id_a, capped.id_b)) == [(2 * k, 2 * k + 1) for k in range(n // 2)]
    # exact (max_df=None, the explicit opt-in since r3) on the same corpus:
    # the hot shingle pairs EVERY doc (n²/2 candidate intersections survive
    # the groupBy) — the skew the cap kills
    uncapped = dedup.ngram_jaccard(sh, min_sim=0.0, max_df=None)
    assert uncapped.count() == n * (n - 1) // 2
    # the DEFAULT cap (1000) is inert on a small corpus: identical to exact
    assert dedup.ngram_jaccard(sh, min_sim=0.0).count() == n * (n - 1) // 2


def test_near_dup_pairs_lsh_branch_has_no_cartesian(spark):
    """Above max_exact_rows the guarded near-dup path must plan a bucket
    equi-join, never a cartesian/broadcast-nested-loop product, and every
    returned pair must still meet the exact threshold."""
    from pyramids_spark.ann import search as ann

    n, dim = 400, 8
    from pyramids_spark import cells

    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((cells.h1_col(F.col("id") * 131 + i) / F.lit(2.0**32)) * 2 - 1) for i in range(dim)]
        ).alias("embedding"),
    )
    out = ann.near_dup_pairs(emb, threshold=0.8, max_exact_rows=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = out.toPandas()
    exact = ann.near_dup_pairs(emb, threshold=0.8, max_exact_rows=10**9).toPandas()
    # LSH path returns a SUBSET of the exact pairs (recall < 1 by design)
    ex = set(zip(exact.id_a, exact.id_b))
    assert set(zip(got.id_a, got.id_b)) <= ex
    assert len(ex) > 0


def test_dedup_clusters_keep_one_per_component(spark):
    """Twin docs pair up; clusters resolve to min-id roots with exactly
    one keeper per component (transitivity: a chain a~b, b~c lands in ONE
    cluster even if a~c never paired directly)."""
    from pyramids_spark.text import dedup

    ids = spark.range(8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"  # chain 0-1-2; pair 5-6
    )
    got = dedup.dedup_clusters(ids, pairs).toPandas().set_index("doc_id").sort_index()
    assert list(got.cluster) == [0, 0, 0, 3, 4, 5, 5, 7]
    assert list(got.is_keeper) == [True, False, False, True, True, True, False, True]


def test_sampling_deterministic_and_packing_contiguous(spark):
    """Deterministic sample: identical across invocations, disjoint across
    salts in expectation; packing: start_offsets are the exact prefix sums
    of the shuffle order and bins advance monotonically."""
    from pyramids_spark.text import sampling

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in sampling.deterministic_sample(df, 0.3).collect()}
    b = {r["doc_id"] for r in sampling.deterministic_sample(df, 0.3).collect()}
    assert a == b and 0.2 < len(a) / 2000 < 0.4
    c = {r["doc_id"] for r in sampling.deterministic_sample(df, 0.3, salt=1).collect()}
    assert c != a  # independent stream

    d = df.withColumn("n_tokens", F.pmod(F.col("doc_id") * 7, F.lit(100)) + 1)
    out = sampling.pack_sequences(d, budget=256, key="doc_id").toPandas()
    out = out.sort_values(["shuffle_key", "doc_id"]).reset_index(drop=True)
    csum = 0
    for _, r in out.iterrows():
        assert r.start_offset == csum
        assert r.bin_id == csum // 256
        csum += r.n_tokens
    assert out.bin_id.is_monotonic_increasing
    assert out.bin_id.max() > 10


def test_weighted_repeat_counts_and_determinism(spark):
    """Corpus-mix upsampling: per-row copy count is floor(w) +
    hash-Bernoulli(frac), numpy-oracled; deterministic across invocations;
    copy_id is a contiguous 0-based range per kept row."""
    import numpy as np

    from pyramids_spark import cells
    from pyramids_spark.text import sampling

    n = 1200
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    weights = {"s0": 2.5, "s1": 0.25, "s2": 1.0}
    out = sampling.weighted_repeat(df, weights, strata="src", key="doc_id")
    got = out.toPandas().sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    ids = np.arange(n, dtype=np.int64)
    u = cells.h2_np(ids) / 2.0**32  # h2: decorrelated from the h1 sample stream
    w = np.array([weights[f"s{i % 3}"] for i in range(n)])
    exp_n = np.floor(w).astype(int) + (u < (w - np.floor(w))).astype(int)
    per_doc = got.groupby("doc_id").size().reindex(ids, fill_value=0).to_numpy()
    assert (per_doc == exp_n).all()
    for did, grp in got.groupby("doc_id"):
        assert list(grp["copy_id"]) == list(range(len(grp)))
    again = sampling.weighted_repeat(df, weights, strata="src", key="doc_id").toPandas()
    assert len(again) == len(got)
    # expected-volume sanity: mix ratios land near the weights
    frac_s0 = (got["src"] == "s0").mean()
    assert 0.6 < frac_s0 < 0.72  # 2.5 / 3.75 ≈ 0.667
