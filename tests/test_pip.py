"""End-to-end PIP join + span-invariant tests (Spark vs numpy oracle)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from pyramids_spark import cells, synth
from pyramids_spark.operators import pip


def _oracle_points(n, hot_frac=0.2, hot_box=(-0.5, -0.5, 0.5, 0.5)):
    ids = np.arange(n)
    h1, h2 = cells.h1_np(ids), cells.h2_np(ids)
    h3 = (
        (ids.astype(np.uint64) * np.uint64(2971215073) + np.uint64(433494437))
        % np.uint64(2**32)
    ).astype(np.int64)
    lon, lat = cells.lon_np(h1), cells.lat_np(h2)
    hot = h3 / 2**32 < hot_frac
    x0, y0, x1, y1 = hot_box
    lon[hot] = x0 + (x1 - x0) * (h1[hot] / 2**32)
    lat[hot] = y0 + (y1 - y0) * (h2[hot] / 2**32)
    return ids, lon, lat


def _oracle_pairs(n, zones, hot_frac=0.2):
    """(key, zone_id) of every point inside some part of a zone — the numpy
    ray-cast oracle (``cells.points_in_polygon``)."""
    ids, lon, lat = _oracle_points(n, hot_frac)
    out = set()
    for z in zones:
        m = np.zeros(n, bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(lon, lat, np.asarray(part, dtype=np.float64))
        out |= {(int(k), int(z["zone_id"])) for k in ids[m]}
    return out


def _pairs(df):
    """(key, zone_id) rows of a join result; disjoint parts → no duplicates."""
    rows = [(r["key"], r["zone_id"]) for r in df.select("key", "zone_id").collect()]
    assert len(rows) == len(set(rows))
    return set(rows)


@pytest.mark.parametrize("kind", ["box", "hex", "hull", "multi"])
def test_pip_join_matches_numpy_oracle(spark, kind):
    n = 5000
    pts = synth.doc_points(spark, n)
    zones = synth.zone_polygons(8, kind)
    got = (
        pip.pip_join(pts, zones, zoom=7)
        .select("key", "zone_id")
        .toPandas()
        .sort_values(["key", "zone_id"])
        .reset_index(drop=True)
    )
    ids, lon, lat = _oracle_points(n)
    rows = []
    for z in zones:
        m = np.zeros(n, bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(lon, lat, np.asarray(part))
        rows += [(int(k), z["zone_id"]) for k in ids[m]]
    exp = (
        pd.DataFrame(rows, columns=["key", "zone_id"])
        .sort_values(["key", "zone_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(got.astype("int64"), exp.astype("int64"))


def test_pip_join_hot_spot_skew_still_exact(spark):
    """80%+ of points in one cell (worst-case skew) — broadcast join plan
    means no shuffle skew; results stay exact."""
    n = 3000
    pts = synth.doc_points(spark, n, hot_frac=0.9)
    zones = synth.zone_polygons(3, "hex")
    got = pip.pip_join(pts, zones, zoom=6).select("key", "zone_id").toPandas()
    ids, lon, lat = _oracle_points(n, hot_frac=0.9)
    exp_rows = 0
    for z in zones:
        m = np.zeros(n, bool)
        for part in z["parts"]:
            m |= cells.points_in_polygon(lon, lat, np.asarray(part))
        exp_rows += int(m.sum())
    assert len(got) == exp_rows


def test_pip_join_plan_is_broadcast_no_bigside_shuffle(spark):
    """Convex zones: broadcast hash joins only, no Python eval node, ONE
    scan of the points."""
    pts = synth.doc_points(spark, 1000)
    zones = synth.zone_polygons(3, "box")
    plan = pip.pip_join(pts, zones, zoom=7)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # big side never shuffles
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Range (0, 1000") == 1


def test_pip_refine_is_edge_data_not_case_plan_text(spark):
    """Convex single-part zones must refine via broadcast-side edge
    COLUMNS (constant-size predicate), never a per-zone CASE expression —
    the CASE form grows with zone count and fell out of efficient codegen
    at just 10 zones (PLANS.md §6b)."""
    pts = synth.doc_points(spark, 1000)
    zones = synth.zone_polygons(10, "hex")
    df = pip.pip_join(pts, zones, zoom=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN (zone_id" not in plan
    assert "e0_xa" in plan  # edge coefficients ride the broadcast side
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    # result columns stay clean: no edge/bookkeeping columns leak
    assert set(df.columns) == set(pts.columns) | {"zone_id"}


def test_pip_edge_refine_matches_udf_raycast(spark):
    """Edge-coefficient half-plane keep-set ≡ the numpy ray-cast oracle on
    the same convex zones (off-boundary points); no Python refine runs."""
    pts = synth.doc_points(spark, 4000)
    zones = synth.zone_polygons(7, "hex")
    a = pip.pip_join(pts, zones, zoom=7)
    assert "ArrowEvalPython" not in a._jdf.queryExecution().executedPlan().toString()
    ka = _pairs(a)
    assert ka == _oracle_pairs(4000, zones) and len(ka) > 0


def test_span_sequence_invariant_through_pip_join(spark):
    docs = synth.documents_spans(spark, 500).withColumn(
        "span_hash", synth.span_hash_col()
    )
    pts = synth.doc_points(spark, 500)
    joined = docs.join(pts, "doc_id")
    res = pip.pip_join(joined, synth.zone_polygons(5, "hex"), zoom=7)
    violations = res.where(synth.span_hash_col() != res.span_hash).count()
    assert violations == 0
    # spans themselves round-trip: re-derive kind sequence and compare
    k0 = (
        docs.selectExpr("doc_id", "transform(spans, s -> s.kind) AS ks")
        .toPandas()
        .set_index("doc_id")["ks"]
    )
    k1 = (
        res.selectExpr("doc_id", "transform(spans, s -> s.kind) AS ks")
        .dropDuplicates(["doc_id"])
        .toPandas()
        .set_index("doc_id")["ks"]
    )
    for d, ks in k1.items():
        assert list(ks) == list(k0[d])


def _zones_as_df(spark, zones):
    rows = []
    for z in zones:
        for part in z["parts"]:
            p = np.asarray(part, dtype=np.float64)
            rows.append((int(z["zone_id"]), p[:, 0].tolist(), p[:, 1].tolist()))
    return spark.createDataFrame(
        rows, "zone_id long, xs array<double>, ys array<double>"
    )


def test_pip_join_df_matches_broadcast_path(spark):
    """DataFrame-native polygon side (VERDICT r3 #2) ≡ the broadcast list
    path on the same zone set, and both ≡ the numpy oracle."""
    pts = synth.doc_points(spark, 4000)
    zones = synth.zone_polygons(9, "hex")
    zdf = _zones_as_df(spark, zones)
    ka = _pairs(pip.pip_join(pts, zones, zoom=7))
    b = pip.pip_join_df(pts, zdf, zoom=7)
    assert ka == _pairs(b) == _oracle_pairs(4000, zones) and len(ka) > 0
    assert set(b.columns) == set(pts.columns) | {"zone_id"}


def test_pip_join_df_convex_refine_is_jvm_and_concave_falls_back(spark):
    """Convex parts must refine via the JVM half-plane test over flat
    coefficient columns; a CONCAVE part still ray-casts, and both join
    paths match the numpy oracle on a mixed zone set."""
    pts = synth.doc_points(spark, 3000)
    zones = synth.zone_polygons(4, "hex")
    # L-shaped (concave) part spanning the hot cell
    L = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 0.0], [0.0, 0.0],
                  [0.0, 2.0], [-2.0, 2.0]])
    zones.append({"zone_id": 50, "parts": [L]})
    zdf = _zones_as_df(spark, zones)
    auto = pip.pip_join_df(pts, zdf, zoom=7)
    ka = _pairs(auto)
    assert ka == _pairs(pip.pip_join(pts, zones, zoom=7)) == _oracle_pairs(3000, zones)
    assert any(z == 50 for _, z in ka)  # the concave zone has hits
    # the convex branch's keep-condition is JVM whole-stage arithmetic over
    # flat edge-coefficient columns (r7: replaced the higher-order forall)
    # — visible in the executed plan text (the concave ray-cast branch
    # still appears statically in the union but scans only concave parts)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "e0_xa" in plan and "forall" not in plan


def test_pip_join_df_batch_cover_matches_per_part(spark):
    """zone_cover_df's batched kernel ≡ _part_cover_np per part, cell for
    cell, boundary flag for boundary flag, in both touch modes (mixed ring
    lengths across the pad buckets: boxes V=4, hexagons V=6); the driver
    projection zone_cover ≡ the same reference."""
    zones = synth.zone_polygons(6, "hex") + [
        {"zone_id": 100 + z["zone_id"], "parts": z["parts"]}
        for z in synth.zone_polygons(5, "box")
    ]
    zdf = _zones_as_df(spark, zones).withColumn(
        "part_key", F.xxhash64(F.col("zone_id"), F.col("xs"), F.col("ys"))
    )
    cols = ["zone_id", "cell_id", "boundary"]
    for mode in ("intersects", "center"):
        exp = []
        for z in zones:
            for part in z["parts"]:
                cover, bnd = pip._part_cover_np(np.asarray(part, dtype=np.float64), 8, mode)
                for cid, bb in zip(cover, bnd):
                    exp.append((z["zone_id"], cid, bb))
        exp = pd.DataFrame(exp, columns=cols).sort_values(cols[:2]).reset_index(drop=True)
        for got in (pip.zone_cover_df(zdf, 8, mode).toPandas(), pip.zone_cover(zones, 8, mode)):
            got = got[cols].sort_values(cols[:2]).reset_index(drop=True)
            assert len(got) == len(exp) > 0, mode
            for c in cols:
                assert (got[c].to_numpy() == exp[c].to_numpy()).all(), (mode, c)


def test_pip_join_df_plan_no_driver_cover(spark):
    """The polygon side must stay distributed end-to-end: the cover runs as
    a MapInPandas over the ring table (its OWN plan — since r7 the join
    consumes the cover through one executor-side localCheckpoint instead of
    re-running the cover per union branch), and the joined plan holds no
    LocalTableScan (a driver-materialized cover would show up as one)."""
    from pyspark.sql import functions as SF

    pts = synth.doc_points(spark, 1000)
    z = spark.range(400).select(SF.col("id").alias("zone_id"))
    cx = (SF.col("zone_id") % 20).cast("double") * 8.0 - 80.0
    cy = (SF.col("zone_id") / 20).cast("long").cast("double") * 6.0 - 60.0
    zdf = z.select(
        "zone_id",
        SF.array(cx - 2.0, cx + 2.0, cx + 2.0, cx - 2.0).alias("xs"),
        SF.array(cy - 1.5, cy - 1.5, cy + 1.5, cy + 1.5).alias("ys"),
    )
    rings = zdf.withColumn(
        "part_key", SF.xxhash64(SF.col("zone_id"), SF.col("xs"), SF.col("ys"))
    )
    cover_plan = (
        pip.zone_cover_df(rings, 7, "intersects")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in cover_plan
    assert "LocalTableScan" not in cover_plan
    df = pip.pip_join_df(pts, zdf, zoom=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert df.count() > 0


def test_pip_join_df_tolerates_empty_rings(spark):
    """A degenerate (xs=[], ys=[]) ring row must not crash the distributed
    cover (parity with the driver-side path's empty-part skip)."""
    pts = synth.doc_points(spark, 500)
    zones = synth.zone_polygons(3, "hex")
    zdf = _zones_as_df(spark, zones)
    empty = spark.createDataFrame(
        [(99, [], [])], "zone_id long, xs array<double>, ys array<double>"
    )
    a = pip.pip_join_df(pts, zdf, zoom=7)
    b = pip.pip_join_df(pts, zdf.unionByName(empty), zoom=7)
    ka = {(r["doc_id"], r["zone_id"]) for r in a.collect()}
    kb = {(r["doc_id"], r["zone_id"]) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_zone_cover_interior_flag_sound(spark):
    """boundary=False cells must be fully inside their zone."""
    zones = synth.zone_polygons(6, "hex")
    cov = pip.zone_cover(zones, zoom=8, mode="intersects")
    interior = cov[~cov.boundary]
    assert len(interior) > 0
    for zid, grp in interior.groupby("zone_id"):
        parts = zones[int(zid)]["parts"]
        cx, cy = cells.unpack(grp.cell_id.to_numpy(), 8)
        x0, y0, x1, y1 = cells.cell_bounds_np(cx, cy, 8)
        for qx, qy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1), ((x0 + x1) / 2, (y0 + y1) / 2)):
            ok = np.zeros(len(grp), bool)
            for p in parts:
                ok |= cells.points_in_polygon(qx, qy, np.asarray(p))
            assert ok.all()


def test_convex_flag_on_padded_rings_regression(spark):
    """Code-review r4 #1: a ring concave ONLY at its last vertex must not
    be flagged convex after repeat-last padding (the padded cross chain
    skipped the last-real-edge × closing-edge turn)."""
    ang = np.linspace(0, 2 * np.pi, 7)[:-1]
    xs, ys = np.cos(ang), np.sin(ang)
    cx, cy = xs.copy(), ys.copy()
    cx[5] *= 0.1
    cy[5] *= 0.1  # pull the LAST vertex inward → concave there

    def padded(v, V=8):
        out = np.empty(V)
        out[: len(v)] = v
        out[len(v):] = v[-1]
        return out

    lens = np.array([6, 6, 6], dtype=np.int64)
    X = np.stack([padded(xs), padded(cx), padded(np.append(xs, xs[0]), 8)[:8]])
    Y = np.stack([padded(ys), padded(cy), padded(np.append(ys, ys[0]), 8)[:8]])
    lens = np.array([6, 6, 7], dtype=np.int64)
    got = pip._convex_ccw_batch(X, Y, lens)
    assert list(got) == [True, False, True]  # convex open, concave, convex CLOSED
    # a repeated vertex is a zero-length real edge → not flat-refinable,
    # open or closed; pad edges (past the real length) are not real edges
    box = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])
    Xb = np.stack([padded(box[:5, 0]), padded(box[:, 0]), padded(box[[0, 1, 3, 4, 0], 0])])
    Yb = np.stack([padded(box[:5, 1]), padded(box[:, 1]), padded(box[[0, 1, 3, 4, 0], 1])])
    got = pip._convex_ccw_batch(Xb, Yb, np.array([5, 6, 5], dtype=np.int64))
    assert list(got) == [False, False, True]
    # end-to-end: the join ≡ the numpy oracle on a zone set containing
    # that concave ring
    pts = synth.doc_points(spark, 2500)
    poly = np.stack([cx * 30.0, cy * 30.0], axis=1)
    zones = synth.zone_polygons(3, "hex") + [{"zone_id": 77, "parts": [poly]}]
    zdf = _zones_as_df(spark, zones)
    a = _pairs(pip.pip_join_df(pts, zdf, zoom=7))
    assert a == _oracle_pairs(2500, zones) and any(z == 77 for _, z in a)


def test_pip_join_df_hot_spot_skew_still_exact(spark):
    """90% of points in one cell (worst-case skew) through the DataFrame
    polygon side: results equal the broadcast list path and the numpy
    oracle (AQE skew handling is the runtime backstop when the cover side
    is shuffle-joined)."""
    pts = synth.doc_points(spark, 3000, hot_frac=0.9)
    zones = synth.zone_polygons(4, "hex")
    zdf = _zones_as_df(spark, zones)
    a = _pairs(pip.pip_join(pts, zones, zoom=6))
    b = _pairs(pip.pip_join_df(pts, zdf, zoom=6))
    assert a == b == _oracle_pairs(3000, zones, hot_frac=0.9) and len(a) > 0


def _ngon(n_edges, r=30.0, closed=False):
    ang = np.linspace(0, 2 * np.pi, n_edges + 1)[:-1]
    p = np.stack([r * np.cos(ang), r * np.sin(ang)], axis=1)  # ccw
    return np.vstack([p, p[:1]]) if closed else p


def test_flat_refine_cap_counts_real_edges(spark):
    """The flat half-plane refine takes convex parts of at most
    _MAX_EDGE_COLS REAL edges — a closed ring's repeated last vertex is
    not an edge: an open 16-edge ring and a closed 16-edge ring refine flat
    with ≤16 coefficient quadruples, an open 17-edge ring ray-casts. A box
    with a repeated vertex has a zero-length edge, whose half-plane would
    reject every boundary candidate, so it ray-casts too. Both join paths
    match the numpy oracle either way."""
    assert pip._MAX_EDGE_COLS == 16
    pts = synth.doc_points(spark, 3000)
    box = np.array([[-30.0, -30.0], [30.0, -30.0], [30.0, -30.0], [30.0, 30.0], [-30.0, 30.0]])
    cases = (
        ("open16", _ngon(16), True),
        ("closed16", _ngon(16, closed=True), True),
        ("open17", _ngon(17), False),
        ("repeated-vertex box", box, False),
    )
    for name, ring, flat in cases:
        zones = [{"zone_id": 3, "parts": [ring]}]
        zdf = _zones_as_df(spark, zones)
        rings = zdf.withColumn("part_key", F.xxhash64("zone_id", "xs", "ys"))
        conv = pip.zone_cover_df(rings, 7, "intersects").toPandas()["convex"]
        assert len(conv) > 0 and (conv == flat).all(), name
        exp = _oracle_pairs(3000, zones)
        assert len(exp) > 0
        lst, dfp = pip.pip_join(pts, zones, zoom=7), pip.pip_join_df(pts, zdf, zoom=7)
        for df in (lst, dfp):
            assert "e16_" not in df._jdf.queryExecution().executedPlan().toString()
            assert _pairs(df) == exp, name
        # the list path sizes the coefficients to its flat parts and builds
        # the ray-cast branch only for the others
        plan = lst._jdf.queryExecution().executedPlan().toString()
        assert ("e15_xa" in plan) == flat, name
        assert ("ArrowEvalPython" in plan) == (not flat), name


def _build_jobs(spark, build, group):
    """Spark jobs started while ``build()`` constructs a DataFrame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build-time job audit")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pip_build_job_audit(spark):
    """Building the plan: pip_join runs no Spark job (cache miss or hit);
    pip_join_df runs exactly one, the cover checkpoint."""
    pts = synth.doc_points(spark, 1000)
    L = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 0.0], [0.0, 0.0],
                  [0.0, 2.0], [-2.0, 2.0]])
    zones = synth.zone_polygons(5, "hex", seed=11) + [{"zone_id": 50, "parts": [L]}]
    zdf = _zones_as_df(spark, zones)
    for i in range(2):  # the first call builds the driver sides, the second hits the cache
        assert _build_jobs(spark, lambda: pip.pip_join(pts, zones, zoom=7), f"audit-list-{i}") == 0
    assert _build_jobs(spark, lambda: pip.pip_join_df(pts, zdf, zoom=7), "audit-df") == 1
