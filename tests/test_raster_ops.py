"""Raster ops with reference-contract semantics: fill_gaps priority,
reprojection round-trip, crop/align fixtures, media plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import python_nodes
from pyramids_spark import synth
from pyramids_spark.grid import COELLO, CROP_GRID, Grid, grid_df
from pyramids_spark.operators import raster, reproject, vectorize


def test_fill_gaps_respects_priority_order(spark):
    """Target cell must take the RIGHT neighbor even when others differ
    (reference priority R, L, down, up, RB, LB, LT, RT)."""
    g = Grid(x0=0.0, y0=3.0, cell=1.0, rows=3, cols=3)
    vals = np.array([[1.0, 2.0, 3.0], [4.0, np.nan, 6.0], [7.0, 8.0, 9.0]])
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(3), 3), "col": np.tile(np.arange(3), 3),
         "value": vals.ravel()}
    )
    src = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    mask = grid_df(spark, g)
    out = raster.fill_gaps(src, mask).toPandas()
    centre = out[(out.row == 1) & (out.col == 1)].value.iloc[0]
    assert centre == 6.0  # R neighbor, not L(4)/down(8)/up(2)


def test_fill_gaps_right_missing_falls_through(spark):
    g = Grid(x0=0.0, y0=3.0, cell=1.0, rows=3, cols=3)
    vals = np.array([[1.0, 2.0, 3.0], [4.0, np.nan, np.nan], [7.0, 8.0, 9.0]])
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(3), 3), "col": np.tile(np.arange(3), 3),
         "value": vals.ravel()}
    )
    src = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    mask = grid_df(spark, g)
    out = raster.fill_gaps(src, mask).toPandas()
    centre = out[(out.row == 1) & (out.col == 1)].value.iloc[0]
    assert centre == 4.0  # R missing → L


def test_reproject_3857_roundtrip_values(spark):
    """Every 3857 output cell's value must equal the source cell its centre
    back-projects into (numpy oracle)."""
    g = grid_df(spark, CROP_GRID)
    dst = reproject.reproject_plan(CROP_GRID, 3857)
    out = reproject.to_crs_nearest(
        g, CROP_GRID, dst, inverse=reproject.resolve_crs(3857).inverse
    ).toPandas()
    assert len(out) > 0
    R = reproject.R
    for _, r in out.iterrows():
        xc = dst.x0 + r.col * dst.cell + dst.cell / 2
        yc = dst.y0 - r.row * dst.cell - dst.cell / 2
        lon = np.degrees(xc / R)
        lat = np.degrees(2 * np.arctan(np.exp(yc / R)) - np.pi / 2)
        src_col = int(np.floor((lon - CROP_GRID.x0) / CROP_GRID.cell))
        src_row = int(np.floor((CROP_GRID.y0 - lat) / CROP_GRID.cell))
        assert r.value == src_row * 10 + src_col + 1


def test_conic_forward_inverse_consistency(spark):
    """Every registered closed form (cylindrical, LCC + Albers ellipsoidal):
    the CRS table's Column inverse ∘ its numpy forward is identity to
    series precision (authalic series is O(e⁸) ≈ 1e-8 deg), over a lat/lon
    cloud inside each projection's sane band."""
    lon = np.linspace(-10.0, 15.0, 40)
    lat = np.linspace(35.0, 55.0, 40)
    assert set(reproject.CONIC_EPSG) < set(reproject.EPSG)
    for epsg in reproject.EPSG:
        crs = reproject.resolve_crs(epsg)
        x, y = crs.forward(lon, lat)
        df = spark.createDataFrame(
            pd.DataFrame({"x": x, "y": y}), "x double, y double"
        )
        ilon, ilat = crs.inverse(F.col("x"), F.col("y"))
        got = df.select(ilon.alias("lon"), ilat.alias("lat")).toPandas()
        assert np.allclose(got["lon"], lon, atol=1e-7)
        assert np.allclose(got["lat"], lat, atol=1e-7)


def test_conic_golden_points():
    """Published golden points. Snyder PP 1395 Appendix A numerical examples
    (Clarke 1866, e² = 0.00676866 as printed): ellipsoidal LCC p. 296 and
    Albers p. 292, both at φ=35° λ=−75°. Plus the Lambert-93 defining
    property: the projection origin (3°E, 46.5°N) maps exactly to the false
    origin (700000, 6600000) — EPSG:9802 definition of EPSG:2154."""
    clk = dict(a=6378206.4, e2=0.00676866)
    p = reproject.ConicParams(33.0, 45.0, 23.0, -96.0, **clk)
    x, y = reproject.lcc_xy_np(np.array([-75.0]), np.array([35.0]), p)
    assert abs(x[0] - 1894410.9) < 1.0 and abs(y[0] - 1564649.5) < 1.0
    p = reproject.ConicParams(29.5, 45.5, 23.0, -96.0, **clk)
    x, y = reproject.albers_xy_np(np.array([-75.0]), np.array([35.0]), p)
    assert abs(x[0] - 1885472.7) < 1.0 and abs(y[0] - 1535925.0) < 1.0
    _, p93 = reproject.CONIC_EPSG[2154]
    x, y = reproject.lcc_xy_np(np.array([3.0]), np.array([46.5]), p93)
    assert abs(x[0] - 700000.0) < 1e-6 and abs(y[0] - 6600000.0) < 1e-6


def test_to_crs_conic_facade_roundtrip_values(spark):
    """api.to_crs(2154/5070) dispatch: every output cell's value equals the
    source cell its centre back-projects into (numpy oracle)."""
    from pyramids_spark.api import SparkDataset

    g = grid_df(spark, CROP_GRID)
    for epsg in (2154, 5070):
        ds = SparkDataset(g, CROP_GRID).to_crs(epsg)
        out = ds.df.toPandas()
        assert len(out) > 0
        dst = ds.grid
        fam, p = reproject.CONIC_EPSG[epsg]
        inv = reproject.inv_lcc_np if fam == "lcc" else reproject.inv_albers_np
        for _, r in out.iterrows():
            xc = dst.x0 + r.col * dst.cell + dst.cell / 2
            yc = dst.y0 - r.row * dst.cell - dst.cell / 2
            lon, lat = inv(np.array([xc]), np.array([yc]), p)
            src_col = int(np.floor((lon[0] - CROP_GRID.x0) / CROP_GRID.cell))
            src_row = int(np.floor((CROP_GRID.y0 - lat[0]) / CROP_GRID.cell))
            assert r.value == src_row * 10 + src_col + 1


_PRJ_2154 = (
    'PROJCS["RGF93 / Lambert-93",GEOGCS["RGF93",DATUM["Reseau_Geodesique_'
    'Francais_1993",SPHEROID["GRS 1980",6378137,298.257222101,AUTHORITY['
    '"EPSG","7019"]],AUTHORITY["EPSG","6171"]],PRIMEM["Greenwich",0],UNIT['
    '"degree",0.0174532925199433],AUTHORITY["EPSG","4171"]],PROJECTION['
    '"Lambert_Conformal_Conic_2SP"],PARAMETER["standard_parallel_1",49],'
    'PARAMETER["standard_parallel_2",44],PARAMETER["latitude_of_origin",'
    '46.5],PARAMETER["central_meridian",3],PARAMETER["false_easting",'
    '700000],PARAMETER["false_northing",6600000],UNIT["metre",1],'
    'AUTHORITY["EPSG","2154"]]'
)
_PRJ_5070 = (
    'PROJCS["NAD83 / Conus Albers",GEOGCS["NAD83",DATUM["North_American_'
    'Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM['
    '"Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION['
    '"Albers_Conic_Equal_Area"],PARAMETER["standard_parallel_1",29.5],'
    'PARAMETER["standard_parallel_2",45.5],PARAMETER["latitude_of_center",'
    '23],PARAMETER["longitude_of_center",-96],PARAMETER["false_easting",0],'
    'PARAMETER["false_northing",0],UNIT["metre",1],AUTHORITY["EPSG","5070"]]'
)
_PRJ_32618 = (
    'PROJCS["WGS 84 / UTM zone 18N",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT['
    '"degree",0.0174532925199433],AUTHORITY["EPSG","4326"]],PROJECTION['
    '"Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER['
    '"central_meridian",-75],PARAMETER["scale_factor",0.9996],PARAMETER['
    '"false_easting",500000],PARAMETER["false_northing",0],UNIT["metre",1],'
    'AUTHORITY["EPSG","32618"]]'
)


def test_parse_wkt_crs_real_prj_strings(spark):
    """VERDICT r3 #5: real GDAL-style .prj strings for 32618/2154/5070 map
    onto the existing reproject dispatch."""
    fam, epsg = reproject.parse_wkt_crs(_PRJ_32618)
    assert (fam, epsg) == ("utm", 32618)
    fam, p = reproject.parse_wkt_crs(_PRJ_2154)
    _, reg = reproject.CONIC_EPSG[2154]
    assert fam == "lcc" and p == reg
    fam, p = reproject.parse_wkt_crs(_PRJ_5070)
    _, reg = reproject.CONIC_EPSG[5070]
    assert fam == "albers" and p == reg
    assert reproject.parse_wkt_crs('GEOGCS["WGS 84",AUTHORITY["EPSG","4326"]]') == (
        "longlat", None
    )
    assert reproject.get_epsg_from_prj(_PRJ_2154) == 2154
    assert reproject.get_epsg_from_prj(_PRJ_5070) == 5070
    assert reproject.get_epsg_from_prj(_PRJ_32618) == 32618
    assert reproject.get_epsg_from_prj('PROJCS["x",PROJECTION["Sinusoidal"]]') is None
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        reproject.parse_wkt_crs(_PRJ_32618.replace("0.9996", "1.0"))  # non-UTM TM
    with _pytest.raises(NotImplementedError):  # shifted-origin TM is not UTM
        reproject.parse_wkt_crs(
            _PRJ_32618.replace('"latitude_of_origin",0', '"latitude_of_origin",40')
        )
    # .prj path through the facade ≡ the registered-EPSG path
    from pyramids_spark.api import SparkDataset

    g = grid_df(spark, CROP_GRID)
    ds = SparkDataset(g, CROP_GRID)
    via_prj = ds.to_crs(_PRJ_2154)
    via_epsg = ds.to_crs(2154)
    assert via_prj.grid.x0 == via_epsg.grid.x0 and via_prj.grid.y0 == via_epsg.grid.y0
    a = {(r.row, r.col): r.value for r in via_prj.df.collect()}
    b = {(r.row, r.col): r.value for r in via_epsg.df.collect()}
    assert a == b and len(a) > 0


def test_parse_wkt_crs_mercator_and_k0_guards():
    """ADVICE r4: (1) WKT1 Mercator over an ellipsoidal SPHEROID without a
    3857 authority (EPSG:3395-style .prj) must REJECT, not silently use the
    spherical closed form (~20-40 km northing error); (2) an lcc CRS with
    scale_factor != 1 (NTF Lambert zone II style) must REJECT."""
    import pytest as _pytest

    _merc = (
        'PROJCS["WGS 84 / World Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",'
        'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
        'UNIT["degree",0.0174532925199433]],PROJECTION["Mercator_1SP"],'
        'PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],'
        'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
        'UNIT["metre",1]{auth}]'
    )
    # ellipsoidal spheroid, no web-mercator authority → loud reject
    with _pytest.raises(NotImplementedError, match="ellipsoidal Mercator"):
        reproject.parse_wkt_crs(_merc.format(auth=',AUTHORITY["EPSG","3395"]'))
    with _pytest.raises(NotImplementedError, match="ellipsoidal Mercator"):
        reproject.parse_wkt_crs(_merc.format(auth=""))
    # the 3857 authority carries the WGS84 spheroid but projects spherical
    fam, p = reproject.parse_wkt_crs(
        _merc.format(auth=',AUTHORITY["EPSG","3857"]')
    )
    assert (fam, p) == ("merc", None)
    # a true sphere (rf == 0) is the spherical form regardless of authority
    fam, p = reproject.parse_wkt_crs(
        _merc.replace('SPHEROID["WGS 84",6378137,298.257223563]',
                      'SPHEROID["Sphere",6378137,0]').format(auth="")
    )
    assert (fam, p) == ("merc", None)
    # Mercator k0 != 1 → reject
    with _pytest.raises(NotImplementedError, match="scale_factor"):
        reproject.parse_wkt_crs(
            _merc.replace('"scale_factor",1', '"scale_factor",0.7')
            .replace("298.257223563", "0").format(auth="")
        )
    # lcc with a 1SP-style k0 != 1 → reject (was silently hundreds of m off)
    ntf = _PRJ_2154.replace(
        'PARAMETER["false_easting"',
        'PARAMETER["scale_factor",0.99987742],PARAMETER["false_easting"',
    )
    with _pytest.raises(NotImplementedError, match="scale_factor"):
        reproject.parse_wkt_crs(ntf)
    # explicit k0 == 1 stays accepted
    ok = _PRJ_2154.replace(
        'PARAMETER["false_easting"',
        'PARAMETER["scale_factor",1.0],PARAMETER["false_easting"',
    )
    fam, p = reproject.parse_wkt_crs(ok)
    assert fam == "lcc" and p == reproject.CONIC_EPSG[2154][1]


def test_to_crs_proj4_string_matches_epsg_path(spark):
    """A PROJ4 LCC string with false easting/northing produces the SAME
    (row, col, value) table as the registered-EPSG path — the offset only
    shifts the grid origin — and UTM/merc strings route to their paths."""
    from pyramids_spark.api import SparkDataset

    g = grid_df(spark, CROP_GRID)
    ds = SparkDataset(g, CROP_GRID)
    fam, p = reproject.CONIC_EPSG[2154]
    s = (f"+proj=lcc +lat_1={p.phi1} +lat_2={p.phi2} +lat_0={p.phi0} "
         f"+lon_0={p.lam0} +x_0={p.x0f} +y_0={p.y0f} +ellps=GRS80")
    via_str = ds.to_crs(s)
    via_epsg = ds.to_crs(2154)
    assert via_str.grid.x0 == via_epsg.grid.x0
    assert via_str.grid.y0 == via_epsg.grid.y0
    a = {(r.row, r.col): r.value for r in via_str.df.collect()}
    b = {(r.row, r.col): r.value for r in via_epsg.df.collect()}
    assert a == b and len(a) > 0
    # dropping the false origin only shifts the grid origin
    no_fo = ds.to_crs(s.replace(f"+x_0={p.x0f} +y_0={p.y0f} ", ""))
    assert via_str.grid.x0 - no_fo.grid.x0 == p.x0f
    assert via_str.grid.y0 - no_fo.grid.y0 == p.y0f
    # routing of the non-conic families
    assert reproject.parse_proj4("+proj=merc +a=6378137") == ("merc", None)
    assert reproject.parse_proj4("+proj=utm +zone=18 +south") == ("utm", 32718)
    assert reproject.parse_proj4("+proj=longlat +datum=WGS84") == ("longlat", None)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        reproject.parse_proj4("+proj=tpeqd +lat_1=0")


def test_crop_window_reference_doctest_contract(spark):
    """FIXTURES.md §4: box [0.1,-0.2,0.2,-0.1] on the 0.05° grid crops to
    cols 2:4 × rows 2:4 with re-origined geotransform."""
    g = grid_df(spark, CROP_GRID)
    out = raster.crop_window(g, CROP_GRID, (0.1, -0.2, 0.2, -0.1)).toPandas()
    assert sorted(zip(out.src_row, out.src_col)) == [(2, 2), (2, 3), (3, 2), (3, 3)]
    assert set(zip(out.row, out.col)) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    # values = row-major 1-based ids of the source window
    vals = {(r.src_row, r.src_col): r.value for _, r in out.iterrows()}
    assert vals[(2, 2)] == 2 * 10 + 2 + 1


def test_crop_polygon_concave_raycast_fallback(spark):
    """Non-convex polygon routes through the ray-cast UDF; result must match
    a numpy centre-inside test + all-nodata trim (touch=True)."""
    from pyramids_spark import cells as pscells

    g = grid_df(spark, CROP_GRID)
    # L-shape (concave, ccw)
    poly = np.array([
        [0.02, -0.48], [0.33, -0.48], [0.33, -0.27], [0.18, -0.27],
        [0.18, -0.07], [0.02, -0.07],
    ])
    out = raster.crop_polygon(g, CROP_GRID, poly, touch=True).toPandas()
    rows, cols = CROP_GRID.rows, CROP_GRID.cols
    xs = CROP_GRID.x0 + (np.tile(np.arange(cols), rows) + 0.5) * CROP_GRID.cell
    ys = CROP_GRID.y0 - (np.repeat(np.arange(rows), cols) + 0.5) * CROP_GRID.cell
    ins = pscells.points_in_polygon(xs, ys, poly).reshape(rows, cols)
    assert ins.sum() > 0 and not ins.all()
    kr, kc = np.nonzero(ins)
    r0, r1, c0, c1 = kr.min(), kr.max(), kc.min(), kc.max()
    assert len(out) == (r1 - r0 + 1) * (c1 - c0 + 1)
    for _, r in out.iterrows():
        sr, sc = int(r.src_row), int(r.src_col)
        assert (r.row, r.col) == (sr - r0, sc - c0)
        if ins[sr, sc]:
            assert r.value == sr * cols + sc + 1
        else:
            assert pd.isna(r.value)


def test_crop_polygon_convex_centre_on_edge_follows_ray_cast(spark):
    """A convex ccw square whose edges run through cell centres: crop keeps
    a centre on its left or bottom edge and drops one on its right or top
    edge — the even-odd ray-cast zonal labels use, the same for every ring.
    The former strict half-plane rule for convex rings
    (``cover_oracles.crop_inside``) dropped every on-edge centre."""
    from cover_oracles import crop_inside

    from pyramids_spark import cells as pscells

    xc, yc = CROP_GRID.x_centers(), CROP_GRID.y_centers()
    sq = np.array([[xc[2], yc[6]], [xc[5], yc[6]], [xc[5], yc[3]], [xc[2], yc[3]]])
    want = {(r, c) for r in range(4, 7) for c in range(2, 5)}
    g = grid_df(spark, CROP_GRID)
    for touch, n in ((True, 9), (False, 16)):
        out = raster.crop_polygon(g, CROP_GRID, sq, touch=touch).toPandas()
        kept = {(int(r.src_row), int(r.src_col)) for r in out.itertuples() if not pd.isna(r.value)}
        assert kept == want and len(out) == n, touch
    ins = pscells.points_in_polygon(np.tile(xc, CROP_GRID.rows), np.repeat(yc, CROP_GRID.cols), sq)
    assert {divmod(int(i), CROP_GRID.cols) for i in np.flatnonzero(ins)} == want
    old = crop_inside(CROP_GRID, sq)
    assert {(int(r), int(c)) for r, c in zip(*np.nonzero(old))} == {(4, 3), (4, 4), (5, 3), (5, 4)}


def test_polygon_ops_build_job_and_plan_audit(spark, build_jobs):
    """zonal_stats_raster and crop_polygon (both touch modes, convex and
    concave rings) build with no Spark job, and their plans hold no Python
    evaluation node: the run table is built on the driver and joined as a
    broadcast side. (pip_join's 0 and pip_join_df's 1 build job are pinned
    by test_pip_build_job_audit.)"""
    from pyramids_spark import synth
    from pyramids_spark.operators import zonal

    g = grid_df(spark, CROP_GRID)
    ell = np.array([[0.02, -0.48], [0.33, -0.48], [0.33, -0.27], [0.18, -0.27],
                    [0.18, -0.07], [0.02, -0.07]])
    zones = [{"zone_id": z["zone_id"], "parts": [p * 0.002 + [0.25, -0.25] for p in z["parts"]]}
             for z in synth.zone_polygons(8, "hex", seed=5)] + [{"zone_id": 99, "parts": [ell]}]
    hexa = zones[0]["parts"][0]
    cases = {
        "zonal_stats_raster": lambda: zonal.zonal_stats_raster(g, CROP_GRID, zones),
        "crop_touch": lambda: raster.crop_polygon(g, CROP_GRID, hexa, touch=True),
        "crop_clip": lambda: raster.crop_polygon(g, CROP_GRID, hexa, touch=False),
        "crop_touch_concave": lambda: raster.crop_polygon(g, CROP_GRID, ell, touch=True),
        "crop_clip_concave": lambda: raster.crop_polygon(g, CROP_GRID, ell, touch=False),
    }
    built = {}
    for name, build in cases.items():
        assert build_jobs(lambda: built.__setitem__(name, build()), f"poly-{name}") == 0, name
    for name, df in built.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not python_nodes(df), (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)
    assert built["zonal_stats_raster"].where("count > 0").count() >= 2


def test_applyinpandas_sites_emit_no_type_hint_warning(spark, tmp_path):
    """Functions handed to applyInPandas annotate both the key and the frame
    (or nothing): annotating only the frame makes PySpark warn that it
    cannot infer the eval type on every call."""
    import warnings

    from pyramids_spark import hdf5
    from pyramids_spark.operators import focal

    g = grid_df(spark, COELLO)
    nc = g.select(F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
                  "row", "col", "value")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        focal.focal_tiles(g, COELLO, r=1, stat="mean", tile=6).count()
        vectorize.cluster(g, COELLO, lo=10.0, hi=90.0, tile=6).count()
        hdf5.write_netcdf4(nc, COELLO, str(tmp_path / "w.nc"), times=[0.0], chunk=(8, 8))
    msgs = [str(w.message) for w in seen]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs


def test_resample_cubic_identity_and_numpy_kernel(spark):
    """Keys kernel is interpolating (W(0)=1, W(±1)=W(±2)=0): resampling to
    the SAME grid must reproduce the input exactly; an offset grid must
    match a numpy implementation of the separable a=-0.5 convolution."""
    src = grid_df(spark, COELLO)
    same = raster.resample_cubic(src, COELLO, COELLO).toPandas()
    orig = src.toPandas()
    m = same.merge(orig, on=["band", "row", "col"], suffixes=("_c", "_o"))
    np.testing.assert_allclose(m.value_c, m.value_o, rtol=0, atol=1e-9)

    dst = COELLO.with_cell(COELLO.cell / 2.0)
    got = raster.resample_cubic(src, COELLO, dst).toPandas()
    vals = (
        orig.sort_values(["row", "col"]).value.to_numpy().reshape(COELLO.rows, COELLO.cols)
    )

    def kw(d):
        d = abs(d)
        return (1.5 * d - 2.5) * d * d + 1.0 if d <= 1 else ((-0.5 * d + 2.5) * d - 4.0) * d + 2.0

    for _, r in got.sample(40, random_state=0).iterrows():
        fxx = (dst.x0 + (r.col + 0.5) * dst.cell - COELLO.x0) / COELLO.cell - 0.5
        fyy = (COELLO.y0 - (dst.y0 - (r.row + 0.5) * dst.cell)) / COELLO.cell - 0.5
        c0, r0 = int(np.floor(fxx)), int(np.floor(fyy))
        tx, ty = fxx - c0, fyy - r0
        acc = 0.0
        for i in (-1, 0, 1, 2):
            for j in (-1, 0, 1, 2):
                sr = min(max(r0 + i, 0), COELLO.rows - 1)
                sc = min(max(c0 + j, 0), COELLO.cols - 1)
                acc += kw(i - ty) * kw(j - tx) * vals[sr, sc]
        assert abs(acc - r.value) < 1e-9, (r.row, r.col)


def test_crop_and_normalize_plans_have_no_single_partition_stage(spark):
    """VERDICT r1 #2: re-origin/extrema must be partial aggs + broadcast,
    never a Window over one partition (SinglePartition exchange) or over a
    whole band — either funnels the full table through one task."""
    g = grid_df(spark, CROP_GRID)
    crop_plan = (
        raster.crop_window(g, CROP_GRID, (0.1, -0.2, 0.2, -0.1))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in crop_plan
    # at most ONE SinglePartition exchange, and only for the 1-row partial-agg
    # reduce (tiny: one row per map task), never for the data stream
    assert crop_plan.count("Exchange SinglePartition") <= 1
    assert "HashAggregate" in crop_plan  # partial agg (map-side combine) path
    assert "BroadcastNestedLoopJoin" in crop_plan or "BroadcastExchange" in crop_plan
    norm_plan = (
        raster.normalize(g)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in norm_plan
    assert "BroadcastHashJoin" in norm_plan


def test_align_preserves_reference_grid_contract(spark):
    src = grid_df(spark, COELLO)
    dst = COELLO.with_cell(6000.0)
    assert (dst.rows, dst.cols) == (9, 9)  # round(52000/6000), round(56000/6000)
    out = raster.align_nearest(src, COELLO, dst).toPandas()
    assert len(out) == 81
    # spot-check: dst cell (0,0) centre = (x0+3000, y0-3000) → src cell (0,0) → value 1
    assert out[(out.row == 0) & (out.col == 0)].value.iloc[0] == 1.0


def test_warp_build_job_and_plan_audit(spark, build_jobs):
    """Building a warp runs no Spark job; the closed-form plans are pure
    codegen and the UTM plan calls its pandas UDF once per Python node.
    mesh_to_grid_nearest runs exactly its documented broadcast probe."""
    from pyramids_spark.api import SparkDataset
    from pyramids_spark.operators import mesh

    src = grid_df(spark, COELLO)
    up = COELLO.with_cell(2000.0)
    geo = SparkDataset(grid_df(spark, CROP_GRID), CROP_GRID)
    france = Grid(x0=2.0, y0=47.0, cell=0.05, rows=20, cols=30)
    fr = SparkDataset(grid_df(spark, france), france)
    levant = Grid(x0=31.0, y0=31.0, cell=0.05, rows=20, cols=40)
    lv = SparkDataset(grid_df(spark, levant), levant)
    _, p = reproject.CONIC_EPSG[2154]
    lcc = (f"+proj=lcc +lat_1={p.phi1} +lat_2={p.phi2} +lat_0={p.phi0} "
           f"+lon_0={p.lam0} +x_0={p.x0f} +y_0={p.y0f} +ellps=GRS80")
    cases = {
        "align_nearest": lambda: raster.align_nearest(src, COELLO, up),
        "resample": lambda: raster.resample(src, COELLO, 2000.0)[0],
        "resample_bilinear": lambda: raster.resample_bilinear(src, COELLO, up),
        "resample_cubic": lambda: raster.resample_cubic(src, COELLO, up),
        "to_crs_3857": lambda: geo.to_crs(3857).df,
        "to_crs_54008": lambda: geo.to_crs(54008).df,
        "to_crs_2154": lambda: fr.to_crs(2154).df,
        "to_crs_proj4_lcc": lambda: fr.to_crs(lcc).df,
        "to_crs_prj": lambda: fr.to_crs(_PRJ_2154).df,
        "to_crs_32636": lambda: lv.to_crs(32636).df,
    }
    built = {}
    for name, build in cases.items():
        n = build_jobs(lambda: built.__setitem__(name, build()), f"warp-{name}")
        assert n == 0, (name, n)
    for name, df in built.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name == "to_crs_32636":
            # both coordinates share one UDF call per node; the second node
            # is the join's inferred isnotnull(src_row, src_col) filter,
            # which Spark pushes below the projection and re-evaluates
            assert python_nodes(df) == {"ArrowEvalPython": 2}, plan
            assert "pythonUDF0" in plan and "pythonUDF1" not in plan, plan
        else:
            assert not python_nodes(df), (name, plan)
    nodes = spark.createDataFrame(
        [(i, COELLO.x0 + 3000.0 * i, COELLO.y0 - 2500.0 * i, float(i)) for i in range(20)],
        "node_id long, x double, y double, data double",
    )
    # the broadcast probe: the limit's shuffle-map stage, then the count
    n = build_jobs(lambda: mesh.mesh_to_grid_nearest(nodes, COELLO), "warp-mesh")
    assert n == 2


def test_to_crs_rejects_projected_source(spark):
    """The closed forms and the UTM series start from EPSG:4326; a projected
    source grid fails loudly instead of reading metres as degrees."""
    from pyramids_spark.api import SparkDataset

    ds = SparkDataset(grid_df(spark, COELLO), COELLO)
    for target in (32636, 3857, "+proj=utm +zone=36", _PRJ_2154):
        with pytest.raises(NotImplementedError, match="FROM 4326"):
            ds.to_crs(target)


def test_media_plumbing_deterministic(spark):
    from pyramids_spark import media

    docs = synth.documents_spans(spark, 50)
    m = media.synth_media(spark, docs)
    f1 = media.decode_features(m).toPandas().sort_values("media_ref").reset_index(drop=True)
    f2 = media.decode_features(m).toPandas().sort_values("media_ref").reset_index(drop=True)
    assert len(f1) > 0
    assert (f1.media_ref == f2.media_ref).all()
    for a, b in zip(f1.feature, f2.feature):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))
    # histograms are probability vectors over FEATURE_DIM bins
    for a in f1.feature:
        assert len(a) == media.FEATURE_DIM
        assert abs(float(np.sum(a)) - 1.0) < 1e-3


def test_codecs_roundtrip_and_sniff():
    """Pure-numpy PGM/PPM/BMP/WAV codecs: encode→decode is exact;
    entropy-coded formats raise the documented NotImplementedError."""
    from pyramids_spark import codecs

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(13, 17), dtype=np.int64).astype(np.uint8)
    np.testing.assert_array_equal(codecs.decode_pgm(codecs.encode_pgm(gray)), gray)
    rgb = rng.integers(0, 256, size=(9, 11, 3), dtype=np.int64).astype(np.uint8)
    np.testing.assert_array_equal(codecs.decode_ppm(codecs.encode_ppm(rgb)), rgb)
    np.testing.assert_array_equal(codecs.decode_bmp(codecs.encode_bmp(rgb)), rgb)
    samples = rng.integers(-2**15, 2**15, size=1600, dtype=np.int64).astype(np.int16)
    dec, rate = codecs.decode_wav(codecs.encode_wav(samples, 8000))
    assert rate == 8000
    np.testing.assert_array_equal(dec[:, 0], samples)
    assert codecs.sniff(codecs.encode_pgm(gray)) == "pgm"
    assert codecs.sniff(b"\xff\xd8\xff\xe0JFIF") == "jpeg"  # round 5: real
    # real decode feature oracle: histogram of the luma equals numpy's
    img = codecs.decode_image(codecs.encode_ppm(rgb))
    assert img.shape == (9, 11)
    rs = codecs.resize_nearest(gray, 5, 4)
    assert rs.shape == (4, 5) and rs.dtype == np.uint8


def test_media_real_decode_and_frame_extract(spark):
    """Real payloads: decode_features histograms match a local numpy
    oracle per ref; frame_extract walks the concatenated-PGM video stream
    and returns decodable frames with the right count."""
    from pyramids_spark import codecs, media

    docs = synth.documents_spans(spark, 60)
    m = media.synth_media(spark, docs).persist()
    rows = m.collect()
    feats = {r["media_ref"]: r["feature"] for r in media.decode_features(m).collect()}
    assert len(feats) == len(rows) > 0
    n_img = 0
    seen_kinds = set()
    for r in rows:
        if r["kind"] == "image":
            # the corpus rotates PGM / gray PNG / RGB PNG containers
            seen_kinds.add(codecs.sniff(bytes(r["payload"])))
            img = codecs.decode_image(bytes(r["payload"]))
            hist, _ = np.histogram(img, bins=media.FEATURE_DIM, range=(0, 256))
            np.testing.assert_allclose(
                np.asarray(feats[r["media_ref"]]), hist / img.size, rtol=1e-6
            )
            n_img += 1
    assert n_img > 0 and "png" in seen_kinds
    fx = media.frame_extract(m, every_n=2).toPandas()
    meta = m.where("kind = 'video'").select("media_ref", "n_frames").toPandas()
    if len(meta):
        exp = {r.media_ref: (int(r.n_frames) + 1) // 2 for _, r in meta.iterrows()}
        got = fx.groupby("media_ref").size().to_dict()
        assert got == exp
        fr = fx.iloc[0]
        img = codecs.decode_pgm(bytes(fr.frame))
        assert img.shape == (fr.height, fr.width)
    m.unpersist()


def test_frame_sample_counts(spark):
    from pyramids_spark import media

    docs = synth.documents_spans(spark, 100)
    m = media.synth_media(spark, docs)
    fs = media.frame_sample(m, every_n=10).toPandas()
    meta = m.where("kind = 'video'").select("media_ref", "n_frames").toPandas()
    exp = {r.media_ref: (int(r.n_frames) + 9) // 10 for _, r in meta.iterrows()}
    got = fs.groupby("media_ref").size().to_dict()
    assert got == exp


def test_zone_label_cells_distributed_equals_driver(spark):
    """The distributed labels (driver-built run table, broadcast and joined
    on row with col BETWEEN c0 AND c1) must produce bit-identical
    (row, col, zone_id) rows to the per-cell driver meshgrid oracle
    (``cover_oracles.zone_label_cells``: bbox cells × ray-cast, first zone
    wins); the third case has overlapping zones and overlapping parts."""
    from cover_oracles import zone_label_cells

    from pyramids_spark import synth
    from pyramids_spark.grid import COELLO
    from pyramids_spark.operators import zonal

    zones = synth.zone_polygons(12, "box", seed=7)
    # box zones are in geo space; scale them into the coello grid extent
    for z in zones:
        z["parts"] = [
            np.stack([
                COELLO.x0 + (p[:, 0] + 180.0) * 150.0,
                COELLO.y0 - (p[:, 1] + 90.0) * 280.0,
            ], axis=1)
            for p in z["parts"]
        ]
    # a zone with more than 1000 parts: part 1000 of zone 0 must not be
    # confused with part 0 of zone 1
    wide = Grid(x0=0.0, y0=100.0, cell=1.0, rows=100, cols=2100)
    sq = lambda x0, y0, x1, y1: np.array(  # noqa: E731
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    )
    many = [
        {"zone_id": 0, "parts": [sq(c + 0.25, 99.25, c + 0.75, 99.75) for c in range(1001)]},
        {"zone_id": 1, "parts": [sq(50.1, 45.1, 54.9, 49.9)]},
    ]
    # overlapping zones (listed out of id order; lowest id wins) and a zone
    # whose two parts overlap each other and a concave L-shape
    ell = np.array([[0.02, -0.48], [0.33, -0.48], [0.33, -0.27], [0.18, -0.27],
                    [0.18, -0.07], [0.02, -0.07]])
    over = [
        {"zone_id": 3, "parts": [sq(0.1, -0.9, 0.4, -0.1)]},
        {"zone_id": 1, "parts": [sq(0.25, -0.45, 0.45, -0.05)]},
        {"zone_id": 2, "parts": [ell, np.array([[0.3, -0.3], [0.49, -0.3], [0.49, -0.01]]),
                                 sq(0.05, -0.2, 0.15, -0.1)]},
    ]
    for zs, grid, n in ((zones, COELLO, None), (many, wide, 1026), (over, CROP_GRID, None)):
        a = zone_label_cells(zs, grid)
        got_a = {(int(r.row), int(r.col)): int(r.zone_id) for _, r in a.iterrows()}
        b = zonal.zone_labels(grid_df(spark, grid), grid, zs).where("zone_id IS NOT NULL").collect()
        got_b = {(r["row"], r["col"]): r["zone_id"] for r in b}
        assert got_a == got_b and len(got_a) > 0
        assert n is None or len(got_b) == n
    assert set(got_b.values()) == {1, 2, 3}  # every overlapping zone wins somewhere


_WKT2_2154 = (
    'PROJCRS["RGF93 v1 / Lambert-93",BASEGEOGCRS["RGF93 v1",DATUM['
    '"Reseau Geodesique Francais 1993 v1",ELLIPSOID["GRS 1980",6378137,'
    '298.257222101,LENGTHUNIT["metre",1]]],PRIMEM["Greenwich",0,'
    'ANGLEUNIT["degree",0.0174532925199433]],ID["EPSG",4171]],'
    'CONVERSION["Lambert-93",METHOD["Lambert Conic Conformal (2SP)",'
    'ID["EPSG",9802]],PARAMETER["Latitude of false origin",46.5,'
    'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8821]],'
    'PARAMETER["Longitude of false origin",3,ANGLEUNIT["degree",'
    '0.0174532925199433],ID["EPSG",8822]],PARAMETER['
    '"Latitude of 1st standard parallel",49,ANGLEUNIT["degree",'
    '0.0174532925199433],ID["EPSG",8823]],PARAMETER['
    '"Latitude of 2nd standard parallel",44,ANGLEUNIT["degree",'
    '0.0174532925199433],ID["EPSG",8824]],PARAMETER['
    '"Easting at false origin",700000,LENGTHUNIT["metre",1],'
    'ID["EPSG",8826]],PARAMETER["Northing at false origin",6600000,'
    'LENGTHUNIT["metre",1],ID["EPSG",8827]]],CS[Cartesian,2],'
    'AXIS["easting (X)",east],AXIS["northing (Y)",north],'
    'LENGTHUNIT["metre",1],ID["EPSG",2154]]'
)
_WKT2_32618 = (
    'PROJCRS["WGS 84 / UTM zone 18N",BASEGEOGCRS["WGS 84",DATUM['
    '"World Geodetic System 1984",ELLIPSOID["WGS 84",6378137,'
    '298.257223563]],ID["EPSG",4326]],CONVERSION["UTM zone 18N",'
    'METHOD["Transverse Mercator",ID["EPSG",9807]],'
    'PARAMETER["Latitude of natural origin",0],'
    'PARAMETER["Longitude of natural origin",-75],'
    'PARAMETER["Scale factor at natural origin",0.9996],'
    'PARAMETER["False easting",500000],PARAMETER["False northing",0]],'
    'CS[Cartesian,2],ID["EPSG",32618]]'
)


def test_parse_wkt2_crs_strings(spark):
    """WKT2 (ISO 19162) PROJCRS strings — METHOD/ELLIPSOID/human-readable
    PARAMETER names/ID — map onto the same dispatch as WKT1."""
    fam, p = reproject.parse_wkt_crs(_WKT2_2154)
    _, reg = reproject.CONIC_EPSG[2154]
    assert fam == "lcc" and p == reg
    fam, epsg = reproject.parse_wkt_crs(_WKT2_32618)
    assert (fam, epsg) == ("utm", 32618)
    assert reproject.get_epsg_from_prj(_WKT2_2154) == 2154
    assert reproject.get_epsg_from_prj(_WKT2_32618) == 32618
    assert reproject.parse_wkt_crs('GEOGCRS["WGS 84",ID["EPSG",4326]]') == (
        "longlat", None
    )
    # WKT2 text through the facade == registered-EPSG path
    from pyramids_spark.api import SparkDataset

    g = grid_df(spark, CROP_GRID)
    via_wkt2 = SparkDataset(g, CROP_GRID).to_crs(_WKT2_2154)
    via_epsg = SparkDataset(g, CROP_GRID).to_crs(2154)
    assert via_wkt2.grid.epsg == 2154  # WKT authority carried onto the grid
    a = {(r.row, r.col): r.value for r in via_wkt2.df.collect()}
    b = {(r.row, r.col): r.value for r in via_epsg.df.collect()}
    assert a == b and len(a) > 0


def test_parse_wkt2_guards():
    """Review-pass-3 guards: ellipsoidal Mercator and foreign units REJECT
    instead of silently collapsing; pseudo-mercator and GEODCRS accepted;
    nested parameter IDs are not mistaken for the CRS authority."""
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):  # EPSG:3395-style ellipsoidal
        reproject.parse_wkt_crs(
            'PROJCRS["WGS 84 / World Mercator",BASEGEOGCRS["WGS 84",DATUM["W",'
            'ELLIPSOID["WGS 84",6378137,298.257223563]]],CONVERSION["M",'
            'METHOD["Mercator (variant A)"],PARAMETER["Latitude of natural origin",0],'
            'PARAMETER["Scale factor at natural origin",1]],ID["EPSG",3395]]'
        )
    with _pytest.raises(NotImplementedError):  # survey-feet state plane
        reproject.parse_wkt_crs(
            _WKT2_2154.replace('LENGTHUNIT["metre",1],ID["EPSG",8826]',
                               'LENGTHUNIT["US survey foot",0.3048],ID["EPSG",8826]')
        )
    fam, _ = reproject.parse_wkt_crs(
        'PROJCRS["WGS 84 / Pseudo-Mercator",BASEGEOGCRS["WGS 84",DATUM["W",'
        'ELLIPSOID["WGS 84",6378137,298.257223563]]],CONVERSION["PM",'
        'METHOD["Popular Visualisation Pseudo Mercator"],'
        'PARAMETER["Longitude of natural origin",0]],ID["EPSG",3857]]'
    )
    assert fam == "merc"
    assert reproject.parse_wkt_crs('GEODCRS["WGS 84",ID["EPSG",4326]]') == (
        "longlat", None
    )
    # a PROJCRS with its top-level ID stripped still has parameter IDs —
    # they must not be reported as the CRS authority
    stripped = _WKT2_2154[: _WKT2_2154.rfind(',ID["EPSG",2154]')] + "]"
    assert reproject.get_epsg_from_prj(stripped) is None
    # versioned top-level ID parses
    assert reproject.get_epsg_from_prj(
        _WKT2_2154.replace('ID["EPSG",2154]]', 'ID["EPSG",2154,9.9]]')
    ) == 2154


def test_png_codec_roundtrip_filters_and_media_corpus(spark):
    """VERDICT r4 #6: PNG decode — encode/decode round trips (gray + RGB),
    every filter type decodes (hand-filtered fixture), palette PNG resolves
    via PLTE, 16-bit/Adam7 reject loudly; media_features runs over a corpus
    that now CONTAINS real PNGs."""
    import struct as _struct
    import zlib as _zlib

    from pyramids_spark import codecs as C
    from pyramids_spark import media, synth

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (21, 17), dtype=np.uint8)
    rgb = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(g)), g)
    assert np.array_equal(C.decode_png(C.encode_png(rgb)), rgb)
    assert C.sniff(C.encode_png(g)) == "png"
    assert C.decode_image(C.encode_png(g)).dtype == np.uint8

    def chunk(tag, body):
        return (_struct.pack(">I", len(body)) + tag + body
                + _struct.pack(">I", _zlib.crc32(tag + body)))

    # every filter type on one image (computed filtered lines by the spec)
    img = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    h, w, bpp = img.shape
    flat = img.reshape(h, w * bpp).astype(np.int32)
    lines = bytearray()
    for r, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(w * bpp, np.int32)
        filt = np.zeros(w * bpp, np.int32)
        for x in range(w * bpp):
            a = cur[x - bpp] if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            pred = (0 if f == 0 else a if f == 1 else b if f == 2
                    else (a + b) // 2 if f == 3 else 0)
            if f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(f)
        lines += bytes(filt.astype(np.uint8))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", _zlib.compress(bytes(lines)))
           + chunk(b"IEND", b""))
    assert np.array_equal(C.decode_png(png), img)

    # 16-bit gray decodes to uint16; decode_image reduces to the high byte
    v16 = np.array([[1000, 2000], [40000, 65535]], dtype=np.uint16)
    lines16 = b"".join(
        b"\x00" + v16[r].astype(">u2").tobytes() for r in range(2)
    )
    png16 = (b"\x89PNG\r\n\x1a\n"
             + chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
             + chunk(b"IDAT", _zlib.compress(lines16))
             + chunk(b"IEND", b""))
    got16 = C.decode_png(png16)
    assert got16.dtype == np.uint16 and np.array_equal(got16, v16)
    assert np.array_equal(C.decode_image(png16), (v16 >> 8).astype(np.uint8))

    # the synthesized corpus contains real PNGs and features decode
    docs = synth.documents_spans(spark, 120)
    m = media.synth_media(spark, docs)
    kinds = [
        codecs_kind for codecs_kind in (
            m.where(F.col("kind") == "image")
            .select("payload").toPandas()["payload"]
            .map(lambda p: C.sniff(bytes(p))).tolist()
        )
    ]
    assert "png" in kinds and "pgm" in kinds
    f = media.decode_features(m)
    assert f.count() == m.count()


def test_ascii_grid_roundtrip_and_guards(spark, tmp_path):
    """VERDICT r4 #8: Esri ASCII grid driver — bit-exact header/value
    round trip (.17g), empty rows materialize as nodata lines, multiband
    and out-of-extent rows reject loudly."""
    from pyramids_spark.api import SparkDataset

    p = str(tmp_path / "a.asc")
    ds = SparkDataset(
        grid_df(spark, COELLO).where("NOT (row = 2)"), COELLO  # a hole row
    )
    ds.to_ascii_grid(p)
    txt = open(p).read().splitlines()
    assert txt[0] == "ncols 14" and txt[1] == "nrows 13"
    assert txt[5].startswith("NODATA_value -9999")
    assert len(txt) == 6 + 13
    assert txt[6 + 2] == " ".join(["-9999"] * 14)  # the hole row
    back = SparkDataset.from_ascii_grid(spark, p, epsg=32618)
    assert back.grid == COELLO
    a = {(r.row, r.col): r.value for r in ds.df.collect()}
    b = {(r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) == 12 * 14

    two_band = SparkDataset(grid_df(spark, COELLO, bands=2), COELLO)
    with pytest.raises(ValueError, match="single-band"):
        two_band.to_ascii_grid(str(tmp_path / "b.asc"))


def test_ascii_grid_job_audit(spark, tmp_path, build_jobs):
    """``to_ascii_grid`` range-partitions on row before its row builder,
    so rows come back in order with no sort after the UDF: the range
    sampler, the shuffle and the streamed rows — an ``orderBy`` after the
    UDF would add a sampler job that builds every line again, and the
    single-band guard runs inside the row builder, not as a probe job."""
    from pyramids_spark.api import SparkDataset

    ds = SparkDataset(grid_df(spark, COELLO).where("NOT (row = 2)"), COELLO)
    assert build_jobs(lambda: ds.to_ascii_grid(str(tmp_path / "j.asc")),
                      "ascii") == 3


def _png_file(w, h, depth, ctype, interlace, idat, plte=None):
    import struct as _struct
    import zlib as _zlib

    def chunk(tag, body):
        return (_struct.pack(">I", len(body)) + tag + body
                + _struct.pack(">I", _zlib.crc32(tag + body)))

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", _struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return out + chunk(b"IDAT", _zlib.compress(idat)) + chunk(b"IEND", b"")


def _png_scanlines(img, depth):
    """(h, w, c) samples → filter-0 scanlines, MSB-first packed per row."""
    h = img.shape[0]
    out = bytearray()
    for r in range(h):
        if depth == 8:
            rb = img[r].astype(np.uint8).tobytes()
        elif depth == 16:
            rb = img[r].astype(">u2").tobytes()
        else:  # sub-byte: pack `depth` LSBs of each sample, MSB-first
            s = img[r].reshape(-1).astype(np.uint8)
            bits = np.unpackbits(s[:, None], axis=1)[:, 8 - depth:]
            rb = np.packbits(bits.reshape(-1)).tobytes()
        out += b"\x00" + rb
    return bytes(out)


def test_png_adam7_interlace():
    """Adam7 = 7 independently filtered sub-images on the spec's 8×8
    lattice; decode must reassemble the original exactly (sizes chosen so
    some passes are empty and sub-rows hit per-pass byte padding)."""
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(11)
    for shape, ctype in [((10, 11, 3), 2), ((9, 5, 1), 0), ((3, 2, 1), 0)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        passes = bytearray()
        for x0, y0, dx, dy in C._ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size:
                passes += _png_scanlines(sub, 8)
        png = _png_file(shape[1], shape[0], 8, ctype, 1, bytes(passes))
        want = img[:, :, 0] if ctype == 0 else img
        assert np.array_equal(C.decode_png(png), want)


def test_png_subbyte_depths_and_palette():
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(12)
    # 4-bit gray: samples 0..15 rescale ×17 to the full 8-bit range
    g4 = rng.integers(0, 16, (7, 5), dtype=np.uint8)
    png = _png_file(5, 7, 4, 0, 0, _png_scanlines(g4[:, :, None], 4))
    assert np.array_equal(C.decode_png(png), g4 * 17)
    # 1-bit gray → {0, 255}
    g1 = rng.integers(0, 2, (4, 11), dtype=np.uint8)
    png = _png_file(11, 4, 1, 0, 0, _png_scanlines(g1[:, :, None], 1))
    assert np.array_equal(C.decode_png(png), g1 * 255)
    # 2-bit palette: indices resolve through PLTE, no gray rescale
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                    dtype=np.uint8)
    idx = rng.integers(0, 4, (6, 9), dtype=np.uint8)
    png = _png_file(9, 6, 2, 3, 0, _png_scanlines(idx[:, :, None], 2),
                    plte=plte)
    assert np.array_equal(C.decode_png(png), plte[idx])
    # invalid: sub-byte RGB is not a legal PNG combination
    import pytest as _pytest

    bad = _png_file(2, 2, 4, 2, 0, b"\x00\x00\x00")
    with _pytest.raises(ValueError, match="invalid PNG depth"):
        C.decode_png(bad)


def test_png_adam7_16bit_rgb():
    """16-bit + Adam7 together: the filter unit is 6 bytes/pixel and every
    pass carries big-endian u16 samples."""
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(13)
    img = rng.integers(0, 65536, (6, 7, 3), dtype=np.uint16)
    passes = bytearray()
    for x0, y0, dx, dy in C._ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size:
            passes += _png_scanlines(sub, 16)
    png = _png_file(7, 6, 16, 2, 1, bytes(passes))
    got = C.decode_png(png)
    assert got.dtype == np.uint16 and np.array_equal(got, img)


def test_wav_wild_sample_formats():
    """PCM 8/24/32, IEEE float32/64, and WAVE_FORMAT_EXTENSIBLE all
    normalize to the engine's (n, ch) int16 contract."""
    import struct as _struct

    from pyramids_spark import codecs as C

    def wav(fmtc, bits, payload, ch=1, rate=8000, extensible=False):
        if extensible:
            sub = _struct.pack("<H", fmtc) + b"\x00\x00" + b"\x10\x00\x80" \
                + b"\x00\x00\xaa\x00\x38\x9b\x71"
            fmt = _struct.pack("<HHIIHHHHI", 0xFFFE, ch, rate,
                               rate * ch * bits // 8, ch * bits // 8, bits,
                               22, bits, 0) + sub
        else:
            fmt = _struct.pack("<HHIIHH", fmtc, ch, rate,
                               rate * ch * bits // 8, ch * bits // 8, bits)
        body = (b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + (b"\x00" if len(fmt) % 2 else b"")
                + b"data" + _struct.pack("<I", len(payload)) + payload)
        return b"RIFF" + _struct.pack("<I", len(body)) + body

    # 8-bit unsigned PCM: 128 → 0, 255 → 32512, 0 → -32768
    s, r = C.decode_wav(wav(1, 8, bytes([128, 255, 0])))
    assert r == 8000 and s[:, 0].tolist() == [0, (255 - 128) << 8, -32768]
    # 24-bit PCM: top 16 bits, sign-extended
    pay = b"".join(_struct.pack("<i", v)[:3] for v in
                   [0x123456, -0x123456, 0x7FFFFF, -0x800000])
    s, _ = C.decode_wav(wav(1, 24, pay))
    assert s[:, 0].tolist() == [0x1234, -0x123456 >> 8, 0x7FFF, -0x8000]
    # 32-bit PCM
    s, _ = C.decode_wav(wav(1, 32, _struct.pack("<2i", 1 << 30, -(1 << 30))))
    assert s[:, 0].tolist() == [1 << 14, -(1 << 14)]
    # float32 stereo, clipped
    f = np.array([0.5, -0.5, 1.5, -1.5], "<f4")
    s, _ = C.decode_wav(wav(3, 32, f.tobytes(), ch=2))
    assert s.shape == (2, 2)
    assert s.reshape(-1).tolist() == [16384, -16384, 32767, -32768]
    # float64 via EXTENSIBLE wrapper
    f = np.array([0.25], "<f8")
    s, _ = C.decode_wav(wav(3, 64, f.tobytes(), extensible=True))
    assert s[0, 0] == 8192
    # a genuinely foreign format tag (MP3-in-WAV) rejects
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="WAV format"):
        C.decode_wav(wav(0x55, 0, b"\x00\x00"))


def test_bmp_wild_variants():
    """8-bit palette, 32-bit BI_RGB/BI_BITFIELDS (alpha dropped), and
    top-down (negative height) BMPs decode."""
    import struct as _struct

    from pyramids_spark import codecs as C

    rng = np.random.default_rng(9)

    def bmp(w, h, bpp, pixel_rows, comp=0, palette=b"", masks=b""):
        hdr_sz = 40
        off = 14 + hdr_sz + len(masks) + len(palette)
        body = b"".join(pixel_rows)
        head = (b"BM" + _struct.pack("<IHHI", off + len(body), 0, 0, off)
                + _struct.pack("<IiiHHI", hdr_sz, w, h, 1, bpp, comp)
                + _struct.pack("<IIIII", len(body), 0, 0,
                               len(palette) // 4, 0))
        return head + masks + palette + body

    # 8-bit palette, bottom-up, stride padding (w=5 → stride 8)
    idx = rng.integers(0, 4, (3, 5), dtype=np.uint8)
    pal_rgb = np.array([[10, 20, 30], [200, 0, 0], [0, 200, 0], [7, 8, 9]],
                       np.uint8)
    palette = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in pal_rgb)
    prows = [idx[r].tobytes() + b"\x00" * 3 for r in range(2, -1, -1)]
    got = C.decode_bmp(bmp(5, 3, 8, prows, palette=palette))
    np.testing.assert_array_equal(got, pal_rgb[idx])
    # 32-bit BI_RGB top-down (negative h): BGRA in, alpha dropped
    rgba = rng.integers(0, 256, (2, 3, 4), dtype=np.uint8)
    prows = [rgba[r, :, [2, 1, 0, 3]].T.tobytes() for r in range(2)]
    got = C.decode_bmp(bmp(3, -2, 32, prows))
    np.testing.assert_array_equal(got, rgba[:, :, :3])
    # 32-bit BI_BITFIELDS with the standard masks
    masks = _struct.pack("<3I", 0x00FF0000, 0x0000FF00, 0x000000FF)
    got = C.decode_bmp(bmp(3, -2, 32, prows, comp=3, masks=masks))
    np.testing.assert_array_equal(got, rgba[:, :, :3])
    # JPEG-compressed DIB still rejects
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="compression"):
        C.decode_bmp(bmp(2, 2, 24, [b"\x00" * 8], comp=4))


def test_bmp_rle_and_16bit():
    """BI_RLE8/BI_RLE4 streams (encoded runs, absolute word-aligned runs,
    EOL/EOB escapes, nibble alternation) and 16-bit 555/565 pixels decode
    against hand-built payloads."""
    import struct as _struct

    from pyramids_spark import codecs as C

    def bmp(w, h, bpp, body, comp=0, palette=b"", masks=b""):
        off = 54 + len(masks) + len(palette)
        head = (b"BM" + _struct.pack("<IHHI", off + len(body), 0, 0, off)
                + _struct.pack("<IiiHHI", 40, w, h, 1, bpp, comp)
                + _struct.pack("<IIIII", len(body), 0, 0,
                               len(palette) // 4, 0))
        return head + masks + palette + body

    pal_rgb = np.array([[10, 20, 30], [200, 0, 0], [0, 200, 0], [7, 8, 9]],
                       np.uint8)
    palette = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in pal_rgb)
    # RLE8, 6x3 bottom-up: runs + absolute run (padded) + EOL + EOB
    stream = (b"\x03\x01" + b"\x00\x03\x02\x03\x02\x00" + b"\x00\x00"
              + b"\x02\x02" + b"\x00\x00"
              + b"\x06\x03" + b"\x00\x01")
    idx = np.array([[3, 3, 3, 3, 3, 3],
                    [2, 2, 0, 0, 0, 0],
                    [1, 1, 1, 2, 3, 2]], np.uint8)  # display order
    got = C.decode_bmp(bmp(6, 3, 8, stream, comp=1, palette=palette))
    np.testing.assert_array_equal(got, pal_rgb[idx])
    # RLE4, 5x2: nibble-alternating run, absolute nibble run, short run
    stream = (b"\x05\x12" + b"\x00\x00"
              + b"\x00\x03\x12\x30" + b"\x02\x01" + b"\x00\x01")
    idx = np.array([[1, 2, 3, 0, 1],
                    [1, 2, 1, 2, 1]], np.uint8)
    got = C.decode_bmp(bmp(5, 2, 4, stream, comp=2, palette=palette))
    np.testing.assert_array_equal(got, pal_rgb[idx])
    # plain (non-RLE) 4-bit palette rows, w=3 → nibble tail + stride pad
    rows = b"\x12\x30" + b"\x00\x00" + b"\x03\x10" + b"\x00\x00"
    got = C.decode_bmp(bmp(3, -2, 4, rows, palette=palette))
    np.testing.assert_array_equal(
        got, pal_rgb[np.array([[1, 2, 3], [0, 3, 1]])])
    # 16-bit BI_RGB defaults to 555: magenta + pure green, stride pad
    px = _struct.pack("<2H", 0x7C1F, 0x03E0)
    got = C.decode_bmp(bmp(2, -1, 16, px))
    np.testing.assert_array_equal(
        got, np.array([[[255, 0, 255], [0, 255, 0]]], np.uint8))
    # 16-bit BI_BITFIELDS 565: yellow, mid-gray-ish channel expansion
    masks = _struct.pack("<3I", 0xF800, 0x07E0, 0x001F)
    px = _struct.pack("<2H", 0xFFE0, (16 << 11) | (32 << 5) | 16)
    got = C.decode_bmp(bmp(2, -1, 16, px, comp=3, masks=masks))
    exp = np.array([[[255, 255, 0],
                     [(16 << 3) | (16 >> 2), (32 << 2) | (32 >> 4),
                      (16 << 3) | (16 >> 2)]]], np.uint8)
    np.testing.assert_array_equal(got, exp)
    # foreign 16-bit masks reject loudly
    import pytest as _pytest

    bad = _struct.pack("<3I", 0x0F00, 0x00F0, 0x000F)
    with _pytest.raises(NotImplementedError, match="masks"):
        C.decode_bmp(bmp(1, 1, 16, b"\x00\x00\x00\x00", comp=3, masks=bad))
    # RLE8 writer round trip: runs > 255 split, luma reduction is identity
    rng = np.random.default_rng(3)
    gray = rng.integers(0, 5, (4, 300), dtype=np.uint8) * 60
    gray[1, :] = 42  # one full constant row → a 255 + 45 run pair
    blob = C.encode_bmp_rle8(gray)
    assert blob[30] == 1  # BI_RLE8
    np.testing.assert_array_equal(C.decode_image(blob), gray)


def test_pnm_16bit_maxval():
    """netpbm maxval > 255 = two-byte big-endian samples; decode_image
    reduces to the high byte."""
    from pyramids_spark import codecs as C

    v = np.array([[256, 65535], [0, 4660]], dtype=np.uint16)
    pgm = b"P5\n2 2\n65535\n" + v.astype(">u2").tobytes()
    got = C.decode_pgm(pgm)
    assert got.dtype == np.uint16 and np.array_equal(got, v)
    assert np.array_equal(C.decode_image(pgm), (v >> 8).astype(np.uint8))
    rgb = np.stack([v, v // 2, v * 0], axis=-1).astype(np.uint16)
    ppm = b"P6\n2 2\n65535\n" + rgb.astype(">u2").tobytes()
    got = C.decode_ppm(ppm)
    assert got.dtype == np.uint16 and np.array_equal(got, rgb)
    assert C.decode_image(ppm).dtype == np.uint8


def _gif_lzw_encode(min_code, seq):
    """Reference GIF-LZW encoder for fixtures: LSB-first, variable width,
    growth in lockstep with the decoder's len(table)+2 rule."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    bits = []

    def emit(code, w):
        for k in range(w):
            bits.append((code >> k) & 1)

    table = {(i,): i for i in range(clear)}
    nxt = eoi + 1
    width = min_code + 1
    emit(clear, width)
    prev = ()
    for px in seq:
        cand = prev + (int(px),)
        if cand in table:
            prev = cand
            continue
        emit(table[prev], width)
        if nxt <= 4095:  # table full → deferred clear: emit frozen codes
            table[cand] = nxt
            nxt += 1
            if nxt >= (1 << width) and width < 12:
                width += 1
        prev = (int(px),)
    if prev:
        emit(table[prev], width)
    emit(eoi, width)
    arr = np.zeros((len(bits) + 7) // 8 * 8, np.uint8)
    arr[: len(bits)] = bits
    return np.packbits(arr.reshape(-1, 8), axis=1, bitorder="little").tobytes()


def _gif_file(sw, sh, palette, idx, x0=0, y0=0, interlace=False, bg=0,
              min_code=None):
    import struct as _struct

    h, w = idx.shape
    mc = min_code or max(2, int(np.ceil(np.log2(len(palette)))))
    gct_bits = int(np.ceil(np.log2(len(palette)))) - 1
    pal = np.zeros((2 << gct_bits, 3), np.uint8)
    pal[: len(palette)] = palette
    seq = idx.copy()
    if interlace:
        rows = []
        for start, step in [(0, 8), (4, 8), (2, 4), (1, 2)]:
            rows += list(range(start, h, step))
        seq = idx[rows]
    data = _gif_lzw_encode(mc, seq.reshape(-1))
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", sw, sh, 0x80 | gct_bits, bg, 0)
    out += pal.tobytes()
    out += b"\x21\xfe\x03abc\x00"  # a comment extension to skip
    out += b"\x2c" + _struct.pack("<HHHHB", x0, y0, w, h,
                                  0x40 if interlace else 0)
    out += bytes([mc])
    for k in range(0, len(data), 255):
        chunk = data[k:k + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_palette_offset_interlace():
    """GIF87a/89a: variable-width LSB-first LZW (real table growth),
    palette resolve, frame offset onto the logical screen with the
    background color, interlaced row order, extension skipping."""
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(17)
    pal = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250], [40, 40, 40],
                    [1, 2, 3], [9, 9, 9]], np.uint8)
    idx = rng.integers(0, 6, (4, 5), dtype=np.uint8)
    gif = _gif_file(7, 6, pal, idx, x0=1, y0=2, bg=3)
    assert C.sniff(gif) == "gif"
    got = C.decode_gif(gif)
    assert got.shape == (6, 7, 3)
    exp = np.zeros((6, 7), np.uint8) + 3
    exp[2:6, 1:6] = idx
    np.testing.assert_array_equal(got, pal[exp])
    assert C.decode_image(gif).shape == (6, 7)  # luma path dispatches
    # interlaced full-screen frame, enough rows for all four passes
    idx = rng.integers(0, 6, (10, 4), dtype=np.uint8)
    got = C.decode_gif(_gif_file(4, 10, pal, idx, interlace=True))
    np.testing.assert_array_equal(got, pal[idx])
    # a long constant run forces multi-symbol table strings + width growth
    idx = np.tile(np.arange(6, dtype=np.uint8), 60).reshape(12, 30) % 6
    idx[5:] = 2
    got = C.decode_gif(_gif_file(30, 12, pal, idx))
    np.testing.assert_array_equal(got, pal[idx])


def test_gif_lzw_width_growth_stress():
    """Push the code width through several growths (8→11 bits) with a
    256-color palette and random + runny content; decode(encode(x)) == x
    for the raw LZW pair too."""
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (40, 40), dtype=np.uint8)
    idx[10:20] = 7  # long runs build multi-char strings
    got = C.decode_gif(_gif_file(40, 40, pal, idx, min_code=8))
    np.testing.assert_array_equal(got, pal[idx])
    for n in (1, 2, 3, 500, 5000):
        seq = rng.integers(0, 16, n, dtype=np.uint8)
        enc = _gif_lzw_encode(4, seq)
        np.testing.assert_array_equal(
            C._gif_lzw_decode(4, enc, n), seq
        )


def test_gif_local_table_background_and_4095_entry():
    """Regressions from review: the background color resolves through the
    GLOBAL table even when the frame carries a LOCAL one; entry slot 4095
    (the table-full deferred-clear boundary) is still built."""
    import struct as _struct

    from pyramids_spark import codecs as C

    gct = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3], [255, 255, 255]],
                   np.uint8)
    lct = np.array([[7, 7, 7], [8, 8, 8], [9, 9, 9], [10, 10, 10]],
                   np.uint8)
    data = _gif_lzw_encode(2, [0])
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 2, 2, 0x81, 3, 0)  # global table, bg=3
    out += gct.tobytes()
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, 1, 1, 0x81)  # local table
    out += lct.tobytes() + bytes([2])
    out += bytes([len(data)]) + data + b"\x00\x3b"
    got = C.decode_gif(bytes(out))
    assert tuple(got[0, 0]) == (7, 7, 7)      # frame px via LOCAL table
    assert tuple(got[1, 1]) == (255, 255, 255)  # background via GLOBAL
    # slot 4095: a sequence long enough that the encoder assigns the last
    # legal code and then REFERENCES entries near the cap
    rng = np.random.default_rng(29)
    seq = rng.integers(0, 250, 30000, dtype=np.uint8)
    enc = _gif_lzw_encode(8, seq)
    np.testing.assert_array_equal(C._gif_lzw_decode(8, enc, 30000), seq)


def test_shp_write_prj_removes_stale_sidecar(tmp_path):
    from pyramids_spark import shp as S

    base = str(tmp_path / "a.shp")
    assert S.write_prj(base, 4326) is True
    assert S.read_prj(base) == 4326
    assert S.write_prj(base, 27572) is False  # no template → sidecar GONE
    assert S.read_prj(base) is None


def test_gif_encode_roundtrip_and_corpus():
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(31)
    g = rng.integers(0, 256, (23, 17), dtype=np.uint8)
    enc = C.encode_gif(g)
    assert C.sniff(enc) == "gif"
    np.testing.assert_array_equal(
        C.decode_gif(enc), np.repeat(g[:, :, None], 3, axis=2)
    )
    # gray palette → the luma path returns the exact indices
    np.testing.assert_array_equal(C.decode_image(enc), g)


def test_wav_ima_adpcm_roundtrip():
    """IMA/DVI ADPCM (format 0x11): mono + stereo encode/decode with
    per-block headers and 4-byte channel interleave; a smooth tone
    reconstructs within the codec's step-quantization error."""
    import struct as _struct

    from pyramids_spark import codecs as C

    t = np.arange(1600)
    tone = (8000 * np.sin(t / 20.0)).astype(np.int16)
    blob = C.encode_wav_ima(tone, 16000, samples_per_block=505)
    assert blob[:4] == b"RIFF" and b"fact" in blob[:64]
    fmtc = _struct.unpack_from("<H", blob, 20)[0]
    assert fmtc == 0x11
    s, rate = C.decode_wav(blob)
    assert rate == 16000 and s.shape[1] == 1
    n = len(tone)
    err = np.abs(s[:n, 0].astype(int) - tone.astype(int))
    assert err.max() <= 400 and err.mean() < 60  # lossy but tracking
    # stereo: distinct per-channel content survives the interleave
    st = np.stack([tone, (5000 * np.cos(t / 15.0)).astype(np.int16)],
                  axis=1)
    s2, _ = C.decode_wav(C.encode_wav_ima(st, 8000, samples_per_block=129))
    assert s2.shape[1] == 2
    e0 = np.abs(s2[:n, 0].astype(int) - st[:, 0].astype(int)).mean()
    e1 = np.abs(s2[:n, 1].astype(int) - st[:, 1].astype(int)).mean()
    assert e0 < 60 and e1 < 60
    # channels are not swapped: ch1 correlates with its own source
    swap = np.abs(s2[:n, 1].astype(int) - st[:, 0].astype(int)).mean()
    assert swap > 5 * e1
    # header-sample convention: sample 0 IS the block predictor
    assert s[0, 0] == tone[0]


def test_gif_animation_frames_and_disposal():
    """decode_gif_frames: multi-frame compositing with transparency and
    disposal 1 (keep) / 2 (restore background) / 3 (restore previous),
    plus the encode_gif_anim round trip (lossless gray frames)."""
    import struct as _struct

    from pyramids_spark import codecs as C

    rng = np.random.default_rng(11)
    raws = rng.integers(0, 256, (3, 9, 7), dtype=np.uint8)
    blob = C.encode_gif_anim(raws, delay=4)
    assert blob.count(b"\x21\xf9") == 3 and b"NETSCAPE2.0" in blob
    frames, delays = C.decode_gif_frames(blob)
    assert frames.shape == (3, 9, 7, 3) and delays == [4, 4, 4]
    for k in range(3):
        assert (frames[k][:, :, 0] == raws[k]).all()  # gray palette
    # first frame only == decode_gif
    np.testing.assert_array_equal(C.decode_gif(blob), frames[0])
    # hand-built disposal/transparency fixture: 4x4 screen, bg=index 1
    pal = bytes(b for i in (10, 200, 30, 99) for b in (i, i, i))
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80 | 1, 1, 0) + pal

    def img(x0, y0, w, h, px, gce=None):
        o = b""
        if gce is not None:
            o += b"\x21\xf9\x04" + _struct.pack("<BHB", gce[0] << 2
                                                | gce[1], 0, gce[2]) + b"\x00"
        o += b"\x2c" + _struct.pack("<HHHHB", x0, y0, w, h, 0) + bytes([2])
        data = C._gif_lzw_encode(2, np.asarray(px, np.uint8).reshape(-1))
        for k in range(0, len(data), 255):
            o += bytes([len(data[k:k + 255])]) + data[k:k + 255]
        return o + b"\x00"

    # f1: full screen of index 0; disposal 3 (restore previous after)
    out += img(0, 0, 4, 4, [[0] * 4] * 4, gce=(3, 0, 0))
    # f2: 2x2 patch at (1,1) of index 2 with transparency on index 3:
    # the transparent cell shows f1's pixel; disposal 2 restores bg
    out += img(1, 1, 2, 2, [[2, 3], [3, 2]], gce=(2, 1, 3))
    # f3: no GCE: composes on the canvas f2's disposal produced
    out += img(0, 0, 1, 1, [[2]])
    out += b"\x3b"
    frames, _ = C.decode_gif_frames(bytes(out))
    assert frames.shape == (3, 4, 4, 3)
    f1, f2, f3 = frames[:, :, :, 0]
    assert (f1 == 10).all()  # index 0 everywhere
    # f2: canvas was RESTORED TO PREVIOUS (f1's disposal 3 → before f1 =
    # background)… no: disposal applies AFTER the frame shows. f2 shows
    # f1 restored-to-previous canvas (bg=200) under its patch:
    assert f2[0, 0] == 200 and f2[1, 1] == 30 and f2[1, 2] == 200
    assert f2[2, 1] == 200 and f2[2, 2] == 30
    # f3: f2's disposal 2 restored its region to bg; new 1x1 patch at 0,0
    assert f3[0, 0] == 30 and f3[1, 1] == 200 and f3[3, 3] == 200


def test_media_video_gif_payloads(spark):
    """Video refs rotate animated GIFs with the concatenated-PGM stream;
    frame_extract walks both layouts and returns PGM frame bytes."""
    from pyramids_spark import media

    docs = spark.createDataFrame(
        [(f"doc-{i:03d}",
          [("video", f"media://doc-{i:03d}/0")]) for i in range(40)],
        "doc_id string, "
        "spans array<struct<kind string, media_ref string>>",
    )
    m = media.synth_media(spark, docs).where(F.col("kind") == "video")
    pdf = m.select("media_ref", "payload").toPandas()
    kinds = {bytes(p)[:3] for p in pdf["payload"]}
    assert b"GIF" in kinds and b"P5\n" in kinds  # both layouts present
    fr = media.frame_extract(m, every_n=2).toPandas()
    assert len(fr) > 0
    for blob in fr["frame"].head(5):
        assert bytes(blob)[:2] == b"P5"


def test_wav_g711_mulaw_alaw():
    """G.711 companding (formats 7/6): decode is pinned to the spec's
    segment arithmetic (known byte→level vectors), and the nearest-level
    encoder round-trips within one quantization step."""
    import struct as _struct

    from pyramids_spark import codecs as C

    # spec vectors: µ-law 0xFF → 0 (complemented all-ones), 0x7F → -0? no:
    # sign bit 0x80 SET in the complemented domain = positive branch
    assert C._mulaw_decode(np.array([0xFF], np.uint8))[0] == 0
    assert C._mulaw_decode(np.array([0x7F], np.uint8))[0] == 0
    assert C._mulaw_decode(np.array([0x80], np.uint8))[0] == 32124
    assert C._mulaw_decode(np.array([0x00], np.uint8))[0] == -32124
    # A-law: 0x55 → xor 0 → segment 0 negative smallest = -8
    assert C._alaw_decode(np.array([0x55], np.uint8))[0] == -8
    assert C._alaw_decode(np.array([0xD5], np.uint8))[0] == 8
    assert C._alaw_decode(np.array([0x2A], np.uint8))[0] == -32256
    assert C._alaw_decode(np.array([0xAA], np.uint8))[0] == 32256
    t = np.arange(800)
    tone = (12000 * np.sin(t / 9.0)).astype(np.int16)
    for law, fmtc, tol in (("mu", 7, 1024), ("a", 6, 2048)):
        blob = C.encode_wav_g711(tone, 8000, law=law)
        assert _struct.unpack_from("<H", blob, 20)[0] == fmtc
        s, rate = C.decode_wav(blob)
        assert rate == 8000 and s.shape == (800, 1)
        err = np.abs(s[:, 0].astype(int) - tone.astype(int))
        # error bounded by the local segment step (relative companding)
        assert err.max() <= tol and err.mean() < tol / 8


def test_wav_ima_fact_trims_padding_and_partial_tail():
    """The fact chunk records TRUE frames: a 1600-sample clip at spb=505
    round-trips to exactly 1600 rows (no phantom tail-padding frames);
    a truncated final block still yields its available nibble groups."""
    import struct as _struct

    from pyramids_spark import codecs as C

    t = np.arange(1600)
    tone = (8000 * np.sin(t / 20.0)).astype(np.int16)
    blob = C.encode_wav_ima(tone, 16000, samples_per_block=505)
    s, _ = C.decode_wav(blob)
    assert s.shape == (1600, 1)  # not 4*505 = 2020
    # chop the data chunk mid-block: decode keeps whole groups, no crash
    di = blob.rfind(b"data")
    (dsz,) = _struct.unpack_from("<I", blob, di + 4)
    cut = dsz - 37  # not group-aligned on purpose
    trunc = bytearray(blob[:di + 8 + cut])
    _struct.pack_into("<I", trunc, di + 4, cut)
    # drop the fact chunk's claim below what the bytes can carry
    s2, _ = C.decode_wav(bytes(trunc))
    assert 1500 < s2.shape[0] <= 1600


def test_gif_frame_overhangs_screen_clips():
    """A frame rectangle past the logical screen clips instead of
    crashing (wild encoders emit these)."""
    import struct as _struct

    from pyramids_spark import codecs as C

    pal = bytes(b for i in (10, 200) for b in (i, i, i))
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 3, 3, 0x80, 1, 0) + pal
    # 2x2 frame anchored at (2,2): only pixel (2,2) is on screen
    out += b"\x2c" + _struct.pack("<HHHHB", 2, 2, 2, 2, 0) + bytes([2])
    data = C._gif_lzw_encode(2, np.zeros(4, np.uint8))
    out += bytes([len(data)]) + data + b"\x00\x3b"
    img = C.decode_gif(bytes(out))
    assert img.shape == (3, 3, 3)
    assert img[2, 2, 0] == 10 and img[0, 0, 0] == 200


def test_decode_image_12bit_jpeg_is_uint8():
    from pyramids_spark import codecs as C, jpeg

    g = ((np.add.outer(np.arange(16) * 128, np.arange(16) * 64)) % 4096
         ).astype(np.uint16)
    out = C.decode_image(jpeg.encode_jpeg(g, quality=95, bits=12))
    assert out.dtype == np.uint8 and out.shape == g.shape
    # high 8 of 12 bits: values track g >> 4
    assert int(np.abs(out.astype(int) - (g >> 4).astype(int)).max()) <= 4


def test_wav_ms_adpcm_roundtrip():
    """MS-ADPCM (format 2): per-block predictor/delta/two-sample headers,
    high-nibble-first codes, per-sample channel interleave, coefficient
    pairs parsed from the fmt extra bytes; fact trims tail padding."""
    import struct as _struct

    from pyramids_spark import codecs as C

    t = np.arange(1700)
    tone = (9000 * np.sin(t / 25.0)).astype(np.int16)
    blob = C.encode_wav_ms_adpcm(tone, 16000, samples_per_block=500)
    assert _struct.unpack_from("<H", blob, 20)[0] == 2
    s, rate = C.decode_wav(blob)
    assert rate == 16000 and s.shape == (1700, 1)
    # header samples are exact; the rest tracks within the delta step
    assert s[0, 0] == tone[0] and s[1, 0] == tone[1]
    err = np.abs(s[:, 0].astype(int) - tone.astype(int))
    assert err.max() <= 600 and err.mean() < 80
    # stereo: distinct per-channel content, no channel swap
    st = np.stack([tone, (4000 * np.cos(t / 13.0)).astype(np.int16)],
                  axis=1)
    s2, _ = C.decode_wav(C.encode_wav_ms_adpcm(st, 8000,
                                               samples_per_block=128))
    assert s2.shape == (1700, 2)
    e1 = np.abs(s2[:, 1].astype(int) - st[:, 1].astype(int)).mean()
    swap = np.abs(s2[:, 1].astype(int) - st[:, 0].astype(int)).mean()
    assert e1 < 80 and swap > 5 * e1


def test_wav_writers_word_align_and_fact():
    """RIFF chunks are word-aligned: an odd-sized G.711/ADPCM data chunk
    carries a pad byte the RIFF size covers; G.711 writes the mandatory
    non-PCM fact chunk and decode trims to it."""
    import struct as _struct

    from pyramids_spark import codecs as C

    tone = (5000 * np.sin(np.arange(801) / 7.0)).astype(np.int16)
    blob = C.encode_wav_g711(tone, 8000, law="mu")  # 801 data bytes: odd
    assert b"fact" in blob[:64]
    (riff_sz,) = _struct.unpack_from("<I", blob, 4)
    assert riff_sz == len(blob) - 8 and len(blob) % 2 == 0
    di = blob.rfind(b"data")
    (dsz,) = _struct.unpack_from("<I", blob, di + 4)
    assert dsz == 801  # data size excludes the pad byte
    s, _ = C.decode_wav(blob)
    assert s.shape == (801, 1)
    # MS-ADPCM with an odd block_align pads too
    blob = C.encode_wav_ms_adpcm(tone[:24], 8000, samples_per_block=6)
    (riff_sz,) = _struct.unpack_from("<I", blob, 4)
    assert riff_sz == len(blob) - 8 and len(blob) % 2 == 0
    s, _ = C.decode_wav(blob)
    assert s.shape == (24, 1)
