"""classify_distributed == pipeline.classify (whole-scene kernel), which
in turn equals the independent straight-line oracle — so every stage of
the clump-parallel path (tiled morphology, distributed fill, cross-tile
CCL + renumbering, per-clump 3-D/template kernel, cogrouped windowed
shadow match, fused buffering) is pinned to the reference semantics."""

from __future__ import annotations

import sys

import numpy as np

sys.path.insert(0, "/root/repo")

from python_fmask_spark import pipeline  # noqa: E402
from python_fmask_spark import oracle  # noqa: E402
from python_fmask_spark.operators.scene_dist import classify_distributed  # noqa: E402
from python_fmask_spark.pipeline import SceneSpec  # noqa: E402
from python_fmask_spark.sources import register_views  # noqa: E402

S2 = SceneSpec(sensor="SENTINEL2", s2_offsets=oracle.S2_ZERO_OFFSETS)

COLS = ["url", "fmask_class", "cloud_id", "cloud_height_du",
        "cloud_base_temp_c", "text_sha256"]


def _canon(df):
    rows = {}
    for r in df.select(*COLS).collect():
        bt = r.cloud_base_temp_c
        bt = None if bt is None or (isinstance(bt, float) and np.isnan(bt)) \
            else round(bt, 9)
        rows[r.url] = (r.fmask_class, r.cloud_id, r.cloud_height_du, bt,
                       r.text_sha256)
    return rows


def test_distributed_equals_scene_kernel(spark, sf_small):
    register_views(spark, sf_small)
    whole = _canon(pipeline.classify(spark))
    dist = _canon(classify_distributed(spark))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole
             if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def test_distributed_task_grain_is_bounded(spark, sf_small):
    """The point of the clump-parallel path: no stage groups by bare
    cell_id over pixel rows except bounded dims — spot-check that the
    shadow-match window rows per (cell, cloud) are bounded by the sweep
    geometry, not by cell size."""
    import pyspark.sql.functions as F

    from python_fmask_spark import constants as C
    from python_fmask_spark.operators import scene_dist

    register_views(spark, sf_small)
    # max window height from the sweep geometry at the engine's angle
    # ranges: h <= 12 km, tan(zen) <= tan(1.05) -> <= ~700 rows of 30 m
    # plus the template height (<= cell rows) — the bound that matters
    # is that window rows never exceed (max_shift + template) rows.
    max_shift_rows = int(12000 * np.tan(1.05) / abs(C.Y_RES)) + 2
    out = classify_distributed(spark)
    out.count()  # force execution; plan validity is the main check here

    # directly exercise the window builder on a synthetic mega-clump
    nsteps, *_rest, place = scene_dist._sweep_bounds(
        t_base=10.0, t_low=5.0, t_high=20.0, sun_az=1.0, sun_zen=1.0,
        sat_az=0.5, sat_zen=0.1, x_res=C.X_RES, y_res=C.Y_RES)
    ends = [place(0), place(nsteps - 1)]
    spread = abs(ends[0][0] - ends[1][0])
    assert spread <= max_shift_rows


def test_eqn19_two_division_boundary(spark):
    """Eqn-19 parity at the exact threshold: for integer DNs with
    filled - nir == 200, the reference/classify_scene float64 form
    filled/scale - nir/scale yields 0.020000000000000004 > 0.02 for
    most operand pairs, while both the one-division form
    (filled-nir)/scale and Spark's DECIMAL-literal arithmetic yield
    exactly 0.02 (not >). scene_dist stage 2's SQL (with its explicit
    double casts) must agree with classify_scene's NumPy float64 form
    on every boundary pair — 8769/12000 pairs flip without the casts."""
    import numpy as np
    import pandas as pd
    from python_fmask_spark import constants as C

    nir = np.arange(0, 12000, dtype=np.int64)
    filled = nir + 200  # exactly at the Eqn-19 boundary
    np_form = (filled / C.TOA_SCALE - nir / C.TOA_SCALE) \
        > C.EQN19_NIR_FILL_THRESH
    sdf = spark.createDataFrame(
        pd.DataFrame({"nir": nir, "filled": filled}))
    got = (sdf.selectExpr(
        "nir",
        f"cast(cast(filled as double) / {C.TOA_SCALE} - "
        f"cast(nir as double) / {C.TOA_SCALE} > "
        f"{C.EQN19_NIR_FILL_THRESH} as boolean) AS pot")
        .toPandas().sort_values("nir")["pot"].to_numpy())
    assert (got == np_form).all(), \
        f"{int((got != np_form).sum())}/12000 boundary pairs disagree"


def test_distributed_min_cloud_size_matches_scene_kernel(spark, sf_small):
    """min_cloud_size_px > 1 takes the 4-connected distributed CCL size
    filter (the reference labels the size filter 4-conn,
    fmask/fmask.py:762-767, while cloud clumps are 8-conn) — the
    distributed path must match the whole-cell kernel bit-for-bit on a
    threshold that actually removes sub-threshold clumps here."""
    from python_fmask_spark.operators.scene import FmaskParams

    register_views(spark, sf_small)
    params = FmaskParams(min_cloud_size_px=3)
    whole = _canon(pipeline.classify(spark, params=params))
    dist = _canon(classify_distributed(spark, params=params))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"
    # the filter must be exercised: some cloud pixels of the unfiltered
    # run disappear at threshold 3 (otherwise this test proves nothing)
    base = _canon(pipeline.classify(spark))
    assert any(base[u][0] == 2 and whole[u][0] != 2 for u in base), \
        "threshold removed no clumps on this fixture; raise it"


def test_distributed_s2_no_thermal_matches_scene_kernel(spark, sf_small):
    """Sensor dispatch on the distributed path: classify_distributed
    (sensor=SENTINEL2) — flat clouds, Tcloudbase=0 sweeps, NaN base
    temps, NULL BT thresholds — must match pipeline.classify's
    no-thermal output bit-for-bit."""
    register_views(spark, sf_small)
    whole = _canon(pipeline.classify(spark, S2))
    dist = _canon(classify_distributed(spark, S2))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def _p3_frame(spark):
    view = pipeline.materialize_pass1(spark)
    thr = pipeline.materialize_thresholds(spark)
    cols = ", ".join((*pipeline._KERNEL_COLS, "cell_rows"))
    return spark.sql(pipeline.tail_sql_from_pass1(
        view, "pass3", f"SELECT {cols} FROM pass3",
        thresholds_view=thr)).localCheckpoint()


def test_external_p3_without_digests_keeps_rows(spark, sf_small):
    """ADVICE r4: an externally supplied p3 with digests=None must NOT
    derive digests from the documents table (p3's urls may be unrelated
    to it in bench/skew contexts, so the inner url join would drop rows
    or crash). The output carries NULL text_sha256, loses no rows, and
    the classes still match the whole-scene kernel."""
    register_views(spark, sf_small)
    base = pipeline.classify(spark)
    expect = {r.url: r.fmask_class for r in base.collect()}
    out = classify_distributed(spark, p3=_p3_frame(spark)).collect()
    assert len(out) == len(expect)
    assert all(r.text_sha256 is None for r in out)
    got = {r.url: r.fmask_class for r in out}
    assert got == expect


def test_classify_auto_external_p3_without_digests(spark, sf_small):
    """classify_auto's p3 path with digests=None routes mega-cells to
    classify_distributed — which must not reach for the default table's
    digests (ADVICE r4). row_threshold=8 forces BOTH branches to run."""
    register_views(spark, sf_small)
    base = {r.url: r.fmask_class
            for r in pipeline.classify(spark).collect()}
    out = pipeline.classify_auto(
        spark, row_threshold=8, p3=_p3_frame(spark)).collect()
    assert len(out) == len(base)
    got = {r.url: r.fmask_class for r in out}
    assert got == base


def test_distributed_l47_matches_scene_kernel(spark, sf_small):
    """Sensor dispatch, third regime: LANDSAT47 (thermal, NO cirrus —
    fmask/config.py:33-40, fmask/fmask.py:290-306) on the distributed
    path must match pipeline.classify's L47 output bit-for-bit.
    Completes the sensor x path matrix: {L8, S2, L47} x {whole-cell,
    distributed} all pairwise-equal (L8/S2 pinned above; the whole-cell
    L47 chain is pinned against its independent-replay fixture by the
    fmask_final_class_l47 driver row)."""
    register_views(spark, sf_small)
    l47 = SceneSpec(sensor="LANDSAT47")
    whole = _canon(pipeline.classify(spark, l47))
    dist = _canon(classify_distributed(spark, l47))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"


def test_distributed_s2_cdi_matches_scene_kernel(spark, sf_small):
    """--parallaxtest on the distributed path: classify_distributed
    (sensor=SENTINEL2, s2_cdi=True) consumes the CDI-modified pass-1
    leaf (Frantz 2018 displacement test composed into pass 1,
    fmask/fmask.py:395-412) and must match pipeline.classify's
    composed-CDI output bit-for-bit, completing the regime x path
    matrix: {L8, S2, S2+CDI, L47} x {whole-cell, distributed}. The
    CDI filter must also be LIVE on this fixture (some PCP pixel
    flips vs plain S2), or the test would pass vacuously."""
    import dataclasses

    register_views(spark, sf_small)
    s2_cdi = dataclasses.replace(S2, s2_cdi=True)
    whole = _canon(pipeline.classify(spark, s2_cdi))
    dist = _canon(classify_distributed(spark, s2_cdi))
    assert whole.keys() == dist.keys()
    diffs = {u: (whole[u], dist[u]) for u in whole if whole[u] != dist[u]}
    assert not diffs, f"{len(diffs)} mismatching urls, e.g. " \
        f"{list(diffs.items())[:3]}"
    v_raw = pipeline.materialize_pass1(spark, S2)
    v_cdi = pipeline.materialize_pass1(spark, s2_cdi)
    n_flip = spark.sql(
        f"""SELECT count(*) AS n FROM {v_raw} a JOIN {v_cdi} b
            USING (cell_id, r, c) WHERE a.pcp <> b.pcp""").first().n
    assert n_flip > 0, "CDI filter inert on this fixture"


def test_s2_distributed_builds_no_default_leaf(spark, sf_small):
    """The byte-identity digests of an S2 distributed classify come off
    the S2 leaf it already built: no default-spec (LANDSAT8) pass-1
    leaf is materialized beside it, with or without a StageRunner."""
    import tempfile

    from python_fmask_spark.plans.lineage import StageRunner

    default_leaf = f"_pass1_mat_documents_{SceneSpec().key}"
    register_views(spark, sf_small)
    pipeline.invalidate_pass1_cache(spark)
    assert classify_distributed(spark, S2).count() == 500
    leaves = pipeline._PASS1_CACHE[spark]
    assert leaves and all(S2.key in v for v in leaves), leaves
    assert not spark.catalog.tableExists(default_leaf)

    pipeline.invalidate_pass1_cache(spark)
    with tempfile.TemporaryDirectory() as wd:
        out = classify_distributed(spark, S2,
                                   runner=StageRunner(spark, wd, "s2"))
        assert out.count() == 500
    assert not any(SceneSpec().key in v
                   for v in pipeline._PASS1_CACHE.get(spark, ()))
    assert not spark.catalog.tableExists(default_leaf)
