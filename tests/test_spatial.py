"""kNN join (both forms) and IDW interpolation on engineered geometries."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.spatial import (
    idw_interpolate,
    knn_join,
    knn_join_grid,
)


def _points(spark):
    # One query point; four sites at increasing longitude offsets east.
    left = spark.createDataFrame([(1, 45.5, -73.6)], ["id", "lat", "lon"])
    right = spark.createDataFrame(
        [(10, 45.5, -73.6001), (20, 45.5, -73.6005), (30, 45.5, -73.61), (40, 45.5, -73.7)],
        ["rid", "rlat", "rlon"],
    )
    return left, right


def test_knn_join_orders_by_distance(spark):
    left, right = _points(spark)
    out = knn_join(left, right, k=3).orderBy("knn_rank").collect()
    assert [r["rid"] for r in out] == [10, 20, 30]
    assert out[0]["distance_m"] < out[1]["distance_m"] < out[2]["distance_m"]
    # ~0.0001° of longitude at 45.5°N ≈ 7.8 m
    assert abs(out[0]["distance_m"] - 7.8) < 0.5


def test_knn_join_tie_break_deterministic(spark):
    left = spark.createDataFrame([(1, 0.0, 0.0)], ["id", "lat", "lon"])
    # Two sites exactly equidistant (mirror east/west): lower rid wins.
    right = spark.createDataFrame(
        [(7, 0.0, 0.001), (3, 0.0, -0.001)], ["rid", "rlat", "rlon"]
    )
    out = knn_join(left, right, k=2).orderBy("knn_rank").collect()
    assert [r["rid"] for r in out] == [3, 7]


def test_knn_grid_matches_crossjoin(spark):
    left, right = _points(spark)
    a = {(r["id"], r["rid"], r["knn_rank"]) for r in knn_join(left, right, k=3).collect()}
    b = {
        (r["id"], r["rid"], r["knn_rank"])
        for r in knn_join_grid(left, right, k=3, cell_deg=0.5).collect()
    }
    assert a == b


def test_knn_grid_cell_boundary(spark):
    # Query at a cell's west edge; neighbor lives one cell west — caught
    # only because right points replicate into neighbor cells.
    left = spark.createDataFrame([(1, 45.0, 10.0)], ["id", "lat", "lon"])
    right = spark.createDataFrame([(5, 45.0, 9.9999)], ["rid", "rlat", "rlon"])
    out = knn_join_grid(left, right, k=1, cell_deg=0.1).collect()
    assert len(out) == 1 and out[0]["rid"] == 5


def test_idw_weighted_average_hand_computed(spark):
    # Stations due east at 0.001° and 0.002° on the equator: distances d
    # and 2d ⇒ weights 1/d² and 1/4d² ⇒ IDW = (4·v1 + v2)/5.
    samples = spark.createDataFrame([(1, 0.0, 0.0)], ["sample_id", "lat", "lon"])
    stations = spark.createDataFrame(
        [(1, 0.0, 0.001, 10.0), (2, 0.0, 0.002, 50.0)],
        ["station_id", "station_lat", "station_lon", "v"],
    )
    out = idw_interpolate(samples, stations, ["v"]).first()
    assert abs(out["v"] - (4 * 10.0 + 50.0) / 5.0) < 1e-6


def test_idw_nan_masked(spark):
    # NaN station must contribute to neither numerator nor denominator.
    samples = spark.createDataFrame([(1, 0.0, 0.0)], ["sample_id", "lat", "lon"])
    stations = spark.createDataFrame(
        [(1, 0.0, 0.001, 10.0), (2, 0.0, 0.002, float("nan"))],
        ["station_id", "station_lat", "station_lon", "v"],
    )
    out = idw_interpolate(samples, stations, ["v"]).first()
    assert out["v"] == 10.0


def test_idw_all_nan_gives_null(spark):
    samples = spark.createDataFrame([(1, 0.0, 0.0)], ["sample_id", "lat", "lon"])
    stations = spark.createDataFrame(
        [(1, 0.0, 0.001, float("nan"))],
        ["station_id", "station_lat", "station_lon", "v"],
    )
    out = idw_interpolate(samples, stations, ["v"]).first()
    assert out["v"] is None


def test_knn_join_quadratic_guard(spark):
    import pytest

    left, right = _points(spark)
    with pytest.raises(ValueError, match="knn_join_grid"):
        knn_join(left, right, k=2, max_broadcast_rows=3)
    # opting out restores the verification-baseline behavior
    assert knn_join(left, right, k=2, max_broadcast_rows=None).count() == 2


def test_embedding_pairs_quadratic_guard(spark):
    import pytest

    from accident_prediction_montreal_spark.operators.similarity import (
        embedding_cosine_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="brp_lsh_ann"):
        embedding_cosine_pairs(df, threshold=0.9, max_rows=4)
    assert embedding_cosine_pairs(df, threshold=0.9, max_rows=None).count() == 10


def test_estimate_cell_deg_grid_matches_exhaustive(spark):
    """Property-style: at the estimated cell size, the grid path equals the
    exhaustive crossJoin on seeded uniform clouds (several densities)."""
    import random

    from accident_prediction_montreal_spark.operators.spatial import (
        _density_cell_deg,
        _density_scan,
    )

    for seed, n_right in ((1, 120), (2, 400)):
        rng = random.Random(seed)
        right = spark.createDataFrame(
            [
                (i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.3)
                for i in range(n_right)
            ],
            ["rid", "rlat", "rlon"],
        )
        left = spark.createDataFrame(
            [
                (i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.3)
                for i in range(25)
            ],
            ["id", "lat", "lon"],
        )
        k = 3
        cell = _density_cell_deg(*_density_scan(right, ("rlat", "rlon")), k)
        got = {
            (r["id"], r["rid"], r["knn_rank"])
            for r in knn_join_grid(left, right, k=k, cell_deg=cell).collect()
        }
        want = {
            (r["id"], r["rid"], r["knn_rank"])
            for r in knn_join(left, right, k=k).collect()
        }
        assert got == want, f"seed={seed}: grid(cell={cell}) != exhaustive"


def test_estimate_cell_deg_scales_with_density(spark):
    from accident_prediction_montreal_spark.operators.spatial import (
        _density_cell_deg,
        _density_scan,
    )

    import random

    rng = random.Random(3)
    mk = lambda n: spark.createDataFrame(  # noqa: E731
        [(i, 45.0 + rng.random(), -73.0 + rng.random()) for i in range(n)],
        ["rid", "rlat", "rlon"],
    )
    cell = lambda df: _density_cell_deg(*_density_scan(df, ("rlat", "rlon")), 3)  # noqa: E731
    sparse, dense = cell(mk(100)), cell(mk(1600))
    assert dense < sparse  # 16x density → ~4x smaller cells


def test_knn_grid_exact_equals_exhaustive_even_with_empty_blocks(spark, monkeypatch):
    """The escalating exact grid join must equal the exhaustive join even
    when the first round's cells are so small that some left points have
    EMPTY 3x3 blocks (the silent-loss regression: such points never
    appear in the candidate join at all and must be re-collected by the
    anti-join, not dropped)."""
    import random

    from accident_prediction_montreal_spark.operators import spatial
    from accident_prediction_montreal_spark.operators.spatial import (
        knn_join_grid_exact,
    )

    rng = random.Random(7)
    # clustered right side: two far-apart blobs -> huge density variance,
    # so any single density-derived cell size leaves coverage holes
    right = spark.createDataFrame(
        [(i, 45.40 + rng.random() * 0.01, -73.70 + rng.random() * 0.01) for i in range(150)]
        + [(1000 + i, 45.70 + rng.random() * 0.01, -73.40 + rng.random() * 0.01) for i in range(150)],
        ["rid", "rlat", "rlon"],
    )
    # left spread across the whole box INCLUDING the empty middle
    left = spark.createDataFrame(
        [(i, 45.40 + rng.random() * 0.31, -73.70 + rng.random() * 0.31) for i in range(40)],
        ["id", "lat", "lon"],
    )
    # FALLBACK_BUDGET_PAIRS=0 disables the round-0 exhaustive
    # short-circuit (this fixture is tiny, so the default budget would
    # skip the grid machinery under test entirely).
    monkeypatch.setattr(spatial, "FALLBACK_BUDGET_PAIRS", 0)
    for k in (1, 3):
        got = {
            (r["id"], r["rid"], r["knn_rank"])
            for r in knn_join_grid_exact(left, right, k=k).collect()
        }
        want = {
            (r["id"], r["rid"], r["knn_rank"])
            for r in knn_join(left, right, k=k).collect()
        }
        assert got == want, f"k={k}"


def test_knn_grid_exact_round0_short_circuit(spark, monkeypatch):
    """When |left|·|right| fits the fallback budget, the auto-cell eager
    path takes one exhaustive broadcast join instead of a grid round —
    and the result must be IDENTICAL (same rows, same deterministic
    tie-breaks) to the grid-forced path on the same data."""
    import random

    from accident_prediction_montreal_spark.operators import spatial
    from accident_prediction_montreal_spark.operators.spatial import (
        knn_join_grid_exact,
    )

    rng = random.Random(3)
    right = spark.createDataFrame(
        [(i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.2) for i in range(120)],
        ["rid", "rlat", "rlon"],
    )
    left = spark.createDataFrame(
        [(i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.2) for i in range(30)],
        ["id", "lat", "lon"],
    )
    fast = knn_join_grid_exact(left, right, k=3)          # short-circuits
    monkeypatch.setattr(spatial, "FALLBACK_BUDGET_PAIRS", 0)
    slow = knn_join_grid_exact(left, right, k=3)
    key = lambda r: (r["id"], r["knn_rank"])  # noqa: E731
    fast_rows = sorted(
        ((r["id"], r["knn_rank"], r["rid"]) for r in fast.collect())
    )
    slow_rows = sorted(
        ((r["id"], r["knn_rank"], r["rid"]) for r in slow.collect())
    )
    assert fast_rows == slow_rows
    assert set(fast.columns) == set(slow.columns)


def test_knn_grid_exact_tiny_cell_forces_escalation(spark, monkeypatch):
    """Start from a deliberately undersized cell: every point fails the
    round-one proof and the answer must still be exact after escalation
    (or the exhaustive fallback)."""
    import random

    from accident_prediction_montreal_spark.operators import spatial
    from accident_prediction_montreal_spark.operators.spatial import (
        knn_join_grid_exact,
    )

    rng = random.Random(11)
    right = spark.createDataFrame(
        [(i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.2) for i in range(200)],
        ["rid", "rlat", "rlon"],
    )
    left = spark.createDataFrame(
        [(i, 45.4 + rng.random() * 0.2, -73.7 + rng.random() * 0.2) for i in range(20)],
        ["id", "lat", "lon"],
    )
    monkeypatch.setattr(spatial, "MAX_ROUNDS", 2)
    got = {
        (r["id"], r["rid"], r["knn_rank"])
        for r in knn_join_grid_exact(left, right, k=2, cell_deg=0.001).collect()
    }
    want = {
        (r["id"], r["rid"], r["knn_rank"]) for r in knn_join(left, right, k=2).collect()
    }
    assert got == want


def test_knn_grid_exact_antimeridian_seam(spark):
    """A left point near lon ±180 can find k same-side candidates whose
    k-th distance passes the 3x3 distance bound while a strictly NEARER
    neighbor sits across the seam in a far-away cell (reviewer-confirmed
    exactness hole). The seam guard must refuse the proof and route such
    points through escalation to the exhaustive fallback."""
    from accident_prediction_montreal_spark.operators.spatial import (
        knn_join_grid_exact,
    )

    left = spark.createDataFrame([(1, 0.0, 179.9)], ["id", "lat", "lon"])
    right = spark.createDataFrame(
        [
            # nearest TRUE neighbor: across the seam, 0.15° of longitude away
            (1000, 0.0, -179.95),
            # same-side decoys at 0.2°/0.3° — with cell_deg=0.5 they pass the
            # old distance-only proof (33 km ≤ 0.5°·111 km·0.95)
            (10, 0.0, 179.7),
            (20, 0.0, 179.6),
        ],
        ["rid", "rlat", "rlon"],
    )
    got = {
        (r["id"], r["rid"], r["knn_rank"])
        for r in knn_join_grid_exact(left, right, k=2, cell_deg=0.5).collect()
    }
    want = {
        (r["id"], r["rid"], r["knn_rank"])
        for r in knn_join(left, right, k=2).collect()
    }
    assert got == want
    assert (1, 1000, 1) in got  # the cross-seam neighbor is rank 1


def test_idw_radius_polar_fallback_keeps_in_radius_pairs(spark):
    """Above ~87° latitude the longitude-cell bound collapses (cos floor);
    the operator must fall back to the exhaustive pairing instead of
    silently dropping in-radius pairs (reviewer-confirmed)."""
    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
    )

    # at lat 89.5, 1° of longitude ≈ 970 m: the 4°-away station is ~3.9 km
    # (inside a 5 km radius) but sits 4+ cells away under the old clamped
    # sizing (cell ≈ 0.9°), so the grid path lost it.
    stations = spark.createDataFrame(
        [(1, 89.5, 14.0, 100.0), (2, 89.5, 60.0, 7.0)],
        ["sid", "station_lat", "station_lon", "temp"],
    )
    samples = spark.createDataFrame([(1, 89.5, 10.0)], ["sample_id", "lat", "lon"])
    out = idw_interpolate_radius(samples, stations, ["temp"], radius_m=5000.0).collect()
    assert len(out) == 1
    assert out[0]["temp"] == pytest.approx(100.0, abs=1e-9)


def test_idw_radius_matches_truncated_bruteforce(spark):
    """Grid-bucketed radius IDW == brute-force IDW over only the stations
    within the radius (incl. the NaN mask and no-coverage samples)."""
    import math
    import random

    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
    )

    rng = random.Random(5)
    stations = spark.createDataFrame(
        [
            (i, 45.4 + rng.random() * 0.1, -73.7 + rng.random() * 0.1,
             float("nan") if i % 7 == 0 else rng.random() * 30.0)
            for i in range(80)
        ],
        ["sid", "station_lat", "station_lon", "temp"],
    )
    samples = spark.createDataFrame(
        [(i, 45.4 + rng.random() * 0.1, -73.7 + rng.random() * 0.1) for i in range(30)],
        ["sample_id", "lat", "lon"],
    )
    radius = 1500.0
    got = {
        r["sample_id"]: r["temp"]
        for r in idw_interpolate_radius(
            samples, stations, ["temp"], radius_m=radius
        ).collect()
    }

    st = stations.collect()
    R = 6371000.0

    def hav(a, b, c, d):
        p = math.sin(math.radians(c - a) / 2) ** 2 + math.cos(math.radians(a)) * math.cos(
            math.radians(c)
        ) * math.sin(math.radians(d - b) / 2) ** 2
        return 2 * R * math.atan2(math.sqrt(p), math.sqrt(1 - p))

    want = {}
    for s in samples.collect():
        num = den = 0.0
        for t in st:
            d = hav(s["lat"], s["lon"], t["station_lat"], t["station_lon"])
            if d <= radius and not math.isnan(t["temp"]):
                w = 1.0 / d**2
                num += w * t["temp"]
                den += w
        if den > 0.0:
            want[s["sample_id"]] = num / den
    assert set(got) == set(want)
    for sid, v in want.items():
        assert got[sid] == pytest.approx(v, rel=1e-9), sid


def test_idw_radius_includes_outlier_latitude_stations(spark):
    """Cell sizing must survive latitude OUTLIERS: with most stations near
    the equator and two at lat 70, a 1%-99% quantile-based cell size
    under-inflates longitude cells and silently drops an in-radius
    high-latitude pair (reviewer-confirmed repro); the exact max(|lat|)
    sizing must keep it."""
    import math

    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
    )

    stations = spark.createDataFrame(
        [(i, 0.0 + i * 1e-4, 10.0 + i * 1e-4, 50.0) for i in range(300)]
        + [(1000, 70.0, 10.13, 100.0), (1001, 70.0, 9.87, 100.0)],
        ["sid", "station_lat", "station_lon", "temp"],
    )
    samples = spark.createDataFrame([(1, 70.0, 10.0)], ["sample_id", "lat", "lon"])
    # station at (70, 10.13): dlon 0.13 deg * cos(70) ~ 4.9 km < radius
    out = idw_interpolate_radius(samples, stations, ["temp"], radius_m=5000.0).collect()
    assert len(out) == 1
    # both lat-70 stations (and nothing else) are in radius -> exactly 100.0
    assert out[0]["temp"] == pytest.approx(100.0, abs=1e-9)


def test_idw_radius_antimeridian_wrap(spark):
    """A station 1.5 km across lon ±180 must contribute its weight: the
    r6 modular lon-cell wrap keeps cross-seam pairs that a non-wrapping
    floor(lon/cell) grid silently dropped (cell_j -9000 vs +8999)."""
    import pytest as _pytest

    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
    )

    # sample just west of the seam; one station 1.5 km EAST across the
    # seam (lon wraps to -179.993) and one 1 km west (same side).
    stations = spark.createDataFrame(
        [(1, 45.0, -179.9934, 100.0), (2, 45.0, 179.9937, 10.0)],
        ["sid", "station_lat", "station_lon", "temp"],
    )
    samples = spark.createDataFrame(
        [(1, 45.0, 179.9810)], ["sample_id", "lat", "lon"]
    )
    out = idw_interpolate_radius(
        samples, stations, ["temp"], radius_m=2500.0
    ).collect()
    assert len(out) == 1
    # both stations in radius: cross-seam d~2.02km, same-side d~1.0km
    # weighted mean must include BOTH (dropping the cross-seam one
    # yields exactly 10.0 — the regression signature).
    got = out[0]["temp"]
    assert got != _pytest.approx(10.0, abs=1e-6)
    assert 10.0 < got < 100.0


def test_knn_grid_plain_finds_cross_seam_neighbor_via_shadows(spark):
    """The PLAIN grid join (no proof, no fallback) must surface a
    cross-antimeridian neighbor directly: seam-band right points get
    ±360° shadow copies for cell assignment, so the seam-straddling
    pair shares a cell block like any other pair."""
    left = spark.createDataFrame(
        [(1, 0.0, 179.95), (2, 0.0, -179.95)], ["id", "lat", "lon"]
    )
    right = spark.createDataFrame(
        [(1000, 0.0, -179.98), (2000, 0.0, 179.97)], ["rid", "rlat", "rlon"]
    )
    got = {
        (r["id"], r["rid"])
        for r in knn_join_grid(left, right, k=2, cell_deg=0.1).collect()
    }
    # every cross-seam pair is within 0.1°-ish and must be a candidate
    assert got == {(1, 1000), (1, 2000), (2, 1000), (2, 2000)}


def test_idw_radius_seam_at_shadow_limit(spark):
    """Longitude cells just under the 60° shadow limit (high latitude,
    large radius): nearly every station gets a ±360° shadow copy, and
    in-radius pairs straddle lon ±180 — the grid must still equal the
    truncated brute force, so no sample meets a station both through
    its true copy and its shadow (a duplicated pair would double-count
    the weighted sums)."""
    import random

    from accident_prediction_montreal_spark.operators import spatial
    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
        seam_shadows_active,
    )

    rng = random.Random(17)

    def seam_lon():
        lon = 150.0 + rng.random() * 60.0  # 150..210, wrapped below
        return lon - 360.0 if lon > 180.0 else lon

    stations = spark.createDataFrame(
        [
            (i, 76.0 + rng.random() * 4.9, seam_lon(),
             float("nan") if i % 9 == 0 else rng.random() * 30.0)
            for i in range(60)
        ]
        + [(1000, 80.9, 179.5, 12.0)],  # pins max |lat|, hence the cell
        ["sid", "station_lat", "station_lon", "temp"],
    )
    samples = spark.createDataFrame(
        [(i, 74.0 + rng.random() * 8.0, seam_lon()) for i in range(40)],
        ["sample_id", "lat", "lon"],
    )
    radius = 500_000.0
    # the operator's longitude cell for this fixture sits just under 60°
    deg = radius / spatial._M_PER_DEG
    lon_cell = deg / math.cos(math.radians(80.9 + deg)) * 1.05
    assert 55.0 < lon_cell and seam_shadows_active(lon_cell)

    got = {
        r["sample_id"]: r["temp"]
        for r in idw_interpolate_radius(
            samples, stations, ["temp"], radius_m=radius
        ).collect()
    }

    def hav(a, b, c, d):
        p = math.sin(math.radians(c - a) / 2) ** 2 + math.cos(math.radians(a)) * math.cos(
            math.radians(c)
        ) * math.sin(math.radians(d - b) / 2) ** 2
        return 2 * 6371000.0 * math.atan2(math.sqrt(p), math.sqrt(1 - p))

    st = stations.collect()
    want = {}
    n_cross_seam = 0
    for s in samples.collect():
        num = den = 0.0
        for t in st:
            d = hav(s["lat"], s["lon"], t["station_lat"], t["station_lon"])
            if d <= radius and not math.isnan(t["temp"]):
                n_cross_seam += (s["lon"] > 0) != (t["station_lon"] > 0)
                w = 1.0 / d**2
                num += w * t["temp"]
                den += w
        if den > 0.0:
            want[s["sample_id"]] = num / den
    assert n_cross_seam > 0  # the fixture really straddles the seam
    assert set(got) == set(want)
    for sid, v in want.items():
        assert got[sid] == pytest.approx(v, rel=1e-9), sid
