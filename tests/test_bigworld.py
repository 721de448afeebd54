"""Reference-scale world: >150 zone pieces with real vertex counts.

Evidence that the engine holds at the reference's world scale (>400
zones, TimeZoneMapTest.java:283 — full scale exercised in bench/BASELINE;
a reduced grid keeps CI fast while covering the same code paths)."""

import numpy as np
import pytest

from tzengine import index, probe
from tzengine.bigworld import big_world
from tzengine.oracle import OracleMap


@pytest.fixture(scope="module")
def world():
    return big_world(grid=13, verts=64)


@pytest.fixture(scope="module")
def idx(world):
    return index.compile_index(world, -90, -180, 90, 180, world_version="big1")


def test_scale_shape(world, idx):
    assert len(world) > 150
    # broadcast stays small (SURVEY §4: O(few MB) at world scale)
    assert idx.nbytes() < 16 * 1024 * 1024
    # the probe pays ~9 array passes per lookup level, so merge_levels
    # must collapse this world's 8 native covering resolutions into
    # very few lookup levels (round 6); interior and boundary cells
    # both exist
    assert 1 <= len(idx.levels) <= 3
    assert idx.ent_interior.any() and (~idx.ent_interior).any()


def test_oracle_agreement_at_scale(world, idx):
    oracle = OracleMap(world, -90, -180, 90, 180)
    rng = np.random.default_rng(7)
    lats = rng.uniform(-63, 63, 1500)
    lons = rng.uniform(-63, 63, 1500)
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = probe.ranks_to_tzids(idx, offs, ranks, valid)
    mism = sum(
        1
        for i in range(len(lats))
        if tzids[i] != oracle.get_overlapping_time_zones(lats[i], lons[i])
    )
    assert mism == 0
    # overlapping tiles exist: some points match >2 zones (zone+ocean)
    assert any(len(t) > 2 for t in tzids)


def test_full_coverage_and_ocean_last(idx, world):
    rng = np.random.default_rng(8)
    lats = rng.uniform(-63, 63, 500)
    lons = rng.uniform(-63, 63, 500)
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = probe.ranks_to_tzids(idx, offs, ranks, valid)
    for t in tzids:
        assert t, "ocean filler guarantees full coverage"
        assert t[-1] == "Zone/Ocean", "largest area always sorts last"


def test_distributed_compile_parity_at_scale(spark, world):
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    local = TzEngine.for_everywhere(spark, world, world_version="big1")
    dist = TzEngine.for_everywhere(
        spark, pieces_to_df(spark, world), world_version="big1", distributed=True
    )
    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(
            rng.uniform(-63, 63, 400), rng.uniform(-63, 63, 400))],
        "lat double, lon double",
    )
    a = local.assign_timezones(pts).orderBy("lat", "lon").collect()
    b = dist.assign_timezones(pts).orderBy("lat", "lon").collect()
    assert a == b


def test_knn_pruned_matches_dense_and_is_sublinear(idx):
    # pruned kNN must equal the dense n_points x n_pieces sweep exactly,
    # while touching far fewer pieces (VERDICT r1 #6 scale fix)
    rng = np.random.default_rng(7)
    lats = rng.uniform(-60, 60, 64)
    lons = rng.uniform(-60, 60, 64)
    got, n_eval = probe.knn_zones_batch(idx, lats, lons, k=3, return_stats=True)

    # dense reference (the round-1 semantics), computed inline
    from tzengine import geom
    pts = np.stack([lons, lats], axis=1)
    dists = np.zeros((len(lats), idx.n_pieces))
    for rank in range(idx.n_pieces):
        rings = idx.piece_rings(rank)
        inside = geom.contains_inclusive(pts, rings)
        d = geom.distance_from_boundary(pts, rings)
        dists[:, rank] = np.where(inside, 0.0, d)
    ranks = np.arange(idx.n_pieces)
    expect = []
    for i in range(len(lats)):
        order = np.lexsort((ranks, dists[i]))
        seen, names = set(), []
        for r in order:
            zid = idx.zone_ids[r]
            if zid not in seen:
                seen.add(zid)
                names.append(zid)
            if len(names) >= 3:
                break
        expect.append(names)
    assert got == expect
    dense_evals = len(lats) * idx.n_pieces
    assert n_eval < dense_evals / 10, (n_eval, dense_evals)


def test_knn_bound_matrix_is_group_sized_not_piece_sized(idx, monkeypatch):
    """VERDICT r2 #6: the kNN candidate stream must never materialize an
    O(n_points x n_pieces) bound matrix. Every bbox-bound call is either
    the (n x n_groups) group matrix (n_groups = ceil(P/64)) or a
    single-point group expansion of <= 64 pieces — asserted by recording
    the box-count of every bound evaluation."""
    from tzengine import geom

    outer_calls = []
    pair_rows = []
    real_outer = geom.bbox_geodesic_lower_bound
    real_pair = geom.bbox_geodesic_lower_bound_pairwise

    def spy_outer(lats, lons, boxes):
        outer_calls.append((np.atleast_1d(lats).shape[0], len(boxes)))
        return real_outer(lats, lons, boxes)

    def spy_pair(lats, lons, boxes):
        pair_rows.append(len(boxes))
        return real_pair(lats, lons, boxes)

    monkeypatch.setattr(geom, "bbox_geodesic_lower_bound", spy_outer)
    monkeypatch.setattr(geom, "bbox_geodesic_lower_bound_pairwise", spy_pair)
    # fresh group cache so the spy sees the group build too
    if hasattr(idx, "_knn_groups"):
        object.__delattr__(idx, "_knn_groups")
    rng = np.random.default_rng(11)
    lats = rng.uniform(-60, 60, 48)
    lons = rng.uniform(-60, 60, 48)
    gsize = 8  # fine groups so expansion pruning is observable
    got = probe.knn_zones_batch(idx, lats, lons, k=3, group_size=gsize)
    assert all(len(g) == 3 for g in got)

    n_groups = -(-idx.n_pieces // gsize)
    assert idx.n_pieces > gsize  # the test is non-vacuous
    # outer (matrix) calls are points x GROUPS only — never points x pieces
    assert outer_calls, "group bound matrix was never computed"
    for n_pts, n_boxes in outer_calls:
        assert n_boxes == n_groups, (n_pts, n_boxes)
    # expansions are elementwise (pairwise) rows, and lazy expansion
    # actually prunes: total expanded (point, piece) pairs stay well
    # under the dense n_points x n_pieces product
    assert pair_rows, "expansions must go through the pairwise bound"
    total_pairs = sum(pair_rows)
    assert total_pairs < len(lats) * idx.n_pieces / 2, (
        total_pairs, len(lats) * idx.n_pieces
    )


def test_distributed_compile_index_arrays_identical(spark, world):
    # stronger than assignment parity: the distributed blob path must
    # produce bit-identical index arrays (same kernels, same assembly)
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    local = TzEngine.for_region(spark, world, -50, -50, 50, 50,
                                world_version="big1")
    dist = TzEngine.for_region(spark, pieces_to_df(spark, world),
                               -50, -50, 50, 50,
                               world_version="big1", distributed=True)
    a, b = local.idx, dist.idx
    assert a.zone_ids == b.zone_ids
    for field in ["polygon_ids", "areas", "piece_bbox", "ring_offsets",
                  "vert_offsets", "verts", "seg_offsets", "seg_a", "seg_b",
                  "ent_rank", "ent_interior", "ent_center", "ent_seg_off",
                  "ent_seg_idx"]:
        np.testing.assert_array_equal(getattr(a, field), getattr(b, field),
                                      err_msg=field)
    assert sorted(a.levels) == sorted(b.levels)
    for lvl in a.levels:
        for x, y in zip(a.levels[lvl], b.levels[lvl]):
            np.testing.assert_array_equal(x, y)

    # compile fan-out is a parameter now (VERDICT r2 #7): a different
    # partition count must not change a single output byte
    dist2 = TzEngine.for_region(spark, pieces_to_df(spark, world),
                                -50, -50, 50, 50, world_version="big1",
                                distributed=True, compile_partitions=7)
    c = dist2.idx
    assert a.zone_ids == c.zone_ids
    np.testing.assert_array_equal(a.verts, c.verts)
    np.testing.assert_array_equal(a.ent_rank, c.ent_rank)
    np.testing.assert_array_equal(a.ent_seg_idx, c.ent_seg_idx)


def test_artifact_distributed_reload_parity(spark, world, tmp_path):
    # the production reload path: recompile from the artifact's zones
    # table on executors, collecting only compiled blobs; must produce
    # bit-identical index arrays vs the driver-side reload
    from tzengine.engine import TzEngine

    eng = TzEngine.for_region(spark, world, -50, -50, 50, 50,
                              world_version="big1")
    path = str(tmp_path / "art")
    eng.save_artifact(path)
    a = TzEngine.from_artifact(spark, path).idx
    b = TzEngine.from_artifact(spark, path, distributed=True).idx
    assert a.zone_ids == b.zone_ids
    for field in ["areas", "verts", "seg_a", "ent_rank", "ent_seg_idx"]:
        np.testing.assert_array_equal(getattr(a, field), getattr(b, field),
                                      err_msg=field)
    for lvl in a.levels:
        for x, y in zip(a.levels[lvl], b.levels[lvl]):
            np.testing.assert_array_equal(x, y)


def test_distributed_parity_keeps_zero_area_passthrough_piece(spark):
    # a degenerate (zero-area) piece fully inside the region must be
    # treated identically by both compile paths (code-review regression)
    from tzengine.engine import TzEngine
    from tzengine.zones import ZonePiece, pieces_to_df, _rect, make_piece

    degen = ZonePiece(
        "Zone/Line", 0, 0,
        [np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])],
    )
    filler = make_piece("Zone/Fill", 0, 1, [_rect(-5, -5, 5, 5)])
    pieces = [degen, filler]
    a = TzEngine.for_region(spark, pieces, -10, -10, 10, 10,
                            world_version="z")
    b = TzEngine.for_region(spark, pieces_to_df(spark, pieces),
                            -10, -10, 10, 10, world_version="z",
                            distributed=True)
    assert a.idx.zone_ids == b.idx.zone_ids
    assert a.idx.n_pieces == b.idx.n_pieces


def test_dense_level_tables_bounded(idx):
    """Round-3 review fix: dense lookup tables must never dwarf the
    arrays they replace — sparse levels (few cells, wide footprint)
    fall back to binary search instead of burning broadcast bytes."""
    total = 0
    for res, (tbl, ix0, iy0, w, h) in idx.level_dense.items():
        # round 6: tables carry a one-cell zero border the probe clamps
        # into (no bounds mask), so stored size is (W+2)x(H+2)
        assert tbl.size == (w + 2) * (h + 2)
        assert tbl.size <= index.DENSE_LEVEL_CAP, res
        # the border must be all-miss: clamped out-of-footprint probes
        # land there and MUST read 0
        t2 = tbl.reshape(h + 2, w + 2)
        assert not t2[0].any() and not t2[-1].any()
        assert not t2[:, 0].any() and not t2[:, -1].any()
        total += tbl.size
    assert total <= index.DENSE_TOTAL_CAP
    # the hottest level (most entries) is dense; the sparse high-res
    # levels of this world are not
    by_entries = max(idx.levels, key=lambda r: len(idx.levels[r][2]))
    assert by_entries in idx.level_dense


# ---------------------------------------------------------------------------
# Vertex-scale world (VERDICT r3 #3): >=1M float32 coastline-resolution
# vertices — the 100x axis the 42k-vertex worlds left unmeasured.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def huge():
    from tzengine.bigworld import huge_world

    pieces = huge_world()
    idx_h = index.compile_index(pieces, -90, -180, 90, 180,
                                world_version="huge1")
    return pieces, idx_h


def test_hugeworld_shape_and_broadcast_bound(huge):
    pieces, idx_h = huge
    n_verts = sum(len(r) for p in pieces for r in p.rings)
    assert n_verts >= 1_000_000
    # all vertices sit on the float32 grid (B3 ingest contract)
    v = idx_h.verts
    np.testing.assert_array_equal(v, v.astype(np.float32).astype(np.float64))
    # broadcast stays bounded: ~24B/vertex (f64 verts + f32-capable seg
    # arrays + cells) — the index must not blow up superlinearly in V
    assert idx_h.nbytes() < 80 * 1024 * 1024, idx_h.nbytes()
    assert idx_h.ent_interior.any() and (~idx_h.ent_interior).any()


def test_hugeworld_probe_matches_dense_pip(huge):
    """Value correctness at 1M vertices: the cell-index probe must equal
    the direct per-piece boundary-inclusive PIP (rank order = area
    ascending) on random points AND on exact-boundary points (polygon
    vertices), where the dense-grid level tables and f32 segment storage
    are most stressed."""
    from tzengine import geom

    pieces, idx_h = huge
    rng = np.random.default_rng(21)
    lats = rng.uniform(-63, 63, 300)
    lons = rng.uniform(-63, 63, 300)
    # 100 exact polygon vertices as probe points (on-boundary inclusivity)
    vsel = rng.integers(0, len(idx_h.verts), 100)
    lats = np.concatenate([lats, idx_h.verts[vsel, 1]])
    lons = np.concatenate([lons, idx_h.verts[vsel, 0]])

    offs, ranks, valid = probe.probe_ranks(idx_h, lats, lons, mode="strict")
    got = [ranks[offs[i]:offs[i + 1]].tolist() for i in range(len(lats))]

    pts = np.stack([lons, lats], axis=1)
    expect = [[] for _ in range(len(lats))]
    for rank in range(idx_h.n_pieces):
        rings = idx_h.piece_rings(rank)
        inside = geom.contains_inclusive(pts, rings)
        for i in np.nonzero(inside)[0]:
            expect[i].append(rank)
    assert got == expect


def test_hugeworld_oracle_map_spot_check(huge):
    """The literal reference-semantics OracleMap (linear scan, pre-clip
    area sort) agrees with the engine on sampled points incl. a vertex."""
    pieces, idx_h = huge
    oracle = OracleMap(pieces, -90, -180, 90, 180)
    rng = np.random.default_rng(5)
    lats = list(rng.uniform(-63, 63, 8)) + [float(idx_h.verts[12345, 1])]
    lons = list(rng.uniform(-63, 63, 8)) + [float(idx_h.verts[12345, 0])]
    offs, ranks, valid = probe.probe_ranks(
        idx_h, np.array(lats), np.array(lons), mode="strict"
    )
    _, tzids = probe.ranks_to_tzids(idx_h, offs, ranks, valid)
    for i, (la, lo) in enumerate(zip(lats, lons)):
        assert tzids[i] == oracle.get_overlapping_time_zones(la, lo)


def test_hugeworld_distributed_compile_parity(spark):
    """Distributed compile (executor compile_piece blobs) must produce
    bit-identical index arrays on a coastline-shaped world (reduced grid
    for CI speed; the kernel/covering path is the same)."""
    from tzengine.bigworld import huge_world
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    world = huge_world(grid=5, verts=800)
    local = TzEngine.for_everywhere(spark, world, world_version="hugeS")
    dist = TzEngine.for_everywhere(
        spark, pieces_to_df(spark, world), world_version="hugeS",
        distributed=True,
    )
    a, b = local.idx, dist.idx
    assert a.zone_ids == b.zone_ids
    for field in ["areas", "piece_bbox", "vert_offsets", "verts",
                  "seg_a", "seg_b", "ent_rank", "ent_interior",
                  "ent_center", "ent_seg_off", "ent_seg_idx"]:
        np.testing.assert_array_equal(getattr(a, field), getattr(b, field),
                                      err_msg=field)


def test_knn_planar_metric_matches_dense_planar_sweep(idx):
    """metric='planar_deg' must equal the dense planar sweep exactly
    (the SQL-oracle-able ordering; the driver value-verifies the same
    ordering end-to-end via knn_zones_planar)."""
    from tzengine import geom

    rng = np.random.default_rng(17)
    lats = rng.uniform(-60, 60, 48)
    lons = rng.uniform(-60, 60, 48)
    got = probe.knn_zones_batch(idx, lats, lons, k=3, metric="planar_deg")

    pts = np.stack([lons, lats], axis=1)
    dists = np.zeros((len(lats), idx.n_pieces))
    for rank in range(idx.n_pieces):
        rings = idx.piece_rings(rank)
        inside = geom.contains_inclusive(pts, rings)
        d = geom.planar_distance_from_boundary(pts, rings)
        dists[:, rank] = np.where(inside, 0.0, d)
    ranks = np.arange(idx.n_pieces)
    expect = []
    for i in range(len(lats)):
        order = np.lexsort((ranks, dists[i]))
        seen, names = set(), []
        for r in order:
            zid = idx.zone_ids[r]
            if zid not in seen:
                seen.add(zid)
                names.append(zid)
            if len(names) >= 3:
                break
        expect.append(names)
    assert got == expect


def _dense_distance(idx, zones, lats, lons, metric):
    """Per-piece Q5 reference: contains_inclusive over the zone's pieces
    in rank order, then the dense geom distance helper on the first
    containing piece."""
    from tzengine import geom

    measure = {
        "planar_deg": geom.planar_distance_from_boundary,
        "geodesic": geom.distance_from_boundary,
        "geodesic_fixed": geom.distance_from_boundary,
        "geodesic_freeze": lambda p, r: geom.distance_from_boundary(
            p, r, freeze=True
        ),
    }[metric]
    out = np.full(len(lats), np.nan)
    zarr = np.array(zones, dtype=object)
    for zone in {z for z in zones if z is not None}:
        pend = np.nonzero(zarr == zone)[0]
        for rank in [r for r, z in enumerate(idx.zone_ids) if z == zone]:
            rings = idx.piece_rings(rank)
            pts = np.stack([lons[pend], lats[pend]], axis=1)
            inside = geom.contains_inclusive(pts, rings)
            if inside.any():
                out[pend[inside]] = measure(pts[inside], rings)
            pend = pend[~inside]
    return out


def test_distance_batch_matches_dense(idx):
    """The compiled-index distance kernel (probe containment, zone match,
    bucket-pruned foot, one batched Vincenty) is bitwise the dense
    per-piece reference for every metric and mode: random points under
    their first and their last containing zone, a zone's lower-ranked
    second piece, float32-grid boundary points, None zones, a name the
    index lacks and a zone that does not contain the point."""
    from tzengine import geom

    rng = np.random.default_rng(31)
    lats = rng.uniform(-63, 63, 240)
    lons = rng.uniform(-63, 63, 240)
    # lower-ranked pieces of multi-piece zones (the small triangles):
    # their centroids, named by the zone
    multi = [r for r in range(idx.n_pieces)
             if idx.zone_ids.count(idx.zone_ids[r]) > 1
             and idx.zone_ids.index(idx.zone_ids[r]) == r]
    cen = np.array([idx.piece_rings(r)[0].mean(axis=0) for r in multi])
    # float32-grid boundary points: vertices and snapped edge midpoints
    stars = [r for r in range(idx.n_pieces)
             if len(idx.piece_rings(r)[0]) == 64]
    vr = rng.choice(stars, 60)
    vtx = np.array([idx.piece_rings(int(r))[0][3] for r in vr])
    mid = geom.f32(np.array([
        (idx.piece_rings(int(r))[0][5] + idx.piece_rings(int(r))[0][6]) / 2
        for r in vr
    ]))
    lats = np.concatenate([lats, cen[:, 1], vtx[:, 1], mid[:, 1]])
    lons = np.concatenate([lons, cen[:, 0], vtx[:, 0], mid[:, 0]])
    offs, ranks, _valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    first = [idx.zone_ids[ranks[offs[i]]] for i in range(len(lats))]
    last = [idx.zone_ids[ranks[offs[i + 1] - 1]] for i in range(len(lats))]
    n_rand = 240
    zones = (
        first[:n_rand // 2] + last[n_rand // 2:n_rand]
        + [idx.zone_ids[r] for r in multi]
        + [idx.zone_ids[int(r)] for r in vr] * 2
    )
    assert any(first[i] != last[i] for i in range(n_rand // 2, n_rand))
    zones[0:3] = [None, None, "Zone/Nowhere"]
    zones[3] = next(z for z in idx.zone_ids if z not in (first[3], last[3])
                    and z != "Zone/Ocean")
    n_mid = len(lats) - len(vr)  # snapped midpoints may leave the piece
    for metric in probe.DISTANCE_METRICS:
        want = _dense_distance(idx, zones, lats, lons, metric)
        got = probe.distance_from_boundary_batch(
            idx, zones, lats, lons, mode="pipeline", metric=metric
        )
        assert np.array_equal(got, want, equal_nan=True), metric
        assert np.isnan(got[:4]).all() and not np.isnan(got[4:n_mid]).any()
        # strict mode: every named point resolves, None rows stay NaN
        ok = np.r_[1, 4:len(lats)]
        ok = ok[(ok == 1) | ~np.isnan(got[ok])]
        z_ok = [zones[i] for i in ok]
        strict = probe.distance_from_boundary_batch(
            idx, z_ok, lats[ok], lons[ok], mode="strict", metric=metric
        )
        assert np.array_equal(strict, got[ok], equal_nan=True), metric
    # the lower-ranked triangle, not the zone's big piece, is measured
    # (``got`` holds the last metric, planar_deg)
    k = n_rand
    for j, r in enumerate(multi):
        pt = np.array([[lons[k + j], lats[k + j]]])
        assert got[k + j] == geom.planar_distance_from_boundary(
            pt, idx.piece_rings(r)
        )[0]
    assert (got[k + len(multi):k + len(multi) + len(vr)] == 0.0).all()
    # strict mode keeps the reference message for an unresolved point,
    # whether outside its zone or outside the initialized region
    for bad_zone, bad_lat in (("Zone/Nowhere", 0.0), (first[5], np.nan)):
        with pytest.raises(
            ValueError, match="^Location must be inside the time zone$"
        ):
            probe.distance_from_boundary_batch(
                idx, [first[4], bad_zone], np.array([lats[4], bad_lat]),
                lons[4:6], mode="strict",
            )


def test_nearest_feet_memory_bounded_on_hot_zone(huge):
    """The foot kernel's bucket prune runs in pair chunks, so its peak
    allocation does not grow with the number of pairs on one coastline
    zone (it used to be pairs x buckets: ~1.2 GB at 64k points), and the
    chunked result is bitwise the single-chunk one."""
    import tracemalloc

    _pieces, idx_h = huge
    rank = idx_h.zone_ids.index("Zone/H10x10")
    lo_lon, lo_lat, hi_lon, hi_lat = idx_h.piece_bbox[rank]
    rng = np.random.default_rng(4)
    lon = rng.uniform(lo_lon, hi_lon, 40000)
    lat = rng.uniform(lo_lat, hi_lat, 40000)
    offs, ranks, _valid = probe.probe_ranks(idx_h, lat, lon, mode="pipeline")
    hit = np.nonzero(ranks == rank)[0]
    pt = np.searchsorted(offs, hit, side="right") - 1
    lon, lat = lon[pt][:16000], lat[pt][:16000]
    assert len(lon) == 16000
    ranks = np.full(16000, rank)
    # build the per-index segment caches first: they are not per-call
    probe._nearest_feet_flat(idx_h, lon[:8], lat[:8], ranks[:8])
    n_segs = int(idx_h.seg_offsets[rank + 1] - idx_h.seg_offsets[rank])
    assert 2000 * n_segs > probe._nearest_feet_flat.__defaults__[0]

    def peak(n, **kw):
        tracemalloc.start()
        try:
            res = probe._nearest_feet_flat(
                idx_h, lon[:n], lat[:n], ranks[:n], **kw
            )
            return tracemalloc.get_traced_memory()[1], res
        finally:
            tracemalloc.stop()

    p2k, r2k = peak(2000)
    p16k, _ = peak(16000)
    assert p16k <= 1.5 * p2k, (p2k, p16k)
    _p, whole = peak(2000, pair_chunk=1 << 62)
    for a, b in zip(r2k, whole):
        assert np.array_equal(a, b)
