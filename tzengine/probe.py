"""Vectorized probe kernels over a CompiledIndex (pure numpy).

These are the batch kernels the Spark arrow UDFs call (engine.py); they
are Spark-free so the same code is unit-testable and runs inside Arrow
batches on executors. Semantics = reference point query (TimeZoneMap.kt:
56-85): init-region guard (Q3), boundary-inclusive containment (Q4),
smallest-area-first ordering (Q1/Q2), plus the distance kernel (Q5) and
the kNN fallback ordering (north_star).
"""

from __future__ import annotations

import numpy as np

from . import cells, geom
from .index import CompiledIndex

OUTSIDE_MSG = "Requested point is outside the initialized area"
DISTANCE_METRICS = (
    "geodesic", "geodesic_fixed", "geodesic_freeze", "planar_deg"
)

# boundary-pass per-segment invariant cache: 11 float64 arrays, so the
# footprint is 88 B/segment — cap where it stops being LLC-resident
# (128k segs = 11 MB). Bigger worlds keep inline per-pair compute (the
# gathers would be DRAM-random and cost more than the arithmetic).
BSEG_CACHE_MAX_SEGS = 1 << 17


def region_guard(idx: CompiledIndex, lats: np.ndarray, lons: np.ndarray) -> np.ndarray:
    """Inclusive containment in the initialized region (TimeZoneMap.kt:82;
    envelope border inclusive, one ULP outside rejected —
    TimeZoneMapTest.java:361-373). Returns bool mask of valid points."""
    min_lat, min_lon, max_lat, max_lon = idx.init_region
    return (
        (lats >= min_lat) & (lats <= max_lat) & (lons >= min_lon) & (lons <= max_lon)
    )


def probe_ranks(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Find all containing pieces per point.

    Returns (offsets, ranks, valid):
      offsets int64 (N+1,), ranks int32 — CSR of piece ranks per point,
      rank-ascending (= area-ascending, the reference overlap order);
      valid bool (N,) — False for out-of-region points in pipeline mode.

    strict mode raises ValueError on any out-of-region point (Q3 guard);
    pipeline mode marks them invalid and continues (per-partition violation
    accounting happens in the engine layer).

    ``stats`` (optional dict) is filled with probe-path evidence:
    n_candidates (point, entry) pairs and n_boundary_candidates (pairs
    that took the exact boundary pass) — the bench uses this to report
    the boundary-pass share at coastline vertex scale.
    """
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)

    valid = region_guard(idx, lats, lons)
    if mode == "strict":
        if not np.all(valid):
            raise ValueError(OUTSIDE_MSG)
    elif mode != "pipeline":
        raise ValueError(f"unknown mode: {mode}")

    pt_idx_parts: list[np.ndarray] = []
    ent_parts: list[np.ndarray] = []

    vi = np.nonzero(valid)[0]
    if len(vi):
        vlats, vlons = lats[vi], lons[vi]
        # one Morton encode at the finest level; coarser levels are pure
        # scalar bit-shifts of the base morton — the encode is ~half the
        # lookup cost, so it runs exactly once per batch
        max_res = max(idx.levels) if idx.levels else 0
        ix_base, iy_base = cells.grid_of(vlons, vlats, max_res)
        base_morton = cells.morton_encode(ix_base, iy_base)
        ix64 = ix_base.astype(np.int64)
        iy64 = iy_base.astype(np.int64)
        vi32 = vi.astype(np.int32)
        for res, (uniq, offsets, ent_ids) in idx.levels.items():
            if not len(uniq):
                continue
            shift = np.uint64(2 * (max_res - res))
            dense = idx.level_dense.get(res)
            if dense is not None:
                # dense-grid lookup: one gather instead of a binary
                # search. The table has a one-cell zero border (round
                # 6, build_level_dense), so out-of-footprint points
                # CLAMP into guaranteed-miss border cells — no bounds
                # mask; hits are then selected by index gather (one
                # nonzero scan + three small gathers) instead of three
                # full-length boolean-index passes.
                tbl, ix0, iy0, w, h = dense
                s1 = max_res - res
                jx = np.clip((ix64 >> s1) - ix0 + 1, 0, w + 1)
                jy = np.clip((iy64 >> s1) - iy0 + 1, 0, h + 1)
                pos1 = tbl[jy * (w + 2) + jx]
                hm = np.nonzero(pos1)[0]
                if not len(hm):
                    continue
                hit_pts = vi32[hm]
                hp = pos1[hm].astype(np.int64) - 1
            else:
                pc = (np.uint64(res) << np.uint64(58)) | (base_morton >> shift)
                # cheap range prefilter: a probe cell outside the level's
                # [first, last] cell id can't hit — skips the binary
                # search for points far from this level's covered area
                in_range = (pc >= uniq[0]) & (pc <= uniq[-1])
                if not in_range.all():
                    rsel = np.nonzero(in_range)[0]
                    if not len(rsel):
                        continue
                    pc_q, q_pts = pc[rsel], vi32[rsel]
                else:
                    pc_q, q_pts = pc, vi32
                pos = np.searchsorted(uniq, pc_q)
                pos_c = np.minimum(pos, len(uniq) - 1)
                hit = uniq[pos_c] == pc_q
                hit_pts = q_pts[hit]
                if not len(hit_pts):
                    continue
                hp = pos_c[hit]
            starts, ends = offsets[hp], offsets[hp + 1]
            counts = ends - starts
            total = int(counts.sum())
            if total == 0:
                continue
            # CSR expand, fully vectorized: for every (point, entry) pair,
            # entry_idx = start_of_run + position_within_run
            rep_pts = np.repeat(hit_pts, counts)
            run_heads = np.repeat(np.cumsum(counts) - counts, counts)
            entry_idx = np.repeat(starts, counts) + (np.arange(total) - run_heads)
            pt_idx_parts.append(rep_pts)
            ent_parts.append(ent_ids[entry_idx])

    if pt_idx_parts:
        pt_idx = np.concatenate(pt_idx_parts)
        cand_ent = np.concatenate(ent_parts)
    else:
        pt_idx = np.zeros(0, dtype=np.int32)
        cand_ent = np.zeros(0, dtype=np.int32)

    cand_rank = idx.ent_rank[cand_ent] if len(cand_ent) else np.zeros(0, np.int32)
    cand_int = (
        idx.ent_interior[cand_ent] if len(cand_ent) else np.zeros(0, dtype=bool)
    )

    # Boundary candidates: exact inclusive containment against the CELL-
    # LOCAL segments only (the entry carries its segment ids and the even-
    # odd state of the cell center): inside = on-any-local-segment OR
    # center_state XOR parity(crossings of the center→point segment).
    # Cost is O(local segments) per candidate — independent of the zone's
    # total vertex count (north_star boundary-cell design).
    confirmed = cand_int.copy()
    bsel = np.nonzero(~cand_int)[0]
    if stats is not None:
        stats["n_candidates"] = int(len(cand_int))
        stats["n_boundary_candidates"] = int(len(bsel))
    if len(bsel):
        ents_all = cand_ent[bsel]
        k_all = (
            idx.ent_seg_off[ents_all + 1] - idx.ent_seg_off[ents_all]
        ).astype(np.int64)
        # per-candidate point coords + parity-anchor centers, computed
        # once. The anchor is the entry's ORIGINAL covering cell center,
        # precomputed at assembly (index.ent_cx/ent_cy — the identical
        # (lo+hi)/2 doubles this code used to derive from the probed
        # cell id, which level merging re-homes onto finer cells).
        px_all = lons[pt_idx[bsel]]
        py_all = lats[pt_idx[bsel]]
        cx_all = idx.ent_cx[ents_all]
        cy_all = idx.ent_cy[ents_all]
        cum = np.cumsum(k_all)

        # per-SEGMENT invariants, computed once per index instead of
        # once per (candidate, segment) pair (round 6): dx/dy, the
        # eps-padded bbox, and the colinearity threshold are functions
        # of the segment endpoints alone — gathered per pair below,
        # they replace two subtractions, four min/max passes, four eps
        # adds, a hypot and a max+multiply with six reads of the SAME
        # doubles (float32 storage upcasts exactly, and every
        # precomputed expression is the AST the inline code evaluated,
        # so all predicates stay bit-identical). ADAPTIVE: above
        # BSEG_CACHE_MAX_SEGS the eleven float64 arrays stop being
        # cache-resident and the extra gathers cost more DRAM misses
        # than the arithmetic they save (measured: 1M-segment world
        # regresses, 48k-segment world gains ~15%), so large worlds
        # keep the inline compute (they still get the hoisted
        # cross-query below, which is free either way).
        bcache = getattr(idx, "_bseg_cache", None)
        if bcache is None and len(idx.seg_a) <= BSEG_CACHE_MAX_SEGS:
            c_ax = np.ascontiguousarray(idx.seg_a[:, 0], dtype=np.float64)
            c_ay = np.ascontiguousarray(idx.seg_a[:, 1], dtype=np.float64)
            c_bx = np.ascontiguousarray(idx.seg_b[:, 0], dtype=np.float64)
            c_by = np.ascontiguousarray(idx.seg_b[:, 1], dtype=np.float64)
            c_dx = c_bx - c_ax
            c_dy = c_by - c_ay
            c_thr = geom.ON_EDGE_EPS * np.maximum(
                np.hypot(c_dx, c_dy), 1.0
            )
            c_mnx = np.minimum(c_ax, c_bx) - geom.ON_EDGE_EPS
            c_mxx = np.maximum(c_ax, c_bx) + geom.ON_EDGE_EPS
            c_mny = np.minimum(c_ay, c_by) - geom.ON_EDGE_EPS
            c_mxy = np.maximum(c_ay, c_by) + geom.ON_EDGE_EPS
            bcache = (
                c_ax, c_ay, c_bx, c_by, c_dx, c_dy,
                c_thr, c_mnx, c_mxx, c_mny, c_mxy,
            )
            object.__setattr__(idx, "_bseg_cache", bcache)

        # chunk the (candidate x local-segment) pair expansion so the
        # temporaries stay cache-resident instead of streaming multi-MB
        # arrays through DRAM (the 8-core ladder step is bandwidth-bound
        # before it is compute-bound)
        PAIR_CHUNK = 1 << 16
        start = 0
        n_b = len(bsel)
        while start < n_b:
            base = int(cum[start - 1]) if start else 0
            end = int(np.searchsorted(cum, base + PAIR_CHUNK, side="left")) + 1
            end = min(max(end, start + 1), n_b)
            ents = ents_all[start:end]
            k = k_all[start:end]
            total = int(cum[end - 1] - base)
            rep_pair = np.repeat(np.arange(end - start), k)
            run_heads = np.repeat(np.cumsum(k) - k, k)
            seg_pos = np.repeat(idx.ent_seg_off[ents], k) + (
                np.arange(total) - run_heads
            )
            seg_ids = idx.ent_seg_idx[seg_pos]
            # gathered slices upcast to float64 BEFORE any arithmetic:
            # float32 storage is lossless (index.py), so every predicate
            # below is bit-identical to the float64-storage result
            if bcache is not None:
                (
                    c_ax, c_ay, c_bx, c_by, c_dx, c_dy,
                    c_thr, c_mnx, c_mxx, c_mny, c_mxy,
                ) = bcache
                ax = c_ax[seg_ids]
                ay = c_ay[seg_ids]
                bx = c_bx[seg_ids]
                by = c_by[seg_ids]
                dx = c_dx[seg_ids]
                dy = c_dy[seg_ids]
                thr = c_thr[seg_ids]
                mnx = c_mnx[seg_ids]
                mxx = c_mxx[seg_ids]
                mny = c_mny[seg_ids]
                mxy = c_mxy[seg_ids]
            else:
                ax = idx.seg_a[seg_ids, 0].astype(np.float64, copy=False)
                ay = idx.seg_a[seg_ids, 1].astype(np.float64, copy=False)
                bx = idx.seg_b[seg_ids, 0].astype(np.float64, copy=False)
                by = idx.seg_b[seg_ids, 1].astype(np.float64, copy=False)
                dx = bx - ax
                dy = by - ay
                thr = geom.ON_EDGE_EPS * np.maximum(np.hypot(dx, dy), 1.0)
                mnx = np.minimum(ax, bx) - geom.ON_EDGE_EPS
                mxx = np.maximum(ax, bx) + geom.ON_EDGE_EPS
                mny = np.minimum(ay, by) - geom.ON_EDGE_EPS
                mxy = np.maximum(ay, by) + geom.ON_EDGE_EPS
            px = px_all[start:end][rep_pair]
            py = py_all[start:end][rep_pair]
            cx = cx_all[start:end][rep_pair]
            cy = cy_all[start:end][rep_pair]

            # on-segment (touches) test — inclusive boundary (Util.kt:12-13)
            cross_prod = dx * (py - ay) - dy * (px - ax)
            colinear = np.abs(cross_prod) <= thr
            inbox = (px >= mnx) & (px <= mxx) & (py >= mny) & (py <= mxy)
            on_seg = colinear & inbox
            # segments_cross_query inlined with the per-segment d1/d2
            # bases hoisted: d2's orient(a, b, p) IS cross_prod (same
            # expression over the same doubles), d1 reuses dx/dy; the
            # half-open convention (>0 vs <=0 on both tests) unchanged
            d1 = dx * (cy - ay) - dy * (cx - ax) > 0
            d2 = cross_prod > 0
            d3 = (px - cx) * (ay - cy) - (py - cy) * (ax - cx) > 0
            d4 = (px - cx) * (by - cy) - (py - cy) * (bx - cx) > 0
            crossing = (d1 != d2) & (d3 != d4)

            if np.all(k > 0):
                # candidates are contiguous runs -> reduceat (boolean ops,
                # no float-weighted bincount pass)
                starts_r = (np.cumsum(k) - k).astype(np.int64)
                on_any = np.logical_or.reduceat(on_seg, starts_r)
                parity = np.logical_xor.reduceat(crossing, starts_r)
            else:  # defensive: reduceat is wrong for empty runs
                rc = end - start
                on_any = (
                    np.bincount(rep_pair, weights=on_seg, minlength=rc) > 0
                )
                parity = (
                    np.bincount(
                        rep_pair, weights=crossing, minlength=rc
                    ).astype(np.int64)
                    & 1
                ).astype(bool)
            confirmed[bsel[start:end]] = on_any | (
                idx.ent_center[ents] ^ parity
            )
            start = end

    pt_idx = pt_idx[confirmed]
    cand_rank = cand_rank[confirmed]

    # assemble CSR sorted by (point, rank) — rank order IS area order.
    # Single combined-key argsort (point<<32 | rank) instead of a two-key
    # lexsort: (point, rank) pairs are unique (a piece's covering cells
    # are disjoint, so each piece appears at most once per point), and one
    # int64 introsort is ~2x the speed of lexsort's two stable passes.
    key = (pt_idx.astype(np.int64) << np.int64(32)) | cand_rank.astype(
        np.int64
    )
    order = np.argsort(key)
    pt_idx, cand_rank = pt_idx[order], cand_rank[order]
    counts = np.bincount(pt_idx, minlength=n)
    offsets_out = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets_out[1:])
    return offsets_out, cand_rank.astype(np.int32), valid


def ranks_to_tzids(
    idx: CompiledIndex, offsets: np.ndarray, ranks: np.ndarray, valid: np.ndarray
) -> tuple[list, list]:
    """CSR ranks → (tzid first-match list, tzids all-matches list), None /
    empty list for invalid or uncovered points (Q1 note: with a
    full-coverage zone set every valid point matches)."""
    zone_ids = idx.zone_ids
    tzid = []
    tzids = []
    n = len(offsets) - 1
    for i in range(n):
        if not valid[i]:
            tzid.append(None)
            tzids.append(None)
            continue
        rs = ranks[offsets[i] : offsets[i + 1]]
        names = [zone_ids[r] for r in rs]
        tzids.append(names)
        tzid.append(names[0] if names else None)
    return tzid, tzids


def rank_dtype(idx: CompiledIndex):
    """Narrowest signed integer dtype that holds every piece rank (and
    the -1 sentinel): int16 up to 32767 pieces, int32 beyond. Shared by
    both probe impls so their outputs stay bit-identical (guide §2.3 —
    narrower types halve the Arrow-boundary bytes)."""
    return np.int16 if idx.n_pieces <= np.iinfo(np.int16).max else np.int32


def probe_arrow(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    with_all: bool = True,
):
    """Arrow-native probe result: (valid np.bool_, first_rank
    pa.Int16Array/Int32Array — None when ``with_all=True`` — and ranks
    pa.ListArray<int16|int32> — None when ``with_all=False``, the
    Q1-only fast path that skips the list serialization).

    Round 6 (guide §2.3, VERDICT r5 #5 — shrink bytes/row across the
    Arrow boundary): ranks travel as int16 whenever the piece count
    fits (454-2000 in every bench world), and when the rank LIST is
    already crossing the boundary the first rank is NOT shipped
    separately — the engine derives it JVM-side as get(ranks, 0), so
    the first-rank column costs zero transport.

    No per-row Python anywhere — the Spark assign UDF hands these straight
    back through the Arrow serializer, and the rank→zone-name mapping
    happens JVM-side (element_at over a literal array), so strings never
    cross the Python boundary at all.

    Sentinels instead of Arrow nulls (first_rank=-1, ranks=[]): Spark's
    pandas serializer can't convert pd.NA inside struct fields, so invalid
    rows are nulled JVM-side via the ``valid`` flag."""
    import pyarrow as pa

    offsets, ranks, valid = probe_ranks(idx, lats, lons, mode=mode)
    rdt = rank_dtype(idx)
    if with_all:
        list_arr = pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)),
            pa.array(ranks.astype(rdt)),
        )
        return valid, None, list_arr
    n = len(valid)
    counts = np.diff(offsets)
    has_match = (counts > 0) & valid
    if len(ranks):
        first = ranks[np.minimum(offsets[:-1], len(ranks) - 1)]
    else:
        first = np.zeros(n, dtype=ranks.dtype)
    first = np.where(has_match, first, -1).astype(rdt)
    return valid, pa.array(first), None


def distance_from_boundary_batch(
    idx: CompiledIndex,
    zone_ids,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    metric: str = "geodesic",
) -> np.ndarray:
    """Q5 (TimeZone.kt:41-47): for each (zone_id, point), distance to the
    planar-nearest coordinate on the boundary of the piece of ``zone_id``
    that contains the point (clip edges count) — the lowest-ranked such
    piece, the TimeZone object the reference user would hold.
    ``metric="geodesic"`` is the reference semantics (WGS84 meters) —
    since round 5 it IS the fixed-iteration Vincenty the SQL oracle
    mirrors ("geodesic_fixed" stays as an alias; "geodesic_freeze" opts
    back into the adaptive per-row-freeze variant, ~5e-10 m away).
    ``"planar_deg"`` returns the planar degree distance — the cheap
    pre-filter metric, and (being pure arithmetic) the one a SQL oracle
    can reproduce bit-for-bit. ``zone_ids`` is a sequence of names (None
    = no zone, NaN out, never an error). Outside points: ValueError in
    strict mode (reference message), NaN in pipeline mode.

    One vectorised pass per batch: containment from the compiled probe
    index, the zone match over the batch's unique names, the
    bucket-pruned foot kernel and ONE Vincenty call over every resolved
    point — all row-wise pure, so outputs are bitwise those of the dense
    per-piece geom helpers (pinned by test_distance_batch_matches_dense)."""
    if metric not in DISTANCE_METRICS:
        raise ValueError(f"unknown metric: {metric!r}")
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)
    out = np.full(n, np.nan)

    # each point's zone as a code into the index's sorted zone names
    # (-1: None or a name the index lacks), resolved per unique name
    zarr = np.asarray(zone_ids, dtype=object)
    named = np.nonzero(np.not_equal(zarr, None))[0]
    zone_names, zone_of_rank = np.unique(
        np.asarray(idx.zone_ids), return_inverse=True
    )
    uniq, inv = np.unique(zarr[named].astype(str), return_inverse=True)
    pos = np.minimum(np.searchsorted(zone_names, uniq), len(zone_names) - 1)
    zone_code = np.full(n, -1, dtype=np.int64)
    zone_code[named] = np.where(zone_names[pos] == uniq, pos, -1)[inv]

    # the first (lowest-rank) containing piece of the point's zone: the
    # CSR is rank-ascending per point, so it is the first matching entry
    offsets, ranks, _valid = probe_ranks(idx, lats, lons, mode="pipeline")
    ent_pt = np.repeat(np.arange(n), np.diff(offsets))
    match = np.nonzero(zone_of_rank[ranks] == zone_code[ent_pt])[0]
    hit_pt, first = np.unique(ent_pt[match], return_index=True)
    hit_rank = ranks[match[first]]
    if mode == "strict" and len(hit_pt) < len(named):
        raise ValueError("Location must be inside the time zone")

    fx, fy, d2 = _nearest_feet_flat(idx, lons[hit_pt], lats[hit_pt], hit_rank)
    if metric == "planar_deg":
        out[hit_pt] = np.sqrt(d2)
    else:
        out[hit_pt] = geom.geodesic_distance_wgs84(
            lats[hit_pt], lons[hit_pt], fy, fx,
            freeze=metric == "geodesic_freeze",
        )
    return out


def _seg_flat_cache(idx: CompiledIndex):
    """Per-index cache of float64 segment components + the pair-invariant
    dx/dy/len2 (len2 stays a gathered-then-computed EXACT product of
    the same doubles, so the foot's division is bit-identical)."""
    flat = getattr(idx, "_seg_flat", None)
    if flat is None:
        s_ax = np.ascontiguousarray(idx.seg_a[:, 0], dtype=np.float64)
        s_ay = np.ascontiguousarray(idx.seg_a[:, 1], dtype=np.float64)
        s_bx = np.ascontiguousarray(idx.seg_b[:, 0], dtype=np.float64)
        s_by = np.ascontiguousarray(idx.seg_b[:, 1], dtype=np.float64)
        s_dx = s_bx - s_ax
        s_dy = s_by - s_ay
        s_len2 = s_dx * s_dx + s_dy * s_dy
        flat = (s_ax, s_ay, s_dx, s_dy, s_len2)
        object.__setattr__(idx, "_seg_flat", flat)
    return flat


# Foot-search bucket pruning (round 6): segments of each piece are tiled
# into buckets of FOOT_BUCKET consecutive segments with an exact bbox;
# per (point, piece) pair a cheap upper bound U (exact foot distance to
# ONE representative segment per bucket) prunes every bucket whose
# bbox lower bound exceeds U * FOOT_PRUNE_MARGIN. Every segment of a
# pruned bucket lies inside that bucket's bbox, so its distance is >=
# the bucket bound > U >= d2min — strictly farther, which preserves the
# exact minimum AND the first-minimum tie-break; the 1e-9 relative
# margin dwarfs the ~1e-15 relative rounding of the bound arithmetic,
# so float rounding cannot flip an exclusion.
FOOT_BUCKET = 16
FOOT_PRUNE_MARGIN = 1.0 + 1e-9
FOOT_PRUNE_MIN_SEGS = 3 * FOOT_BUCKET  # below this a piece scan is cheap


def _seg_bucket_cache(idx: CompiledIndex):
    cached = getattr(idx, "_seg_buckets", None)
    if cached is not None:
        return cached
    so = idx.seg_offsets.astype(np.int64)
    counts = np.diff(so)
    nb = (counts + FOOT_BUCKET - 1) // FOOT_BUCKET
    pb_off = np.zeros(len(nb) + 1, dtype=np.int64)
    np.cumsum(nb, out=pb_off[1:])
    total = int(pb_off[-1])
    piece_of = np.repeat(np.arange(len(nb)), nb)
    k_in = np.arange(total) - np.repeat(pb_off[:-1], nb)
    b_lo = so[piece_of] + k_in * FOOT_BUCKET
    b_hi = np.minimum(b_lo + FOOT_BUCKET, so[piece_of + 1])
    # exact bbox over BOTH endpoints (bucket spans tile the segment
    # array in order, so b_lo is a valid reduceat starts array)
    a0 = np.ascontiguousarray(idx.seg_a[:, 0], dtype=np.float64)
    a1 = np.ascontiguousarray(idx.seg_a[:, 1], dtype=np.float64)
    b0 = np.ascontiguousarray(idx.seg_b[:, 0], dtype=np.float64)
    b1 = np.ascontiguousarray(idx.seg_b[:, 1], dtype=np.float64)
    if total:
        mnx = np.minimum(
            np.minimum.reduceat(a0, b_lo), np.minimum.reduceat(b0, b_lo)
        )
        mxx = np.maximum(
            np.maximum.reduceat(a0, b_lo), np.maximum.reduceat(b0, b_lo)
        )
        mny = np.minimum(
            np.minimum.reduceat(a1, b_lo), np.minimum.reduceat(b1, b_lo)
        )
        mxy = np.maximum(
            np.maximum.reduceat(a1, b_lo), np.maximum.reduceat(b1, b_lo)
        )
    else:
        mnx = mxx = mny = mxy = np.zeros(0)
    cached = (pb_off, b_lo, b_hi, mnx, mxx, mny, mxy)
    object.__setattr__(idx, "_seg_buckets", cached)
    return cached


def _eval_feet(flat, seg_pos, px, py):
    """Exact foot d² (and foot coords) per (pair, segment) row — the
    single AST every foot in this module evaluates."""
    s_ax, s_ay, s_dx, s_dy, s_len2 = flat
    ax = s_ax[seg_pos]
    ay = s_ay[seg_pos]
    dx = s_dx[seg_pos]
    dy = s_dy[seg_pos]
    len2 = s_len2[seg_pos]
    t = ((px - ax) * dx + (py - ay) * dy) / len2
    t = np.where(len2 > 0, np.clip(t, 0.0, 1.0), 0.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return cx, cy, d2


def _pair_chunks(cost: np.ndarray, budget: int):
    """(start, end) runs of consecutive items whose summed ``cost`` stays
    within ``budget`` (a run holds at least one item)."""
    cum = np.cumsum(cost)
    start, n = 0, len(cost)
    while start < n:
        base = int(cum[start - 1]) if start else 0
        end = int(np.searchsorted(cum, base + budget, side="right"))
        end = min(max(end, start + 1), n)
        yield start, end
        start = end


def _pruned_segments(idx: CompiledIndex, flat, lon, lat, rank):
    """Bucket prune (see FOOT_BUCKET) for a chunk of pairs: the flat
    positions of every segment the prune keeps, pair-major with the
    original segment order preserved within each pair, and the per-pair
    kept counts (each >= 1: the bucket that sets U is always kept)."""
    pb_off, b_lo, b_hi, mnx, mxx, mny, mxy = _seg_bucket_cache(idx)
    nb = (pb_off[rank + 1] - pb_off[rank]).astype(np.int64)
    b_starts = np.cumsum(nb) - nb
    bk_pair = np.repeat(np.arange(len(rank)), nb)
    bk_id = np.repeat(pb_off[rank], nb) + (
        np.arange(len(bk_pair)) - np.repeat(b_starts, nb)
    )
    bpx = lon[bk_pair]
    bpy = lat[bk_pair]
    # upper bound: exact foot d² to one representative segment per
    # bucket (its first) — attainable, so U >= the pair's true min
    _cx, _cy, rep_d2 = _eval_feet(flat, b_lo[bk_id], bpx, bpy)
    U = np.minimum.reduceat(rep_d2, b_starts)
    # lower bound: squared distance to the bucket bbox (every segment
    # lies inside its bucket's bbox)
    ddx = np.maximum(np.maximum(mnx[bk_id] - bpx, bpx - mxx[bk_id]), 0.0)
    ddy = np.maximum(np.maximum(mny[bk_id] - bpy, bpy - mxy[bk_id]), 0.0)
    keep = ddx * ddx + ddy * ddy <= U[bk_pair] * FOOT_PRUNE_MARGIN
    kb_pair = bk_pair[keep]
    kb_id = bk_id[keep]
    seg_counts = b_hi[kb_id] - b_lo[kb_id]
    k = np.bincount(kb_pair, weights=seg_counts, minlength=len(rank)).astype(
        np.int64
    )
    seg_pos = np.repeat(b_lo[kb_id], seg_counts) + (
        np.arange(int(seg_counts.sum()))
        - np.repeat(np.cumsum(seg_counts) - seg_counts, seg_counts)
    )
    return seg_pos, k


def _nearest_feet_flat(
    idx: CompiledIndex,
    pair_lon: np.ndarray,
    pair_lat: np.ndarray,
    pair_rank: np.ndarray,
    pair_chunk: int = 1 << 19,
):
    """Planar-nearest boundary coordinate of piece ``pair_rank[i]`` for
    point ``(pair_lon[i], pair_lat[i])``, vectorized over ALL pairs via
    the index's flat segment CSR — the one nearest-foot kernel of the
    distance (Q5) and kNN operators.

    Bit-identical per pair to geom.nearest_boundary_point: the same
    segments in the same order (compile stored geom._segments output;
    float32 storage is lossless by construction and upcast before any
    arithmetic), the same foot AST, and the same FIRST-minimum tie-break
    (position of the first d² equal to the exact segment-run minimum —
    np.minimum.reduceat performs only comparisons, so the run minimum is
    one of the original floats and the equality test is exact). When the
    average piece is large enough, the bucket prune (see FOOT_BUCKET)
    skips segments that are PROVABLY strictly farther than the minimum —
    the evaluated subset always contains every minimum-achieving
    segment, so outputs (incl. the tie-break) are unchanged; parity is
    pinned by test_nearest_feet_bucket_prune_parity.

    Memory per call is bounded by ``pair_chunk``: pairs run in chunks
    whose FULL segment count stays within it, so both the bucket-prune
    rows (about 1/FOOT_BUCKET of that) and the kept segments (at most
    all of them) are independent of the number of pairs.

    Returns (fx, fy, d2min) each (n_pairs,) float64 — d2min is the
    squared planar degree distance (sqrt of it == the planar metric).
    Total over its inputs: a pair with a non-finite coordinate gets NaN
    feet and NaN d2min, a pair whose piece has no segments NaN feet and
    +inf d2min (no boundary to be near)."""
    n_pairs = len(pair_rank)
    fx = np.full(n_pairs, np.nan)
    fy = np.full(n_pairs, np.nan)
    d2m = np.full(n_pairs, np.nan)
    k_all = (
        idx.seg_offsets[pair_rank + 1] - idx.seg_offsets[pair_rank]
    ).astype(np.int64)
    finite = np.isfinite(pair_lon) & np.isfinite(pair_lat)
    d2m[finite & (k_all == 0)] = np.inf
    live = np.nonzero(finite & (k_all > 0))[0]
    if not len(live):
        return fx, fy, d2m
    lon, lat = pair_lon[live], pair_lat[live]
    rank, k_live = pair_rank[live], k_all[live]
    flat = _seg_flat_cache(idx)
    use_prune = k_live.sum() >= len(live) * FOOT_PRUNE_MIN_SEGS

    with np.errstate(divide="ignore", invalid="ignore"):
        for start, end in _pair_chunks(k_live, pair_chunk):
            c_lon, c_lat = lon[start:end], lat[start:end]
            c_rank = rank[start:end]
            if use_prune:
                seg_pos, k = _pruned_segments(idx, flat, c_lon, c_lat, c_rank)
            else:
                k = k_live[start:end]
                seg_pos = np.repeat(idx.seg_offsets[c_rank], k) + (
                    np.arange(int(k.sum())) - np.repeat(np.cumsum(k) - k, k)
                )
            rep = np.repeat(np.arange(end - start), k)
            run_starts = np.cumsum(k) - k
            cx, cy, d2 = _eval_feet(flat, seg_pos, c_lon[rep], c_lat[rep])
            dmin = np.minimum.reduceat(d2, run_starts)
            first = np.minimum.reduceat(
                np.where(d2 == dmin[rep], np.arange(len(d2)), len(d2)),
                run_starts,
            )
            out = live[start:end]
            fx[out] = cx[first]
            fy[out] = cy[first]
            d2m[out] = dmin
    return fx, fy, d2m


KNN_GROUP_SIZE = 64  # legacy fixed size; None in knn_zones_batch = adaptive


def _knn_adaptive_group_size(n_pieces: int) -> int:
    """Group size balancing the two bound-computation costs: the dense
    (points x n_groups) group matrix costs ~P/gs bounds per point, lazy
    expansion costs ~g_exp x gs (g_exp ≈ 2-4 groups expand per point),
    so the optimum sits near sqrt(P·g_exp) — measured best 24 for P=454
    (2x faster than the old fixed 64). Clamped to [8, 512]: the lower
    clamp keeps tiny worlds in one or two groups, the upper keeps the
    group matrix narrow for 100x-piece worlds (gs grows with sqrt(P), so
    n_groups = P/gs ≈ sqrt(P/1.5) stays batch-memory-safe)."""
    import math

    return int(np.clip(round(math.sqrt(1.5 * max(n_pieces, 1))), 8, 512))


def _knn_piece_groups(idx: CompiledIndex, group_size: int = KNN_GROUP_SIZE):
    """Spatially-coherent piece groups for the kNN candidate stream:
    pieces ordered by the Morton code of their bbox center, blocked into
    groups of ``group_size``, each with the union bbox of its members.
    The union contains every member, so the geodesic lower bound to the
    union bbox lower-bounds every member piece — a valid two-level BVH.
    Cached on the index (pure function of piece_bbox)."""
    cached = getattr(idx, "_knn_groups", None)
    if cached is not None and cached[0] == group_size:
        return cached[1], cached[2]
    bb = idx.piece_bbox
    c_lon = (bb[:, 0] + bb[:, 2]) / 2.0
    c_lat = (bb[:, 1] + bb[:, 3]) / 2.0
    order = np.argsort(
        cells.cell_of(np.clip(c_lon, -180, 180), np.clip(c_lat, -90, 90), 14),
        kind="stable",
    )
    members = [
        order[s : s + group_size] for s in range(0, len(order), group_size)
    ]
    gb = np.stack(
        [
            np.array(
                [
                    bb[m, 0].min(), bb[m, 1].min(),
                    bb[m, 2].max(), bb[m, 3].max(),
                ]
            )
            for m in members
        ]
    ) if members else np.zeros((0, 4))
    object.__setattr__(idx, "_knn_groups", (group_size, gb, members))
    return gb, members


def knn_zones_batch(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    k: int,
    return_stats: bool = False,
    group_size: int | None = None,
    eval_chunk: int | None = None,
    metric: str = "geodesic",
):
    """kNN fallback ordering (north_star): zones ordered by boundary
    distance; pieces containing the point have distance 0 and tie-break by
    area rank, so for covered points the head of the list agrees with
    getOverlappingTimeZones. Dedupes zone ids (nearest piece wins).
    A point with a non-finite coordinate (NULL/NaN/±inf) has no nearest
    zones: its entry is None, set before the round loop.

    Scale path (two-level candidate stream): pieces are blocked into
    Morton-ordered groups of KNN_GROUP_SIZE with union bboxes; the only
    dense matrix is (n_points x n_groups) — n_pieces/64 columns, NOT the
    former O(n x P) bound matrix. Each point streams candidate pieces in
    guaranteed-nondecreasing geodesic-lower-bound order from a heap:
    groups expand lazily (per-piece bounds computed only when the
    group's union bound undercuts the heap top), and a point stops as
    soon as the next candidate's bound exceeds its k-th zone distance —
    every remaining piece can then neither enter nor reorder the top-k.
    Peak memory is O(n x n_groups + expanded candidates); exact piece
    evaluations stay sub-linear in P (both asserted in tests).

    ``return_stats=True`` additionally returns the number of EXACT
    distance evaluations performed (pruning evidence for tests/bench;
    pairs skipped by the round-5 haversine prescreen never run the
    distance kernel and are not counted).

    VERDICT r3 #6 — the round loop is fully VECTORIZED: no per-point
    heaps or dicts. State is flat numpy arrays — a global candidate pool
    (point, rank, bound), per-point group pointers, and accumulated
    (point, rank, dist) evaluations from which the k-th zone distance is
    recomputed with one lexsort per round. Pieces may be evaluated out
    of bound order (harmless: evaluation is exact); pruning discards any
    pool entry whose bound exceeds kth (kth only shrinks, so the discard
    is permanent-safe), and a point finishes when both its pool minimum
    and its next unexpanded group bound exceed kth. Each round's feet
    come from ONE _nearest_feet_flat call; the only Python loop left
    builds the per-row output lists.

    ``metric``: "geodesic" (WGS84 meters, reference parity — DEFAULT,
    the fixed-iteration Vincenty the recursive-CTE SQL oracle mirrors;
    "geodesic_fixed" is an accepted alias), "geodesic_freeze" (opt-in
    adaptive per-row-freeze Vincenty, ~5e-10 m from the default), or
    "planar_deg" (planar degrees; the same kernel the bit-exact
    distance_boundary_planar oracle mirrors, which makes the kNN ORDER
    value-verifiable by a SQL oracle)."""
    if metric in ("geodesic", "geodesic_fixed", "geodesic_freeze"):
        # geodesic metrics share the bounds and take the BATCHED eval
        # path below: "geodesic" IS the fixed-iteration Vincenty, the
        # SQL-oracle-tight DEFAULT (VERDICT r4 #3); "geodesic_freeze"
        # opts into the adaptive variant — see geodesic_distance_wgs84
        bound_outer = geom.bbox_geodesic_lower_bound
        bound_pair = geom.bbox_geodesic_lower_bound_pairwise
    elif metric == "planar_deg":
        bound_outer = geom.bbox_planar_lower_bound
        bound_pair = geom.bbox_planar_lower_bound_pairwise
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    # geodesic metrics take the BATCHED eval path (round 5, VERDICT r4
    # #6): per piece only the planar foot is computed; all of a round's
    # Vincenty evaluations run as ONE call (the 50-iteration trig loop
    # has a large fixed numpy overhead per call — r4 ran it once per
    # piece), and a haversine prescreen (R_GEO_LB * central angle is a
    # guaranteed geodesic lower bound, same constant the bbox bound
    # uses) skips the exact eval for pairs that can no longer enter the
    # top-k (permanent-safe: kth only shrinks).
    geo_batched = metric in ("geodesic", "geodesic_fixed", "geodesic_freeze")
    geo_freeze = metric == "geodesic_freeze"
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)
    finite = np.isfinite(lats) & np.isfinite(lons)
    out: list = [[] if f else None for f in finite]

    if group_size is None:
        group_size = _knn_adaptive_group_size(idx.n_pieces)
    gb, members = _knn_piece_groups(idx, group_size)
    n_groups = len(members)
    if n_groups == 0 or n == 0:
        return (out, 0) if return_stats else out

    with np.errstate(invalid="ignore"):  # NaN bounds of non-finite rows
        lb_g = bound_outer(lats, lons, gb)  # (n, P/64)
    order_g = np.argsort(lb_g, axis=1, kind="stable")
    sorted_gb = np.take_along_axis(lb_g, order_g, axis=1)

    # flat group-membership gather tables (members[g] are slices of one
    # Morton order array)
    flat_order = np.concatenate(members)
    member_lens = np.array([len(m) for m in members], dtype=np.int64)
    member_offs = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(member_lens, out=member_offs[1:])

    # zone ids factorized to ints so per-(point, zone) reductions are
    # pure array ops
    zone_names, zone_of_rank = np.unique(np.asarray(idx.zone_ids), return_inverse=True)

    if eval_chunk is None:
        # candidates evaluated per point per round: large enough to find
        # k zones quickly (so kth activates pruning), small enough not
        # to over-evaluate once kth is set. Re-tuned in round 5 after
        # the batched-Vincenty/pre-prune work made evals cheap relative
        # to rounds: chunk = k beats k+1 on the 20k/454 bench (1.80 s /
        # 135k evals vs 1.94 s / 167k at chunk 4, k=3) — the floor of 3
        # keeps k=1 from starving round-1 zone discovery
        eval_chunk = max(int(k), 3)

    pool_pt = np.empty(0, dtype=np.int64)
    pool_rank = np.empty(0, dtype=np.int64)
    pool_bound = np.empty(0, dtype=np.float64)
    gptr = np.zeros(n, dtype=np.int64)
    kth = np.full(n, np.inf)
    # a non-finite point's bounds are NaN, which never compare as done
    # or expandable — it would spin the round loop forever
    done = ~finite
    n_eval = 0

    # containment for ALL (point, piece) pairs up front via the compiled
    # probe index (round 5): the dense-grid PIP kernel answers "which
    # pieces contain each point" at millions of rows/s — bit-identical
    # to per-piece contains_inclusive (pytest parity) — so the eval loop
    # below never calls contains_inclusive per piece. Membership test =
    # one searchsorted over the flattened (pt * P + rank) key set.
    c_offsets, c_ranks, _valid = probe_ranks(idx, lats, lons, mode="pipeline")
    contain_keys = (
        np.repeat(np.arange(n, dtype=np.int64), np.diff(c_offsets))
        * idx.n_pieces
        + c_ranks.astype(np.int64)
    )
    contain_keys.sort()

    def contained(pair_pt: np.ndarray, pair_rank: np.ndarray) -> np.ndarray:
        keys = pair_pt * idx.n_pieces + pair_rank
        pos = np.searchsorted(contain_keys, keys)
        ok = pos < len(contain_keys)
        res = np.zeros(len(keys), dtype=bool)
        res[ok] = contain_keys[pos[ok]] == keys[ok]
        return res

    A = None  # deduped per-(pt, zone) bests as (pt, dist, rank, zone)

    while True:
        # live pool entries = bound <= kth (dead ones can never enter or
        # reorder the top-k: kth only shrinks)
        pool_min = np.full(n, np.inf)
        if len(pool_pt):
            live = pool_bound <= kth[pool_pt]
            cnt = np.bincount(pool_pt[live], minlength=n)
            np.minimum.at(pool_min, pool_pt[live], pool_bound[live])
        else:
            cnt = np.zeros(n, dtype=np.int64)
        next_gb = np.where(
            gptr < n_groups,
            sorted_gb[np.arange(n), np.minimum(gptr, n_groups - 1)],
            np.inf,
        )
        # a point finishes when no live candidate remains AND the group
        # stream can't produce one (exhausted, or its frontier bound
        # already exceeds kth)
        done |= (cnt == 0) & ((gptr >= n_groups) | (next_gb > kth))
        active = ~done
        if not active.any():
            break

        # expansion: one group per needy active point per round — needy =
        # fewer than eval_chunk live candidates, or the next group's union
        # bound undercuts the current live-pool minimum
        expand = (
            active
            & (gptr < n_groups)
            & (next_gb <= kth)
            & ((cnt < eval_chunk) | (next_gb < pool_min))
        )
        if expand.any():
            pe = np.nonzero(expand)[0]
            gs = order_g[pe, gptr[pe]]
            gptr[pe] += 1
            lens = member_lens[gs]
            # gather each group's member ranks without a per-point loop;
            # uniform-length groups (every group but possibly the last)
            # take a single 2D broadcast gather instead of the
            # three-repeat CSR construction (round 6)
            if lens.min() == lens.max():
                L = int(lens[0])
                ranks_e = flat_order[
                    member_offs[gs][:, None] + np.arange(L)
                ].ravel()
                rep_pt = np.repeat(pe, L)
            else:
                seg = np.repeat(member_offs[gs], lens) + (
                    np.arange(int(lens.sum()))
                    - np.repeat(np.cumsum(lens) - lens, lens)
                )
                ranks_e = flat_order[seg]
                rep_pt = np.repeat(pe, lens)
            bb_e = idx.piece_bbox[ranks_e]
            # trig-free lat-delta pre-prune (round 5): the central angle
            # is >= |delta-phi|, so R_GEO_LB * rad(lat-clamp distance)
            # lower-bounds the geodesic bound itself. A member already
            # past the point's kth on latitude alone can never become
            # live (kth only shrinks) — drop it before the full trig
            # bound and before it ever costs pool bookkeeping. (Planar
            # metric: dy alone lower-bounds sqrt(dx^2+dy^2) the same
            # way, in degrees.)
            dlat = np.maximum(
                np.maximum(
                    bb_e[:, 1] - lats[rep_pt], lats[rep_pt] - bb_e[:, 3]
                ),
                0.0,
            )
            if geo_batched:
                lat_lb = geom.R_GEO_LB * np.radians(dlat)
            else:
                lat_lb = dlat
            alive = lat_lb <= kth[rep_pt]
            if not alive.all():
                rep_pt, ranks_e, bb_e = (
                    rep_pt[alive], ranks_e[alive], bb_e[alive]
                )
            if len(rep_pt):
                pb = bound_pair(lats[rep_pt], lons[rep_pt], bb_e)
                pool_pt = np.concatenate([pool_pt, rep_pt])
                pool_rank = np.concatenate([pool_rank, ranks_e])
                pool_bound = np.concatenate([pool_bound, pb])

        if not len(pool_pt):
            continue

        # selection: up to eval_chunk smallest-bound live candidates per
        # active point (segment-position trick over one lexsort).
        # NOTE (round 5): lazy group-bound placeholders with front
        # refinement were tried and reverted — deferred refinement
        # doubles the round count (5.9 s vs 2.3 s) and immediate take in
        # loose tie order blows n_eval up 2.5x (14 s); eager per-piece
        # bounds at expansion give the cheapest total work here.
        live_idx = np.nonzero((pool_bound <= kth[pool_pt]) & active[pool_pt])[0]
        take = live_idx[:0]
        if len(live_idx):
            # single composite-key introsort (round 6; was a 2-key
            # lexsort = two stable passes, the largest sort in the
            # loop). Selection only decides WHICH candidates are
            # evaluated this round — evaluation is exact and pruning
            # compares exact bounds against kth — so ordering within
            # float32-quantized bound ties is free (the quantization is
            # ~1e-7 relative; nothing like the round-5 loose-group-tie
            # experiment that blew n_eval up). Non-negative float32
            # bit patterns sort like the values, so (pt << 32 | bits)
            # is one int64 key.
            qb = (
                pool_bound[live_idx]
                .astype(np.float32)
                .view(np.uint32)
                .astype(np.int64)
            )
            o = np.argsort(
                (pool_pt[live_idx].astype(np.int64) << np.int64(32)) | qb
            )
            srt = live_idx[o]
            pt_s = pool_pt[srt]
            new_seg = np.r_[True, pt_s[1:] != pt_s[:-1]]
            seg_id = np.cumsum(new_seg) - 1
            seg_start = np.nonzero(new_seg)[0]
            pos = np.arange(len(srt)) - seg_start[seg_id]
            take = srt[pos < eval_chunk]

        # pool upkeep below drops taken entries and permanently-dead
        # bounds (keep computed AFTER the exact-kth update)

        if len(take):
            t_pt = pool_pt[take]
            t_rank = pool_rank[take]
            ro = np.argsort(t_rank, kind="stable")
            t_pt, t_rank = t_pt[ro], t_rank[ro]
            dists = np.empty(len(t_pt), dtype=np.float64)
            # containment came from the probe index in one shot; the
            # planar-nearest foot for every NOT-contained pair runs as
            # ONE flat CSR-vectorized call per round (round 6 — the
            # former per-unique-piece loop paid ~100 µs of call overhead
            # per piece; results bit-identical, see _nearest_feet_flat).
            # The foot is metric-independent — the geodesic is measured
            # to the PLANAR-nearest boundary coordinate, Q5 semantics.
            inside_all = contained(t_pt, t_rank)
            outside = np.nonzero(~inside_all)[0]
            if geo_batched:
                dists.fill(np.inf)
                dists[inside_all] = 0.0
                if len(outside):
                    plat = lats[t_pt[outside]]
                    plon = lons[t_pt[outside]]
                    # a piece with no segments has NaN feet, so the
                    # prescreen below leaves its distance at +inf
                    flon, flat, _d2 = _nearest_feet_flat(
                        idx, plon, plat, t_rank[outside]
                    )
                    # prescreen: a pair whose guaranteed lower bound
                    # already exceeds the point's current k-th zone
                    # distance keeps +inf — its true distance is
                    # strictly larger than any final kth (kth only
                    # shrinks), so it can neither enter the top-k nor
                    # wrongly evict a zone
                    lb = geom.R_GEO_LB * geom._haversine_angle(
                        plat, plon, flat, flon
                    )
                    need = lb <= kth[t_pt[outside]]
                    if need.any():
                        sel = outside[need]
                        dists[sel] = geom.geodesic_distance_wgs84(
                            plat[need], plon[need], flat[need], flon[need],
                            freeze=geo_freeze,
                        )
                    # n_eval counts EXACT distance evaluations only —
                    # prescreen-skipped pairs never ran the kernel
                    n_eval += len(t_pt) - (len(outside) - int(need.sum()))
                else:
                    n_eval += len(t_pt)
            else:
                dists.fill(0.0)
                if len(outside):
                    _fx, _fy, d2min = _nearest_feet_flat(
                        idx,
                        lons[t_pt[outside]],
                        lats[t_pt[outside]],
                        t_rank[outside],
                    )
                    dists[outside] = np.sqrt(d2min)
                n_eval += len(t_pt)

            # per-(point, zone) bests + k-th zone distance, INCREMENTAL
            # (round 5): only the rows of points TOUCHED this round are
            # re-deduped/re-sorted — merging the previous bests of
            # touched points with the new evals preserves the per-(pt,
            # zone) min, untouched points' bests (and kth) are already
            # final for this round, and late rounds touch few points
            if A is None:
                m_pt, m_dist, m_rank = t_pt, dists, t_rank
                u_hold = None
            else:
                touched = np.zeros(n, dtype=bool)
                touched[t_pt] = True
                tm = touched[A[0]]
                u_hold = (A[0][~tm], A[1][~tm], A[2][~tm], A[3][~tm])
                m_pt = np.concatenate([A[0][tm], t_pt])
                m_dist = np.concatenate([A[1][tm], dists])
                m_rank = np.concatenate([A[2][tm], t_rank])
            m_zone = zone_of_rank[m_rank]
            # composite (pt, zone) primary key; n_zones bounds the zone
            # term so the packing is collision-free. Per-key best =
            # (min dist, then min rank): one int64 introsort on the key
            # plus two segment reductions (round 6) — exactly the first
            # row the former (rank, dist, key) lexsort would surface,
            # without its three stable passes.
            n_zones = len(zone_names)
            m_key = m_pt * n_zones + m_zone
            o1 = np.argsort(m_key)
            k1 = m_key[o1]
            p1, z1, d1, r1 = m_pt[o1], m_zone[o1], m_dist[o1], m_rank[o1]
            new_seg1 = np.r_[True, k1[1:] != k1[:-1]]
            starts1 = np.nonzero(new_seg1)[0]
            seg_id1 = np.cumsum(new_seg1) - 1
            bd = np.minimum.reduceat(d1, starts1)
            is_min = d1 == bd[seg_id1]
            r_masked = np.where(
                is_min, r1.astype(np.int64), np.iinfo(np.int64).max
            )
            br = np.minimum.reduceat(r_masked, starts1).astype(r1.dtype)
            bp, bz = p1[starts1], z1[starts1]
            # kth update — only touched points can have a new k-th
            o2 = np.lexsort((bd, bp))
            p2, d2 = bp[o2], bd[o2]
            new_seg2 = np.r_[True, p2[1:] != p2[:-1]]
            seg_id2 = np.cumsum(new_seg2) - 1
            seg_start2 = np.nonzero(new_seg2)[0]
            pos2 = np.arange(len(p2)) - seg_start2[seg_id2]
            at_k = pos2 == (k - 1)
            kth[p2[at_k]] = d2[at_k]
            if u_hold is None:
                A = (bp, bd, br, bz)  # (pt, dist, rank, zone) bests
            else:
                A = (
                    np.concatenate([u_hold[0], bp]),
                    np.concatenate([u_hold[1], bd]),
                    np.concatenate([u_hold[2], br]),
                    np.concatenate([u_hold[3], bz]),
                )
        keep = pool_bound <= kth[pool_pt]
        if len(take):
            keep[take] = False
        pool_pt, pool_rank, pool_bound = (
            pool_pt[keep], pool_rank[keep], pool_bound[keep]
        )

    if A is not None:
        bp, bd, br, bz = A
        o3 = np.lexsort((br, bd, bp))  # (point, dist, rank); ranks unique
        for i, d, z in zip(bp[o3], bd[o3], bz[o3]):
            row = out[i]
            if len(row) < k:
                row.append(str(zone_names[z]))
    if return_stats:
        return out, n_eval
    return out
