"""Driver-side VALUES oracles for queries whose math is not SQL-expressible.

The driver's correctness gate wants a DuckDB oracle per query. For S2
Hilbert encoding, IVF k-means probing, and the multimodal codec, the
*expected rows* are deterministic functions of the fixture inputs — so the
oracle is computed here with an independent numpy/stdlib twin of the
operator (never by running the Spark path) and emitted as a literal
`VALUES` relation. This pins the engine's output hard: any regression in
the distributed path breaks the hash match.

These builders read the driver's parquet fixtures directly (pyarrow, no
Spark) at oracle-construction time. The correctness gate runs at sf=0.01;
`SPARK_GRAFT_ORACLE_SF_DIR` overrides for local experimentation.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Hot-spot centers duplicated from synth.HOT_CENTERS would risk drift; import.
from .. import synth  # noqa: E402
from ..functions import s2  # noqa: E402


def _doc_ids(sf_dir: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
    return t.column("doc_id").to_numpy().astype(np.int64)


def pages_ground_truth_np(sf_dir: str):
    """Integer-exact numpy twin of synth.pages_sql's coordinate derivation:
    (page_id, lat_s, lon_s) for geo pages only (has_geo = page_id%10 < 6)."""
    pid = np.sort(_doc_ids(sf_dir))
    m = pid % 10
    hc = pid % 5
    off1 = (pid * 7919) % 1000 - 500
    off2 = (pid * 104729) % 1000 - 500
    cold_lat = (pid * 99991) % 1600000 - 800000
    cold_lon = (pid * 15485863) % 3600000 - 1800000
    hot_lat = np.array([c[1] for c in synth.HOT_CENTERS], dtype=np.int64)[hc]
    hot_lon = np.array([c[2] for c in synth.HOT_CENTERS], dtype=np.int64)[hc]
    lat_s = np.where(m < 2, hot_lat + off1, cold_lat)
    lon_s = np.where(m < 2, hot_lon + off2, cold_lon)
    geo = m < 6
    return pid[geo], lat_s[geo], lon_s[geo]


def s2_cells_values_sql(sf_dir: str = ORACLE_SF_DIR, level: int = 12) -> str:
    """Expected (page_id, s2_cell_l12) rows — numpy S2 twin on the integer
    ground truth (lat_s/1e4 is the same correctly-rounded double the
    extraction path parses from the 4-decimal text)."""
    pid, lat_s, lon_s = pages_ground_truth_np(sf_dir)
    cell = s2.cell_id(lat_s / 1e4, lon_s / 1e4, level=level)
    rows = ", ".join(f"({p}, {c})" for p, c in zip(pid.tolist(), cell.tolist()))
    return (
        f"SELECT CAST(page_id AS BIGINT) AS page_id, "
        f"CAST(s2_cell_l{level} AS BIGINT) AS s2_cell_l{level} "
        f"FROM (VALUES {rows}) AS t(page_id, s2_cell_l{level})"
    )


def ivf_topk_values_sql(
    sf_dir: str = ORACLE_SF_DIR, n_lists: int = 16, nprobe: int = 4, k: int = 5
) -> str:
    """Expected (qid, vec_id, rank) for ann_ivf_topk — an independent numpy
    replica of operators/similarity.ivf_topk: same deterministic centroids
    (shared centroids_np kernel), same nearest-list assignment, same probed
    lists, same per-pair einsum cosine and (cos DESC, vec_id) tie-break."""
    import pyarrow.parquet as pq

    from ..operators import similarity as sim

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vid = t.column("vec_id").to_numpy().astype(np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()])
    order = np.argsort(vid, kind="stable")
    vid, mat = vid[order], mat[order]

    cents = sim.centroids_np(mat[:4096], n_lists=n_lists)
    norm = sim._normalize(mat)
    s = norm @ cents.T
    corpus_list = np.argsort(-s, axis=1)[:, :1].astype(np.int32).ravel()

    qmask = vid < 10
    q_lists = np.argsort(-s[qmask], axis=1)[:, :nprobe].astype(np.int32)
    qids = vid[qmask]

    rows = []
    for qi, qid in enumerate(qids.tolist()):
        cand = np.isin(corpus_list, q_lists[qi]) & (vid != qid)
        cv = vid[cand]
        # per-pair einsum, exactly like similarity._bucket_topk (not a GEMM)
        qn = np.repeat(norm[vid == qid], len(cv), axis=0)
        cos = np.einsum("ij,ij->i", qn, norm[cand])
        sel = np.lexsort((cv, -cos))[:k]
        for rank, j in enumerate(sel, start=1):
            rows.append((qid, int(cv[j]), rank))
    vals = ", ".join(f"({q}, {v}, {r})" for q, v, r in rows)
    return (
        "SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, "
        f"CAST(rank AS INT) AS rank FROM (VALUES {vals}) AS t(qid, vec_id, rank)"
    )


def lsh_topk_values_sql(
    sf_dir: str = ORACLE_SF_DIR,
    n_planes: int = 12,
    k: int = 5,
    multi_probe: bool = True,
    seed: int = 42,
) -> str:
    """Expected (qid, vec_id, rank) for ann_lsh_topk — an independent numpy
    replica of operators/similarity.ann_topk_lsh: same seeded hyperplanes,
    same sign-bucket codes, same hamming-1 multi-probe set, same per-pair
    einsum cosine and (cos DESC, vec_id) tie-break. A query whose probed
    buckets hold fewer than k candidates emits fewer rows — both sides."""
    import pyarrow.parquet as pq

    from ..operators import similarity as sim

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vid = t.column("vec_id").to_numpy().astype(np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()])

    planes = sim.hyperplanes(mat.shape[1], n_planes, seed)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    buckets = ((mat @ planes.T) > 0) @ weights
    norm = sim._normalize(mat)

    rows = []
    for qi in np.nonzero(vid < 10)[0]:
        qid = int(vid[qi])
        probes = {int(buckets[qi])}
        if multi_probe:
            probes |= {int(buckets[qi]) ^ (1 << j) for j in range(n_planes)}
        cand = np.isin(buckets, list(probes)) & (vid != qid)
        cv = vid[cand]
        if not len(cv):
            continue
        # per-pair einsum, exactly like similarity._bucket_topk (not a GEMM)
        qn = np.repeat(norm[qi : qi + 1], len(cv), axis=0)
        cos = np.einsum("ij,ij->i", qn, norm[cand])
        sel = np.lexsort((cv, -cos))[:k]
        for rank, j in enumerate(sel, start=1):
            rows.append((qid, int(cv[j]), rank))
    vals = ", ".join(f"({q}, {v}, {r})" for q, v, r in rows)
    return (
        "SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, "
        f"CAST(rank AS INT) AS rank FROM (VALUES {vals}) AS t(qid, vec_id, rank)"
    )


# ----------------------------------------------------- projected export grid
_R_MERC = 6378137.0


def _merc_fwd(lon, lat):
    import math

    x = math.radians(lon) * _R_MERC
    y = math.log(math.tan(math.pi / 4.0 + math.radians(min(max(lat, -85.05112878), 85.05112878)) / 2.0)) * _R_MERC
    return x, y


def export_grid_cases() -> list[tuple[int, tuple[float, float, float, float], float, str]]:
    """The deterministic (grid_id, lonlat bounds, scale, out_crs) fixture
    shared by the Spark query and this oracle: a bbox around each hot
    center, alternating output CRS, varying scale."""
    cases = []
    for i, (_name, lat_s, lon_s) in enumerate(synth.HOT_CENTERS):
        lat, lon = lat_s / 1e4, lon_s / 1e4
        bounds = (lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5)
        crs = "epsg:3857" if i % 2 else "epsg:4326"
        cases.append((i, bounds, 500.0 * (i + 1), crs))
    # UTM output cases (VERDICT r03 #4): zone from the center longitude,
    # hemisphere from the latitude — the reference's documented
    # `export(..., crs="epsg:32630")` shape
    base = len(cases)
    for j, (_name, lat_s, lon_s) in enumerate(synth.HOT_CENTERS[:3]):
        lat, lon = lat_s / 1e4, lon_s / 1e4
        zone = min(60, max(1, int((lon + 180.0) // 6) + 1))
        crs = f"epsg:{326 if lat >= 0 else 327}{zone:02d}"
        bounds = (lon - 1.5, lat - 1.0, lon + 1.5, lat + 1.0)
        cases.append((base + j, bounds, 250.0 * (j + 1), crs))
    return cases


def export_grid_values_sql() -> str:
    """Expected grid-spec rows — a twin of the reference's export grid
    derivation (geoproc/server/image.py:183-207). The GRID MATH (projected-
    vs-geographic CRS selection, round(span/scale) shape, from_bounds
    affine) is re-derived independently here; the point PROJECTION goes
    through the engine's pinned kernel cells.transform_bounds — the shared-
    kernel precedent of ivf's centroids_np, because scalar-libm vs
    numpy-SIMD mercator differ in the last ulp and the oracle must pin the
    engine's semantics, not the host libm's lane dispatch."""
    from ..functions import cells as _cells
    from ..functions import grid as _grid

    rows = []
    for gid, bounds, scale, crs in export_grid_cases():
        projected = _grid.is_projected(crs)
        proj_crs = crs if projected else "epsg:3857"
        pb = _cells.transform_bounds(bounds, src="epsg:4326", dst=proj_crs)
        width = round((pb[2] - pb[0]) / scale)
        height = round((pb[3] - pb[1]) / scale)
        ob = pb if projected else bounds
        xsize = (ob[2] - ob[0]) / width
        ysize = (ob[3] - ob[1]) / height
        # doubles as string literals -> exact round-trip (DuckDB DECIMAL rule)
        rows.append(
            f"({gid}, '{crs}', {width}, {height}, "
            f"'{xsize!r}', '{ysize!r}', '{ob[0]!r}', '{ob[3]!r}')"
        )
    return (
        "SELECT CAST(grid_id AS INT) AS grid_id, CAST(crs AS VARCHAR) AS crs, "
        "CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height, "
        "CAST(xsize AS DOUBLE) AS xsize, CAST(ysize AS DOUBLE) AS ysize, "
        "CAST(west AS DOUBLE) AS west, CAST(north AS DOUBLE) AS north "
        f"FROM (VALUES {', '.join(rows)}) AS t(grid_id, crs, width, height, xsize, ysize, west, north)"
    )


def export_projected_values_sql(scale: float = 400000.0, window_size: int = 32) -> str:
    """Expected per-(window, band) digests of the projected export of
    fixture image A — an independent numpy resampler: derive the grid from
    the tile-set bounds, sample every output pixel center nearest-neighbor
    from the closed-form fixture pixels (synth.tile_pixels_np), digest as
    (n_valid, position-weighted checksum). Integer-exact throughout."""
    import math

    z, side = synth.TILE_Z, int(math.isqrt(synth.TILE_PX))
    nb = synth.TILE_BANDS["A"]
    x0, x1 = synth.TILE_XRANGE["A"]
    n = 1 << z
    # tile-set lonlat bounds (slippy formulas, own derivation)
    west = x0 / n * 360.0 - 180.0
    east = (x1 + 1) / n * 360.0 - 180.0
    # tile y-range from the shared synth constant (never re-hardcoded: a
    # fixture y-range change must move the oracle bounds with it)
    ty0, ty1 = synth.TILE_YRANGE
    north = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * ty0 / n))))
    south = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (ty1 + 1) / n))))
    px0, py0 = _merc_fwd(west, south)
    px1, py1 = _merc_fwd(east, north)
    width = round((px1 - px0) / scale)
    height = round((py1 - py0) / scale)
    xsize = (east - west) / width
    ysize = (north - south) / height

    tiles = synth.tile_pixels_np("A")
    rows = []
    wcols = (width + window_size - 1) // window_size
    wrows = (height + window_size - 1) // window_size
    for wr in range(wrows):
        for wc in range(wcols):
            co, ro = wc * window_size, wr * window_size
            ww = min(window_size, width - co)
            wh = min(window_size, height - ro)
            nv = 0
            chk = [0] * nb
            for i in range(wh * ww):
                r, c = divmod(i, ww)
                lon = west + (co + c + 0.5) * xsize
                lat = north - (ro + r + 0.5) * ysize
                lat_c = min(max(lat, -85.05112878), 85.05112878)
                gx = int(math.floor((lon + 180.0) / 360.0 * n * side))
                rad = math.radians(lat_c)
                gy = int(
                    math.floor(
                        (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi)
                        / 2.0 * n * side
                    )
                )
                gx = min(max(gx, 0), n * side - 1)
                gy = min(max(gy, 0), n * side - 1)
                t = tiles.get((z, gx // side, gy // side))
                if t is None:
                    continue
                src = (gy % side) * side + (gx % side)
                if t[1][src] == 255:
                    nv += 1
                for b in range(nb):
                    chk[b] += int(t[0][b, src]) * (i + 1)
            for b in range(nb):
                rows.append(f"({co}, {ro}, {ww}, {wh}, {b}, {nv}, {chk[b]})")
    return (
        "SELECT CAST(col_off AS INT) AS col_off, CAST(row_off AS INT) AS row_off, "
        "CAST(win_w AS INT) AS win_w, CAST(win_h AS INT) AS win_h, "
        "CAST(band_idx AS INT) AS band_idx, CAST(n_valid AS BIGINT) AS n_valid, "
        "CAST(checksum AS BIGINT) AS checksum "
        f"FROM (VALUES {', '.join(rows)}) AS t(col_off, row_off, win_w, win_h, band_idx, n_valid, checksum)"
    )


def export_projected_utm_values_sql(
    scale: float = 10000.0,
    window_size: int = 32,
    crs: str = "epsg:32630",
    bounds: tuple[float, float, float, float] = (-6.0, 40.0, -0.5, 50.0),
) -> str:
    """Expected per-(window, band) digests of fixture image A exported onto
    a PROJECTED UTM grid (the reference's documented
    `export(..., crs="epsg:32630")`, server/image.py:183-207). Twin split:
    grid math, window enumeration, native-pixel sampling, and digests are
    re-derived here from scratch; the PROJECTIONS (bounds transform and
    the per-pixel UTM->lonlat inverse) go through the engine's pinned
    numpy kernels on identically-constructed arrays — the shared-kernel
    precedent (scalar libm vs numpy SIMD differ in the last ulp, and the
    oracle pins the engine's semantics, not the host libm's)."""
    import math

    import numpy as np

    from ..functions import cells as _cells

    z, side = synth.TILE_Z, int(math.isqrt(synth.TILE_PX))
    nb = synth.TILE_BANDS["A"]
    n = 1 << z
    pb = _cells.transform_bounds(bounds, src="epsg:4326", dst=crs)  # pinned
    width = round((pb[2] - pb[0]) / scale)
    height = round((pb[3] - pb[1]) / scale)
    xsize = (pb[2] - pb[0]) / width
    ysize = (pb[3] - pb[1]) / height
    ox, oy = pb[0], pb[3]

    tiles = synth.tile_pixels_np("A")
    rows = []
    wcols = (width + window_size - 1) // window_size
    wrows = (height + window_size - 1) // window_size
    for wr in range(wrows):
        for wc in range(wcols):
            co, ro = wc * window_size, wr * window_size
            ww = min(window_size, width - co)
            wh = min(window_size, height - ro)
            # pixel-center arrays constructed exactly like the engine's
            # gather, then the pinned inverse-projection kernel
            cols = ox + (co + np.arange(ww) + 0.5) * xsize
            rws = oy - (ro + np.arange(wh) + 0.5) * ysize
            X = np.tile(cols, wh)
            Y = np.repeat(rws, ww)
            lon, lat = _cells.to_lonlat_np(X, Y, crs)
            nv = 0
            chk = [0] * nb
            for i in range(wh * ww):
                lo, la = float(lon[i]), float(lat[i])
                la = min(max(la, -85.05112878), 85.05112878)
                gx = int(math.floor((lo + 180.0) / 360.0 * n * side))
                rad = math.radians(la)
                gy = int(
                    math.floor(
                        (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi)
                        / 2.0 * n * side
                    )
                )
                gx = min(max(gx, 0), n * side - 1)
                gy = min(max(gy, 0), n * side - 1)
                t = tiles.get((z, gx // side, gy // side))
                if t is None:
                    continue
                src = (gy % side) * side + (gx % side)
                if t[1][src] == 255:
                    nv += 1
                for b in range(nb):
                    chk[b] += int(t[0][b, src]) * (i + 1)
            for b in range(nb):
                rows.append(f"({co}, {ro}, {ww}, {wh}, {b}, {nv}, {chk[b]})")
    return (
        "SELECT CAST(col_off AS INT) AS col_off, CAST(row_off AS INT) AS row_off, "
        "CAST(win_w AS INT) AS win_w, CAST(win_h AS INT) AS win_h, "
        "CAST(band_idx AS INT) AS band_idx, CAST(n_valid AS BIGINT) AS n_valid, "
        "CAST(checksum AS BIGINT) AS checksum "
        f"FROM (VALUES {', '.join(rows)}) AS t(col_off, row_off, win_w, win_h, band_idx, n_valid, checksum)"
    )


def multimodal_features_values_sql(n: int = 200) -> str:
    """Expected feature rows from the stdlib/numpy codec twin
    (operators/multimodal.numpy_oracle_features)."""
    from ..operators import multimodal as mm

    rows = []
    for aid, kind, w, h, f, nb, mean, chk in mm.numpy_oracle_features(n):
        # doubles go through a *string* literal: DuckDB parses bare decimal
        # literals as DECIMAL (drops the last ulp); VARCHAR -> DOUBLE casts
        # are correctly rounded, so repr() round-trips exactly
        rows.append(f"({aid}, '{kind}', {w}, {h}, {f}, {nb}, '{mean!r}', {chk})")
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(kind AS VARCHAR) AS kind, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(n_frames AS INT) AS n_frames, CAST(n_bytes AS BIGINT) AS n_bytes, "
        "CAST(mean_byte AS DOUBLE) AS mean_byte, CAST(checksum AS BIGINT) AS checksum "
        f"FROM (VALUES {', '.join(rows)}) AS t(asset_id, kind, width, height, n_frames, n_bytes, mean_byte, checksum)"
    )


def resize_values_sql(n: int = 200, out_w: int = 16, out_h: int = 16) -> str:
    """Expected (asset_id, n_bytes, payload_md5) for multimodal_resize —
    the nearest-neighbor resize recomputed in plain numpy/stdlib."""
    import struct

    from ..operators import multimodal as mm

    rows = []
    kinds = ["image", "audio", "video"]
    for aid in range(n):
        kind = kinds[aid % 3]
        if kind != "image":
            continue
        w, h, _f, body = mm._decode_fake("FAKE", mm.make_payload(aid, kind))
        img = body.reshape(h, w)
        yi = (np.arange(out_h) * h // out_h).astype(np.int64)
        xi = (np.arange(out_w) * w // out_w).astype(np.int64)
        payload = struct.pack(">III", out_w, out_h, 1) + img[yi][:, xi].tobytes()
        rows.append(
            f"({aid}, {len(payload)}, '{hashlib.md5(payload).hexdigest()}')"
        )
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(n_bytes AS BIGINT) AS n_bytes, "
        "CAST(payload_md5 AS VARCHAR) AS payload_md5 "
        f"FROM (VALUES {', '.join(rows)}) AS t(asset_id, n_bytes, payload_md5)"
    )


def frame_sample_values_sql(n: int = 200, every_k: int = 2) -> str:
    """Expected (asset_id, frame_idx, n_bytes, payload_md5) rows for the
    frame-sampling operator: the payload digests are computed by re-running
    the fake codec's frame cut in plain python/numpy."""
    import struct

    from ..operators import multimodal as mm

    rows = []
    kinds = ["image", "audio", "video"]
    for aid in range(n):
        kind = kinds[aid % 3]
        if kind != "video":
            continue
        payload = mm.make_payload(aid, kind)
        w, h, f, body = mm._decode_fake("FAKE", payload)
        frames = body.reshape(f, h * w)
        for idx in range(0, f, every_k):
            fp = struct.pack(">III", w, h, 1) + frames[idx].tobytes()
            md5 = hashlib.md5(fp).hexdigest()
            rows.append(f"({aid}, {idx}, {len(fp)}, '{md5}')")
    return (
        "SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, CAST(payload_md5 AS VARCHAR) AS payload_md5 "
        f"FROM (VALUES {', '.join(rows)}) AS t(asset_id, frame_idx, n_bytes, payload_md5)"
    )
