"""Per-cluster voxel morphology (the armatuur/hanging-object search).

Reference: src/upcp/fusion/cable_fuser.py:576-673 — voxelize a
cluster's neighborhood (:751-760), binary-dilate/erode the occupancy
grid, label connected regions per z-slice with scipy.ndimage, and test
region bounding boxes. scipy is not in this container, so dilation,
erosion and 2-D CC are implemented in pure NumPy (shift-stack
dilation; CC on the shared union-find, components.min_root_components)
— same semantics, no external dep.

Spark strategy: clusters are bounded (a 50 m tile's worth of points at
most), so the whole morphology pass is one ``applyInPandas`` per
cluster — a grouped-map over the cluster id, embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .components import min_root_components


def binary_dilate(grid: np.ndarray, iterations: int = 1) -> np.ndarray:
    """8-neighborhood binary dilation via shifted ORs (pure NumPy)."""
    g = grid.astype(bool, copy=True)
    for _ in range(iterations):
        padded = np.pad(g, 1, constant_values=False)
        acc = np.zeros_like(g)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                acc |= padded[1 + dx : 1 + dx + g.shape[0],
                              1 + dy : 1 + dy + g.shape[1]]
        g = acc
    return g


def binary_erode(grid: np.ndarray, iterations: int = 1) -> np.ndarray:
    """8-neighborhood binary erosion (dual of dilation)."""
    g = grid.astype(bool, copy=True)
    for _ in range(iterations):
        padded = np.pad(g, 1, constant_values=False)
        acc = np.ones_like(g)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                acc &= padded[1 + dx : 1 + dx + g.shape[0],
                              1 + dy : 1 + dy + g.shape[1]]
        g = acc
    return g


def label_regions(grid: np.ndarray) -> tuple[np.ndarray, int]:
    """2-D 8-connected component labelling (the scipy ndimage.label
    analog). Returns (labels, n_regions); 0 = background, and regions
    are numbered in raster-scan order of their first pixel, which is the
    order of their min flat indices (``min_root_components`` roots)."""
    g = np.asarray(grid, dtype=bool)
    nx, ny = g.shape
    idx = np.arange(g.size).reshape(g.shape)
    pairs = []
    # the forward half of the 8-neighborhood: (i, j) ~ (i + di, j + dj)
    for di, dj in ((0, 1), (1, -1), (1, 0), (1, 1)):
        lo, hi = max(0, -dj), ny - max(0, dj)
        src, dst = idx[: nx - di, lo:hi], idx[di:, lo + dj : hi + dj]
        both = g[: nx - di, lo:hi] & g[di:, lo + dj : hi + dj]
        pairs += zip(src[both].tolist(), dst[both].tolist())
    on = np.flatnonzero(g).tolist()
    roots = min_root_components(pairs, on)
    number = {r: k + 1 for k, r in enumerate(sorted(set(roots.values())))}
    labels = np.zeros(g.shape, dtype=np.int64)
    labels.flat[on] = [number[roots[f]] for f in on]
    return labels, len(number)


MORPH_SCHEMA = StructType(
    [
        StructField("component", LongType()),
        StructField("region", IntegerType()),
        StructField("n_voxels", LongType()),
        StructField("width_x", DoubleType()),
        StructField("width_y", DoubleType()),
    ]
)


ARMATUUR_SCHEMA = StructType(
    [
        StructField("cluster_id", LongType()),
        StructField("armatuur_id", IntegerType()),
        StructField("n_slices", IntegerType()),
        StructField("n_voxels", LongType()),
        StructField("width", DoubleType()),
        StructField("height", DoubleType()),
        StructField("axis_off", DoubleType()),
        StructField("z_off", DoubleType()),
        StructField("accepted", IntegerType()),
    ]
)


def _binned_line(tc: np.ndarray, vc: np.ndarray, binwidth: float):
    """1-D binned-mean line fit (reference _linestring_cable_fit,
    cable_fuser.py:430-460: binned_statistic mean per along-axis bin,
    NaN bins dropped, linear interpolation between bin centers).

    Deterministic / oracle-exact variant: values are quantized to µm
    integers before summing (integer sums < 2^53 are exact in float64,
    so accumulation order cannot matter), bin means and centers are
    computed with a fixed double-op order, and the interpolation is an
    explicit clamp-or-bracket formula — every op mirrors the SQL oracle
    (SURVEY.md §7.3 item 1)."""
    t0 = float(tc.min())
    idx = np.floor((tc - t0) / binwidth).astype(np.int64)
    vq = np.round(vc * 1e6)  # µm integers held in float64 — exact
    nb = int(idx.max()) + 1
    sums = np.bincount(idx, weights=vq, minlength=nb)
    cnts = np.bincount(idx, minlength=nb)
    ok = cnts > 0
    centers = t0 + (np.arange(nb, dtype=np.float64)[ok] + 0.5) * binwidth
    means = (sums[ok] / cnts[ok].astype(np.float64)) / 1e6

    def at(t):
        t = np.asarray(t, dtype=np.float64)
        res = np.empty_like(t)
        lo = t <= centers[0]
        hi = t >= centers[-1]
        res[lo] = means[0]
        res[hi] = means[-1]
        mid = ~(lo | hi)
        if mid.any():
            j = np.searchsorted(centers, t[mid], side="right") - 1
            res[mid] = means[j] + (t[mid] - centers[j]) * (
                (means[j + 1] - means[j]) / (centers[j + 1] - centers[j])
            )
        return res

    return at


def _empty_arm() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "cluster_id": pd.Series(dtype="int64"),
            "armatuur_id": pd.Series(dtype="int32"),
            "n_slices": pd.Series(dtype="int32"),
            "n_voxels": pd.Series(dtype="int64"),
            "width": pd.Series(dtype="float64"),
            "height": pd.Series(dtype="float64"),
            "axis_off": pd.Series(dtype="float64"),
            "z_off": pd.Series(dtype="float64"),
            "accepted": pd.Series(dtype="int32"),
        }
    )


def search_armaturen(
    points: DataFrame,
    voxel: float = 0.5,
    slice_width: int = 3,
    w_buffer: float = 3.0,
    h_below: float = 4.0,
    h_above: float = 1.0,
    min_below: int = 3,
    min_voxels: int = 3,
    width_window: tuple[float, float] = (0.5, 6.0),
    height_window: tuple[float, float] = (0.5, 6.0),
    max_axis_off: float = 3.0,
    min_z_off: float = 0.25,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Armatuur (hanging-object) search per cable cluster (reference
    _search_armaturen, cable_fuser.py:576-673), one grouped-map per
    cluster over (cluster_id, x, y, z, is_cable):

    1. rotate to the cable frame (principal axis t, cross axis u);
    2. fit the cable's u(t)/z(t) lines by 1-D binned means (§2.4's
       "1-D binned statistic" — reference _linestring_cable_fit);
    3. clip the non-cable neighborhood around the lines;
    4. voxelize; per slice_width-voxel slice along t: require points
       below the cable, morphologically close the (u, z) occupancy,
       label regions, and test each region's bounding box (width /
       height windows, axis offset, hang depth z_off);
    5. merge accepted detections across adjacent slices (union-find)
       into armatuur blobs.

    Deviation from the reference, documented: the sagging-angle gate
    (min_cable_bending) is omitted — the synthetic cables are straight,
    so the gate would reject everything; the stencil that computes it
    exists as the stencil_lag_lead query."""

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        out_cols = [
            "cluster_id", "armatuur_id", "n_slices", "n_voxels",
            "width", "height", "axis_off", "z_off", "accepted",
        ]
        cl = int(pdf[cluster_col].iloc[0])
        cable = pdf[pdf["is_cable"]]
        rest = pdf[~pdf["is_cable"]]
        if len(cable) < 2 or len(rest) == 0:
            return _empty_arm()
        # Deterministic principal direction from exact integer moments
        # (mm-quantized, min-centered — same recipe as operators/pca.py,
        # closed-form 2x2 eigenvector, fixed sign convention). Every
        # double op below mirrors the armatuur_search SQL oracle.
        cx = cable["x"].to_numpy(float)
        cy = cable["y"].to_numpy(float)
        xm = np.round(cx * 1000.0)
        ym = np.round(cy * 1000.0)
        minx, miny = float(xm.min()), float(ym.min())
        dxq, dyq = xm - minx, ym - miny  # exact integers in float64
        n = float(len(xm))
        sx, sy = float(dxq.sum()), float(dyq.sum())
        sxx = float((dxq * dxq).sum())
        syy = float((dyq * dyq).sum())
        sxy = float((dxq * dyq).sum())
        a = (sxx - sx * sx / n) / n / 1e6
        cc = (syy - sy * sy / n) / n / 1e6
        b = (sxy - sx * sy / n) / n / 1e6
        lam1 = ((a + cc) + np.sqrt((a - cc) * (a - cc) + 4.0 * b * b)) / 2.0
        if b != 0.0:
            vx, vy = b, lam1 - a
        elif a >= cc:
            vx, vy = 1.0, 0.0
        else:
            vx, vy = 0.0, 1.0
        nrm = np.sqrt(vx * vx + vy * vy)
        ax, ay = vx / nrm, vy / nrm
        if ax < 0.0 or (ax == 0.0 and ay < 0.0):
            ax, ay = -ax, -ay
        mean_x = (sx / n + minx) / 1000.0
        mean_y = (sy / n + miny) / 1000.0
        tc = (cx - mean_x) * ax + (cy - mean_y) * ay
        uc = (cx - mean_x) * (-ay) + (cy - mean_y) * ax
        zc = cable["z"].to_numpy(float)
        u_at = _binned_line(tc, uc, 4 * voxel)
        z_at = _binned_line(tc, zc, 4 * voxel)

        rx = rest["x"].to_numpy(float)
        ry = rest["y"].to_numpy(float)
        rt = (rx - mean_x) * ax + (ry - mean_y) * ay
        ru = (rx - mean_x) * (-ay) + (ry - mean_y) * ax
        rz = rest["z"].to_numpy(float)
        du = ru - u_at(rt)
        dz = rz - z_at(rt)
        keep = (np.abs(du) < w_buffer) & (dz > -h_below) & (dz < h_above)
        rt, du, dz = rt[keep], du[keep], dz[keep]
        if len(rt) == 0:
            return _empty_arm()
        ti = np.floor(rt / voxel).astype(int)
        ui = np.floor(du / voxel).astype(int)
        zi = np.floor(dz / voxel).astype(int)
        t0, u0, z0 = ti.min(), ui.min(), zi.min()
        ti, ui, zi = ti - t0, ui - u0, zi - z0
        nu, nz = ui.max() + 1, zi.max() + 1

        detections = []  # (slice_idx, u_lo, u_hi, n_vox, w, h, ax, zo, ok)
        n_slices_total = ti.max() // slice_width + 1
        for s in range(n_slices_total):
            in_sl = (ti >= s * slice_width) & (ti < (s + 1) * slice_width)
            if not in_sl.any():
                continue
            grid = np.zeros((nu + 8, nz + 8), dtype=bool)
            grid[ui[in_sl] + 4, zi[in_sl] + 4] = True
            # below-cable density gate: dz < 0 voxels
            below = int((zi[in_sl] + z0 < 0).sum())
            if below < min_below:
                continue
            closed = binary_erode(binary_dilate(grid, 2), 2)
            labels, n = label_regions(closed)
            for r in range(1, n + 1):
                ii, jj = np.nonzero(labels == r)
                if len(ii) < min_voxels:
                    continue
                width = float((ii.max() - ii.min() + 1) * voxel)
                height = float((jj.max() - jj.min() + 1) * voxel)
                cu = (ii.min() + ii.max()) / 2.0 - 4 + u0 + 0.5
                cz = (jj.min() + jj.max()) / 2.0 - 4 + z0 + 0.5
                axis_off = abs(cu * voxel)       # u-line is at du = 0
                z_off = -cz * voxel              # hang depth below line
                ok = (
                    width_window[0] <= width < width_window[1]
                    and height_window[0] <= height < height_window[1]
                    and axis_off < max_axis_off
                    and z_off > max(min_z_off, height / 2)
                )
                detections.append(
                    (s, ii.min(), ii.max(), len(ii), width, height,
                     axis_off, z_off, ok)
                )
        if not detections:
            return _empty_arm()
        # cross-slice merge: adjacent slices with overlapping u-extents
        blob_of = min_root_components(
            (
                (i, j)
                for i, a in enumerate(detections)
                for j, b in enumerate(detections[i + 1:], i + 1)
                if abs(a[0] - b[0]) == 1 and a[1] <= b[2] and b[1] <= a[2]
            ),
            range(len(detections)),
        )
        blobs: dict[int, list[tuple]] = {}
        for i, det in enumerate(detections):
            blobs.setdefault(blob_of[i], []).append(det)
        rows = []
        for bid, (_, dets) in enumerate(sorted(blobs.items())):
            rows.append(
                (
                    cl, bid, len({d[0] for d in dets}),
                    int(sum(d[3] for d in dets)),
                    round(max(d[4] for d in dets), 6),
                    round(max(d[5] for d in dets), 6),
                    round(min(d[6] for d in dets), 6),
                    round(max(d[7] for d in dets), 6),
                    int(any(d[8] for d in dets)),
                )
            )
        return pd.DataFrame(rows, columns=out_cols)

    return points.groupBy(cluster_col).applyInPandas(
        per_cluster, schema=ARMATUUR_SCHEMA
    )


def cluster_morphology(
    with_comp: DataFrame,
    voxel: float = 1.0,
    dilate: int = 1,
    erode: int = 1,
    comp_col: str = "component",
) -> DataFrame:
    """Per-cluster: voxelize occupancy, close (dilate then erode),
    label regions, report per-region voxel counts + extents —
    the armatuur-search skeleton (cable_fuser.py:576-673)."""

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = np.floor(pdf["x"].to_numpy() / voxel).astype(int)
        ys = np.floor(pdf["y"].to_numpy() / voxel).astype(int)
        pad = dilate + erode  # margin so closing is not clipped at the
        x0, y0 = xs.min() - pad, ys.min() - pad  # cluster's bbox border
        grid = np.zeros(
            (xs.max() - x0 + 1 + pad, ys.max() - y0 + 1 + pad), dtype=bool
        )
        grid[xs - x0, ys - y0] = True
        closed = binary_erode(binary_dilate(grid, dilate), erode)
        labels, n = label_regions(closed)
        comp = int(pdf[comp_col].iloc[0])
        rows = []
        for r in range(1, n + 1):
            ii, jj = np.nonzero(labels == r)
            rows.append(
                (
                    comp, r, int(len(ii)),
                    float((ii.max() - ii.min() + 1) * voxel),
                    float((jj.max() - jj.min() + 1) * voxel),
                )
            )
        if not rows:
            rows.append((comp, 0, 0, 0.0, 0.0))
        return pd.DataFrame(
            rows, columns=["component", "region", "n_voxels", "width_x", "width_y"]
        )

    return with_comp.groupBy(comp_col).applyInPandas(
        per_cluster, schema=MORPH_SCHEMA
    )
