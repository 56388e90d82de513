"""Cable-cluster merging (reference _cable_merging,
src/upcp/fusion/cable_fuser.py:333-389; merge condition :247-273,
catenary gap test :275-315, box test :317-331).

Reference semantics: iteratively merge cable cluster pairs whose
principal directions align (angle < max_angle), whose nearest
endpoints are close (< max_gap), and whose combined points still fit a
hanging-cable curve; repeat to fixpoint. The reference fits the exact
catenary `a + c*cosh((x−b)/c)` with scipy curve_fit; scipy is absent
here, so ``catenary_fit`` is a self-contained Gauss-Newton (with
Levenberg damping) on the same model — parabola-seeded, fixed
iteration budget, pure NumPy — falling back to the small-sag parabola
only when the nonlinear fit cannot improve on it.

Spark strategy: clusters are few per tile (the reference loops them on
one core), so merging is a grouped-map ``applyInPandas`` per tile —
the per-group fixpoint is bounded by the handful of clusters a 50 m
tile can hold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .components import min_root_components, pair_components


def _principal(xy: np.ndarray) -> np.ndarray:
    """Unit principal direction of a 2-D point set (largest eigvec)."""
    c = xy - xy.mean(axis=0)
    cov = c.T @ c / len(xy)
    w, v = np.linalg.eigh(cov)
    d = v[:, int(np.argmax(w))]
    return d / (np.linalg.norm(d) or 1.0)


def _endpoints(xy: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    t = xy @ d
    return xy[int(np.argmin(t))], xy[int(np.argmax(t))]


def _parabola_rmse(t: np.ndarray, z: np.ndarray) -> float:
    coef = np.polyfit(t, z, 2)
    return float(np.sqrt(np.mean((np.polyval(coef, t) - z) ** 2)))


def catenary_fit(
    t: np.ndarray, z: np.ndarray, max_iter: int = 60, tol: float = 1e-12
) -> tuple[float, float, float, float]:
    """Least-squares fit of z = a + c·cosh((t−b)/c) (reference
    catenary_func, src/upcp/utils/math_utils.py + cable_fuser.py:
    275-315 curve_fit call). Gauss-Newton with Levenberg damping,
    parabola-seeded:

    near the vertex z ≈ (a+c) + (t−b)²/(2c), so the quadratic
    coefficient q2 seeds c₀ = 1/(2·q2) and the vertex seeds b₀/a₀.
    Returns (a, b, c, rmse). Deterministic (fixed seeds, fixed
    iteration budget); raises no warnings — a degenerate/diverging fit
    just returns its best-so-far parameters."""
    t = np.asarray(t, dtype=float)
    z = np.asarray(z, dtype=float)
    q = np.polyfit(t, z, 2)
    if q[0] > 1e-12:
        c = 1.0 / (2.0 * q[0])
        b = -q[1] / (2.0 * q[0])
    else:
        c = max(np.ptp(t), 1.0) * 100.0  # near-straight: huge radius
        b = float(t.mean())
    a = float(np.min(z)) - c
    params = np.array([a, b, c], dtype=float)
    lam = 1e-3

    def residuals(p):
        u = (t - p[1]) / p[2]
        # clip to keep cosh finite during wild damping steps
        u = np.clip(u, -300.0, 300.0)
        return p[0] + p[2] * np.cosh(u) - z, u

    r, u = residuals(params)
    sse = float(r @ r)
    for _ in range(max_iter):
        sh, ch = np.sinh(u), np.cosh(u)
        J = np.column_stack([np.ones_like(u), -sh, ch - u * sh])
        g = J.T @ r
        H = J.T @ J
        try:
            step = np.linalg.solve(H + lam * np.diag(np.diag(H)), g)
        except np.linalg.LinAlgError:
            break
        trial = params - step
        if trial[2] <= 1e-9:  # c must stay positive
            lam *= 10.0
            continue
        r_new, u_new = residuals(trial)
        sse_new = float(r_new @ r_new)
        if sse_new < sse:
            improvement = sse - sse_new
            params, r, u, sse = trial, r_new, u_new, sse_new
            lam = max(lam / 10.0, 1e-12)
            if improvement < tol * max(sse, 1.0):
                break
        else:
            lam *= 10.0
            if lam > 1e12:
                break
    rmse = float(np.sqrt(sse / len(t)))
    return float(params[0]), float(params[1]), float(params[2]), rmse


def _pair_mergeable(
    a: np.ndarray, az: np.ndarray, b: np.ndarray, bz: np.ndarray,
    max_angle_deg: float, max_gap: float, max_rmse: float,
) -> bool:
    da, db = _principal(a), _principal(b)
    cosang = abs(float(np.clip(da @ db, -1.0, 1.0)))
    if np.degrees(np.arccos(cosang)) > max_angle_deg:
        return False
    ea = _endpoints(a, da)
    eb = _endpoints(b, db)
    gap = min(np.linalg.norm(p - q) for p in ea for q in eb)
    if gap > max_gap:
        return False
    # exact catenary fit over the merged span (parabola fallback for
    # the fit seed lives inside catenary_fit)
    xy = np.vstack([a, b])
    z = np.concatenate([az, bz])
    d = _principal(xy)
    t = xy @ d
    if len(t) < 3 or np.ptp(t) < 1e-9:
        return True
    _, _, _, rmse = catenary_fit(t, z)
    return min(rmse, _parabola_rmse(t, z)) <= max_rmse


def merge_clusters_np(
    pdf: pd.DataFrame,
    max_angle_deg: float,
    max_gap: float,
    max_rmse: float,
    cluster_col: str = "cluster_id",
) -> dict[int, int]:
    """Fixpoint pairwise merge within one group; returns
    cluster_id → merged_id (min id of the merged set)."""
    groups: dict[int, list[int]] = {}
    for cid in pdf[cluster_col].unique():
        groups[int(cid)] = [int(cid)]
    pts = {
        int(cid): (
            pdf.loc[pdf[cluster_col] == cid, ["x", "y"]].to_numpy(float),
            pdf.loc[pdf[cluster_col] == cid, "z"].to_numpy(float),
        )
        for cid in groups
    }
    changed = True
    while changed:
        changed = False
        ids = sorted(groups)
        for i, ca in enumerate(ids):
            if ca not in groups:
                continue
            for cb in ids[i + 1:]:
                if cb not in groups or ca not in groups:
                    continue
                a, az = pts[ca]
                b, bz = pts[cb]
                if _pair_mergeable(a, az, b, bz, max_angle_deg, max_gap, max_rmse):
                    pts[ca] = (np.vstack([a, b]), np.concatenate([az, bz]))
                    groups[ca].extend(groups.pop(cb))
                    del pts[cb]
                    changed = True
    out = {}
    for root, members in groups.items():
        target = min(members)
        for m in members:
            out[m] = target
    return out


def merge_cables(
    clustered: DataFrame,
    max_angle_deg: float = 15.0,
    max_gap: float = 10.0,
    max_rmse: float = 0.5,
    group_col: str | None = "tile_x",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """(cluster_id, merged_id) per group (tile at scale; pass
    group_col=None for a single group on small inputs)."""
    schema = StructType(
        [
            StructField("cluster_id", LongType()),
            StructField("merged_id", LongType()),
        ]
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        mapping = merge_clusters_np(
            pdf, max_angle_deg, max_gap, max_rmse, cluster_col
        )
        return pd.DataFrame(
            {"cluster_id": list(mapping), "merged_id": list(mapping.values())}
        )

    if group_col is None:
        clustered = clustered.withColumn("_g", F.lit(0))
        group_col = "_g"
    return clustered.groupBy(group_col).applyInPandas(per_group, schema=schema)


# ----------------------------------------------------------------------
# Order-independent merge variant (oracle-exact).
#
# The reference's _cable_merging (cable_fuser.py:333-389) is a
# sequential fixpoint: merge a pair, refit the union, continue. Like
# the DBSCAN operator (operators/dbscan.py), the engine also ships an
# ORDER-INDEPENDENT variant whose result is a pure function of the
# input: merged_id = connected components over the PAIRWISE-mergeable
# graph of the original clusters. The pair gate keeps the reference's
# three conditions — principal-direction angle (:247-273), nearest-
# endpoint gap (:317-331), and a hanging-curve residual (:275-315, the
# small-sag quadratic analog of the catenary fit) — each evaluated with
# exact-integer moments + one fixed double-op formula, so a DuckDB
# recursive-CTE oracle reproduces it bit-for-bit. The sequential
# catenary fixpoint (merge_cables above) remains the API-parity path.
# ----------------------------------------------------------------------

MERGE_MAX_ANGLE_DEG = 15.0
MERGE_MAX_GAP_MM2 = int(10.0 * 1000) ** 2     # max_gap = 10 m, in mm²
# Above this many cable clusters the merge's candidate enumeration
# switches from a broadcast self-join to the endpoint-cell-bucketed
# join (same exact gates, superset prefilter — identical output).
MERGE_BROADCAST_MAX_CLUSTERS = 20_000
MERGE_MAX_RMSE_MM = 500.0                     # max_rmse = 0.5 m
TQ_DIV = 1_000_000  # projection quantum: exact-int t divided down so
                    # Σt⁴ stays within HUGEINT/python-int sums


def _cos2(deg: float) -> float:
    import math

    return math.cos(math.radians(deg)) ** 2


def _cluster_geom(pts: list[tuple[int, int, int]]):
    """(v, emin, emax) for one cluster's mm-integer points: principal
    direction v (doubles via the closed-form 2×2 eigenvector
    (cxy, λmax − cxx)), endpoints = lexicographic (t, x, y) extremes."""
    import math

    n = len(pts)
    x0 = min(p[0] for p in pts)
    y0 = min(p[1] for p in pts)
    sx = sum(p[0] - x0 for p in pts)
    sy = sum(p[1] - y0 for p in pts)
    sxx = sum((p[0] - x0) * (p[0] - x0) for p in pts)
    syy = sum((p[1] - y0) * (p[1] - y0) for p in pts)
    sxy = sum((p[0] - x0) * (p[1] - y0) for p in pts)
    cxx = float(n * sxx - sx * sx)
    cyy = float(n * syy - sy * sy)
    cxy = float(n * sxy - sx * sy)
    if cxy == 0.0:
        v = (1.0, 0.0) if cxx >= cyy else (0.0, 1.0)
    else:
        lam = ((cxx + cyy) + math.sqrt(
            (cxx - cyy) * (cxx - cyy) + 4.0 * cxy * cxy)) / 2.0
        v = (cxy, lam - cxx)
    keyed = sorted(
        (v[0] * (p[0] - x0) + v[1] * (p[1] - y0), p[0], p[1]) for p in pts
    )
    emin = (keyed[0][1], keyed[0][2])
    emax = (keyed[-1][1], keyed[-1][2])
    return v, emin, emax


def _pair_curve_ok(pts: list[tuple[int, int, int]]) -> bool:
    """Small-sag quadratic residual gate over the combined pair points:
    exact-integer diameter direction + quantized projection, exact
    integer moment sums, one fixed Cramer solve in doubles."""
    n = len(pts)
    if n < 3:
        return True
    # canonical diameter pair: max d², tie-break lexicographic minimal
    best = None
    spts = sorted(pts)
    for i in range(n):
        for j in range(i + 1, n):
            p, q = spts[i], spts[j]
            d2 = (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
            key = (-d2, p[0], p[1], q[0], q[1])
            if best is None or key < best[0]:
                best = (key, p, q)
    _, p, q = best
    dx, dy = q[0] - p[0], q[1] - p[1]
    if dx < 0 or (dx == 0 and dy < 0):
        dx, dy = -dx, -dy
    t = [(pt[0] - p[0]) * dx + (pt[1] - p[1]) * dy for pt in pts]
    tmin = min(t)
    tq = [(ti - tmin) // TQ_DIV for ti in t]
    if min(tq) == max(tq):
        return True
    z = [pt[2] for pt in pts]
    s0 = n
    s1 = sum(tq)
    s2 = sum(v * v for v in tq)
    s3 = sum(v * v * v for v in tq)
    s4 = sum(v * v * v * v for v in tq)
    sz = sum(z)
    stz = sum(v * w for v, w in zip(tq, z))
    st2z = sum(v * v * w for v, w in zip(tq, z))
    szz = sum(w * w for w in z)
    S0, S1, S2, S3, S4 = float(s0), float(s1), float(s2), float(s3), float(s4)
    SZ, STZ, ST2Z, SZZ = float(sz), float(stz), float(st2z), float(szz)
    det = (S4 * (S2 * S0 - S1 * S1) - S3 * (S3 * S0 - S1 * S2)
           + S2 * (S3 * S1 - S2 * S2))
    if det == 0.0:
        return True
    c = (ST2Z * (S2 * S0 - S1 * S1) - S3 * (STZ * S0 - S1 * SZ)
         + S2 * (STZ * S1 - S2 * SZ)) / det
    b = (S4 * (STZ * S0 - S1 * SZ) - ST2Z * (S3 * S0 - S1 * S2)
         + S2 * (S3 * SZ - STZ * S2)) / det
    a = (S4 * (S2 * SZ - STZ * S1) - S3 * (S3 * SZ - STZ * S2)
         + ST2Z * (S3 * S1 - S2 * S2)) / det
    sse = SZZ - (c * ST2Z + b * STZ + a * SZ)
    return sse <= MERGE_MAX_RMSE_MM * MERGE_MAX_RMSE_MM * S0


def merge_clusters_pairwise_cc(
    rows: list[tuple[int, int, int, int]],
    max_angle_deg: float = MERGE_MAX_ANGLE_DEG,
    max_gap_mm2: int = MERGE_MAX_GAP_MM2,
) -> dict[int, int]:
    """cluster_id → merged_id (min id of the CC over mergeable pairs).
    ``rows`` = (cluster_id, x_mm, y_mm, z_mm)."""
    cos2 = _cos2(max_angle_deg)
    clusters: dict[int, list[tuple[int, int, int]]] = {}
    for cid, xm, ym, zm in rows:
        clusters.setdefault(int(cid), []).append((int(xm), int(ym), int(zm)))
    geom = {cid: _cluster_geom(pts) for cid, pts in clusters.items()}
    pairs = []
    ids = sorted(clusters)
    for i, ca in enumerate(ids):
        va, amin, amax = geom[ca]
        for cb in ids[i + 1:]:
            vb, bmin, bmax = geom[cb]
            dot = va[0] * vb[0] + va[1] * vb[1]
            na2 = va[0] * va[0] + va[1] * va[1]
            nb2 = vb[0] * vb[0] + vb[1] * vb[1]
            if not dot * dot >= cos2 * (na2 * nb2):
                continue
            gap2 = min(
                (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2
                for p in (amin, amax) for q in (bmin, bmax)
            )
            if gap2 > max_gap_mm2:
                continue
            if not _pair_curve_ok(clusters[ca] + clusters[cb]):
                continue
            pairs.append((ca, cb))
    return min_root_components(pairs, clusters)


def merge_cables_cc(clustered: DataFrame,
                    cluster_col: str = "cluster_id",
                    max_gap: float = 10.0) -> DataFrame:
    """(cluster_id, merged_id) via the order-independent pairwise-CC
    variant, FULLY DISTRIBUTED (no all-points-in-one-task group):

    1. per-cluster geometry (principal direction + lex-extreme
       endpoints) as ONE distributed aggregation — moments are exact
       decimal(38,0) integer sums, matching the oracle's HUGEINT and
       the Python kernel's bigints bit-for-bit after the single
       cast-to-double;
    2. candidate pairs from a self-join of the small geometry table
       with the angle + endpoint-gap gates (bucket by endpoint cell if
       the cluster count itself outgrows a broadcast);
    3. the small-sag curve gate per CANDIDATE PAIR as a grouped map
       over (ca, cb) — each task sees exactly two clusters' points,
       never the corpus (the exact-integer kernel is summation-order
       independent, so distribution order cannot change the verdict);
    4. CC over the passing pairs in one two-level pass
       (``components.pair_components``).

    Gate arithmetic is identical to merge_clusters_pairwise_cc (which
    remains the single-machine kernel used by the unit tests), so the
    recursive-CTE oracle is unchanged."""
    cos2 = _cos2(MERGE_MAX_ANGLE_DEG)
    gap_mm2 = int(round(max_gap * 1000.0)) ** 2

    def mm(c: str):
        return F.round(F.col(c) * 1000.0).cast("long")

    pts = clustered.select(
        F.col(cluster_col).alias("cid"),
        mm("x").alias("xm"), mm("y").alias("ym"), mm("z").alias("zm"),
    ).localCheckpoint(eager=True)
    mins = pts.groupBy("cid").agg(
        F.min("xm").alias("x0"), F.min("ym").alias("y0"),
        F.count("*").alias("n"),
    )
    dx = (F.col("xm") - F.col("x0")).cast("decimal(38,0)")
    dy = (F.col("ym") - F.col("y0")).cast("decimal(38,0)")
    moms = (
        pts.join(mins, "cid")
        .groupBy("cid", "n", "x0", "y0")
        .agg(
            F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
            F.sum(dx * dx).alias("sxx"), F.sum(dy * dy).alias("syy"),
            F.sum(dx * dy).alias("sxy"),
        )
    )
    nd = F.col("n").cast("decimal(38,0)")
    cxx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cyy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cxy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cov = moms.select("cid", "x0", "y0", cxx.alias("cxx"),
                      cyy.alias("cyy"), cxy.alias("cxy"))
    lam = (
        (F.col("cxx") + F.col("cyy"))
        + F.sqrt(
            (F.col("cxx") - F.col("cyy")) * (F.col("cxx") - F.col("cyy"))
            + F.lit(4.0) * F.col("cxy") * F.col("cxy")
        )
    ) / F.lit(2.0)
    vx = F.when(F.col("cxy") == 0.0,
                F.when(F.col("cxx") >= F.col("cyy"), F.lit(1.0))
                .otherwise(F.lit(0.0))).otherwise(F.col("cxy"))
    vy = F.when(F.col("cxy") == 0.0,
                F.when(F.col("cxx") >= F.col("cyy"), F.lit(0.0))
                .otherwise(F.lit(1.0))).otherwise(lam - F.col("cxx"))
    dirs = cov.select("cid", "x0", "y0", vx.alias("vx"), vy.alias("vy"))
    t = (
        F.col("vx") * (F.col("xm") - F.col("x0")).cast("double")
        + F.col("vy") * (F.col("ym") - F.col("y0")).cast("double")
    )
    geom = (
        pts.join(dirs, "cid")
        .groupBy("cid")
        .agg(
            F.first("vx").alias("vx"), F.first("vy").alias("vy"),
            F.min(F.struct(t.alias("t"), F.col("xm"), F.col("ym")))
            .alias("emin"),
            F.max(F.struct(t.alias("t"), F.col("xm"), F.col("ym")))
            .alias("emax"),
        )
        .select(
            "cid", "vx", "vy",
            F.col("emin.xm").alias("axm"), F.col("emin.ym").alias("aym"),
            F.col("emax.xm").alias("bxm"), F.col("emax.ym").alias("bym"),
        )
        .localCheckpoint(eager=True)
    )
    a = geom.alias("a")
    b = geom.alias("b")
    dot = F.col("a.vx") * F.col("b.vx") + F.col("a.vy") * F.col("b.vy")
    na2 = F.col("a.vx") * F.col("a.vx") + F.col("a.vy") * F.col("a.vy")
    nb2 = F.col("b.vx") * F.col("b.vx") + F.col("b.vy") * F.col("b.vy")

    def seg2(pxa, pya, pxb, pyb):
        ddx = F.col(f"a.{pxa}") - F.col(f"b.{pxb}")
        ddy = F.col(f"a.{pya}") - F.col(f"b.{pyb}")
        return ddx * ddx + ddy * ddy

    gap2 = F.least(
        seg2("axm", "aym", "axm", "aym"), seg2("axm", "aym", "bxm", "bym"),
        seg2("bxm", "bym", "axm", "aym"), seg2("bxm", "bym", "bxm", "bym"),
    )
    # Candidate enumeration. Below the broadcast ceiling the plain
    # gated self-join is cheapest (geometry table is one row per
    # cluster). Above it, an unconditional broadcast self-join is
    # O(C²) predicate work and a driver-sized broadcast (ADVICE r03),
    # so switch to endpoint-cell bucketing: the gap gate requires some
    # endpoint pair within max_gap, so hashing endpoints to
    # max_gap-sized grid cells and probing the 3×3 neighborhood yields
    # a SUPERSET of qualifying pairs — the exact angle/gap gates below
    # then filter it, so both paths produce identical pairs.
    if geom.count() <= MERGE_BROADCAST_MAX_CLUSTERS:
        raw = a.join(F.broadcast(b), F.col("a.cid") < F.col("b.cid"))
    else:
        g_mm = max(1, int(round(max_gap * 1000.0)))
        spark = clustered.sparkSession
        eps = (
            geom.select(
                "cid",
                F.explode(
                    F.array(
                        F.struct(F.col("axm").alias("exm"),
                                 F.col("aym").alias("eym")),
                        F.struct(F.col("bxm").alias("exm"),
                                 F.col("bym").alias("eym")),
                    )
                ).alias("e"),
            )
            .select(
                "cid",
                F.floor(F.col("e.exm") / g_mm).alias("gx"),
                F.floor(F.col("e.eym") / g_mm).alias("gy"),
            )
            .distinct()
        )
        offs = spark.createDataFrame(
            [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)],
            "ox long, oy long",
        )
        probe = eps.crossJoin(F.broadcast(offs)).select(
            "cid",
            (F.col("gx") + F.col("ox")).alias("gx"),
            (F.col("gy") + F.col("oy")).alias("gy"),
        )
        pair_ids = (
            eps.alias("ea")
            .join(
                probe.alias("eb"),
                (F.col("ea.gx") == F.col("eb.gx"))
                & (F.col("ea.gy") == F.col("eb.gy"))
                & (F.col("ea.cid") < F.col("eb.cid")),
            )
            .select(F.col("ea.cid").alias("ia"), F.col("eb.cid").alias("ib"))
            .distinct()
        )
        raw = (
            pair_ids.join(a, F.col("ia") == F.col("a.cid"))
            .join(b, F.col("ib") == F.col("b.cid"))
        )
    cand = (
        raw
        .filter(dot * dot >= F.lit(cos2) * (na2 * nb2))
        .filter(gap2 <= F.lit(gap_mm2))
        .select(F.col("a.cid").alias("ca"), F.col("b.cid").alias("cb"))
    )
    pair_pts = (
        cand.select(
            "ca", "cb",
            F.explode(F.array(F.col("ca"), F.col("cb"))).alias("cid"),
        )
        .join(pts, "cid")
        .select("ca", "cb", "xm", "ym", "zm")
    )
    ok_schema = StructType(
        [
            StructField("ca", LongType()),
            StructField("cb", LongType()),
            StructField("ok", BooleanType()),
        ]
    )

    def curve_gate(pdf: pd.DataFrame) -> pd.DataFrame:
        combined = [
            (int(x), int(y), int(z))
            for x, y, z in zip(pdf["xm"], pdf["ym"], pdf["zm"])
        ]
        return pd.DataFrame(
            {
                "ca": [int(pdf["ca"].iloc[0])],
                "cb": [int(pdf["cb"].iloc[0])],
                "ok": [_pair_curve_ok(combined)],
            }
        )

    passing = (
        pair_pts.groupBy("ca", "cb")
        .applyInPandas(curve_gate, schema=ok_schema)
        .filter(F.col("ok"))
        .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
    )
    comp = pair_components(passing, geom.select(F.col("cid").alias("node")))
    return comp.select(
        F.col("node").alias("cluster_id"),
        F.col("component").alias("merged_id"),
    )
