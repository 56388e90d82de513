"""Deterministic DBSCAN over per-candidate windows (pole seed search).

Reference: src/upcp/fusion/pole_fuser.py:99-130 runs sklearn
DBSCAN(eps=0.05, min_samples=5) on the points inside each candidate
search cylinder to find the pole's seed cluster. sklearn's border-point
assignment is scan-order dependent, so this module defines the
order-independent variant (identical results on both engines):

- core point: ≥ min_samples neighbors within eps (self included —
  sklearn semantics);
- clusters: connected components of core points within eps, id = MIN
  core point id;
- border point: non-core with ≥1 core neighbor — joins the cluster of
  its NEAREST core neighbor (tie-break: smaller point id);
- everything else: noise (cluster −1, dropped).

Spark shape: windows are small by construction (bounded search radius),
so DBSCAN runs as one ``applyInPandas`` grouped-map per window — the
same per-window batch shape as the reference, distributed across
executors by window id. The oracle SQL builder reproduces the identical
algorithm with an eps-pair self-join + recursive-CTE components.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import min_root_components


def dbscan_windows(
    win_pts: DataFrame,
    eps: float,
    min_samples: int,
    win_col: str = "win_id",
    id_col: str = "pid",
) -> DataFrame:
    """(win_id, pid, cluster) for every window point; noise cluster −1.

    Input: (win_col, id_col, x, y). Distances are squared-euclidean in
    double with the canonical (ax−bx)·(ax−bx) + (ay−by)·(ay−by) form so
    comparisons match the oracle bit-for-bit.
    """
    eps_sq = eps * eps
    schema = f"{win_col} long, {id_col} long, cluster long"

    def per_window(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(pids)
        pids = pids[order]
        x = pdf["x"].to_numpy(dtype=np.float64)[order]
        y = pdf["y"].to_numpy(dtype=np.float64)[order]
        n = len(pids)
        dx = x[:, None] - x[None, :]
        dy = y[:, None] - y[None, :]
        d2 = dx * dx + dy * dy
        nbr = d2 <= eps_sq  # includes self (d2 = 0)
        core = nbr.sum(axis=1) >= min_samples

        # components over core-core eps pairs; pids are sorted, so the
        # min-index root is the min core point id
        core_idx = np.where(core)[0]
        ci, cj = np.nonzero(np.triu(nbr[np.ix_(core_idx, core_idx)], 1))
        roots = min_root_components(
            zip(core_idx[ci].tolist(), core_idx[cj].tolist()), core_idx.tolist()
        )
        cluster = np.full(n, -1, dtype=np.int64)
        for i, r in roots.items():
            cluster[i] = pids[r]
        # border: nearest core neighbor, tie-break smaller pid (pids
        # are sorted ascending, so argmin over (d2, index) suffices)
        for i in range(n):
            if core[i]:
                continue
            cand = np.where(nbr[i] & core)[0]
            if len(cand) == 0:
                continue
            best = cand[np.lexsort((cand, d2[i, cand]))[0]]
            cluster[i] = cluster[best]
        return pd.DataFrame(
            {
                win_col: pdf[win_col].to_numpy(dtype=np.int64)[order],
                id_col: pids,
                "cluster": cluster,
            }
        )

    return win_pts.groupBy(win_col).applyInPandas(per_window, schema=schema)


def dbscan_sql(
    wpts_cte: str,
    eps: float,
    min_samples: int,
    prefix: str = "db",
) -> str:
    """CTE chain (to splice after WITH RECURSIVE) ending in
    ``{prefix}_assign(win_id, pid, cluster)`` — noise rows excluded —
    over a CTE producing (win_id, pid, x, y). ``prefix`` namespaces the
    CTEs so several DBSCAN chains can coexist in one oracle query
    (e.g. the three pole stages of the full pipeline)."""
    e2 = repr(eps * eps)
    return f"""
{prefix}_wpts AS ({wpts_cte}),
{prefix}_pairs AS (
  SELECT a.win_id, a.pid AS pa, b.pid AS pb,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM {prefix}_wpts a JOIN {prefix}_wpts b ON a.win_id = b.win_id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {e2}
),
{prefix}_core AS (
  SELECT win_id, pa AS pid FROM {prefix}_pairs
  GROUP BY win_id, pa HAVING COUNT(*) >= {min_samples}
),
{prefix}_core_edges AS (
  SELECT p.win_id, p.pa AS src, p.pb AS dst
  FROM {prefix}_pairs p
  JOIN {prefix}_core ca ON ca.win_id = p.win_id AND ca.pid = p.pa
  JOIN {prefix}_core cb ON cb.win_id = p.win_id AND cb.pid = p.pb
),
{prefix}_reach(win_id, src, node) AS (
  SELECT win_id, pid, pid FROM {prefix}_core
  UNION
  SELECT r.win_id, r.src, e.dst
  FROM {prefix}_reach r JOIN {prefix}_core_edges e
    ON e.win_id = r.win_id AND e.src = r.node
),
{prefix}_comp AS (
  SELECT win_id, src AS pid, MIN(node) AS cluster
  FROM {prefix}_reach GROUP BY win_id, src
),
{prefix}_border AS (
  SELECT win_id, pid, cluster FROM (
    SELECT p.win_id, p.pa AS pid, c.cluster,
           row_number() OVER (
             PARTITION BY p.win_id, p.pa ORDER BY p.d2, p.pb) AS rn
    FROM {prefix}_pairs p
    JOIN {prefix}_comp c ON c.win_id = p.win_id AND c.pid = p.pb
    WHERE NOT EXISTS (
      SELECT 1 FROM {prefix}_core k WHERE k.win_id = p.win_id AND k.pid = p.pa
    )
  ) WHERE rn = 1
),
{prefix}_assign AS (
  SELECT win_id, pid, cluster FROM {prefix}_comp
  UNION ALL
  SELECT win_id, pid, cluster FROM {prefix}_border
)"""
