"""Connected components over the occupied-grid-cell graph.

Reference: LabelConnectedComp (src/upcp/region_growing/
label_connected_comp.py:18-135) — CloudCompare octree CC at a grid
size, then a size filter (:92-97), then a seed-fraction region fill
(:111-123). Component ids are canonicalized to the MIN cell key of the
component (SURVEY.md §7.3 item 2 — reference ids are octree-order-
dependent, so tests compare partitions, not raw ids).

- ``grid_components``: iterative min-label propagation + pointer
  jumping over the cell adjacency graph, pure DataFrame ops, with
  localCheckpoint every round (the north-rule "iterative connected-
  component expansion over the cell graph with checkpointed
  frontiers"). Converges in O(log d) rounds; works across tile
  boundaries — the 10^12-row scale path.

- ``grid_components_two_level``: the same output from one per-block
  applyInPandas union-find plus a driver-side merge of the border
  cells' roots — no iteration.

Both snap points to cells with floor(x/g) and use 8-neighborhood
adjacency in 2-D (the z-collapsed analog of the reference's
26-neighborhood octree grid).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tiling import cell_x, cell_y, neighbor_cells

PAIR = 1 << 31


def _with_cells(points: DataFrame, grid_size: float) -> DataFrame:
    return points.withColumns(
        {
            "_cx": cell_x(F.col("x"), grid_size),
            "_cy": cell_y(F.col("y"), grid_size),
        }
    ).withColumn("_cell", F.col("_cx") * F.lit(PAIR) + F.col("_cy"))


def grid_components(
    points: DataFrame,
    grid_size: float,
    point_id: str = "page_id",
    max_rounds: int = 50,
    out_col: str = "component",
) -> DataFrame:
    """Append ``component`` = min cell key of the point's component."""
    pts = _with_cells(points, grid_size)
    cells = pts.select("_cx", "_cy", "_cell").distinct().persist()

    # adjacency: occupied cell -> occupied neighbor (incl. self). The
    # neighbor explode is 9 rows/cell; the join back to `cells` keeps
    # only occupied neighbors. Both sides are cell-level (small vs the
    # point table) — this is the graph we iterate on.
    edges = (
        cells.select(
            F.col("_cell").alias("src"),
            F.explode(neighbor_cells(F.col("_cx"), F.col("_cy"))).alias("dst"),
        )
        .join(cells.select(F.col("_cell").alias("dst")), "dst")
        .persist()
    )

    comp = cells.select(F.col("_cell").alias("node"), F.col("_cell").alias("comp"))
    comp = comp.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # min over neighbors' labels (frontier expansion)
        nbr_min = (
            edges.join(comp.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("src", "node")
        )
        stepped = (
            comp.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.col("nbr_comp")).alias("comp"),
            )
        )
        # pointer jumping (path halving): comp := comp[comp]
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("comp"), F.col("comp").alias("comp2")
                ).alias("b"),
                "comp",
                "left",
            )
            .select("node", F.coalesce("comp2", "comp").alias("comp"))
        )
        jumped = jumped.localCheckpoint(eager=True)  # checkpointed frontier
        changed = (
            jumped.join(comp.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        comp = jumped
        if changed == 0:
            break
    out = pts.join(comp.withColumnRenamed("node", "_cell"), "_cell").withColumnRenamed(
        "comp", out_col
    )
    cells.unpersist()
    edges.unpersist()
    return out.drop("_cell", "_cx", "_cy")


def grid_components_two_level(
    points: DataFrame,
    grid_size: float,
    point_id: str = "page_id",
    out_col: str = "component",
    tile_cells: int = 64,
) -> DataFrame:
    """Two-level CC — the scalable form of ``grid_components`` with the
    SAME output (component = min cell key of the global component):

    1. partition occupied cells into (tile_cells × tile_cells) blocks;
    2. per-block union-find via one ``applyInPandas`` pass (parallel,
       no iteration — block cell counts are bounded);
    3. cross-block edges exist only between BORDER cells; the
       local-root merge graph is tiny (O(perimeter)), so it resolves
       with a driver-side union-find and broadcasts back.

    At 10^12 rows step 3's root graph stays small because components
    rarely span many blocks (reference CC is per-50m-tile anyway); a
    deeper hierarchy would repeat step 2 on the root graph if needed.
    """
    pts = _with_cells(points, grid_size)
    tc = int(tile_cells)
    # ONE exchange: group point-level cell keys straight by block with
    # collect_set — the partial (map-side) set union dedups before the
    # shuffle, so the wire carries distinct cells exactly like the old
    # distinct() pass, without the second exchange the (cx,cy)→(bx,by)
    # regroup used to cost (guide §2.4). Block cell counts are bounded
    # (≤ tc², 4096 at the default), so the per-block set is small.
    blocked = pts.select(
        F.floor(F.col("_cx") / F.lit(tc)).cast("long").alias("_bx"),
        F.floor(F.col("_cy") / F.lit(tc)).cast("long").alias("_by"),
        "_cell",
    ).groupBy("_bx", "_by").agg(F.collect_set("_cell").alias("_cells"))

    roots_schema = "cell long, root long, bx long, by long, border boolean"

    def local_cc(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = [int(c) for c in pdf["_cells"].iloc[0]]
        parent = {k: k for k in cells}

        def find(a: int) -> int:
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        occupied = set(parent)
        for k in cells:
            cx, cy = k // PAIR, k % PAIR
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx) * PAIR + (cy + dy)
                    if nb in occupied:
                        ra, rb = find(k), find(nb)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        bx, by = int(pdf["_bx"].iloc[0]), int(pdf["_by"].iloc[0])
        rows = []
        for k in cells:
            cx, cy = k // PAIR, k % PAIR
            on_border = (
                cx % tc in (0, tc - 1) or cy % tc in (0, tc - 1)
            )
            rows.append((k, find(k), bx, by, bool(on_border)))
        return pd.DataFrame(rows, columns=["cell", "root", "bx", "by", "border"])

    # grouped-map over the pre-aggregated one-row-per-block frame: the
    # agg output is already hash-clustered by (_bx,_by), so the
    # grouped-map adds NO exchange. localCheckpoint keeps the
    # cell-level roots (domain-sized: one row per occupied cell, the
    # same class as the PageRank frontiers) for BOTH the border-merge
    # collect below and the final attach join — previously the
    # transient persist was dropped before execution and the whole
    # block pass recomputed in the output job.
    local = blocked.groupBy("_bx", "_by").applyInPandas(
        local_cc, schema=roots_schema
    ).localCheckpoint(eager=True)

    # cross-block merge edges: border cell ↔ neighboring border cell in
    # a DIFFERENT block → (root_a, root_b)
    border = local.filter(F.col("border")).select(
        "cell", "root", "bx", "by",
        # floor-division decode (PAIR is a power of two so the double
        # quotient is exact): (cell / PAIR).cast('long') truncates toward
        # zero and mis-decodes negative cx, pairing wrong with pmod.
        F.floor(F.col("cell") / F.lit(PAIR)).cast("long").alias("cx"),
        F.pmod(F.col("cell"), F.lit(PAIR)).alias("cy"),
    )
    a = border.select(
        F.col("root").alias("root_a"),
        F.explode(neighbor_cells(F.col("cx"), F.col("cy"))).alias("cell"),
        F.col("bx").alias("bx_a"), F.col("by").alias("by_a"),
    )
    b = border.select("cell", F.col("root").alias("root_b"), "bx", "by")
    merge_edges = (
        a.join(b, "cell")
        .filter((F.col("bx_a") != F.col("bx")) | (F.col("by_a") != F.col("by")))
        .select("root_a", "root_b")
        .distinct()
        .collect()
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in merge_edges:
        ra, rb = find(r["root_a"]), find(r["root_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    mapping = [(k, find(k)) for k in list(parent)]
    spark = points.sparkSession
    if mapping:
        map_df = spark.createDataFrame(mapping, ["root", "_groot"])
        resolved = local.join(F.broadcast(map_df), "root", "left").select(
            "cell", F.coalesce("_groot", "root").alias(out_col)
        )
    else:
        resolved = local.select("cell", F.col("root").alias(out_col))
    out = pts.join(resolved.withColumnRenamed("cell", "_cell"), "_cell")
    return out.drop("_cell", "_cx", "_cy")


def size_filter(
    with_comp: DataFrame,
    min_component_size: int,
    comp_col: str = "component",
) -> DataFrame:
    """Reference label_connected_comp.py:92-97: components smaller than
    min_component_size get id −1 (noise)."""
    sizes = with_comp.groupBy(comp_col).agg(F.count("*").alias("_csize"))
    return (
        with_comp.join(F.broadcast(sizes), comp_col)
        .withColumn(
            comp_col,
            F.when(F.col("_csize") < min_component_size, F.lit(-1)).otherwise(
                F.col(comp_col)
            ),
        )
        .drop("_csize")
    )


def seed_fill(
    with_comp: DataFrame,
    seed_label: int,
    fill_label: int | None = None,
    threshold: float = 0.1,
    comp_col: str = "component",
    label_col: str = "label",
) -> DataFrame:
    """Seed-fraction region fill (reference label_connected_comp.py:
    111-123): if count(label==seed)/count(*) > threshold within a
    component, label the whole component."""
    fill = seed_label if fill_label is None else fill_label
    fractions = with_comp.filter(F.col(comp_col) != -1).groupBy(comp_col).agg(
        (
            F.sum((F.col(label_col) == seed_label).cast("int")) / F.count("*")
        ).alias("_frac")
    )
    grow = fractions.filter(F.col("_frac") > threshold).withColumn(
        "_grow", F.lit(True)
    )
    return (
        with_comp.join(F.broadcast(grow.select(comp_col, "_grow")), comp_col, "left")
        .withColumn(
            label_col,
            F.when(
                F.col("_grow")
                & (F.col(comp_col) != -1)
                & (F.col(label_col) == 0),
                F.lit(fill),
            ).otherwise(F.col(label_col)),
        )
        .drop("_grow")
    )
