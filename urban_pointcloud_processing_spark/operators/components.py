"""Connected components: the package's one union-find and the two-level
Spark scheme every spatial CC runs on.

Reference: LabelConnectedComp (src/upcp/region_growing/
label_connected_comp.py:18-135) — CloudCompare octree CC at a grid
size, then a size filter (:92-97), then a seed-fraction region fill
(:111-123). Component ids are canonicalized to the MIN node of the
component (SURVEY.md §7.3 item 2 — reference ids are octree-order-
dependent, so tests compare partitions, not raw ids).

- ``min_root_components``: pure-Python union-find with min-node roots.
  Every in-memory CC of the package runs on it: the per-block passes
  below, DBSCAN cores, morphology regions and alpha-shape fans.
- ``grid_components``: CC over occupied grid cells, 8-neighborhood in
  2-D (the z-collapsed analog of the reference's 26-neighborhood octree
  grid); component = min ``tiling.cell_id`` key.
- ``edge_components``: the same scheme over an explicit edge list with
  caller-defined blocks (region growing's gated voxel graph).
- ``pair_components``: ``edge_components`` over an undirected pair list
  with hash blocks — the graphs with no spatial key: the near-dup pair
  graph of ``dedup.dedup_clusters`` (and so ``corpus_clean``) and the
  mergeable-pair graph of ``cable_merge.merge_cables_cc``.

Every Spark kernel is two-level and runs in one pass, no iteration:
nodes fall into blocks, one ``applyInPandas`` union-find per block
resolves the intra-block edges, and the inter-block ROOT graph resolves
on the driver and broadcasts back (``_two_level``). With spatial blocks
that root graph is bounded by block surface area. Pair-graph ids carry
no locality, so almost every pair crosses blocks: the root graph is
then bounded only by the pairs themselves: one row for each pair whose
ends lie in different blocks.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tiling import CELL_SPAN, cell_id, cell_key, cell_x, cell_y

BLOCK_CELLS = 64   # grid-CC block side, in cells (≤ 4096 cells a block)
PAIR_BLOCKS = 64   # pair-graph blocks: a fixed hash of the node id
# half of the 8-neighborhood as cell-key offsets (cell_key is linear in
# cx and cy): every undirected adjacency is (k, k + off) exactly once
_FORWARD = [dx * CELL_SPAN + dy for dx, dy in ((0, 1), (1, -1), (1, 0), (1, 1))]


def min_root_components(
    pairs: Iterable[tuple[Hashable, Hashable]], nodes: Iterable[Hashable] = ()
) -> dict:
    """Union-find over the undirected ``pairs``: maps every node named in
    ``pairs`` or ``nodes`` to the MIN node of its component, so the ids
    are canonical whatever the pair order. Nodes must be mutually
    comparable."""
    parent = {n: n for n in nodes}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _block_frame(roots: dict, outward: list[tuple[int, int]]) -> pd.DataFrame:
    """A block pass's output: one ``own`` row (node, local root) per node
    of the block, and one outward row (node of ANOTHER block, local root
    of its neighbour here) per edge that leaves the block."""
    return pd.DataFrame({
        "node": [*roots, *(n for n, _ in outward)],
        "root": [*roots.values(), *(r for _, r in outward)],
        "own": [True] * len(roots) + [False] * len(outward),
    })


def _two_level(blocked: DataFrame, block_cc) -> DataFrame:
    """(node, component): ``block_cc`` runs once per ``_block`` group and
    returns a ``_block_frame``. The block roots are read twice, so they
    are local-checkpointed: no CacheManager entry, released with the
    plan. The outward rows, joined to the own rows of their node, link
    the local roots of adjacent blocks. Like the root graph they yield,
    they are O(block surface): they broadcast into that join, and the
    root graph resolves on the driver and broadcasts back. A symmetric
    edge list gives a cross-block edge an outward row in each of its
    blocks, so each link is put in (min, max) order before the
    ``distinct`` and collects once."""
    local = blocked.groupBy("_block").applyInPandas(
        block_cc, "node long, root long, own boolean"
    ).localCheckpoint(eager=True)
    own = local.filter(F.col("own"))
    root_edges = (
        own.select("node", F.col("root").alias("_root_b"))
        .join(F.broadcast(local.filter(~F.col("own"))), "node")
        .select(
            F.least("root", "_root_b").alias("a"),
            F.greatest("root", "_root_b").alias("b"),
        )
    )
    mapping = min_root_components(root_edges.distinct().collect())
    if not mapping:
        return own.select("node", F.col("root").alias("component"))
    map_df = local.sparkSession.createDataFrame(
        list(mapping.items()), "root long, _groot long"
    )
    return own.join(F.broadcast(map_df), "root", "left").select(
        "node", F.coalesce("_groot", "root").alias("component")
    )


def _grid_block_cc(pdf: pd.DataFrame) -> pd.DataFrame:
    cells = [int(k) for k in pdf["_cells"].iloc[0]]
    occupied = set(cells)
    roots = min_root_components(
        ((k, k + off) for k in cells for off in _FORWARD if k + off in occupied),
        cells,
    )
    # a cross-block adjacency joins two border cells, and one of them
    # reaches the other by a forward offset
    outward = [
        (k + off, roots[k])
        for k in map(int, pdf["_border"].iloc[0])
        for off in _FORWARD
        if k + off not in occupied
    ]
    return _block_frame(roots, outward)


def grid_components(points: DataFrame, grid_size: float) -> DataFrame:
    """Append ``component`` = min cell key of the point's component.

    Cells are ``tiling.cell_id`` keys; a row with no cell (NULL, NaN,
    ±Inf or out-of-range coordinates) is left out of the output. Blocks
    are ``BLOCK_CELLS`` × ``BLOCK_CELLS`` cells. ONE exchange groups the
    point-level keys by block with ``collect_set`` (the map-side partial
    set union dedups before the shuffle). A cell is on its block's
    border when its cx or cy is the block's first or last; that is
    decided here from the cell columns, and only border cells look for
    neighbours in other blocks.
    """
    pts = points.withColumn("_cell", cell_id(F.col("x"), F.col("y"), grid_size)).filter(
        F.col("_cell").isNotNull()
    )
    cx, cy = cell_x(F.col("x"), grid_size), cell_y(F.col("y"), grid_size)
    edge = (0, BLOCK_CELLS - 1)
    on_border = F.pmod(cx, F.lit(BLOCK_CELLS)).isin(*edge) | F.pmod(
        cy, F.lit(BLOCK_CELLS)
    ).isin(*edge)
    blocked = pts.groupBy(
        cell_key(F.floor(cx / F.lit(BLOCK_CELLS)), F.floor(cy / F.lit(BLOCK_CELLS))).alias("_block")
    ).agg(
        F.collect_set("_cell").alias("_cells"),
        F.collect_set(F.when(on_border, F.col("_cell"))).alias("_border"),
    )
    comp = _two_level(blocked, _grid_block_cc).withColumnRenamed("node", "_cell")
    return pts.join(comp, "_cell").drop("_cell")


def _edge_block_cc(pdf: pd.DataFrame) -> pd.DataFrame:
    src, dst = pdf["src"].tolist(), pdf["dst"].tolist()
    inside = (pdf["_src_block"] == pdf["_block"]).tolist()
    roots = min_root_components(
        ((s, d) for s, d, i in zip(src, dst, inside) if i), dst
    )
    outward = [(s, roots[d]) for s, d, i in zip(src, dst, inside) if not i]
    return _block_frame(roots, outward)


def edge_components(
    nodes: DataFrame, edges: DataFrame, block: Callable[[Column], Column]
) -> DataFrame:
    """(node, component) — min-node components of ``nodes`` (node) over
    the symmetric edge list ``edges`` (src, dst). ``block`` maps a node
    key Column to its block id. Any function of the key gives the same
    components; a spatial one keeps the edges across blocks few, and
    computing it from the key spares a join back to the node table.
    Edges group by their dst block (symmetric edges, so each block sees
    every edge touching it), each node as a self edge in its own block.
    """
    rows = edges.select("src", "dst").unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    blocked = rows.select(
        "src", "dst",
        block(F.col("src")).alias("_src_block"),
        block(F.col("dst")).alias("_block"),
    )
    return _two_level(blocked, _edge_block_cc)


def pair_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node, component) — ``edge_components`` of ``nodes`` (node) over
    the undirected ``pairs`` (src, dst), each pair given in either
    direction or both. Node ids carry no locality (an id range can put
    every node in one block, or one node in each), so a node's block is
    a fixed hash of its id into ``PAIR_BLOCKS`` blocks."""
    edges = pairs.select("src", "dst").unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return edge_components(
        nodes, edges, lambda key: F.pmod(F.xxhash64(key), F.lit(PAIR_BLOCKS))
    )


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
