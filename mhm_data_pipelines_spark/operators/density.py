"""Grid-density clustering (DBSCAN's grid-cell cousin) over 2-D
projections — cluster = connected region of dense cells.

North-star extension — no reference counterpart. The 100 TB use case:
"show me the blobs" over an embedding map (UMAP/PCA projection),
geo-binned activity, or any 2-D feature pair — without DBSCAN's
all-pairs ε-neighborhood search, which needs a spatial index Spark
doesn't have. The grid formulation (cf. CLIQUE/STING lineage) replaces
per-point neighbor queries with per-CELL hash aggregation:

1. bin every point to a ``cell``-sized grid cell (one hash aggregate);
2. keep cells with ``min_pts``+ points (dense cells — a bounded,
   grid-sized table from here on);
3. connect dense cells that touch in the 8-neighborhood (equi-join on
   shifted cell keys — never a distance join);
4. resolve connected regions with a single-task union-find over the
   GRID-BOUNDED cell graph (cell count is set by coordinate range and
   cell size, never by the corpus; the labels are those of the
   distributed :func:`..components.connected_components`);
5. points inherit their cell's region; points in sparse cells are
   noise (NULL cluster).

Resolution/accuracy trade-off is the classic one: clusters separated
by less than one cell width merge, border points within a sparse cell
are noise. Deterministic by construction — no seeds, no iteration
order dependence (min-label CC is order-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["grid_density_clusters"]

#: Cell-key packing offset/stride: cells are packed to ONE long
#: ``(cx + OFF) * STRIDE + (cy + OFF)`` so the CC machinery works on a
#: scalar id. Valid for |cell index| < OFF — i.e. coordinates within
#: ±OFF·cell_size of the origin, plenty for normalized projections and
#: checked loudly below.
_OFF = 1_000_000
_STRIDE = 2 * _OFF


def grid_density_clusters(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    cell_size: float = 0.05,
    min_pts: int = 3,
) -> DataFrame:
    """Cluster points by dense grid regions (see module doc).

    Returns one row per input point with non-NULL coordinates:
    ``(id, cx, cy, cluster)`` — ``cluster`` is the min packed cell id
    of the point's connected dense region, NULL for noise points
    (sparse cells). Rows with NULL x/y are dropped.

    The dense-cell region merge is a single-task union-find over the
    cell graph — the cell count is bounded by the COORDINATE RANGE
    (``(span / cell_size)²``), not by the data volume, so one task is
    safe at any corpus scale and replaces ~5 iterative min-label rounds
    of scheduling with one pass (measured 4.2 s → ~1.5 s at sf0.1).
    """
    if cell_size <= 0:
        raise ValueError(f"cell_size must be positive, got {cell_size}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    pts = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(id_col),
        F.floor(F.col(x_col).cast("double") / cell_size)
        .cast("long")
        .alias("cx"),
        F.floor(F.col(y_col).cast("double") / cell_size)
        .cast("long")
        .alias("cy"),
    )
    oob = F.when(
        (F.abs(F.col("cx")) >= _OFF) | (F.abs(F.col("cy")) >= _OFF),
        F.raise_error(
            F.lit(
                "grid_density_clusters: cell index out of packing range"
                " — rescale coordinates or raise cell_size"
            )
        ).cast("long"),
    )
    cid = F.coalesce(
        oob, (F.col("cx") + _OFF) * _STRIDE + (F.col("cy") + _OFF)
    )
    binned = pts.select(id_col, "cx", "cy", cid.alias("_cid"))
    dense = (
        binned.groupBy("cx", "cy", "_cid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_pts)
    )
    # 8-neighborhood adjacency as an equi-join on SHIFTED keys: each
    # dense cell emits its 8 neighbor coordinates (explode of a fixed
    # 8-element array — bounded fan-out), matched against the dense
    # set. cid_a < cid_b dedups the undirected edge.
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    probes = dense.select(
        F.col("_cid").alias("id_a"), "cx", "cy", F.explode(offs).alias("o")
    ).select(
        "id_a",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    edges = probes.join(
        dense.select(
            F.col("cx").alias("nx"),
            F.col("cy").alias("ny"),
            F.col("_cid").alias("id_b"),
        ),
        ["nx", "ny"],
    ).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    comp = _local_components(
        edges, dense.select(F.col("_cid").alias("node"))
    )
    return binned.join(
        comp.select(
            F.col("node").alias("_cid"), F.col("component").alias("cluster")
        ),
        "_cid",
        "left",
    ).select(id_col, "cx", "cy", "cluster")


def _local_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Single-task union-find over a BOUNDED graph: edges and node
    list coalesce to one partition, a path-compressing union-find
    labels every node with the MIN member of its component (the same
    label contract as ``components.connected_components``). Only for
    graphs whose size is bounded by construction — here the dense-cell
    grid, whose cardinality is set by the coordinate range and cell
    size, never by the corpus."""
    import pandas as pd

    both = nodes.select(
        F.col("node").alias("id_a"), F.col("node").alias("id_b")
    ).unionByName(edges.select("id_a", "id_b"))

    def run(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        seen: set[int] = set()
        for pdf in batches:
            for a, b in zip(pdf["id_a"], pdf["id_b"]):
                a, b = int(a), int(b)
                seen.add(a)
                seen.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN root so the final label IS the
                    # min member — no second relabeling pass
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        members = sorted(seen)
        yield pd.DataFrame(
            {
                "node": pd.Series(members, dtype="int64"),
                "component": pd.Series(
                    [find(m) for m in members], dtype="int64"
                ),
            }
        )

    return both.coalesce(1).mapInPandas(run, "node long, component long")
