"""Planar spatial joins via grid-cell blocking.

No reference counterpart (north-star extension): proximity joins —
"which candidate points lie within r of each query point" — appear the
moment any table carries coordinates (site locations, sensor
positions, embedding-plane projections). The naive formulation is a
cross join with a distance predicate; Spark plans that as a
BroadcastNestedLoopJoin/cartesian, which is exactly the shape this
engine bans at scale.

The standard fix (same family as the LSH bucket joins in ``dedup`` and
the value-bucketed ``temporal.range_join``): snap points to a square
grid with cell size = the search radius. Any pair within ``r`` is then
guaranteed to sit in the SAME or an ADJACENT cell, so candidate
generation is an EQUI-join on cell id over the left side exploded to
its 3x3 cell neighborhood (a literal 9-element array — constant
fan-out, no data-dependent blow-up), followed by the exact distance
filter. Shuffle is by cell id; skew follows point density, and a
``cell_cap`` drops pathological cells loudly (the hot-bucket
discipline used across this package — documented recall trade).

Euclidean on a plane: callers with lon/lat project first (note in the
registry query); great-circle correctness at the poles is out of
scope for the blocking pattern being certified here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = [
    "grid_radius_join",
    "radius_neighbor_counts",
    "mobility_features",
    "stay_points",
    "geo_radius_join",
]


def grid_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "id",
    right_id: str = "id",
    x: str = "x",
    y: str = "y",
    cell_cap: int | None = None,
) -> DataFrame:
    """All pairs (left, right) within euclidean ``radius``:
    ``(left_id, right_id, dist)``.

    Left points explode to their 3x3 grid neighborhood (9 literal
    offsets); right points hash to their own cell only — one
    equi-join on cell id, then the exact ``dist <= radius`` filter.
    Candidate cost is bounded by 9·|left| + per-cell density; with
    ``cell_cap`` set, right-side cells holding more than ``cell_cap``
    points are dropped (count-based prune BEFORE the join — same
    loud-cap semantics as dedup's LSH buckets; results then
    under-report around degenerate density spikes, documented here).

    Self-join note: pass the same frame twice and filter
    ``left_id < right_id`` on the result for unordered pairs.

    At 100 TB: emitting all pairs is output-bound by nature — compose
    :func:`radius_neighbor_counts` (or aggregate downstream) when the
    decision only needs per-point neighborhood summaries.
    """
    if radius <= 0:
        raise ValueError(f"radius must be > 0, got {radius}")
    r = float(radius)
    lcx = F.floor(F.col(x) / r).cast("long")
    lcy = F.floor(F.col(y) / r).cast("long")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    lhs = (
        left.select(
            F.col(left_id).alias("_lid"),
            F.col(x).cast("double").alias("_lx"),
            F.col(y).cast("double").alias("_ly"),
            lcx.alias("_cx"),
            lcy.alias("_cy"),
        )
        .withColumn("_o", F.explode(offsets))
        .select(
            "_lid",
            "_lx",
            "_ly",
            (F.col("_cx") + F.col("_o.ox")).alias("_cx"),
            (F.col("_cy") + F.col("_o.oy")).alias("_cy"),
        )
    )
    rhs = right.select(
        F.col(right_id).alias("_rid"),
        F.col(x).cast("double").alias("_rx"),
        F.col(y).cast("double").alias("_ry"),
        lcx.alias("_cx"),
        lcy.alias("_cy"),
    )
    if cell_cap is not None:
        ok = (
            rhs.groupBy("_cx", "_cy")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= int(cell_cap))
            .select("_cx", "_cy")
        )
        rhs = rhs.join(ok, ["_cx", "_cy"])
    dist = F.sqrt(
        (F.col("_lx") - F.col("_rx")) * (F.col("_lx") - F.col("_rx"))
        + (F.col("_ly") - F.col("_ry")) * (F.col("_ly") - F.col("_ry"))
    )
    return (
        lhs.join(rhs, ["_cx", "_cy"])
        .select(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= r)
    )


def radius_neighbor_counts(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "id",
    right_id: str = "id",
    x: str = "x",
    y: str = "y",
    cell_cap: int | None = None,
) -> DataFrame:
    """Per-left-point neighborhood summary — the aggregate-not-emit
    production path over :func:`grid_radius_join`: ``(left_id,
    n_neighbors, min_dist)``. Left points with ZERO in-radius
    neighbors are absent (compose a left join against the left table
    for a dense readout)."""
    pairs = grid_radius_join(
        left,
        right,
        radius,
        left_id=left_id,
        right_id=right_id,
        x=x,
        y=y,
        cell_cap=cell_cap,
    )
    return pairs.groupBy("left_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(F.min("dist"), _DIGITS).alias("min_dist"),
    )


def mobility_features(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    x: str = "x",
    y: str = "y",
    cell_size: float = 1.0,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-user mobility summary — the standard digital-phenotyping
    trajectory features (Canzian & Musolesi, UbiComp'15 family) over a
    planar point stream:

    * ``total_distance`` — Σ euclidean steps between time-consecutive
      points (lag window per user),
    * ``radius_of_gyration`` — ``sqrt(Var(x) + Var(y))`` (population),
      RMS dispersion around the user's centroid, computed from moment
      SUMS (exact, no streaming variance op),
    * ``n_cells`` / ``cell_entropy`` — distinct grid cells visited and
      the Shannon entropy (nats) of the cell-visit distribution, via
      the same one-aggregate algebra as ``entropy_l_diversity``
      (``H = ln n − Σ c·ln c / n``).

    Scale shape: one per-user lag window (ordered by ``ts`` then the
    optional ``order_tiebreak``) feeding one hash aggregate, plus a
    (user, cell)→user aggregate pair for the entropy; the two
    per-user frames join AQE-sized. NULL coordinates are dropped.

    Returns one row per user: ``(user, n_points, total_distance,
    radius_of_gyration, n_cells, cell_entropy)``.
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(
        F.col(user).alias("_u"),
        F.col(ts).alias("_ts"),
        *( [F.col(order_tiebreak).alias("_tb")]
           if order_tiebreak else [] ),
        F.col(x).cast("double").alias("_x"),
        F.col(y).cast("double").alias("_y"),
        F.floor(F.col(x) / float(cell_size)).cast("long").alias("_cx"),
        F.floor(F.col(y) / float(cell_size)).cast("long").alias("_cy"),
    )
    order = ["_ts", "_tb"] if order_tiebreak else ["_ts"]
    w = Window.partitionBy("_u").orderBy(*order)
    stepped = base.select(
        "_u",
        "_x",
        "_y",
        (F.col("_x") - F.lag("_x").over(w)).alias("_dx"),
        (F.col("_y") - F.lag("_y").over(w)).alias("_dy"),
    )
    per_user = stepped.groupBy("_u").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(
            F.sum(
                F.sqrt(
                    F.col("_dx") * F.col("_dx")
                    + F.col("_dy") * F.col("_dy")
                )
            ),
            F.lit(0.0),
        ).alias("_dist"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_points").cast("double")
    rog = F.sqrt(
        F.greatest(
            (F.col("_sxx") + F.col("_syy")) / n
            - (F.col("_sx") / n) * (F.col("_sx") / n)
            - (F.col("_sy") / n) * (F.col("_sy") / n),
            F.lit(0.0),  # clamp the negative ulp of a single point
        )
    )
    cells = base.groupBy("_u", "_cx", "_cy").agg(
        F.count(F.lit(1)).alias("_c")
    )
    c_n = F.sum("_c")
    ent = F.log(c_n) - F.sum(F.col("_c") * F.log("_c")) / c_n
    per_cells = cells.groupBy("_u").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(ent, _DIGITS).alias("cell_entropy"),
    )
    return per_user.join(per_cells, "_u").select(
        F.col("_u").alias(user),
        F.col("n_points").cast("long").alias("n_points"),
        F.round("_dist", _DIGITS).alias("total_distance"),
        F.round(rog, _DIGITS).alias("radius_of_gyration"),
        F.col("n_cells").cast("long").alias("n_cells"),
        "cell_entropy",
    )


def stay_points(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    x: str = "x",
    y: str = "y",
    cell_size: float = 1.0,
    min_points: int = 3,
    min_duration_s: float | None = None,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Stay-point detection — maximal runs of time-consecutive points
    inside ONE grid cell (gaps-and-islands per user): where did the
    user dwell, when, and for how long? The grid-snap variant of the
    classic stay-point algorithm (Li et al., ACM GIS'08) chosen
    because it keeps detection a pure window + aggregate pipeline —
    no iterative region growing.

    A run survives if it has ``≥ min_points`` points and (when
    ``min_duration_s`` is set) spans at least that many seconds.

    Scale shape: one lag window per user assigns run boundaries
    (``cell != lag(cell)``), one running-sum window turns them into
    run ids, one hash aggregate summarizes runs — the standard
    sessionization shape, partitioned by user throughout.

    Returns ``(user, cell_x, cell_y, enter_ts, exit_ts, n_points,
    duration_s)`` ordered by user then enter time.
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(
        F.col(user).alias("_u"),
        F.col(ts).alias("_ts"),
        *( [F.col(order_tiebreak).alias("_tb")]
           if order_tiebreak else [] ),
        F.floor(F.col(x) / float(cell_size)).cast("long").alias("_cx"),
        F.floor(F.col(y) / float(cell_size)).cast("long").alias("_cy"),
    )
    order = ["_ts", "_tb"] if order_tiebreak else ["_ts"]
    w = Window.partitionBy("_u").orderBy(*order)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    runs = base.withColumn(
        "_new",
        (
            (F.col("_cx") != F.lag("_cx").over(w))
            | (F.col("_cy") != F.lag("_cy").over(w))
            | F.lag("_cx").over(w).isNull()
        ).cast("long"),
    ).withColumn("_run", F.sum("_new").over(w_run))
    agg = runs.groupBy("_u", "_run").agg(
        F.first("_cx").alias("cell_x"),
        F.first("_cy").alias("cell_y"),
        F.min("_ts").alias("enter_ts"),
        F.max("_ts").alias("exit_ts"),
        F.count(F.lit(1)).alias("n_points"),
    )
    dur = (
        F.unix_timestamp("exit_ts") - F.unix_timestamp("enter_ts")
    ).cast("double")
    out = agg.withColumn("duration_s", dur).filter(
        F.col("n_points") >= int(min_points)
    )
    if min_duration_s is not None:
        out = out.filter(F.col("duration_s") >= float(min_duration_s))
    return out.select(
        F.col("_u").alias(user),
        "cell_x",
        "cell_y",
        "enter_ts",
        "exit_ts",
        F.col("n_points").cast("long").alias("n_points"),
        "duration_s",
    ).orderBy(user, "enter_ts")


#: Mean-earth kilometres per degree of latitude (WGS-84 mean radius
#: 6371.0088 km * pi / 180) — shared verbatim with the SQL oracle.
KM_PER_DEG_LAT = 111.19492664455873
EARTH_RADIUS_KM = 6371.0088


def geo_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    max_abs_lat: float,
    left_id: str = "id",
    right_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
    cell_cap: int | None = None,
) -> DataFrame:
    """Great-circle radius join on lat/lon — the geodesic sibling of
    :func:`grid_radius_join`: all (left, right) pairs within
    ``radius_km`` haversine kilometres, ``(left_id, right_id,
    dist_km)``.

    Blocking: a fixed degree grid with ``dlat = r/KM_PER_DEG_LAT``
    and ``dlon = r/(KM_PER_DEG_LAT·cos(max_abs_lat))`` — the caller
    declares the latitude band the data lives in (``max_abs_lat``,
    degrees, < 89), and the longitude cell is sized for the WORST
    (highest) latitude, so the 3x3 neighborhood provably covers the
    radius everywhere in band. Rows outside the band are dropped
    (loud contract — polar data needs a different blocking, e.g.
    S2/H3 cells). No meridian wrap: points near ±180° longitude
    won't match across the antimeridian (documented limitation of
    flat degree-grid blocking).

    Exactness caveat (unlike the planar join, which is bit-exact):
    haversine evaluates sin/cos, whose last-ulp values may differ
    across engines' libm — a pair landing within ~1e-11 km of the
    radius could flip membership between engines. Measure-zero in
    practice; documented rather than hidden.
    """
    import math

    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    if not 0.0 < max_abs_lat < 89.0:
        raise ValueError(
            f"max_abs_lat must be in (0, 89), got {max_abs_lat}"
        )
    dlat = float(radius_km) / KM_PER_DEG_LAT
    dlon = float(radius_km) / (
        KM_PER_DEG_LAT * math.cos(math.radians(float(max_abs_lat)))
    )

    def prepared(df, idc):
        return df.filter(
            F.col(lat).isNotNull()
            & F.col(lon).isNotNull()
            & (F.abs(F.col(lat)) <= float(max_abs_lat))
        ).select(
            F.col(idc).alias("_id"),
            F.col(lat).cast("double").alias("_lat"),
            F.col(lon).cast("double").alias("_lon"),
            F.floor(F.col(lat) / dlat).cast("long").alias("_cx"),
            F.floor(F.col(lon) / dlon).cast("long").alias("_cy"),
        )

    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    lhs = (
        prepared(left, left_id)
        .withColumnRenamed("_id", "_lid")
        .withColumnRenamed("_lat", "_lat1")
        .withColumnRenamed("_lon", "_lon1")
        .withColumn("_o", F.explode(offsets))
        .select(
            "_lid",
            "_lat1",
            "_lon1",
            (F.col("_cx") + F.col("_o.ox")).alias("_cx"),
            (F.col("_cy") + F.col("_o.oy")).alias("_cy"),
        )
    )
    rhs = (
        prepared(right, right_id)
        .withColumnRenamed("_id", "_rid")
        .withColumnRenamed("_lat", "_lat2")
        .withColumnRenamed("_lon", "_lon2")
    )
    if cell_cap is not None:
        ok = (
            rhs.groupBy("_cx", "_cy")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= int(cell_cap))
            .select("_cx", "_cy")
        )
        rhs = rhs.join(ok, ["_cx", "_cy"])
    rad = math.pi / 180.0
    sdlat = F.sin((F.col("_lat2") - F.col("_lat1")) * rad / 2)
    sdlon = F.sin((F.col("_lon2") - F.col("_lon1")) * rad / 2)
    a = sdlat * sdlat + F.cos(F.col("_lat1") * rad) * F.cos(
        F.col("_lat2") * rad
    ) * sdlon * sdlon
    dist = (
        F.lit(2.0 * EARTH_RADIUS_KM)
        * F.asin(F.least(F.lit(1.0), F.sqrt(a)))
    )
    return (
        lhs.join(rhs, ["_cx", "_cy"])
        .select(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            dist.alias("dist_km"),
        )
        .filter(F.col("dist_km") <= float(radius_km))
    )
