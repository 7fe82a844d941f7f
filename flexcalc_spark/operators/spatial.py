"""Geospatial radius join: grid-cell blocking + exact haversine verify.

The spatial workload class (stores-near-customers, sensor-near-asset)
at scale is always the same construction every spatial engine uses
underneath: bucket points into lat/lon grid cells (the geohash /
S2-cell idea), generate candidates by joining a point's cell against
the query set's 3x3 NEIGHBOR cells — an exact equi join with
guaranteed recall for any radius under one cell size — and verify the
real great-circle distance only per candidate. No cross product ever
exists, and the cell id doubles as the at-rest clustering key (the
q_zorder_layout story in two dimensions).

Coordinates are derived deterministically from entity keys (md5-fold
uniforms over a 1-degree city box, ~111 km square) so the oracle
rebuilds identical points; the haversine runs on engine-identical
doubles and the FINAL distance is floor-quantized to integer
millimeters before the radius compare, so a last-ulp trig difference
cannot flip membership (the ln/exp grid discipline applied to trig).

Reference cite (mount empty, SURVEY §0): public flexcalc has no
spatial surface; the construction is standard geohash-blocked spatial
join with haversine verification.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.registry import register
from flexcalc_spark.tables import table

CELL_DEG = 0.01          # ~1.11 km cells
RADIUS_MM = 2_000_000    # 2 km in millimeters
EARTH_R_M = 6_371_000.0

# md5-fold uniform in [0, 1) — the engine-portable hash established by
# q_sample_weighted / q_feature_hash
_FOLD = (
    "({agg}(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 9), "
    "k -> CAST(strpos('0123456789abcdef', substr(md5('{salt}' || "
    "CAST({key} AS VARCHAR)), k, 1)) - 1 AS BIGINT))), "
    "(acc, x) -> acc * 16 + x) / 4294967296.0)"
)


def _coord_sql(key: str, salt: str) -> str:
    return _FOLD.format(agg="list_reduce", salt=salt, key=key)


def _coord_spark(key: str, salt: str) -> str:
    return (
        "(aggregate(sequence(1, 8), CAST(0 AS BIGINT), (acc, k) -> "
        f"acc * 16 + CAST(instr('0123456789abcdef', substring(md5(CAST("
        f"'{salt}' || CAST({key} AS STRING) AS BINARY)), k, 1)) - 1 "
        "AS BIGINT)) / 4294967296.0)"
    )


_HAV = (
    "CAST(floor(2.0 * {R} * asin(sqrt("
    "pow(sin(radians(({lat2}) - ({lat1})) / 2.0), 2.0) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin(radians(({lon2}) - ({lon1})) / 2.0), 2.0)"
    ")) * 1000.0) AS BIGINT)"
)


def _hav(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return _HAV.format(
        R=EARTH_R_M, lat1=lat1, lon1=lon1, lat2=lat2, lon2=lon2
    )


@register(
    "q_join_spatial",
    oracle=f"""
        WITH cust AS (
            SELECT c_custkey,
                   {_coord_sql('c_custkey', 'lat:')} AS lat,
                   {_coord_sql('c_custkey', 'lon:')} AS lon
            FROM customer
        ),
        store AS (
            SELECT s_suppkey,
                   {_coord_sql('s_suppkey', 'slat:')} AS lat,
                   {_coord_sql('s_suppkey', 'slon:')} AS lon
            FROM supplier
        ),
        ccell AS (
            SELECT *, CAST(floor(lat / {CELL_DEG}) AS BIGINT) * 1000
                      + CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cell
            FROM cust
        ),
        sneigh AS (
            SELECT s_suppkey, lat, lon,
                   (CAST(floor(lat / {CELL_DEG}) AS BIGINT) + d.dx) * 1000
                   + CAST(floor(lon / {CELL_DEG}) AS BIGINT) + d.dy AS cell
            FROM store, (SELECT a.a AS dx, b.b AS dy
                         FROM (SELECT unnest([-1, 0, 1]) AS a) a,
                              (SELECT unnest([-1, 0, 1]) AS b) b) d
        ),
        cand AS (
            SELECT s.s_suppkey, c.c_custkey,
                   {_hav('s.lat', 's.lon', 'c.lat', 'c.lon')} AS dist_mm
            FROM sneigh s JOIN ccell c USING (cell)
        )
        SELECT s_suppkey, c_custkey, dist_mm
        FROM cand WHERE dist_mm <= {RADIUS_MM}
    """,
    family="spatial",
    scale_notes=(
        "geohash-style spatial radius join: points bucket into "
        "1.11-km lat/lon cells scan-side, the query set explodes into "
        "its 3x3 neighbor cells (9 rows per store — guaranteed recall "
        "for any radius under one cell), candidates are an exact equi "
        "join on the cell id, and the great-circle verify runs per "
        "CANDIDATE with the distance floor-quantized to integer mm "
        "before the compare (trig ulp cannot flip membership). The "
        "cell id is also the at-rest clustering key — the 2-D "
        "q_zorder_layout. At 100 TB density skew (cities) is the "
        "hazard: split hot cells one level finer, exactly like "
        "salting a hot join key"
    ),
)
def q_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within 2 km of each store (derived city-box coords):
    cell-blocked candidates + quantized-haversine verify."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cust = c.selectExpr(
        "c_custkey",
        f"{_coord_spark('c_custkey', 'lat:')} AS lat",
        f"{_coord_spark('c_custkey', 'lon:')} AS lon",
    )
    store = s.selectExpr(
        "s_suppkey",
        f"{_coord_spark('s_suppkey', 'slat:')} AS lat",
        f"{_coord_spark('s_suppkey', 'slon:')} AS lon",
    )
    ccell = cust.withColumn(
        "cell",
        F.expr(
            f"CAST(floor(lat / {CELL_DEG}) AS BIGINT) * 1000"
            f" + CAST(floor(lon / {CELL_DEG}) AS BIGINT)"
        ),
    )
    # the 9 (dx, dy) cell offsets as an Arrow table: a LocalTableScan,
    # not a pickled-row RDD that runs Python-worker tasks per execution
    offsets = pa.table({"dx": [-1] * 3 + [0] * 3 + [1] * 3, "dy": [-1, 0, 1] * 3})
    sneigh = store.crossJoin(
        F.broadcast(spark.createDataFrame(offsets, "dx long, dy long"))
    ).select(
        "s_suppkey",
        "lat",
        "lon",
        F.expr(
            f"(CAST(floor(lat / {CELL_DEG}) AS BIGINT) + dx) * 1000"
            f" + CAST(floor(lon / {CELL_DEG}) AS BIGINT) + dy"
        ).alias("cell"),
    )
    sa = sneigh.alias("s")
    ca = ccell.alias("c")
    cand = sa.join(ca, "cell").select(
        F.col("s.s_suppkey").alias("s_suppkey"),
        F.col("c.c_custkey").alias("c_custkey"),
        F.expr(
            _hav("s.lat", "s.lon", "c.lat", "c.lon")
        ).alias("dist_mm"),
    )
    return cand.filter(F.col("dist_mm") <= RADIUS_MM)
