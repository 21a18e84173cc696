"""Z-order clustered storage layout (the Iceberg sort-order / Delta
OPTIMIZE ZORDER shape for a 100 TB spatial table).

The engine's cell ids ARE Morton (Z-order) codes over web-mercator space
(kernels/cells.py), so spatial clustering is just: range-repartition on the
cell id, sort within partitions, write.  Every output file then carries a
tight, near-disjoint cell range; cell-keyed scans (the candidates stage of
every spatial join) prune whole files from parquet min/max statistics, and
neighboring geometries land in neighboring row groups (locality for the
broadcast-join probe side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells_fn import st_cell_of_point
from ..functions.geo import st_centroid

__all__ = ["cluster_by_cell", "cluster_docs_by_cell"]


def cluster_by_cell(
    df: DataFrame,
    geom_col: str = "geom",
    res: int = 12,
    partitions: int | None = None,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Return `df` with a level-`res` Morton `cell_col` (centroid cell),
    range-partitioned and sorted on it — write the result to get a
    Z-order clustered table:

        cat.write("geoms", cluster_by_cell(geoms))

    Range partitioning gives files DISJOINT cell ranges (up to sampled
    boundary keys); the in-partition sort tightens row-group min/max so a
    `WHERE cell_id BETWEEN a AND b` scan (or a cell equi-join probe over
    a pruned id set) skips non-overlapping files entirely."""
    c = st_centroid(F.col(geom_col))
    with_cell = df.withColumn(
        cell_col,
        st_cell_of_point(
            F.element_at(c["x"], 1), F.element_at(c["y"], 1), res
        ),
    )
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        with_cell.repartitionByRange(n, F.col(cell_col))
        .sortWithinPartitions(cell_col)
    )


def cluster_docs_by_cell(
    docs: DataFrame,
    res: int = 12,
    partitions: int | None = None,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Z-order clustering for the DOCUMENTS table (round-4: the headline
    bench path writes through this): the doc's geometry span classifies
    through the same pure-Catalyst JSON bbox extractor the flagship uses
    (flagship.with_geojson_bbox — zero Python workers), the bbox center's
    level-`res` Morton cell becomes `cell_col`, and rows range-partition +
    sort on it.  Written via TableCatalog.write(stats_cols=[cell_col]),
    every data file carries a near-disjoint cell range in the manifest, so
    cell-range probes (and the candidates stage of any cell-keyed join)
    skip whole files (TableCatalog.scan)."""
    from ..flagship import with_geojson_bbox

    # try_element_at: docs without a geometry span cluster on a null cell
    # (range partitioner groups them into the first partition)
    gj = F.try_element_at(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("geometry")),
        F.lit(1),
    )["text"]
    t = with_geojson_bbox(docs.withColumn("__gj", gj))
    cx = (F.col("__bminx") + F.col("__bmaxx")) / F.lit(2.0)
    cy = (F.col("__bminy") + F.col("__bmaxy")) / F.lit(2.0)
    t = t.withColumn(cell_col, st_cell_of_point(cx, cy, res)).drop(
        "__gj", "__gt", "__fast",
        "__bminx", "__bminy", "__bmaxx", "__bmaxy", "__bpt")
    n = partitions or docs.sparkSession.sparkContext.defaultParallelism
    return (
        t.repartitionByRange(n, F.col(cell_col))
        .sortWithinPartitions(cell_col)
    )
