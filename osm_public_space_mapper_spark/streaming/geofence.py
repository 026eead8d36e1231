"""Streaming geofence: pure-Catalyst point-in-mask class assignment.

The streaming lane of the J12 raster PIP join (reference PIP semantics:
``data_analysis/analyse_traffic_area.py`` point-in-space classification;
see the operators/joins.py header for the J-map). It is a thin wrapper over
``joins.mask_join``, the mask-lookup core the batch lane
``pip_join_raster`` also uses, so both lanes answer from one bit test.
The core is whole-stage-codegen JVM code with no Python in the hot path,
and its plan contains only stateless projections + one stream-static
equi-join, so the SAME operator runs unchanged under Structured Streaming:
a stream of geo-tagged image rows is geofenced against the classified
public-space layer with no state store and no watermark.

Join strategy: broadcast. The static mask side is subdivided to
``group_res`` (a res-13 mask is a few KB) and read from a stored
``subdivide_tiles`` table, so it fits the broadcast, and each micro-batch
is then geofenced map-side without shuffling the stream. Unbounded batch
image tables go through ``pip_join_raster``, whose partitioned join keeps
the north rule's broadcast-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pip_join_expr"]


def pip_join_expr(
    points: DataFrame,
    tiles_sub: DataFrame,
    group_res: int = 13,
    id_col: str = "image_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Expression-only point-in-mask assignment.

    ``points`` needs projected ``x, y`` (``project_points``); ``tile_cell``
    is computed at ``group_res`` if absent.  ``tiles_sub`` must ALREADY be
    ``subdivide_tiles`` output at ``group_res`` (it carries the
    ``mask_words`` the bit test reads) — pass a materialized/stored frame so
    streaming microbatches don't re-run the subdivision kernel per trigger.

    Output: one row per (point, matching class mask): ``id_col,
    space_category, access, tile_cell`` + ``passthrough`` columns — the
    same contract as ``pip_join_raster`` (layer masks are disjoint, so in
    practice exactly one row per covered point).
    """
    from ..operators.joins import mask_join

    return mask_join(points, F.broadcast(tiles_sub), group_res, [id_col, *passthrough])

