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

Join strategy: broadcast by default. The static mask side is subdivided
to ``group_res`` (a res-13 mask is a few KB) and read from a stored
``subdivide_tiles`` table, so it fits the broadcast, and each micro-batch
is then geofenced map-side without shuffling the stream
(``broadcast_tiles=False`` shuffle-hash joins instead). Unbounded batch
image tables go through ``pip_join_raster``, whose partitioned join keeps
the north rule's broadcast-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pip_join_expr", "geofence_stream"]


def pip_join_expr(
    points: DataFrame,
    tiles_sub: DataFrame,
    group_res: int = 13,
    id_col: str = "image_id",
    passthrough: tuple[str, ...] = (),
    broadcast_tiles: bool = True,
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

    masks = F.broadcast(tiles_sub) if broadcast_tiles else tiles_sub.hint("shuffle_hash")
    return mask_join(points, masks, group_res, [id_col, *passthrough])


def geofence_stream(
    points_stream: DataFrame,
    tiles_sub: DataFrame,
    group_res: int = 13,
    id_col: str = "image_id",
    passthrough: tuple[str, ...] = ("event_time",),
) -> DataFrame:
    """Geofence a point stream against the classified layer.

    ``points_stream``: streaming frame with projected ``x, y`` (+ any
    ``passthrough`` columns, e.g. the event time).  ``tiles_sub``: STATIC
    subdivided mask frame (read from a stored table; see pip_join_expr
    note).  Returns a streaming frame of class assignments — stateless, so
    any output mode works and batch equality is exact (asserted vs
    ``pip_join_raster`` through an availableNow memory sink in
    tests/test_streaming.py).
    """
    return pip_join_expr(
        points_stream,
        tiles_sub,
        group_res=group_res,
        id_col=id_col,
        passthrough=passthrough,
    )
