"""Bucketed co-located PIP join: both sides stored bucketBy(tile_cell) →
the raster PIP join's physical plan has NO Exchange, and its output
equals the shuffle path exactly."""

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326, elements_to_spark
from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
from osm_public_space_mapper_spark.functions.geometry import cell_expr
from osm_public_space_mapper_spark.operators import joins, tiling
from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig
from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring, run_pipeline
from osm_public_space_mapper_spark.tables.bucketed import save_bucketed


@pytest.fixture(scope="module")
def tiles_df(fixture_layer):
    return tiling.rasterize_tiles(fixture_layer, tile_res=10, px=0.25)


def test_bucketed_pip_join_no_exchange(spark, tiles_df):
    """Unsalted co-located case: both sides bucketed by tile_cell → the
    join consumes the stored partitioning, plan has ZERO Exchange.
    (Salting widens the join key to (tile_cell, _salt), which the stored
    mask side can't pre-satisfy — skewed runs keep the small mask side's
    shuffle and still never shuffle wider than the salt fan-out.)"""
    images = joins.with_cells(joins.project_points(joins.with_geotag(synth_images_spark(spark, 20000))))
    images = images.withColumn("tile_cell", cell_expr(13)(F.col("x"), F.col("y")))

    save_bucketed(images, "bk_images", "tile_cell", n_buckets=16)
    # store the mask side pre-subdivided at the join granularity so its
    # bucket layout matches the join key
    save_bucketed(joins.subdivide_tiles(tiles_df, 13), "bk_tiles", "tile_cell", n_buckets=16)

    bi, bt = spark.table("bk_images"), spark.table("bk_tiles")
    assigned = joins.pip_join_raster(bi, bt, salt=0)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]

    # identical output vs the shuffle path (salted AND unsalted) on the
    # same inputs
    got = {(r.image_id, r.space_category, r.access) for r in assigned.collect()}
    for salt in (0, 8):
        expected = {
            (r.image_id, r.space_category, r.access)
            for r in joins.pip_join_raster(images, tiles_df, salt=salt).collect()
        }
        assert got == expected, f"salt={salt}"
    assert len(got) == 20000
