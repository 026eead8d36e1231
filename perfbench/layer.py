"""The polygon layer: cold build, publish (tiles + GeoJSONL) and checks.

The layer is the Vienna-shaped element fixture on one block (K=1: four
overlay cells, one wave of the per-cell overlay kernel on four cores).
"""

from __future__ import annotations

import os

import numpy as np

PX = 0.25
OVERLAY_RES = 8
TILE_RES = 10
# Area is quantized to the px² lattice; clipping the projected bbox ring
# onto it moves a few boundary pixels, so the summed area may differ from
# the ring's area by up to 16 pixels (1 m²).
AREA_TOL_M2 = 16 * PX * PX
GAP_TOL_M2 = 0.01  # the reference export's per-cell completeness assert
LAYER_HASH_COLS = ("overlay_cell", "space_category", "access", "area", "geom")


def bbox_ring() -> np.ndarray:
    from osm_public_space_mapper_spark.fixtures.elements import BBOX_4326
    from osm_public_space_mapper_spark.plans.pipeline import projected_bbox_ring

    b = BBOX_4326
    return projected_bbox_ring(b["left"], b["bottom"], b["right"], b["top"])


def overlay_config():
    from osm_public_space_mapper_spark.operators.overlay_core import OverlayConfig

    ring = bbox_ring()
    env = (float(ring[:, 0].min()), float(ring[:, 1].min()), float(ring[:, 0].max()), float(ring[:, 1].max()))
    return OverlayConfig(px=PX, margin=64.0, bbox=env, bbox_ring=ring)


def build(spark, element_rows):
    """elements → polygon layer through the engine's one-call pipeline."""
    from osm_public_space_mapper_spark.fixtures.elements import elements_to_spark
    from osm_public_space_mapper_spark.plans.pipeline import run_pipeline

    return run_pipeline(elements_to_spark(spark, element_rows), overlay_config(), OVERLAY_RES)


def build_traced(spark, tracer, element_rows):
    """elements → polygon layer, one span per pipeline stage (the stages of
    `plans.pipeline.run_pipeline`), each output persisted for the next."""
    from osm_public_space_mapper_spark.fixtures.elements import elements_to_spark
    from osm_public_space_mapper_spark.plans import pipeline

    elements = elements_to_spark(spark, element_rows)
    with tracer.span("pipeline.classify_stage") as sp:
        stages = pipeline.classify_stage(elements)
        sp.add("rows_in", len(element_rows))
        for name in sorted(stages):
            sp.add("rows_out", sp.materialize(stages[name])[0])
    with tracer.span("pipeline.build_overlay_records") as sp:
        records = pipeline.build_overlay_records(stages)
        sp.add("records", sp.materialize(records)[0])
    with tracer.span("pipeline.overlay_stage") as sp:
        layer = pipeline.overlay_stage(records, overlay_config(), OVERLAY_RES)
        sp.materialize(layer)
    # the kernel's input rows are the (record, overlay cell) pairs the stage
    # shuffles on the cell key
    sp.add("record_cells", sp.rec["counts"]["shuffle_records"])
    sp.add("cells", layer.select("overlay_cell").distinct().count())
    return layer


def publish(spark, tracer, layer, out_dir: str):
    """layer → tile masks + GeoJSONL export.  Returns the tile masks."""
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.operators import tiling
    from osm_public_space_mapper_spark.sources import geojson

    with tracer.span("tiling.rasterize_tiles") as sp:
        tiles = tiling.rasterize_tiles(layer, tile_res=TILE_RES, px=PX)
        sp.materialize(tiles)
    sp.add("mask_bytes", tiles.agg(F.sum(F.length("mask"))).collect()[0][0])
    with tracer.span("geojson.write_geojsonl") as sp:
        geojson.write_geojsonl(layer, out_dir)
        sp.add("bytes_written", dir_bytes(out_dir))
    return tiles


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def count_lines(out_dir: str) -> int:
    """Lines in a Spark text output directory's part files."""
    n = 0
    for name in os.listdir(out_dir):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as fh:
                n += sum(1 for _ in fh)
    return n


def layer_hash(layer) -> tuple[int, int]:
    from perfbench.tracing import digest

    return digest(layer, LAYER_HASH_COLS)


def check_layer(layer) -> list[str]:
    """Full-coverage invariant of the reference's export: the layer tiles
    the projected bbox exactly (summed area = ring area on the lattice) and
    every cell window closes (|completeness_gap| < 0.01 m²)."""
    from pyspark.sql import functions as F

    row = layer.agg(
        F.sum("area").alias("area"),
        F.max(F.abs("completeness_gap")).alias("gap"),
        F.min("area").alias("min_area"),
        F.count(F.when(F.col("space_category").isNull() | F.col("access").isNull(), 1)).alias("nulls"),
    ).collect()[0]
    ring = bbox_ring()
    x, y = ring[:, 0], ring[:, 1]
    ring_area = 0.5 * abs(float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)))
    errors = []
    if abs(row["area"] - ring_area) > AREA_TOL_M2:
        errors.append(f"layer area {row['area']:.4f} m² != bbox area {ring_area:.4f} m²")
    if row["gap"] >= GAP_TOL_M2:
        errors.append(f"completeness_gap {row['gap']} m² >= {GAP_TOL_M2}")
    if row["min_area"] <= 0 or row["nulls"]:
        errors.append(f"empty or unclassified polygons (min area {row['min_area']}, nulls {row['nulls']})")
    return errors
