"""`assign` workload: image rows → public-space polygons (the north rule).

Inputs: `fixtures.images.synth_images_spark(spark, N_IMAGES, seed)` rows
(two-hotspot skew), materialized raw in setup, and the join side built
from the Vienna fixture (layer, tile masks, subdivided masks, walkable
centroids), loaded from the benchmark's own cache.
Every op starts from the raw rows, so geotag, projection and cell encoding
are inside the measured work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import layer as L

N_IMAGES = 60_000
VECTOR_EVERY = 40  # exact vector PIP runs on ~1/40 of the images (seeded)
SALT = 8
GROUP_RES = 13
KNN = {"k": 3, "res": 9, "ring": 2}
ASSIGN_COLS = ("image_id", "space_category", "access")
KNN_COLS = ("image_id", "rank", "polygon_id")

# op span → (reported metric, unit, input rows attribute or None for seconds)
REPORT = {
    "joins.pip_join_raster": ("pip_images_per_s", "images/s", "n_images"),
    "geofence.pip_join_expr": ("geofence_images_per_s", "images/s", "n_images"),
    "joins.pip_join": ("vector_pip_images_per_s", "images/s", "n_vector"),
    "joins.knn_join": ("knn_images_per_s", "images/s", "n_images"),
    "icelite.commit_resumable": ("assign_commit_s", "s", None),
}


def prep(images):
    """raw image rows → geotag → LAEA projection → join cells."""
    from osm_public_space_mapper_spark.operators import joins

    return joins.with_cells(joins.project_points(joins.with_geotag(images)))


def in_sample(seed: int):
    """Seeded ~1/VECTOR_EVERY sample of image_ids, stable across
    partitionings; selects the same images from any table keyed by them."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("image_id", F.lit(seed)), F.lit(VECTOR_EVERY)) == 0


def layer_cache_dir(ctx) -> str:
    return os.path.join(ctx.cache, f"layer-{ctx.source_key}")


def cache_ready(ctx) -> bool:
    return os.path.exists(os.path.join(layer_cache_dir(ctx), "layer.json"))


def prepare_cache(spark, ctx) -> None:
    """Build the join side once per source tree and store it as parquet:
    the fixture layer, its tile masks, the masks subdivided for the
    geofence (its deployment shape: a stored static side) and the walkable
    centroids kNN searches.  Untimed; the cold build is traced separately."""
    import json

    from osm_public_space_mapper_spark.fixtures.elements import generate_elements
    from osm_public_space_mapper_spark.operators import joins, tiling

    out = layer_cache_dir(ctx)
    layer = L.build(spark, generate_elements()).persist()
    errors = L.check_layer(layer)
    if errors:
        raise RuntimeError("fixture layer fails its checks: " + "; ".join(errors))
    n, h = L.layer_hash(layer)
    tiles = tiling.rasterize_tiles(layer, tile_res=L.TILE_RES, px=L.PX).persist()
    for name, df in (
        ("layer", layer),
        ("tiles", tiles),
        ("masks", joins.subdivide_tiles(tiles, GROUP_RES)),
        ("centroids", joins.walkable_centroids(layer)),
    ):
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "layer.json"), "w") as fh:
        json.dump({"rows": n, "hash": h}, fh)


class Assign:
    name = "assign"
    report = REPORT

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_images = N_IMAGES
        self.n_vector = 0
        self.cached = []
        self.round_no = 0

    def _keep(self, df):
        df = df.persist()
        df.count()
        self.cached.append(df)
        return df

    def setup(self, spark, tracer) -> None:
        from osm_public_space_mapper_spark.fixtures.images import synth_images_spark

        seed, cache = self.ctx.seed, layer_cache_dir(self.ctx)
        self.spark = spark
        self.raw = self._keep(synth_images_spark(spark, N_IMAGES, seed))
        self.sample = self._keep(self.raw.where(in_sample(seed)))
        self.n_vector = self.sample.count()
        self.layer, self.tiles, self.sub, self.cents = (
            self._keep(spark.read.parquet(os.path.join(cache, f"{name}.parquet")))
            for name in ("layer", "tiles", "masks", "centroids")
        )

    def teardown(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached.clear()

    def run_round(self, tracer) -> dict:
        """One closed-loop round over every op.  Returns op → (rows, hash),
        followed for raster and kNN by (rows, hash) of the vector sample's
        images, computed in the same aggregate; then the commit's
        read-back.  The idempotent resume runs only in traced rounds (its
        written rows → `resume_rows`), since `assign_commit_s` is the commit
        alone; `check` runs one after every checked round."""
        from osm_public_space_mapper_spark.operators import joins
        from osm_public_space_mapper_spark.streaming.geofence import pip_join_expr
        from osm_public_space_mapper_spark.tables.icelite import IceliteTable
        from perfbench.tracing import digest

        self.round_no += 1
        if tracer.enabled:
            with tracer.span("joins.prepare") as sp:
                imgs, samp = prep(self.raw), prep(self.sample)
                sp.add("rows", sp.materialize(imgs)[0] + sp.materialize(samp)[0])
            images, sample = (lambda: imgs), (lambda: samp)
        else:
            images, sample = (lambda: prep(self.raw)), (lambda: prep(self.sample))

        out, sampled = {}, in_sample(self.ctx.seed)
        with tracer.span("joins.pip_join_raster") as raster:
            assigned = joins.pip_join_raster(images(), self.tiles, salt=SALT)
            out["raster"] = raster.materialize(assigned, ASSIGN_COLS, sampled)
        with tracer.span("geofence.pip_join_expr") as sp:
            out["geofence"] = sp.materialize(pip_join_expr(images(), self.sub), ASSIGN_COLS)
        with tracer.span("joins.pip_join") as vector:
            out["vector"] = vector.materialize(joins.pip_join(sample(), self.layer), ASSIGN_COLS)
        with tracer.span("joins.knn_join") as knn:
            nearest = joins.knn_join(images(), self.cents, **KNN).select(*KNN_COLS)
            out["knn"] = knn.materialize(nearest, KNN_COLS, sampled)
        self.knn_schema = nearest.schema
        if tracer.enabled:
            # op-specific counts, computed outside the spans they describe
            raster.add("groups", assigned.select("tile_cell").distinct().count())
            candidates = self._vector_candidates(sample())
            vector.add("candidates", candidates)
            vector.add("hit_ratio", out["vector"][0] / max(candidates, 1))
            # the ring join's output rows, which the rank filter cuts to k
            # per image
            candidates = knn.rec["counts"]["join_rows"]
            knn.add("candidates", candidates)
            knn.add("keep_ratio", out["knn"][0] / max(candidates, 1))

        path = os.path.join(self.ctx.run_dir, "icelite", f"round-{self.round_no}")
        table = IceliteTable(path)
        to_commit = assigned if tracer.enabled else joins.pip_join_raster(images(), self.tiles, salt=SALT)
        self.table_path = path
        with tracer.span("icelite.commit_resumable") as sp:
            snap = table.commit_resumable(to_commit, "space_category", stage="assign")
            sp.add("files", len(snap["manifests"]))
            sp.add("bytes_written", L.dir_bytes(path))
        if tracer.enabled:
            with tracer.span("icelite.resume") as sp:
                again = table.commit_resumable(to_commit, "space_category", stage="assign")
                out["resume_rows"] = _rows(again) - _rows(snap)
                sp.add("resume_rows", out["resume_rows"])
        out["commit_readback"] = digest(table.read(self.spark), ASSIGN_COLS)
        return out

    def _vector_candidates(self, sample) -> int:
        """Image × polygon PIP tests the vector join makes: images and
        exploded polygons meeting on a join cell."""
        from pyspark.sql import functions as F

        from osm_public_space_mapper_spark.operators import joins

        per_cell = joins.explode_layer_to_cells(self.layer).groupBy("cell").agg(F.count(F.lit(1)).alias("p"))
        row = sample.groupBy("cell").agg(F.count(F.lit(1)).alias("i")).join(per_cell, "cell").agg(
            F.sum(F.col("i") * F.col("p"))
        ).collect()[0]
        return int(row[0] or 0)

    def check(self, ref: dict) -> list[str]:
        """Deep checks of one round's outputs (untimed, after the round):
        - raster and geofence assign every image once, with equal hashes;
        - the vector join assigns every sampled image once and equals both
          a numpy brute force (`geo.kernels.points_in_polygon` over the
          collected layer) and the raster join's output on the same images;
        - kNN gives k rows per image, and its output on the vector sample's
          images equals a numpy brute force over the collected centroids;
        - the table reads back the assignment, and an idempotent resume
          (the round's own, when traced, and one more here) writes no
          rows."""
        from osm_public_space_mapper_spark.geo.arrowgeom import np_parts
        from osm_public_space_mapper_spark.geo.kernels import points_in_polygon
        from osm_public_space_mapper_spark.tables.icelite import IceliteTable
        from perfbench.tracing import digest

        errors = []
        n, n_vec, k = self.n_images, self.n_vector, KNN["k"]
        if ref["raster"][0] != n or ref["geofence"][0] != n or ref["vector"][0] != n_vec:
            errors.append(f"not every image assigned once: raster {ref['raster'][0]}, geofence "
                          f"{ref['geofence'][0]} of {n} images; vector {ref['vector'][0]} of {n_vec}")
        if ref["raster"][1] != ref["geofence"][1]:
            errors.append("raster and geofence assignment hashes differ")
        if ref["knn"][0] != k * n or ref["knn"][2] != k * n_vec:
            errors.append(f"knn_join gave {ref['knn'][0]} rows for {n} images, {ref['knn'][2]} for the "
                          f"{n_vec} sampled ones (k = {k})")
        if ref["commit_readback"] != ref["raster"][:2]:
            errors.append(f"icelite read-back {ref['commit_readback']} != assignment {ref['raster'][:2]}")
        if ref["vector"] != ref["raster"][2:]:
            errors.append("vector and raster assignments differ on the vector sample")
        if ref.get("resume_rows"):
            errors.append(f"the round's idempotent resume wrote {ref['resume_rows']} rows")
        # resuming with the committed rows themselves must skip every
        # partition they fall in
        table = IceliteTable(self.table_path)
        before = _rows(table.current_snapshot())
        resumed = _rows(table.commit_resumable(table.read(self.spark), "space_category", stage="assign")) - before
        if resumed:
            errors.append(f"idempotent resume wrote {resumed} rows")

        pts = prep(self.sample).select("image_id", "x", "y").toPandas()
        px, py = pts["x"].to_numpy(), pts["y"].to_numpy()
        polys = self.layer.select("space_category", "access", "geom").collect()
        hits = np.zeros(len(pts), dtype=int)
        pip_rows = []
        for p in polys:
            inside = points_in_polygon(px, py, np_parts(p["geom"]))
            hits += inside
            pip_rows += [(pts["image_id"].iat[i], p["space_category"], p["access"]) for i in np.nonzero(inside)[0]]
        if (hits != 1).any():
            errors.append(f"brute force: {(hits != 1).sum()} of {len(pts)} sampled images not in exactly one polygon")
        truth = self.spark.createDataFrame(pip_rows, "image_id string, space_category string, access string")
        if ref["vector"] != digest(truth):
            errors.append("vector pip_join differs from the numpy brute force")

        cents = self.cents.toPandas()
        d = np.hypot(cents["cx"].to_numpy()[None, :] - px[:, None], cents["cy"].to_numpy()[None, :] - py[:, None])
        nearest = np.argsort(d, axis=1, kind="stable")[:, : KNN["k"]]
        truth = pd.DataFrame({
            "image_id": np.repeat(pts["image_id"].to_numpy(), nearest.shape[1]),
            "rank": np.tile(np.arange(1, nearest.shape[1] + 1, dtype=np.int32), len(pts)),
            "polygon_id": cents["polygon_id"].to_numpy()[nearest.reshape(-1)],
        })
        if ref["knn"][2:] != digest(self.spark.createDataFrame(truth, self.knn_schema)):
            errors.append("knn_join differs from the numpy brute force on the vector sample")
        return errors


def trace_layer(spark, tracer, ctx) -> list[str]:
    """Cold layer build from the seed-permuted fixture, then publish (spans
    pipeline.*, tiling.*, geojson.*).  The layer must pass the coverage
    invariant and hash the same as the cached unpermuted one."""
    import json

    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.operators import joins
    from perfbench.inputs import permuted_elements

    layer = L.build_traced(spark, tracer, permuted_elements(ctx.seed))
    errors = L.check_layer(layer)
    with open(os.path.join(layer_cache_dir(ctx), "layer.json")) as fh:
        want = json.load(fh)
    got = L.layer_hash(layer)
    if list(got) != [want["rows"], want["hash"]]:
        errors.append(f"layer hash {got} differs from the cached fixture layer's {want}")
    out_dir = os.path.join(ctx.run_dir, "geojsonl")
    tiles = L.publish(spark, tracer, layer, out_dir)
    features = L.count_lines(out_dir)
    if features != got[0]:
        errors.append(f"GeoJSONL export has {features} features for {got[0]} layer rows")
    with tracer.span("joins.subdivide_tiles") as sp:
        masks = joins.subdivide_tiles(tiles, GROUP_RES)
        sp.add("groups", sp.materialize(masks)[0])
    sp.add("mask_bytes", masks.agg(F.sum(F.length("mask"))).collect()[0][0])
    return errors


def _rows(snapshot: dict) -> int:
    return sum(m["row_count"] for m in snapshot["manifests"])
