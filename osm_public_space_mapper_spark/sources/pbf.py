"""OSM PBF source — from-scratch reader (no protobuf/esy.osm.shape deps).

Replaces reference load_data.py:6-17 (esy.osm.shape.Shape). The OSM PBF
format is public: a sequence of length-prefixed (BlobHeader, Blob) frames;
each Blob holds a zlib-compressed PrimitiveBlock protobuf carrying a string
table plus DenseNodes / Way / Relation groups. This module hand-decodes the
protobuf wire format (varints + length-delimited fields only) and decodes
delta-packed columns with numpy.

Spark-first layout (scales to planet files):
  1. driver: `blob_frames(path)` — a METADATA-ONLY scan of frame offsets
     (reads ~20 bytes per frame, seeks past the payloads)
  2. executors: each (offset, size) row range-reads its blob and decodes it
     in parallel (`mapInPandas`) → unified entity rows
  3. geometry assembly is joins, not driver loops: way refs join node
     coords on ref id (shuffle on node id); multipolygon relations group
     member-way coordinate arrays through a ring-stitching kernel

Shape semantics mirror esy.osm.shape (what the reference was built against):
  node → point; way → polygon if closed (first ref == last ref, ≥4 refs)
  else linestring (the reference un-polygonizes false positives itself,
  clean_data.py:96-106); relation type=multipolygon → multipolygon via ring
  stitching, everything else → invalid (dropped by drop_invalid_geometries,
  matching the reference's "relations are not processed" note, README:47).
"""

from __future__ import annotations

import zlib

import numpy as np

# ---------------------------------------------------------------------------
# protobuf wire format (only what OSM PBF uses: varint + length-delimited)
# ---------------------------------------------------------------------------


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _fields(buf: bytes):
    """Yield (field_number, value) — value is int for varint fields, bytes
    for length-delimited fields. fixed32/64 skipped (unused by OSM PBF)."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _varint(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _varint(buf, pos)
            yield fno, val
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            yield fno, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:  # pragma: no cover
            raise ValueError(f"unsupported wire type {wt}")


def _packed_varints(buf: bytes) -> np.ndarray:
    """Decode a packed varint field to int64 (vectorized over byte groups)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(0, dtype=np.int64)
    # positions where a varint ends (continuation bit clear)
    ends = np.nonzero(arr < 0x80)[0]
    starts = np.concatenate([[0], ends[:-1] + 1])
    out = np.zeros(len(ends), dtype=np.uint64)
    max_len = int((ends - starts).max()) + 1
    for k in range(max_len):
        idx = starts + k
        live = idx <= ends
        out[live] |= (arr[idx[live]].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return out.astype(np.int64)


def _packed_sint64(buf: bytes) -> np.ndarray:
    u = _packed_varints(buf).astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


# ---------------------------------------------------------------------------
# frame scan (driver, metadata only)
# ---------------------------------------------------------------------------


def blob_frames(path: str) -> list[tuple[str, int, int]]:
    """[(blob_type, payload_offset, payload_size)] — reads headers only."""
    frames = []
    with open(path, "rb") as f:
        while True:
            hdr_len_b = f.read(4)
            if len(hdr_len_b) < 4:
                break
            hdr_len = int.from_bytes(hdr_len_b, "big")
            hdr = f.read(hdr_len)
            btype, datasize = "", 0
            for fno, val in _fields(hdr):
                if fno == 1:
                    btype = val.decode()
                elif fno == 3:
                    datasize = val
            frames.append((btype, f.tell(), datasize))
            f.seek(datasize, 1)
    return frames


# entity-type id offsets: type lives in bits 61/62 so node/way/relation ids
# can never alias (OSM ids are < 2^61 by an enormous margin)
WAY_ID_OFFSET = 1 << 61
REL_ID_OFFSET = 1 << 62

_BLOB_CODECS = {4: "lzma", 5: "bzip2", 6: "lz4", 7: "zstd"}


def _blob_raw(payload: bytes) -> bytes:
    raw, zdata, other = None, None, None
    for fno, val in _fields(payload):
        if fno == 1:
            raw = val
        elif fno == 3:
            zdata = val
        elif fno in _BLOB_CODECS:
            other = _BLOB_CODECS[fno]
    if raw is not None:
        return raw
    if zdata is None:
        raise ValueError(
            f"unsupported PBF blob compression: {other or 'unknown'} "
            "(this reader handles raw and zlib blobs, the only codecs "
            "planet/Geofabrik exports use; re-encode with osmium cat)"
        )
    return zlib.decompress(zdata)


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------


def decode_block(payload: bytes) -> dict:
    """Blob payload → {'nodes': (ids, lons, lats, tags_list),
    'ways': [(id, refs, tags)], 'relations': [(id, tags, way_members)]}."""
    raw = _blob_raw(payload)
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_off, lon_off = 100, 0, 0
    for fno, val in _fields(raw):
        if fno == 1:
            strings = [s.decode("utf-8") for f2, s in _fields(val) if f2 == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_off = val
        elif fno == 20:
            lon_off = val

    node_ids: list[np.ndarray] = []
    node_lons: list[np.ndarray] = []
    node_lats: list[np.ndarray] = []
    node_tags: list[dict] = []
    ways, relations = [], []

    for grp in groups:
        for fno, val in _fields(grp):
            if fno == 2:  # DenseNodes
                ids = lats = lons = None
                kv = np.zeros(0, dtype=np.int64)
                for f2, v2 in _fields(val):
                    if f2 == 1:
                        ids = np.cumsum(_packed_sint64(v2))
                    elif f2 == 8:
                        lats = np.cumsum(_packed_sint64(v2))
                    elif f2 == 9:
                        lons = np.cumsum(_packed_sint64(v2))
                    elif f2 == 10:
                        kv = _packed_varints(v2)
                node_ids.append(ids)
                node_lats.append(1e-9 * (lat_off + granularity * lats))
                node_lons.append(1e-9 * (lon_off + granularity * lons))
                # keys_vals: k,v,k,v,...,0 per node (0 = end marker)
                tags_here: list[dict] = []
                cur: dict = {}
                i = 0
                while i < len(kv):
                    if kv[i] == 0:
                        tags_here.append(cur)
                        cur = {}
                        i += 1
                    else:
                        cur[strings[kv[i]]] = strings[kv[i + 1]]
                        i += 2
                while len(tags_here) < len(ids):
                    tags_here.append({})
                node_tags.extend(tags_here)
            elif fno == 3:  # Way
                wid, keys, vals, refs = 0, (), (), np.zeros(0, dtype=np.int64)
                for f2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        refs = np.cumsum(_packed_sint64(v2))
                tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
                ways.append((int(wid), refs.tolist(), tags))
            elif fno == 4:  # Relation
                rid, keys, vals, roles, memids, types = 0, (), (), (), np.zeros(0, dtype=np.int64), ()
                for f2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        roles = _packed_varints(v2)
                    elif f2 == 9:
                        memids = np.cumsum(_packed_sint64(v2))
                    elif f2 == 10:
                        types = _packed_varints(v2)
                tags = {strings[k]: strings[v] for k, v in zip(keys, vals)}
                members = [
                    (int(m), strings[r], int(t))
                    for m, r, t in zip(memids, roles, types)
                ]
                relations.append((int(rid), tags, members))

    nodes = (
        np.concatenate(node_ids) if node_ids else np.zeros(0, dtype=np.int64),
        np.concatenate(node_lons) if node_lons else np.zeros(0),
        np.concatenate(node_lats) if node_lats else np.zeros(0),
        node_tags,
    )
    return {"nodes": nodes, "ways": ways, "relations": relations}


# ---------------------------------------------------------------------------
# ring stitching (multipolygon relations)
# ---------------------------------------------------------------------------


def stitch_rings(paths: list[np.ndarray]) -> list[np.ndarray] | None:
    """Merge way fragments into closed rings by matching endpoints.
    Returns None if any fragment can't be closed (→ Invalid geometry)."""
    open_paths = [np.asarray(p, dtype=np.float64) for p in paths if len(p) >= 2]
    rings: list[np.ndarray] = []
    pending: list[np.ndarray] = []
    for p in open_paths:
        if np.array_equal(p[0], p[-1]) and len(p) >= 4:
            rings.append(p)
        else:
            pending.append(p)
    while pending:
        cur = pending.pop(0)
        progressed = True
        while not np.array_equal(cur[0], cur[-1]) and progressed:
            progressed = False
            for i, q in enumerate(pending):
                if np.array_equal(cur[-1], q[0]):
                    cur = np.vstack([cur, q[1:]])
                elif np.array_equal(cur[-1], q[-1]):
                    cur = np.vstack([cur, q[::-1][1:]])
                elif np.array_equal(cur[0], q[-1]):
                    cur = np.vstack([q, cur[1:]])
                elif np.array_equal(cur[0], q[::-1][-1]):
                    cur = np.vstack([q[::-1], cur[1:]])
                else:
                    continue
                pending.pop(i)
                progressed = True
                break
        if np.array_equal(cur[0], cur[-1]) and len(cur) >= 4:
            rings.append(cur)
        else:
            return None
    return rings


# ---------------------------------------------------------------------------
# Spark assembly
# ---------------------------------------------------------------------------

_ENTITY_SCHEMA = (
    "otype string, id long, lon double, lat double, refs array<long>, "
    "tags map<string,string>, members array<struct<mid:long,role:string,mtype:int>>"
)


def entities(spark, path: str):
    """Parallel blob decode → unified entity DataFrame."""
    import pandas as pd

    frames = [(o, s) for t, o, s in blob_frames(path) if t == "OSMData"]
    fdf = spark.createDataFrame(frames, "offset long, size long")
    n_part = min(len(frames), int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    fdf = fdf.repartition(max(n_part, 1))

    def _decode(batches):
        for pdf in batches:
            rows = {k: [] for k in ("otype", "id", "lon", "lat", "refs", "tags", "members")}
            with open(path, "rb") as f:
                for off, size in zip(pdf["offset"], pdf["size"]):
                    f.seek(int(off))
                    block = decode_block(f.read(int(size)))
                    ids, lons, lats, tags = block["nodes"]
                    for i in range(len(ids)):
                        rows["otype"].append("node")
                        rows["id"].append(int(ids[i]))
                        rows["lon"].append(float(lons[i]))
                        rows["lat"].append(float(lats[i]))
                        rows["refs"].append(None)
                        rows["tags"].append(tags[i])
                        rows["members"].append(None)
                    for wid, refs, wtags in block["ways"]:
                        rows["otype"].append("way")
                        rows["id"].append(wid)
                        rows["lon"].append(None)
                        rows["lat"].append(None)
                        rows["refs"].append(refs)
                        rows["tags"].append(wtags)
                        rows["members"].append(None)
                    for rid, rtags, members in block["relations"]:
                        rows["otype"].append("relation")
                        rows["id"].append(rid)
                        rows["lon"].append(None)
                        rows["lat"].append(None)
                        rows["refs"].append(None)
                        rows["tags"].append(rtags)
                        rows["members"].append(members)
            yield pd.DataFrame(rows)

    return fdf.mapInPandas(_decode, _ENTITY_SCHEMA)


def load_elements(spark, path: str):
    """PBF → elements DataFrame (element_id, geom_kind, geom, tags) in 4326.

    element_id encodes the entity type in the top bits of the OSM id
    (node +0, way +2^61, relation +2^62). OSM node ids passed 10^10 in 2023,
    so a decimal offset collides on planet data; 2^61 leaves ~2.3e18 of id
    headroom per type inside int64. Invalid/unassemblable
    geometries keep a row with geom=NULL (dropped by the clean chain, same
    as the reference's Invalid handling)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ents = entities(spark, path).cache()
    nodes = ents.filter(F.col("otype") == "node").select("id", "lon", "lat", "tags")
    ways = ents.filter(F.col("otype") == "way").select("id", "refs", "tags")
    rels = ents.filter(F.col("otype") == "relation").select("id", "tags", "members")

    # --- node elements (points; tags decide relevance downstream) ----------
    node_elems = nodes.select(
        F.col("id").alias("element_id"),
        F.lit("point").alias("geom_kind"),
        F.array(F.array(F.array(F.col("lon"), F.col("lat")))).alias("geom"),
        "tags",
    )

    # --- way coords: explode refs, join node coords, regroup in order ------
    wref = ways.select("id", F.posexplode("refs").alias("pos", "ref"))
    coords = nodes.select(F.col("id").alias("ref"), "lon", "lat")
    wcoords = (
        wref.join(coords, "ref", "left")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"),
            F.count("*").alias("n_refs"),
            F.sum(F.when(F.col("lon").isNull(), 1).otherwise(0)).alias("n_missing"),
        )
    )
    way_geom = ways.join(wcoords, "id", "left").select(
        "id",
        "tags",
        "refs",
        F.when(
            (F.col("n_missing") > 0) | F.col("pts").isNull() | (F.size("pts") < 2),
            F.lit(None),
        )
        .otherwise(F.transform(F.col("pts"), lambda p: F.array(p["lon"], p["lat"])))
        .alias("line"),
    )
    closed = (
        (F.size("refs") >= 4)
        & (F.element_at("refs", 1) == F.element_at("refs", F.size("refs")))
    )
    way_elems = way_geom.select(
        (F.col("id") + F.lit(WAY_ID_OFFSET)).alias("element_id"),
        F.when(F.col("line").isNull(), F.lit(None))
        .when(closed, F.lit("polygon"))
        .otherwise(F.lit("linestring"))
        .alias("geom_kind"),
        F.when(F.col("line").isNull(), F.lit(None)).otherwise(F.array(F.col("line"))).alias("geom"),
        "tags",
    )

    # --- multipolygon relations: stitch member-way rings -------------------
    import pandas as pd

    mem = rels.filter(F.col("tags")["type"] == "multipolygon").select(
        F.col("id").alias("rel_id"),
        "tags",
        F.explode("members").alias("m"),
    ).filter(F.col("m.mtype") == 1)
    mem = mem.join(
        way_geom.select(F.col("id").alias("mid"), F.col("line")),
        mem["m.mid"] == F.col("mid"),
        "left",
    ).select("rel_id", "tags", F.col("m.role").alias("role"), "line")

    rel_schema = T.StructType(
        [
            T.StructField("element_id", T.LongType()),
            T.StructField("geom_kind", T.StringType()),
            T.StructField(
                "geom", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
            ),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        ]
    )

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        rid = int(pdf["rel_id"].iloc[0])
        tags = pdf["tags"].iloc[0]
        out_id = rid + REL_ID_OFFSET
        bad = pd.DataFrame(
            {"element_id": [out_id], "geom_kind": [None], "geom": [None], "tags": [tags]}
        )
        if pdf["line"].isna().any():
            return bad
        outers = [np.asarray([list(pt) for pt in ln]) for ln, role in zip(pdf["line"], pdf["role"]) if role != "inner"]
        inners = [np.asarray([list(pt) for pt in ln]) for ln, role in zip(pdf["line"], pdf["role"]) if role == "inner"]
        outer_rings = stitch_rings(outers) if outers else []
        inner_rings = stitch_rings(inners) if inners else []
        if outer_rings is None or inner_rings is None or not outer_rings:
            return bad
        # orientation: outers CCW-positive, inners CW-negative (signed
        # shoelace convention of the engine's multipolygon encoding)
        def orient(r, positive):
            x, y = r[:, 0], r[:, 1]
            area = 0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
            return r if (area > 0) == positive else r[::-1]

        rings = [orient(r, True) for r in outer_rings] + [orient(r, False) for r in inner_rings]
        geom = [[list(pt) for pt in r] for r in rings]
        kind = "multipolygon"
        return pd.DataFrame(
            {"element_id": [out_id], "geom_kind": [kind], "geom": [geom], "tags": [tags]}
        )

    rel_elems = mem.groupBy("rel_id").applyInPandas(_assemble, rel_schema)
    # non-multipolygon relations → invalid rows (reference: not processed)
    other_rels = rels.filter(
        F.col("tags")["type"].isNull() | (F.col("tags")["type"] != "multipolygon")
    ).select(
        (F.col("id") + F.lit(REL_ID_OFFSET)).alias("element_id"),
        F.lit(None).cast("string").alias("geom_kind"),
        F.lit(None).cast("array<array<array<double>>>").alias("geom"),
        "tags",
    )

    elems = (
        node_elems.unionByName(way_elems)
        .unionByName(rel_elems)
        .unionByName(other_rels)
    )
    # the entity cache serves 3 consumers of ONE lazy plan (nodes/ways/rels),
    # so it must outlive this call — callers release it with
    # release_loader_cache(elems) once the elements are materialized
    elems._loader_cache = ents
    return elems


def release_loader_cache(elems) -> None:
    """Unpersist the entity cache backing a `load_elements` frame. Call once
    the elements have been materialized (written to a bronze table / an
    action has run); recomputing the frame afterwards re-decodes the PBF."""
    cached = getattr(elems, "_loader_cache", None)
    if cached is not None:
        cached.unpersist()
