"""Icelite table format: atomic commit, lineage, partition pruning, resume
(SURVEY.md §5.2 layer 6)."""

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.tables.icelite import IceliteTable


@pytest.fixture()
def table(tmp_path):
    return IceliteTable(str(tmp_path / "tbl"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumn("part", (F.col("id") % 4).cast("string")).withColumn(
        "v", F.col("id") * 2
    )


def test_commit_and_lineage(spark, table):
    snap = table.commit(_df(spark, 0, 100), "part", stage="s1")
    assert len(snap["manifests"]) == 4
    assert sum(m["row_count"] for m in snap["manifests"]) == 100
    back = table.read(spark)
    assert back.count() == 100
    # partition pruning
    only0 = table.read(spark, partitions=["0"])
    assert only0.count() == 25
    # hive-style partition value is type-inferred on read (int here)
    assert str(only0.select("part").distinct().collect()[0][0]) == "0"


def test_resume_skips_completed(spark, table):
    table.commit(_df(spark, 0, 40), "part", stage="s1")
    done_before = table.completed_partitions("s1")
    assert done_before == {"0", "1", "2", "3"}
    # resumable commit of the same stage: everything skipped, no new rows
    snap = table.commit_resumable(_df(spark, 0, 40), "part", stage="s1")
    assert table.read(spark).count() == 40
    # new stage with disjoint partition values appends
    df2 = spark.range(100, 120).withColumn("part", F.lit("9")).withColumn("v", F.col("id"))
    table.commit_resumable(df2, "part", stage="s2")
    assert table.read(spark).count() == 60
    assert "9" in table.completed_partitions("s2")


def _resume_jobs(spark, table, df, group):
    """commit_resumable(df) → (snapshot, Spark jobs it ran). Adaptive
    execution submits every shuffle map stage as a job of its own; with it
    off, one job is one pass over the input."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "icelite resume")
    try:
        snap = table.commit_resumable(df, "part", stage="s1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status tracker is fed by listener events
    return snap, len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_is_single_pass(spark, table):
    """A resume runs the write once, with no separate emptiness pass. When
    every partition is already committed it publishes no snapshot and
    leaves no data directory behind; a resume with one new partition
    appends only that partition's rows."""
    import os

    table.commit(_df(spark, 0, 40), "part", stage="s1")
    history = table.current_metadata()["history"]
    data_dirs = set(os.listdir(table.data_dir))

    snap, jobs = _resume_jobs(spark, table, _df(spark, 0, 40), "icelite-resume-noop")
    assert jobs == 1
    assert table.current_metadata()["history"] == history
    assert snap["snapshot_id"] == table.current_snapshot()["snapshot_id"]
    assert set(os.listdir(table.data_dir)) == data_dirs

    # ids 40..44 land in the committed partitions, 45..49 in new partition "x"
    more = _df(spark, 0, 50).withColumn(
        "part", F.when(F.col("id") >= 45, F.lit("x")).otherwise(F.col("part"))
    )
    snap, jobs = _resume_jobs(spark, table, more, "icelite-resume-one")
    assert jobs == 1
    new = [m for m in snap["manifests"] if m["partition"] not in {"0", "1", "2", "3"}]
    assert {m["partition"] for m in new} == {"x"}
    assert sum(m["row_count"] for m in new) == 5
    assert table.read(spark).count() == 45
    assert len(table.current_metadata()["history"]) == len(history) + 1


def test_lineage_hash_is_content_addressed(spark, table):
    table.commit(_df(spark, 0, 40), "part", stage="a")
    h1 = {m["partition"]: m["content_hash"] for m in table.lineage()}
    t2 = IceliteTable(table.path + "_b")
    # same content, different partitioning order → same hashes
    t2.commit(_df(spark, 0, 40).repartition(7), "part", stage="a")
    h2 = {m["partition"]: m["content_hash"] for m in t2.lineage()}
    assert h1 == h2


def test_atomic_metadata(spark, table):
    import json, os

    table.commit(_df(spark, 0, 8), "part", stage="s1")
    meta = table.current_metadata()
    assert meta["snapshot"] == "snap-000001.json"
    table.commit(_df(spark, 8, 16), "part", stage="s1")
    meta2 = table.current_metadata()
    assert meta2["snapshot"] == "snap-000002.json"
    assert meta2["history"] == ["snap-000001.json", "snap-000002.json"]
    # old snapshot still readable (time travel)
    with open(os.path.join(table.meta_dir, "snap-000001.json")) as f:
        old = json.load(f)
    assert sum(m["row_count"] for m in old["manifests"]) == 8


# ---------------------------------------------------------------------------
# merge_into (copy-on-write MERGE)
# ---------------------------------------------------------------------------


def _state(spark, table):
    return {r.id: (r.part, r.v) for r in table.read(spark).collect()}


def test_merge_upsert_updates_and_inserts(spark, table):
    table.commit(_df(spark, 0, 40), "part", stage="init")
    # update ids 0..9 (v -> id*100, partition flips to '9'), insert 100..104
    src = (
        spark.range(0, 10)
        .withColumn("part", F.lit("9"))
        .withColumn("v", F.col("id") * 100)
        .unionByName(
            spark.range(100, 105)
            .withColumn("part", F.lit("7"))
            .withColumn("v", F.col("id"))
        )
    )
    table.merge_into(spark, src, on="id")
    got = _state(spark, table)
    assert len(got) == 45
    for i in range(10):
        assert got[i] == ("9", i * 100)          # updated, moved partition
    for i in range(10, 40):
        assert got[i] == (str(i % 4), i * 2)     # untouched
    for i in range(100, 105):
        assert got[i] == ("7", i)                # inserted


def test_merge_delete_clause(spark, table):
    table.commit(_df(spark, 0, 20), "part", stage="init")
    src = spark.range(0, 8).withColumn("part", F.lit("x")).withColumn("v", F.lit(0))
    table.merge_into(spark, src, on="id", when_matched="delete", when_not_matched="ignore")
    got = _state(spark, table)
    assert sorted(got) == list(range(8, 20))


def test_merge_matched_condition(spark, table):
    table.commit(_df(spark, 0, 20), "part", stage="init")
    # only matched target rows with v >= 20 (id >= 10) take the update
    src = spark.range(0, 20).withColumn("part", F.lit("9")).withColumn("v", F.lit(-1))
    table.merge_into(
        spark, src, on="id", matched_condition=F.col("v") >= 20, when_not_matched="ignore"
    )
    got = _state(spark, table)
    assert all(got[i] == (str(i % 4), i * 2) for i in range(10))
    assert all(got[i] == ("9", -1) for i in range(10, 20))


def test_merge_rewrites_only_affected_files(spark, table):
    """Copy-on-write evidence: a merge touching one partition's keys leaves
    every other data file's manifest entry byte-identical."""
    table.commit(_df(spark, 0, 100), "part", stage="init")
    before = {m["path"]: m["content_hash"] for m in table.lineage()}
    # ids ≡ 1 (mod 4) live only in partition '1' files
    src = (
        spark.range(0, 100)
        .where(F.col("id") % 4 == 1)
        .withColumn("part", F.lit("1"))
        .withColumn("v", F.lit(0))
    )
    table.merge_into(spark, src, on="id", when_not_matched="ignore")
    after = {m["path"]: m["content_hash"] for m in table.lineage()}
    untouched_before = {p: h for p, h in before.items() if "part=1" not in p}
    for p, h in untouched_before.items():
        assert after.get(p) == h, f"unaffected file {p} was rewritten"
    assert all("part=1" not in p or p not in before for p in after)
    assert {r.v for r in table.read(spark, partitions=["1"]).select("v").collect()} == {0}


def test_merge_time_travel_preserves_old_snapshot(spark, table):
    s1 = table.commit(_df(spark, 0, 20), "part", stage="init")
    src = spark.range(0, 5).withColumn("part", F.lit("0")).withColumn("v", F.lit(-7))
    table.merge_into(spark, src, on="id", when_not_matched="ignore")
    old = {r.id: r.v for r in table.read(spark, snapshot_id=s1["snapshot_id"]).collect()}
    assert old == {i: i * 2 for i in range(20)}
    new = _state(spark, table)
    assert all(new[i] == ("0", -7) for i in range(5))


def test_merge_noop_returns_current_snapshot(spark, table):
    table.commit(_df(spark, 0, 8), "part", stage="init")
    before = table.current_snapshot()
    src = spark.range(500, 505).withColumn("part", F.lit("z")).withColumn("v", F.lit(1))
    snap = table.merge_into(spark, src, on="id", when_not_matched="ignore")
    assert snap["snapshot_id"] == before["snapshot_id"]
    assert _state(spark, table) == {i: (str(i % 4), i * 2) for i in range(8)}


# ---------------------------------------------------------------------------
# compact (small-file rewrite)
# ---------------------------------------------------------------------------


def test_compact_preserves_content_and_reduces_files(spark, table):
    # three appends → 3 files per partition
    for lo in (0, 40, 80):
        table.commit(_df(spark, lo, lo + 40), "part", stage=f"a{lo}")
    before = table.lineage()
    from collections import Counter

    files_before = Counter(m["partition"] for m in before)
    assert all(n == 3 for n in files_before.values())
    hash_before = {}
    rows_before = {}
    for m in before:
        hash_before[m["partition"]] = (
            hash_before.get(m["partition"], 0) + m["content_hash"]
        ) % (1 << 64)
        rows_before[m["partition"]] = rows_before.get(m["partition"], 0) + m["row_count"]

    s1 = table.current_snapshot()
    table.compact(spark)
    after = table.lineage()
    files_after = Counter(m["partition"] for m in after)
    assert set(files_after) == set(files_before)
    assert all(n < 3 for n in files_after.values())
    # content identity: per-partition row counts and wrap-around hash sums
    for p in files_before:
        assert sum(m["row_count"] for m in after if m["partition"] == p) == rows_before[p]
        assert (
            sum(m["content_hash"] for m in after if m["partition"] == p) % (1 << 64)
            == hash_before[p]
        )
    assert _state(spark, table) == {i: (str(i % 4), i * 2) for i in range(120)}
    # time travel: the pre-compaction snapshot still reads the old files
    old = table.read(spark, snapshot_id=s1["snapshot_id"])
    assert old.count() == 120


def test_compact_skips_single_file_partitions(spark, table):
    table.commit(_df(spark, 0, 40), "part", stage="a")
    only9 = spark.range(200, 210).withColumn("part", F.lit("9")).withColumn("v", F.col("id"))
    table.commit(only9, "part", stage="b")
    table.commit(only9.withColumn("id", F.col("id") + 100), "part", stage="c")
    before = {m["path"] for m in table.lineage() if m["partition"] != "9"}
    table.compact(spark)
    after = {m["path"] for m in table.lineage() if m["partition"] != "9"}
    assert after == before  # 1-file partitions untouched
    n9 = sum(1 for m in table.lineage() if m["partition"] == "9")
    assert n9 == 1
    assert table.read(spark).count() == 60


# ---------------------------------------------------------------------------
# add_column (metadata-only schema evolution)
# ---------------------------------------------------------------------------


def test_add_column_defaults_old_files(spark, table):
    table.commit(_df(spark, 0, 20), "part", stage="era1")
    table.add_column("quality", "double", default=1.0)
    # old files: every row surfaces the default, no file rewritten
    paths_before = {m["path"] for m in table.lineage()}
    out = table.read(spark)
    assert "quality" in out.columns
    assert {r.quality for r in out.collect()} == {1.0}
    assert {m["path"] for m in table.lineage()} == paths_before
    # new era carries the column for real; old rows keep the default
    era2 = (
        spark.range(100, 110)
        .withColumn("part", F.lit("9"))
        .withColumn("v", F.col("id"))
        .withColumn("quality", F.lit(0.5))
    )
    table.commit(era2, "part", stage="era2")
    got = {r.id: r.quality for r in table.read(spark).collect()}
    assert all(got[i] == 1.0 for i in range(20))
    assert all(got[i] == 0.5 for i in range(100, 110))
    # duplicate add rejected
    with pytest.raises(ValueError):
        table.add_column("quality", "double", default=2.0)


def test_merge_after_add_column(spark, table):
    # r06 (ADVICE r05 medium): the merge rewrite scan must apply the same
    # evolved-column projection as read(); before the fix .select(*tcols)
    # raised because the affected-file scan lacked the added column
    table.commit(_df(spark, 0, 20), "part", stage="init")
    table.add_column("flag", "string", default="new")
    src = spark.range(0, 4).withColumn("part", F.lit("9")).withColumn("v", F.col("id") * 100).withColumn("flag", F.lit("upd"))
    table.merge_into(spark, src, on="id")
    got = {r.id: (r.v, r.flag) for r in table.read(spark).collect()}
    assert len(got) == 20
    for i in range(4):
        assert got[i] == (i * 100, "upd")
    for i in range(4, 20):
        assert got[i] == (i * 2, "new")  # untouched rows keep the default
