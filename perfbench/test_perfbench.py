"""Self-tests of the benchmark harness: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import curation, inputs  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_documents_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = inputs.documents(1, 300), inputs.documents(1, 300), inputs.documents(2, 300)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    texts = a.column("text").to_pylist()
    assert set(" ".join(texts).split()) <= set(inputs.VOCAB) | {"dup"}
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]
    assert sum(t.endswith(" dup") for t in texts) == 15  # 5% planted near-duplicates


def test_embeddings_deterministic_per_seed_and_differ_across_seeds():
    import numpy as np

    a, b, c = inputs.embeddings(1, 200), inputs.embeddings(1, 200), inputs.embeddings(2, 200)
    assert a.equals(b)
    assert not a.equals(c)
    vecs = np.array(a.column("embedding").to_pylist())
    assert vecs.shape == (200, inputs.EMB_DIM)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def test_element_permutation_deterministic_and_keeps_the_fixture():
    a, b, c = (inputs.permuted_elements(s) for s in (1, 1, 2))
    assert a == b
    assert [r["element_id"] for r in a] != [r["element_id"] for r in c]

    def content(rows):
        return sorted(json.dumps([r["geom_kind"], r["geom"], r["tags"]], sort_keys=True) for r in rows)

    assert content(a) == content(c)
    assert sorted(r["element_id"] for r in a) == list(range(1, len(a) + 1))


def test_image_rows_deterministic_per_seed_and_differ_across_seeds(spark):
    from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
    from perfbench.tracing import digest

    a, b, c = (digest(synth_images_spark(spark, 500, s)) for s in (1, 1, 2))
    assert a == b
    assert a != c


def test_digest_of_a_subset_equals_digest_of_the_filtered_rows(spark):
    from osm_public_space_mapper_spark.fixtures.images import synth_images_spark
    from perfbench.assign import in_sample
    from perfbench.tracing import digest

    df = synth_images_spark(spark, 2_000, 1)
    n, h, n_sub, h_sub = digest(df, subset=in_sample(1))
    assert (n, h) == digest(df)
    assert (n_sub, h_sub) == digest(df.where(in_sample(1)))
    assert 0 < n_sub < n


def test_plan_walker_reads_shuffle_and_python_metrics(spark):
    from pyspark.sql import functions as F

    from perfbench.tracing import Tracer

    tr = Tracer(spark, enabled=True)
    df = spark.range(20_000).withColumn("k", F.col("id") % 7)
    out = df.groupBy("k").applyInArrow(lambda t: t, "id long, k long")
    with tr.span("probe") as sp:
        rows, _ = sp.materialize(out)
    tr.release()
    assert rows == 20_000
    counts = sp.rec["counts"]
    assert counts["shuffle_bytes"] > 0
    assert counts["python_s"] > 0
    assert counts["arrow_bytes"] > 0
    assert sp.rec["jobs"] >= 1
    layer = tr.layer_metrics({"probe"})
    assert layer["probe.self_s"] > 0


def test_host_clock_counts_the_cpu_time_of_reaped_children():
    from perfbench.tracing import HostClock

    with HostClock() as clock:
        subprocess.run([sys.executable, "-c", "sum(range(20_000_000))"], check=True)
    assert clock.cpu >= 0.1
    assert clock.steal >= 0 and 0 < clock.share <= 1


def test_canonical_is_order_insensitive_and_type_tagged():
    import pandas as pd

    a = pd.DataFrame({"b": [2, 1], "a": [0.5, 0.25]})
    b = pd.DataFrame({"a": [0.25, 0.5], "b": [1, 2]})
    assert curation.canonical(a) == curation.canonical(b)
    assert curation.canonical(pd.DataFrame({"x": [1]})) != curation.canonical(pd.DataFrame({"x": [1.0]}))


def test_benchmark_spec_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(spec["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    from perfbench.run import LAYER_SPANS, WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    spans = set(LAYER_SPANS) | {"session", "trace.overhead"}
    assert all(m["name"].rsplit(".", 1)[0] in spans for m in spec["per_layer"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "assign", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
    assert "engine sources not found" in proc.stderr
