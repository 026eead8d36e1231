"""`curation` workload: near-duplicate and similarity queries on a seeded
document corpus and embedding table (no spatial code at all).

The generated tables have the schema and vocabulary of the testdata
`documents`/`embeddings` tables plus a planted share of near-duplicates.
Each op is one engine call with the parameters of the declared query of
the same name, and its output must equal DuckDB running that query's
`oracle_sql()` text on the same generated tables.
"""

from __future__ import annotations

import hashlib
import os

N_DOCS = 2_500
N_VECS = 1_000
TOPK_EVERY = 50  # query side = every 50th vector, as in the declared query

# op span → oracle query name (also the key of each op's output)
OPS = {
    "dedup.minhash_lsh_pairs": "minhash_lsh_pairs",
    "dedup.ngram_jaccard_pairs": "ngram_jaccard_pairs",
    "graph.dup_clusters": "dup_clusters",
    "dedup.simhash_hamming_pairs": "simhash_hamming_pairs",
    "similarity.brute_force_topk": "embedding_topk",
    "dedup.embedding_dups": "embedding_dups",
}
REPORT = {
    "dedup.minhash_lsh_pairs": ("minhash_pairs_s", "s", None),
    "dedup.ngram_jaccard_pairs": ("jaccard_pairs_s", "s", None),
    "graph.dup_clusters": ("dup_clusters_s", "s", None),
    "dedup.simhash_hamming_pairs": ("simhash_pairs_s", "s", None),
    "similarity.brute_force_topk": ("embedding_topk_s", "s", None),
    "dedup.embedding_dups": ("embedding_dups_s", "s", None),
}


def _queries(docs, emb) -> dict:
    """span → lazy DataFrame, as the declared queries build them."""
    from pyspark.sql import functions as F

    from osm_public_space_mapper_spark.operators import dedup, graph, similarity

    q = emb.filter(F.col("vec_id") % TOPK_EVERY == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    return {
        "dedup.minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, n=3, jaccard_threshold=0.5),
        "dedup.ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3),
        "graph.dup_clusters": lambda: graph.dup_clusters(docs, 3, 0.5),
        "dedup.simhash_hamming_pairs": lambda: dedup.simhash_hamming_pairs(docs, bits=64, max_hamming=3, n_bands=4),
        "similarity.brute_force_topk": lambda: similarity.brute_force_topk(emb, q, k=5).select(
            "query_id", "vec_id", "cosine", "rank"
        ),
        "dedup.embedding_dups": lambda: dedup.embedding_dups(emb, threshold=0.35),
    }


class Curation:
    name = "curation"
    report = REPORT

    def __init__(self, ctx):
        self.ctx = ctx
        self.cached = []
        self.rows = {}
        self.expected = None
        self.input_dir = os.path.join(ctx.run_dir, "curation-input")

    def setup(self, spark, tracer) -> None:
        """Generate this seed's tables, write them as parquet and
        materialize them."""
        self._write_tables(self.input_dir)
        for name in ("documents", "embeddings"):
            df = spark.read.parquet(os.path.join(self.input_dir, f"{name}.parquet")).persist()
            df.count()
            self.cached.append(df)
        self.docs, self.emb = self.cached

    def teardown(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached.clear()

    def run_round(self, tracer) -> dict:
        """One round over every op.  Each op's action fetches its result
        rows, as a caller of the query would; the rows are compared
        (untimed) as a canonical multiset."""
        from osm_public_space_mapper_spark.operators.graph import release_components

        out = {}
        for span, build in _queries(self.docs, self.emb).items():
            with tracer.span(span) as sp:
                df = build()
                if tracer.enabled:
                    sp.materialize(df)
                pdf = df.toPandas()
            if tracer.enabled:
                self._count(span, sp, len(pdf), out)
            if span == "graph.dup_clusters":
                release_components(df)
            self.rows[span] = canonical(pdf)
            out[span] = (len(pdf), hashlib.sha1("\n".join(self.rows[span]).encode()).hexdigest())
        return out

    def _count(self, span, sp, n, out) -> None:
        """Op-specific counts of a traced span, computed after it closed."""
        counts = sp.rec["counts"]
        if span == "graph.dup_clusters":
            # dup_clusters' edge set is minhash_lsh_pairs with the same
            # parameters, traced in the span before
            sp.add("edges", out["dedup.minhash_lsh_pairs"][0])
        elif span == "similarity.brute_force_topk":
            sp.add("collect_rows", len(range(0, N_VECS, TOPK_EVERY)))  # vec_ids are 0..N_VECS-1
        elif counts.get("join_rows"):
            sp.add("candidates", counts["join_rows"])
            sp.add("keep_ratio", n / counts["join_rows"])

    def _write_tables(self, d: str) -> None:
        import pyarrow.parquet as pq

        from perfbench import inputs

        os.makedirs(d, exist_ok=True)
        pq.write_table(inputs.documents(self.ctx.seed, N_DOCS), os.path.join(d, "documents.parquet"))
        pq.write_table(inputs.embeddings(self.ctx.seed, N_VECS), os.path.join(d, "embeddings.parquet"))

    def check(self, ref: dict) -> list[str]:
        """The round's rows equal DuckDB running the declared query's
        oracle SQL on the same generated tables (untimed, after the
        round)."""
        errors = []
        expected = self._expected()
        for span, query in OPS.items():
            got, want = self.rows[span], expected[query]
            if got != want:
                diff = sorted(set(got) ^ set(want))[:3]
                errors.append(f"{query}: {len(got) - 1} rows vs DuckDB {len(want) - 1}; first differences {diff}")
        return errors

    def _expected(self) -> dict[str, list[str]]:
        """DuckDB results for this (seed, size), cached by the hash of the
        engine sources (which hold the oracle SQL) and the generators."""
        import json

        import duckdb

        import __spark_entry__ as E

        if self.expected is not None:
            return self.expected
        key = hashlib.sha256(f"{self.ctx.source_key}:{self.ctx.seed}:{N_DOCS}:{N_VECS}".encode()).hexdigest()[:16]
        path = os.path.join(self.ctx.cache, f"duckdb-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                self.expected = json.load(fh)
            return self.expected
        con = duckdb.connect()
        con.execute(f"SET threads = {self.ctx.cores}")
        con.execute(f"SET temp_directory = '{os.path.join(self.ctx.run_dir, 'duckdb-tmp')}'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.input_dir}/{t}.parquet'")
        sql = E.oracle_sql()
        out = {q: canonical(con.sql(sql[q]).fetchdf()) for q in OPS.values()}
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        self.expected = out
        return out


def _cell(v) -> str:
    """Type-tagged value text: ints and floats stay distinct, floats compare
    at 6 significant digits (both engines round float results to 6)."""
    import math

    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v):.6g}"
    return f"s:{v}"


def canonical(pdf) -> list[str]:
    """Order-insensitive row multiset: columns sorted by lower-cased name,
    rows as type-tagged text, sorted."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = ("|".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    return [",".join(c.lower() for c in cols), *sorted(rows)]
