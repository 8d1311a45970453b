"""corpus_dedup: curate a seeded document corpus and commit the result.

One iteration runs

    text.quality_scores -> dedup.exact_duplicates -> dedup.lsh_candidate_pairs
    -> dedup.ngram_jaccard_pairs -> dedup.connected_components
    -> dedup.exact_substr_spans -> similarity.cosine_pairs

and commits three tables with ``Catalog.write``: one row per document
(quality, exact-duplicate keeper, near-duplicate component, keep flag), the
near-duplicate pairs of all three detectors, and the duplicated spans.  At
600 documents the JVM uses about 90% of an iteration's CPU, planning and
running about 50 small jobs (the driver-side probes of LSH, ngram and the
components loop among them); the Python workers use about 3% and the
shuffles carry 2-2.5 MB.  It is the bypass workload for Python-boundary
and geo-kernel changes.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

from geetiles_spark import cache
from geetiles_spark.catalog import Catalog
from geetiles_spark.operators import dedup, similarity, text

from checks import Digest

SHINGLE_N = 5
NUM_HASHES = 16
BANDS = 4
LSH_JACCARD = 0.5  # share of LSH candidates at or above this is the precision
NGRAM_N = 3
NGRAM_T = 0.5
SUBSTR_K = 8
COSINE_T = 0.9
TABLES = ("curated", "pairs", "spans")

_NGRAM_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM docs
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i + {NGRAM_N - 1}], ' ') AS g
  FROM toks JOIN generate_series(1, 100000) AS g(i) ON g.i <= len(t) - {NGRAM_N - 1}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, round(c / (sa.n + sb.n - c), 6) AS j
FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
WHERE c / (sa.n + sb.n - c) >= {NGRAM_T}
"""


def ngram_oracle(docs_pdf) -> set:
    """(doc_a, doc_b, jaccard) of every word-3-gram pair at or above the
    threshold, recomputed by DuckDB from the generated corpus."""
    con = duckdb.connect()
    try:
        con.register("docs", docs_pdf)
        return {(int(a), int(b), float(j)) for a, b, j in con.execute(_NGRAM_ORACLE_SQL).fetchall()}
    finally:
        con.close()


def _shingles(s: str) -> set:
    return {s[i:i + SHINGLE_N] for i in range(max(len(s) - SHINGLE_N + 1, 1))}


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, spark, inp: dict, work: str):
        self.spark = spark
        self.docs_pdf = inp["docs"]
        self.n_docs = len(self.docs_pdf)
        self.docs = spark.read.parquet(os.path.join(inp["dir"], "docs.parquet"))
        self.emb = spark.read.parquet(os.path.join(inp["dir"], "emb.parquet"))
        self.catalog = Catalog(os.path.join(work, "catalog"))

    # ------------------------------------------------------------ untraced

    def iteration(self) -> tuple:
        """One curated commit; returns the digest of the committed rows of
        every table."""
        with cache.persist_scope():
            s = self._stages()
            components = dedup.connected_components(s["ngram"])
            digests = []
            for name, df in self._tables(self.docs, s, components).items():
                d = Digest(df)
                self.catalog.write(d.df, name)
                digests.append(d.value())
        return tuple(digests)

    def _stages(self) -> dict:
        docs = self.docs
        return {
            "quality": text.quality_scores(docs),
            "exact": dedup.exact_duplicates(docs),
            "lsh": dedup.lsh_candidate_pairs(docs, shingle_n=SHINGLE_N, num_hashes=NUM_HASHES, bands=BANDS),
            # persisted: the pairs feed both the components and the pairs table
            "ngram": cache.track(dedup.ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=NGRAM_T)),
            "spans": dedup.exact_substr_spans(docs, k=SUBSTR_K),
            "cosine": similarity.cosine_pairs(self.emb, COSINE_T, n_hint=self.n_docs),
        }

    @staticmethod
    def _tables(docs, s: dict, components) -> dict:
        curated = (
            docs.select("doc_id", F.md5("text").alias("content_hash"))
            .join(s["quality"], "doc_id")
            .join(s["exact"].select("content_hash", "keeper_id"), "content_hash")
            .join(components.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .withColumn(
                "keep",
                (F.col("keeper_id") == F.col("doc_id"))
                & (F.col("component").isNull() | (F.col("component") == F.col("doc_id"))),
            )
        )
        pairs = (
            s["lsh"].select("doc_a", "doc_b", F.lit(None).cast("double").alias("score"), F.lit("lsh").alias("source"))
            .unionByName(s["ngram"].select("doc_a", "doc_b", F.col("jaccard").alias("score"), F.lit("ngram").alias("source")))
            .unionByName(
                s["cosine"].select(
                    F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                    F.col("cos_sim").cast("double").alias("score"), F.lit("cosine").alias("source"),
                )
            )
        )
        return {"curated": curated, "pairs": pairs, "spans": s["spans"]}

    # -------------------------------------------------------------- checks

    def check(self) -> list[str]:
        """Independent checks on the committed tables."""
        fails = []
        oracle = ngram_oracle(self.docs_pdf)
        got = {
            (int(r["doc_a"]), int(r["doc_b"]), round(float(r["score"]), 6))
            for r in self.catalog.read(self.spark, "pairs").filter(F.col("source") == "ngram").collect()
        }
        if got != oracle:
            fails.append(f"ngram pairs differ from the DuckDB oracle ({len(got)} vs {len(oracle)})")
        n = self.catalog.read(self.spark, "curated").count()
        if n != self.n_docs:
            fails.append(f"curated rows {n} != documents {self.n_docs}")
        return fails

    # -------------------------------------------------------------- traced

    def traced_iteration(self, layer) -> None:
        docs = self.docs.persist()
        emb = self.emb.persist()
        docs.count()
        emb.count()
        with cache.persist_scope():
            s = {
                "quality": layer.call("text.quality", lambda: text.quality_scores(docs)),
                "exact": layer.call("dedup.exact", lambda: dedup.exact_duplicates(docs)),
                "lsh": layer.call(
                    "dedup.lsh",
                    lambda: dedup.lsh_candidate_pairs(docs, shingle_n=SHINGLE_N, num_hashes=NUM_HASHES, bands=BANDS),
                ),
                "ngram": layer.call("dedup.ngram", lambda: dedup.ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=NGRAM_T)),
                "spans": layer.call("dedup.exact_substr", lambda: dedup.exact_substr_spans(docs, k=SUBSTR_K)),
                "cosine": layer.call(
                    "similarity.cosine_pairs", lambda: similarity.cosine_pairs(emb, COSINE_T, n_hint=self.n_docs)
                ),
            }
            components = layer.call("dedup.components", lambda: dedup.connected_components(s["ngram"]))
            layer.record("dedup.lsh.candidates", layer.cached_rows["dedup.lsh"])
            layer.record("dedup.lsh.precision", self._lsh_precision(s["lsh"]))
            ng = layer.counters["dedup.ngram"]
            layer.record("dedup.ngram.join_rows", sum(v for k, v in ng.node_rows.items() if "Join" in k))
            layer.record("dedup.ngram.pairs", layer.cached_rows["dedup.ngram"])
            layer.record("similarity.cosine_pairs.pairs", layer.cached_rows["similarity.cosine_pairs"])
            tables = self._tables(docs, s, components)

            def commit():
                for name, df in tables.items():
                    self.catalog.write(df, name)

            layer.write("catalog", commit)
            layer.catalog_stats(self.catalog, TABLES)
        docs.unpersist()
        emb.unpersist()

    def traced_extra(self, layer) -> tuple[int, list[str]]:
        return 0, []

    def _lsh_precision(self, lsh) -> float:
        """Share of LSH candidates whose exact character-shingle Jaccard is
        at or above ``LSH_JACCARD``."""
        texts = dict(zip(self.docs_pdf["doc_id"].tolist(), self.docs_pdf["text"].tolist()))
        sh: dict[int, set] = {}

        def shingles(doc: int) -> set:
            if doc not in sh:
                sh[doc] = _shingles(texts[doc])
            return sh[doc]

        good = total = 0
        for r in lsh.collect():
            sa, sb = shingles(int(r["doc_a"])), shingles(int(r["doc_b"]))
            total += 1
            good += len(sa & sb) >= LSH_JACCARD * len(sa | sb)
        return good / max(total, 1)

