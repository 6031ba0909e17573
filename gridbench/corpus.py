"""Text-corpus and embedding ops: near-duplicate removal and ANN search.

The documents and the vectors are synthesized from the seed with planted
structure: near-duplicate document pairs, and vectors drawn around
cluster centres.  Each op's output is checked against exact answers: the
planted pairs, python's shingle Jaccard and numpy's cosine top-k.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gridded_etl_tools_spark.operators import clustering, similarity, text
from gridded_etl_tools_spark.operators import dedup as dedup_ops

SHINGLE_N = 3
MIN_QUALITY = 0.5
MIN_JACCARD = 0.5
K = 10


def shingle_set(doc: str, n: int = SHINGLE_N) -> set[str]:
    """The word n-gram set ``dedup.shingles`` builds, in python."""
    toks = doc.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


class Corpus:
    """A document corpus and an embedding set, written to parquet once;
    the ops read them back from there."""

    DOCS = 480  # good documents, ids 0..DOCS-1
    DUPS = 80  # near-duplicates of distinct good documents: one word replaced
    JUNK = 40  # punctuation noise the quality gate drops
    WORDS = 60
    VECTORS = 2000
    CLUSTERS = 20
    DIM = 16
    PROBES = 40

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        rng = np.random.default_rng([seed, 11])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, size=rng.integers(3, 9))) for _ in range(3000)]
        stop = text.STOPWORDS["en"]

        def words(n: int) -> list[str]:
            return [
                stop[rng.integers(len(stop))] if rng.random() < 0.3
                else vocab[rng.integers(len(vocab))]
                for _ in range(n)
            ]

        docs = [words(self.WORDS) for _ in range(self.DOCS)]
        bases = sorted(rng.choice(self.DOCS, size=self.DUPS, replace=False).tolist())
        for b in bases:
            dup = list(docs[b])
            dup[rng.integers(self.WORDS)] = vocab[rng.integers(len(vocab))]
            docs.append(dup)
        punct = ["!!", "#$%", "...", "?!", "&&", "--"]
        docs += [[punct[rng.integers(len(punct))] for _ in range(8)] for _ in range(self.JUNK)]
        self.texts = [" ".join(d) for d in docs]
        #: (base id, duplicate id) of every planted pair
        self.planted = {(b, self.DOCS + j) for j, b in enumerate(bases)}
        self.good = set(range(self.DOCS + self.DUPS))
        self.docs_path = os.path.join(root, "documents.parquet")
        spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(len(self.texts)), "text": self.texts})
        ).coalesce(1).write.parquet(self.docs_path)

        centres = rng.normal(size=(self.CLUSTERS, self.DIM))
        centres /= np.linalg.norm(centres, axis=1, keepdims=True)
        self.label = np.arange(self.VECTORS) % self.CLUSTERS
        self.vecs = centres[self.label] + 0.1 * rng.normal(size=(self.VECTORS, self.DIM))
        #: k-means starts from one member of each planted cluster
        self.init_ids = [int(rng.choice(np.flatnonzero(self.label == c)))
                         for c in range(self.CLUSTERS)]
        self.probe_ids = sorted(
            rng.choice(self.VECTORS, size=self.PROBES, replace=False).tolist()
        )
        self.vec_path = os.path.join(root, "embeddings.parquet")
        spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.vecs)],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.parquet(self.vec_path)
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        self.cos = unit[self.probe_ids] @ unit.T
        self.cos[np.arange(self.PROBES), self.probe_ids] = -np.inf  # a probe is not its own neighbour
        self.exact = {p: set(np.argsort(-row, kind="stable")[:K].tolist())
                      for p, row in zip(self.probe_ids, self.cos)}
        #: per op: candidate pairs, verified share, planted-pair recall, ANN recall@K
        self.candidates: list[int] = []
        self.verified_frac: list[float] = []
        self.dedup_recall: list[float] = []
        self.ann_recall: list[float] = []

    # -- ops: run inside the timed call ----------------------------------------

    def dedup(self):
        """Profile, quality gate, MinHash-LSH candidates, shingle-Jaccard
        verification, clusters, one survivor per cluster."""
        docs = self.spark.read.parquet(self.docs_path)
        good = text.text_profile(docs).filter(F.col("quality") >= MIN_QUALITY).select(
            "doc_id", "text"
        )
        pairs = dedup_ops.minhash_lsh_candidates(good, "text", "doc_id", shingle_n=SHINGLE_N)
        scored = dedup_ops.ngram_jaccard(good, pairs, "text", "doc_id", SHINGLE_N).localCheckpoint()
        clusters = dedup_ops.duplicate_clusters(scored.filter(F.col("jaccard") >= MIN_JACCARD))
        drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        kept = good.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id")
        return scored.collect(), [r[0] for r in kept.collect()]

    def ann(self):
        """Spherical k-means centroids, then IVF top-k for the probes."""
        vecs = self.spark.read.parquet(self.vec_path)
        init = vecs.filter(F.col("vec_id").isin(self.init_ids))
        cents, assigned = clustering.kmeans(vecs, init, iters=2)
        book = cents.select(F.col("centroid_id").alias("vec_id"), "embedding")
        top = similarity.ivf_topk(
            vecs, book, F.col("vec_id").isin(self.probe_ids), k=K, nprobe=2
        )
        return (
            assigned.select("vec_id", "centroid_id").collect(),
            top.select("probe_id", "neighbor_id", "cosine").collect(),
        )

    # -- checks ----------------------------------------------------------------

    def dedup_ok(self, out) -> bool:
        scored, kept = out
        exact = all(abs(r.jaccard - jaccard(self.texts[r.id_a], self.texts[r.id_b])) < 1e-12
                    for r in scored)
        found = {(r.id_a, r.id_b) for r in scored if r.jaccard >= MIN_JACCARD}
        self.candidates.append(len(scored))
        self.verified_frac.append(len(found) / max(len(scored), 1))
        self.dedup_recall.append(len(found & self.planted) / len(self.planted))
        want = self.good - {dup for _, dup in found}
        return (exact and found <= self.planted and self.dedup_recall[-1] >= 0.9
                and sorted(kept) == sorted(want))

    def ann_ok(self, out) -> bool:
        assigned, top = out
        cid = np.empty(self.VECTORS, dtype=np.int64)
        for r in assigned:
            cid[r.vec_id] = r.centroid_id
        # every planted cluster is one k-means cluster, and no two share one
        major = [np.bincount(cid[self.label == c]).argmax() for c in range(self.CLUSTERS)]
        purity = float(np.mean(cid == np.array(major)[self.label]))
        got: dict[int, set[int]] = {p: set() for p in self.probe_ids}
        row = {p: i for i, p in enumerate(self.probe_ids)}
        cos_ok = True
        for r in top:
            got[r.probe_id].add(r.neighbor_id)
            cos_ok &= abs(r.cosine - self.cos[row[r.probe_id], r.neighbor_id]) < 1e-9
        self.ann_recall.append(
            float(np.mean([len(got[p] & self.exact[p]) / K for p in self.probe_ids]))
        )
        return (len(assigned) == self.VECTORS and purity >= 0.99
                and len(set(major)) == self.CLUSTERS
                and all(len(g) == K for g in got.values())
                and cos_ok and self.ann_recall[-1] >= 0.9)
