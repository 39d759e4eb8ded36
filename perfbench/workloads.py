"""The benchmark workloads: each drives the engine only through its
public functions, on inputs generated from the seed.

A workload has a *batch* step (the heavy pipeline a user runs once per
model or corpus) and a *query* step (the cheap call a client repeats
against its output). One measured pass is one batch step followed by
``queries_per_pass`` queries and the workload's ``extras``. Every call
goes through the engine's module attributes, so an installed tracer
sees it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import datagen

from propius_spark import operators as ops
from propius_spark import serving, session, sources

K_SIGMA = 2.0
N_BUCKETS = 16
TOP_K = 10
TEXT = dict(k=3, num_perm=16, bands=4, threshold=0.5)
EMBED_THRESHOLD = 0.95
LSH = dict(n_planes=24, n_bands=4, seed=1)
EMBED_DIM = 64


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _release(spark) -> None:
    """Drop the pass's materialized tables and collect the JVM heap, so
    the garbage of one step does not land in the next step's timing."""
    session.clear_materialized(spark)
    spark.sparkContext._jvm.System.gc()


def _unless(ok: bool, what: str) -> list[str]:
    return [] if ok else [f"{what} differs from the store"]


class BuildServe:
    """The paper's two users on one Zipf event log: a model builder
    (``publish_model``: cells → Gram self-join → Pearson → mean + k·σ
    cut → min-max scaling → bucketed parquet) and a client looking up
    similar items in the published store."""

    name = "build_serve"
    queries_per_pass = 8

    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        self.log = datagen.event_log(datagen.rng_for(seed, "events"), 5000, 15000)
        self.events_path = os.path.join(workdir, "events.parquet")
        self.dict_path = os.path.join(workdir, "dictionary.parquet")
        datagen.write_events(self.log, self.events_path, self.dict_path)
        rng = datagen.rng_for(seed, "requests")
        self.lookup_ids = datagen.zipf_requests(rng, self.log.dict_id, 4000).tolist()
        self.batch_ids = rng.choice(self.log.dict_id, 1000, replace=False).tolist()
        words = sorted({t.split()[0] for t in self.log.dict_title})
        self.terms = [words[i] for i in rng.integers(0, len(words), 64)]
        self.oracle = checks.PearsonRows(self.log.reference_id, self.log.item_id)
        srng = datagen.rng_for(seed, "sample")
        popular = np.argsort(-self.oracle.s)[:50]
        pool = self.oracle.items[[i for i in popular if self.oracle.valid[i]]]
        valid = self.oracle.items[self.oracle.valid]
        sample = set(srng.choice(pool, 8, replace=False).tolist())
        sample |= set(srng.choice(valid, 12, replace=False).tolist())
        self.expected = {a: self.oracle.expected(a, K_SIGMA) for a in sorted(sample)}
        self.found = self.wanted = 0
        self.store = os.path.join(workdir, "store")
        self.answers = None
        self.n_batches = 0

    # ----------------------------------------------------------- set-up

    def prepare(self, spark) -> None:
        """First set-up only: publish the store the queries read, then
        build once more, because the build's planning code is still
        compiling in the JVM after the first one."""
        occ = sources.load_occurrences(spark, self.events_path)
        ops.publish_model(
            occ, spark.read.parquet(self.dict_path), self.store,
            k_sigma=K_SIGMA, n_buckets=N_BUCKETS,
        )
        _release(spark)
        self.open(spark)
        self.warm = self.build()
        self.release()

    def verify_prepared(self) -> list[str]:
        self.answers = checks.StoreAnswers(
            pd.read_parquet(os.path.join(self.store, "similar_items"))[
                ["item_a_id", "item_b_id", "scaled_score"]
            ],
            pd.read_parquet(os.path.join(self.store, "correlated_items")),
        )
        return self.check_batch(self.store) + self.check_batch(self.warm)

    def open(self, spark) -> None:
        self.spark = spark
        self.occ = sources.load_occurrences(spark, self.events_path)
        self.dictionary = spark.read.parquet(self.dict_path)
        self.si = spark.read.parquet(os.path.join(self.store, "similar_items"))
        self.ci = spark.read.parquet(os.path.join(self.store, "correlated_items"))

    def warm_up(self, spark) -> None:
        pass

    # ------------------------------------------------------------ steps

    def steps(self):
        """(name, run, check) of the pass's batch stage."""
        return [("build", self.build, self.check_batch)]

    def build(self):
        out = os.path.join(self.workdir, f"build{self.n_batches % 2}")
        self.n_batches += 1
        ops.publish_model(
            self.occ, self.dictionary, out, k_sigma=K_SIGMA, n_buckets=N_BUCKETS
        )
        self.last_store = out
        return out

    def release(self) -> None:
        _release(self.spark)

    def check_batch(self, out: str) -> list[str]:
        published = pq.read_table(
            os.path.join(out, "similar_items"),
            columns=["item_a_id", "item_b_id", "scaled_score"],
            filters=[("item_a_id", "in", list(self.expected))],
        ).to_pandas()
        found, wanted, errors = checks.check_published(published, self.expected)
        self.found += found
        self.wanted += wanted
        return errors

    def query(self, i: int):
        item = int(self.lookup_ids[i % len(self.lookup_ids)])
        return item, _rows(
            serving.retrieve_similar_items(
                self.si, self.ci, item, limit=TOP_K, n_buckets=N_BUCKETS
            )
        )

    def check_query(self, out) -> list[str]:
        item, rows = out
        return _unless(
            checks.same_rows(rows, self.answers.similar(item, TOP_K)),
            f"retrieve_similar_items({item})",
        )

    def extras(self, p: int) -> list[tuple[str, object, object]]:
        """(name, call, check) for the other serving calls of pass ``p``;
        the 1,000-id batch lookup runs on the first pass of a run."""
        item = int(self.lookup_ids[(7 * p + 3) % len(self.lookup_ids)])
        term = self.terms[p % len(self.terms)]
        a = self.answers
        calls = [
            ("info", lambda: _rows(serving.get_item_info(self.ci, item)),
             lambda r: _unless(checks.same_rows(r, a.info(item)), f"get_item_info({item})")),
            ("search",
             lambda: _rows(serving.search_items_by_name(self.ci, term, limit=TOP_K)),
             lambda r: _unless(checks.same_rows(r, a.search(term, TOP_K)), f"search({term!r})")),
            ("stats", lambda: _rows(serving.get_database_stats(self.si, self.ci))[0],
             lambda r: _unless(checks.stats_match(r, a.stats()), "get_database_stats")),
        ]
        if p == 0:
            calls.append((
                "batch_lookup",
                lambda: sorted(_rows(serving.retrieve_similar_batch(
                    self.si, self.ci, self.batch_ids, k=TOP_K, n_buckets=N_BUCKETS))),
                lambda r: _unless(
                    checks.same_rows(r, sorted(a.batch(self.batch_ids, TOP_K))),
                    "retrieve_similar_batch"),
            ))
        return calls

    def recall(self) -> float:
        return self.found / self.wanted if self.wanted else 1.0


class NearDup:
    """Training-data dedup: MinHash-LSH text near-duplicates and
    hyperplane-LSH embedding near-duplicates, each resolved into
    clusters and keepers; the query is an exact top-k cosine lookup of
    one stored vector."""

    name = "near_dup"
    queries_per_pass = 4

    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        self.corpus = datagen.corpus(datagen.rng_for(seed, "docs"), 1500)
        self.emb = datagen.embeddings(datagen.rng_for(seed, "embeddings"), 2000, dim=EMBED_DIM)
        self.docs_path = os.path.join(workdir, "docs.parquet")
        self.emb_path = os.path.join(workdir, "embeddings.parquet")
        datagen.write_corpus(self.corpus, self.docs_path)
        datagen.write_embeddings(self.emb, self.emb_path)
        rng = datagen.rng_for(seed, "requests")
        self.query_ids = datagen.zipf_requests(rng, self.emb.vec_id, 2000).tolist()
        self.ref = None

    def prepare(self, spark) -> None:
        """First set-up only: one pass whose pairs are kept, so the
        reference keeper tables can be verified from first principles."""
        self._read(spark)
        # the pairs are cached here only, so reading them back for the
        # checks does not run the LSH stage a second time
        text_pairs = self._text_pairs().persist()
        text = self._resolve(self.docs, text_pairs, "doc_id", "doc_a", "doc_b")
        self._text_pairs_pd = text_pairs.toPandas()
        self.release()
        emb_pairs = self._emb_pairs().persist()
        embed = self._resolve(self.embs, emb_pairs, "vec_id", "vec_a", "vec_b")
        self._emb_pairs_pd = emb_pairs.toPandas()
        self.release()
        self.ref = (text, embed)

    def verify_prepared(self) -> list[str]:
        text, embed = self.ref
        errors = []
        sh = {
            int(i): checks.shingle_set(t, TEXT["k"])
            for i, t in zip(self.corpus.doc_id, self.corpus.text)
        }
        tp = self._text_pairs_pd
        for a, b, j in tp[["doc_a", "doc_b", "jaccard"]].itertuples(index=False):
            want = checks.jaccard(sh[a], sh[b])
            if want < TEXT["threshold"] or abs(j - want) > 1e-9:
                errors.append(f"text pair ({a}, {b}) jaccard {j} vs {want}")
        ids = self.corpus.doc_id
        errors += checks.check_clusters(text, ids, tp[["doc_a", "doc_b"]].to_numpy())
        vec = dict(zip(self.emb.vec_id.tolist(), self.emb.vectors))
        ep = self._emb_pairs_pd
        for a, b, c in ep[["vec_a", "vec_b", "cosine"]].itertuples(index=False):
            want = float(vec[a] @ vec[b])
            if want < EMBED_THRESHOLD - 1e-9 or abs(c - want) > 1e-9:
                errors.append(f"embedding pair ({a}, {b}) cosine {c} vs {want}")
        errors += checks.check_clusters(
            embed, self.emb.vec_id, ep[["vec_a", "vec_b"]].to_numpy()
        )
        # planted pairs at or above the threshold by definition
        text_planted = [
            (a, b) for a, b in self.corpus.planted
            if checks.jaccard(sh[a], sh[b]) >= TEXT["threshold"]
        ]
        embed_planted = [
            (a, b) for a, b in self.emb.planted
            if float(vec[a] @ vec[b]) >= EMBED_THRESHOLD
        ]
        self.recalls = {
            "text_dedup_recall": checks.recall(
                dict(zip(text.doc_id, text.cluster_id)), text_planted
            ),
            "embed_dedup_recall": checks.recall(
                dict(zip(embed.doc_id, embed.cluster_id)), embed_planted
            ),
        }
        self.planted = (len(text_planted), len(embed_planted))
        return errors[:20]

    def _read(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.embs = spark.read.parquet(self.emb_path)

    def open(self, spark) -> None:
        self._read(spark)

    def warm_up(self, spark) -> None:
        """After the last set-up: start one Python worker per core, so
        the embedding kernel's first measured batch does not pay for
        worker start-up."""
        n = spark.sparkContext.defaultParallelism
        spark.range(4 * n, numPartitions=n).withColumn("g", F.col("id") % n).groupBy(
            "g"
        ).applyInPandas(lambda pdf: pdf, "id long, g long").collect()

    def _text_pairs(self):
        return ops.minhash_lsh_pairs(self.docs, **TEXT)

    def _emb_pairs(self):
        buckets = ops.hyperplane_lsh_buckets(self.embs, dim=EMBED_DIM, **LSH)
        return ops.embedding_dup_pairs(
            self.embs, threshold=EMBED_THRESHOLD, candidates=buckets
        )

    def _resolve(self, df, pairs, id_col, src, dst) -> pd.DataFrame:
        out = ops.resolve_duplicates(df, pairs, id_col=id_col, src=src, dst=dst)
        return out.toPandas().sort_values("doc_id", ignore_index=True)

    # ------------------------------------------------------------ steps

    def steps(self):
        return [
            ("text_dedup", self.text_step, lambda got: self.check_step(0, got)),
            ("embed_dedup", self.embed_step, lambda got: self.check_step(1, got)),
        ]

    def extras(self, p: int):
        return []

    def text_step(self) -> pd.DataFrame:
        return self._resolve(self.docs, self._text_pairs(), "doc_id", "doc_a", "doc_b")

    def embed_step(self) -> pd.DataFrame:
        return self._resolve(self.embs, self._emb_pairs(), "vec_id", "vec_a", "vec_b")

    def release(self) -> None:
        _release(self.spark)

    def check_step(self, which: int, got: pd.DataFrame) -> list[str]:
        want = self.ref[which]
        if got.equals(want):
            return []
        return [f"{('text', 'embedding')[which]} keeper table differs from the verified pass"]

    def query(self, i: int):
        qid = int(self.query_ids[i % len(self.query_ids)])
        return qid, _rows(ops.cosine_topk(self.embs, qid, k=TOP_K))

    def check_query(self, out) -> list[str]:
        qid, rows = out
        want = checks.cosine_topk(self.emb.vectors, self.emb.vec_id, qid, TOP_K)
        if checks.same_rows(rows, want):
            return []
        return [f"cosine_topk({qid}) differs from the NumPy reference"]

    def recall(self) -> float:
        """Planted pairs found, pooled over both corpora."""
        nt, ne = self.planted
        r = self.recalls
        return (r["text_dedup_recall"] * nt + r["embed_dedup_recall"] * ne) / (nt + ne)


WORKLOADS = {w.name: w for w in (BuildServe, NearDup)}
