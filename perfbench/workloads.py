"""The benchmark workloads: each drives the library's public entry points.

A workload builds its inputs from the seed (``generate``), loads them and
any base state into Spark (``prepare``), then runs one closed-loop operation
per ``run_pass`` call and hands the result to ``check``.  Only ``run_pass``
is timed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from perfbench import gen
from perfbench.check import Verdict, groups_of, score

from vid_dup_finder_lib_spark import api
from vid_dup_finder_lib_spark.config import SigConfig
from vid_dup_finder_lib_spark.operators.signatures import build_signatures
from vid_dup_finder_lib_spark.plans import pipeline
from vid_dup_finder_lib_spark.plans.sigstore import PartitionedSignatureStore

_DOCS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("text", T.StringType(), False),
])
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _docs_df(spark: SparkSession, ids: list[str], texts: list[str], partitions: int):
    rows = [(i, _EPOCH, t) for i, t in zip(ids, texts)]
    return spark.createDataFrame(rows, _DOCS).repartition(partitions)


def _pairs_df(spark: SparkSession, pairs: list[tuple[str, str]]):
    return spark.createDataFrame(pairs, "id1 string, id2 string").localCheckpoint(eager=True)


class TokenSearch:
    """Batch dedup of a token corpus through the checkpointed pipeline:
    signatures -> LSH -> verify -> match-DB filters -> matchset groups."""

    name = "token_search"
    # 64 bands x 2 rows: two members of a cluster differ in up to 16 of
    # >= 250 positions, and each differing token breaks up to 3 shingles, so
    # their shingle Jaccard can be as low as ~0.67.  A pair then misses all
    # 64 bands with chance ~1e-17; under the library's default 32 x 4 it is
    # ~5e-4, and seed 803 lost a planted pair that way
    cfg = SigConfig(lsh_bands=64)
    # the pipeline's default of 64 sizes buckets for large corpora; at this
    # input size 8 keeps files per bucket near one
    signature_buckets = 8
    sizes = {"full": (100, 200), "tiny": (30, 60)}
    # pass 0 takes ~2x as long as pass 1, which is still ~10 % slower than
    # pass 2, and so on for several passes; settling fully takes more passes
    # than the run budget allows, so every run times the same two pass
    # indices (see the README)
    warmup = 1
    cycle = 1  # passes in the repeating unit

    def __init__(self, spark: SparkSession, seed: int, tmp: str, size: str = "full"):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.n_clusters, self.n_singletons = self.sizes[size]
        self.partitions = spark.sparkContext.defaultParallelism * 2
        self.root: str | None = None

    def generate(self) -> gen.SearchCorpus:
        return gen.search_corpus(self.seed, self.n_clusters, self.n_singletons)

    def prepare(self, corpus: gen.SearchCorpus) -> None:
        self.corpus = corpus
        self.docs = _docs_df(self.spark, corpus.ids, corpus.texts, self.partitions).localCheckpoint(eager=True)
        self.falsepos = _pairs_df(self.spark, corpus.falsepos)
        self.confirmed = _pairs_df(self.spark, corpus.confirmed)
        self.items = len(corpus.ids)

    def run_pass(self, i: int):
        self.root = os.path.join(self.tmp, f"ckpt-{i}")
        res = pipeline.run_dedup_pipeline(
            self.spark, self.docs, self.root, tolerance=gen.TOLERANCE, cfg=self.cfg,
            grouping="matchset", falsepos=self.falsepos, confirmed=self.confirmed,
            force=True, signature_buckets=self.signature_buckets,
        )
        return res.groups.select("cluster_id", "id").collect()

    def check(self, rows) -> Verdict:
        return score(groups_of((r[0], r[1]) for r in rows), self.corpus.groups)

    def store_dirs(self) -> dict[str, tuple[str, str | None]]:
        store = os.path.join(self.root, "signatures")
        return {"sigstore": (store, None), "checkpoint": (self.root, store)}

    def after_pass(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class FoldBatches:
    """Incremental upkeep of a persisted clustering: alternating
    ``api.search_incremental`` (new docs, near-dups, bridges) and
    ``api.search_delete`` (takedowns) folds against one signature store.
    A pass is one fold; passes alternate add and delete, starting with an
    add."""

    name = "fold_batches"
    # 64 bands x 2 rows: a bridge differs from each twin's members in up to
    # 48 positions.  Over seeds 0-39, 32 x 4 missed 1,039 of 3,149 such
    # pairs (and 239 of 1,272 twin sides entirely); 64 x 2 missed none
    cfg = SigConfig(lsh_bands=64)
    sizes = {"full": (150, 20, 150, 40), "tiny": (20, 4, 20, 8)}
    # one add, so the timed passes are a delete and an add; like
    # token_search's, they are still speeding up as the JVM warms
    warmup = 1
    cycle = 2  # one add, one delete

    def __init__(self, spark: SparkSession, seed: int, tmp: str, size: str = "full"):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.n_clusters, self.n_twins, self.n_singletons, self.batch = self.sizes[size]
        self.partitions = spark.sparkContext.defaultParallelism * 2
        self.items = self.batch

    def generate(self) -> gen.FoldStream:
        return gen.FoldStream(self.seed, self.n_clusters, self.n_twins,
                              self.n_singletons, self.batch)

    def prepare(self, stream: gen.FoldStream) -> None:
        self.stream = stream
        self.store_root = os.path.join(self.tmp, "store")
        shutil.rmtree(self.store_root, ignore_errors=True)
        docs = _docs_df(self.spark, stream.base_ids, stream.base_texts, self.partitions)
        self.store = PartitionedSignatureStore(self.store_root, self.cfg, num_buckets=16)
        self.store.write_full(
            build_signatures(docs, self.cfg, "url", "text").localCheckpoint(eager=True)
        )
        self.assignment = self.spark.createDataFrame(
            stream.assignment(), "id string, component string"
        ).localCheckpoint(eager=True)

    def run_pass(self, i: int):
        op = self.stream.op(i)
        if op.kind == "add":
            new = _docs_df(self.spark, op.ids, op.texts, self.partitions)
            out = api.search_incremental(
                new, self.store, self.assignment, gen.TOLERANCE, self.cfg
            )
        else:
            dels = self.spark.createDataFrame([(d,) for d in op.ids], "id string")
            out = api.search_delete(
                dels, self.store, self.assignment, gen.TOLERANCE, self.cfg
            )
        self.assignment = out.localCheckpoint(eager=True)
        return self.assignment.collect()

    def check(self, rows) -> Verdict:
        return score(groups_of((r[1], r[0]) for r in rows), self.stream.components())

    def store_dirs(self) -> dict[str, tuple[str, str | None]]:
        return {"sigstore": (self.store_root, None)}

    def after_pass(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (TokenSearch, FoldBatches)}
