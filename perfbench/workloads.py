"""The benchmark's workloads, as lists of requests.

A request is one public call into a package layer plus the action that
consumes its result through the noop sink.  Two workloads split the
package's traffic by what bounds it:

- ``fixpoint``: the iterative graph jobs — HITS (k=8) over the warm
  ``g_pp`` graph (``ranking``), connected components (``components``)
  and multi-source BFS (``graphalgs``).  Each round of these loops is
  one or more short Spark jobs, so job count and driver gaps set their
  time; a superstep-harness or memo change moves this workload.
- ``relational``: the non-iterative traffic — thirteen declared
  relational rows (``relops``), the batch MinHash-LSH dedup row
  (``dedup``, Python UDF time) and a day-2 crawl ingest through the
  streaming layer (``streaming``, micro-batch and state store) running
  the same MinHash logic.  No loop here runs through an iteration
  harness, so a harness change should leave it unchanged, and per-job
  or per-plan overhead shows here first.

A cycle runs each distinct request once.  The workload seed fixes the
request order within each cycle and the BFS seed set (the parts whose
key falls in one residue class mod 97); the package only ever receives
these generated inputs.

Each request carries what its output is checked against: DuckDB SQL
built by the package's own oracle builders with the call's parameters,
or, for the stream, the batch operator's result on the same inputs.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigdata_hits_spark import queries as Q
from bigdata_hits_spark import queries_graph as QG
from bigdata_hits_spark import queries_postgate as QP
from bigdata_hits_spark.operators import components, dedup, graphalgs, ranking
from bigdata_hits_spark.oracles import ranking_oracle
from bigdata_hits_spark.sources import derived
from bigdata_hits_spark.sources.readers import load_table
from bigdata_hits_spark.streaming.jobs import incremental_dedup_stream

K_RANK = 8  # the reference's default iteration count
BFS_MOD = 97

#: The declared relational rows but the three slowest to warm up and
#: check (join_leftsemi_or, composite_order_revenue_topk,
#: setop_union_intersect_except), for which the run budget has no room.
RELATIONAL_ROWS = (
    "scan_project", "filter_conditional_flag", "join_inner", "join_leftsemi_and",
    "anti_join_idle_customers", "groupby_degrees", "grand_agg_l2", "scalar_normalize",
    "sort_and_topk", "rename_chain", "window_topn_per_group", "rollup_revenue",
    "composite_nation_volume",
)
DEDUP_ROW = "dedup_minhash_lsh"
STREAM_NAME = "streaming_incremental_dedup"

#: Tables each workload reads.
INPUTS = {
    "fixpoint": ("lineitem", "part"),
    "relational": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                   "documents"),
}
WORKLOADS = tuple(INPUTS)


@dataclass(frozen=True)
class Request:
    name: str
    layer: str  # package module the call goes into
    call: Callable[[], object]  # the public call; returns a DataFrame or RankResult
    oracle: str | Callable[[], DataFrame] | None  # DuckDB SQL, or the expected frame
    before: Callable[[], None] | None = None  # untimed input staging
    eager: bool = False  # the call itself runs the algorithm's Spark jobs


def as_frame(out) -> DataFrame:
    """The frame a request's result is consumed as: hubs ∪ auths for a
    ranking result (scores rounded like the declared rows), the frame
    itself otherwise."""
    if isinstance(out, ranking.RankResult):
        return Q.rank_union(out)
    return out


def returned_frames(out) -> list[DataFrame]:
    """The frames a call returned (a ranking result's two vectors)."""
    if isinstance(out, ranking.RankResult):
        return [out.hubs, out.auths]
    return [out]


def bfs_residue(seed: int) -> int:
    """The BFS seed set of ``seed``: parts whose key is this mod BFS_MOD."""
    return random.Random(seed).randrange(BFS_MOD)


def cycle(requests: list[Request], seed: int) -> list[Request]:
    """One cycle: each distinct request once, in the seed's order."""
    out = list(requests)
    random.Random(seed ^ 0x5EED).shuffle(out)
    return out


def _fixpoint(spark: SparkSession, data: str, residue: int) -> list[Request]:
    gpp = derived.g_pp(spark, data)
    sym = QG._sym(gpp)
    pp = dict(edges_sql=derived.G_PP_EDGES_SQL, nodes_sql=derived.G_PP_NODES_SQL)
    cc_pairs = gpp.edges.filter(F.col("weight") <= QG.CC_MAX_WEIGHT).select(
        F.col("src").alias("id1"), F.col("dst").alias("id2"))
    seeds = load_table(spark, data, "part").filter(
        F.col("p_partkey") % BFS_MOD == residue
    ).select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
    bfs_sql = QP._bfs_sql().replace(
        f"p_partkey % {QP.BFS_SEED_MOD} = 0", f"p_partkey % {BFS_MOD} = {residue}")
    if QP.BFS_SEED_MOD != BFS_MOD or f"% {BFS_MOD} = {residue}" not in bfs_sql:
        raise RuntimeError("the BFS oracle's seed predicate changed; update the rewrite above")
    return [
        Request("hits", "ranking", lambda: ranking.hits(gpp, K_RANK),
                ranking_oracle(**pp, family="hits", k=K_RANK), eager=True),
        Request("connected_components", "components",
                lambda: components.connected_components(cc_pairs), QG._components_sql(),
                eager=True),
        Request("bfs_distances", "graphalgs",
                lambda: graphalgs.bfs_distances(gpp.edges, seeds, max_depth=QP.BFS_DEPTH, sym=sym)
                .select("id", F.col("dist").cast("long").alias("dist")),
                bfs_sql),
    ]


def _relational(spark: SparkSession, data: str, work: str) -> list[Request]:
    fns, oracles = Q.queries(), Q.oracle_sql()

    def row(name, layer):
        return Request(name, layer, lambda: fns[name](spark, data), oracles[name])

    return [row(n, "relops") for n in RELATIONAL_ROWS] + [
        row(DEDUP_ROW, "dedup"), _stream_dedup(spark, data, work)]


def _stream_dedup(spark: SparkSession, data: str, work: str) -> Request:
    """Day-2 crawl ingest through the streaming layer: the odd-id half of
    the corpus arrives as one micro-batch (one file) and is deduped by
    ``incremental_dedup_stream`` against a signature store that already
    holds the even half's MinHash signatures (state read), appending its
    own survivors and signatures (state write).  Set-up stages the new
    half and the seeded store; each request streams into a fresh copy of
    the store.  The expected survivors are the batch operator's
    (``minhash_dedup_incremental``) on the same inputs, the equivalence
    the declared ``streaming_incremental_dedup`` row asserts in-query.
    """
    docs = load_table(spark, data, "documents").select("doc_id", "text", "source")
    root = os.path.join(work, "stream")
    shutil.rmtree(root, ignore_errors=True)
    src, store0, run = (os.path.join(root, d) for d in ("new", "store0", "run"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src)
    dedup.minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0)).write.parquet(store0)

    def before():
        shutil.rmtree(run, ignore_errors=True)
        shutil.copytree(store0, os.path.join(run, "store"))

    def call():
        stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
        incremental_dedup_stream(
            stream, os.path.join(run, "store"), os.path.join(run, "out"),
            checkpoint=os.path.join(run, "ckpt"),
        ).awaitTermination()
        return _survivors(spark.read.parquet(os.path.join(run, "out")))

    def expected():
        survivors, _ = dedup.minhash_dedup_incremental(
            spark.read.parquet(src), spark.read.parquet(store0))
        return _survivors(survivors)

    return Request(STREAM_NAME, "streaming", call, expected, before, eager=True)


def _survivors(df: DataFrame) -> DataFrame:
    return df.select("doc_id", "source", F.length("text").alias("n_chars"))


def build(workload: str, spark: SparkSession, data: str, seed: int, work: str) -> list[Request]:
    """The distinct requests of ``workload``.  Builds what they share
    (graphs, pinned graph-side relations, staged stream input and
    state) — set-up work."""
    if workload == "fixpoint":
        return _fixpoint(spark, data, bfs_residue(seed))
    if workload == "relational":
        return _relational(spark, data, work)
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
