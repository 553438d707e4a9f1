"""Block-max WAND top-k over varbyte posting blocks.

Classic block-max WAND walks per-term cursors sequentially — a shape Spark
can't express. This is the Spark-native exact adaptation: a two-round
prune-then-verify plan.

  round 1 (seed): decode each query term's few highest-upper-bound blocks,
      sum the decoded contributions per doc -> achievable LOWER bounds;
      theta = k-th best lower bound.
  round 2 (prune): a block (t, b) can influence the final top-k only if
      ub(t, b) + sum over other terms of their global max block ub >= theta
      — every other block is skipped without decoding.
  verify: exact scores for the candidate docs come from the row postings
      (term-pruned scan + rowid join), so the result is EXACT: any doc
      outside the candidate set has score upper bound < theta <= k-th best.

Upper bound per block: bm25(idf_t, w0*tf0_max + w1*tf1_max, dl_min) — the
BM25 contribution is increasing in tf and decreasing in dl, so block-max
tf with block-min dl bounds every doc in the block. Scoring goes through
the executor's ``bm25``/``bm25_idf``, the same expressions every other
path uses.

Property-tested equal to exhaustive scoring in tests/test_wand.py; the
Searcher routes eligible single-term queries through this path, so the
FTS5 rank-identity suite exercises it too.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.index.blocks import blocks_df
from letarette_spark.index.builder import BODY_WEIGHT, TITLE_WEIGHT, Index
from letarette_spark.index.varbyte import decode_ints, decode_rowids
from letarette_spark.query.executor import bm25, bm25_idf

_DECODED = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("rowid", T.LongType(), False),
        T.StructField("tf0", T.IntegerType(), False),
        T.StructField("tf1", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def _decode(blocks: DataFrame) -> DataFrame:
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                rowids = decode_rowids(r.rowids)
                frames.append(
                    pd.DataFrame(
                        {
                            "term": r.term,
                            "rowid": rowids,
                            "tf0": decode_ints(r.tf0s).astype(np.int32),
                            "tf1": decode_ints(r.tf1s).astype(np.int32),
                            "dl": decode_ints(r.dls).astype(np.int32),
                        }
                    )
                )
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(
                    {
                        "term": pd.Series(dtype=object),
                        "rowid": pd.Series(dtype=np.int64),
                        "tf0": pd.Series(dtype=np.int32),
                        "tf1": pd.Series(dtype=np.int32),
                        "dl": pd.Series(dtype=np.int32),
                    }
                )
            )

    return blocks.mapInPandas(dec, schema=_DECODED)


def _term_idf(
    index: Index, terms: list[str], mode: str
) -> tuple[list[str], Column] | None:
    """The query terms with hits, and their idf as a Column over the row's
    ``term``; None when the query can have no hits (an AND over a missing
    term)."""
    stats = {
        r["term"]: int(r["df"])
        for r in index.term_stats().filter(F.col("term").isin(terms)).collect()
        if r["df"]
    }
    if not stats or (mode == "and" and len(stats) < len(terms)):
        return None
    live_terms = sorted(stats)
    n = F.create_map(
        *[x for t in live_terms for x in (F.lit(t), F.lit(stats[t]))]
    )[F.col("term")]
    return live_terms, bm25_idf(n, int(index.meta["ndocs"]))


def exhaustive_topk(
    index: Index,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    w_title: float = TITLE_WEIGHT,
    w_body: float = BODY_WEIGHT,
) -> DataFrame:
    """Exact bag-of-words BM25 top-k straight from the row postings
    (bucket-pruned term scan + one groupBy) — no blocks required, so it
    also serves indexes with pending delta segments. Same contract and
    scoring as wand_topk; WAND is strictly a pruning optimization."""
    spark = index.spark
    terms = sorted(set(terms))
    ndocs = int(index.meta["ndocs"])
    avgdl = float(index.meta["sum_dl"]) / ndocs if ndocs else 1.0
    live = _term_idf(index, terms, mode)
    if live is None:
        return spark.createDataFrame([], "rowid long, space string, score double")
    live_terms, idf = live
    contrib = bm25(idf, F.col("tf0") * w_title + F.col("tf1") * w_body, F.col("dl"), avgdl)
    exact = (
        index.postings_for_terms(live_terms)
        .select("rowid", "space", contrib.alias("c"), F.lit(1).alias("one"))
        .groupBy("rowid")
        .agg(
            F.first("space").alias("space"),
            F.sum("c").alias("score"),
            F.count("one").alias("nterms"),
        )
    )
    if mode == "and":
        exact = exact.filter(F.col("nterms") == len(live_terms))
    return (
        exact.select("rowid", "space", (-F.col("score")).alias("score"))
        .orderBy("score", "rowid")
        .limit(k)
    )


def wand_topk(
    index: Index,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    w_title: float = TITLE_WEIGHT,
    w_body: float = BODY_WEIGHT,
) -> DataFrame:
    """Exact BM25 top-k (rowid, score — FTS5 negative/ascending convention)
    for a bag of terms, decoding only score-relevant blocks.

    mode='or': docs matching any term; mode='and': docs matching all."""
    spark = index.spark
    terms = sorted(set(terms))
    ndocs = int(index.meta["ndocs"])
    avgdl = float(index.meta["sum_dl"]) / ndocs if ndocs else 1.0

    live = _term_idf(index, terms, mode)
    if live is None:
        return spark.createDataFrame([], "rowid long, space string, score double")
    live_terms, idf = live

    meta = (
        blocks_df(index)
        .filter(F.col("term").isin(live_terms))
        .withColumn("tfw_max", F.col("tf0_max") * w_title + F.col("tf1_max") * w_body)
        .withColumn("ub", bm25(idf, F.col("tfw_max"), F.col("dl_min"), avgdl))
        .cache()
    )

    # global max block-ub per term (tiny)
    gmax = {
        r["term"]: r["m"]
        for r in meta.groupBy("term").agg(F.max("ub").alias("m")).collect()
    }
    gsum = sum(gmax.values())

    # ---- round 1: seed theta from the top blocks of each term ----
    from pyspark.sql import Window

    w = Window.partitionBy("term").orderBy(F.desc("ub"), F.asc("min_rowid"))
    block_size = int(index.meta.get("blocks", {}).get("block_size", 128))
    seed_blocks = meta.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= max(1, -(-k // block_size) + 1)
    )
    seeded = _decode(seed_blocks)
    contrib = bm25(idf, F.col("tf0") * w_title + F.col("tf1") * w_body, F.col("dl"), avgdl)
    seed_scores = seeded.select("term", "rowid", contrib.alias("c"), F.lit(1).alias("one"))
    agg = seed_scores.groupBy("rowid").agg(
        F.sum("c").alias("lb"), F.count("one").alias("nterms")
    )
    if mode == "and":
        agg = agg.filter(F.col("nterms") == len(live_terms))
    top_seed = agg.orderBy(F.desc("lb")).limit(k).collect()
    theta = top_seed[k - 1]["lb"] if len(top_seed) >= k else float("-inf")

    # ---- round 2: decode only blocks that can still matter ----
    # ub(t,b) + sum_{t'!=t} gmax(t') >= theta  <=>  ub + (gsum - gmax(t)) >= theta
    gmax_col = F.create_map(
        *[x for t in live_terms for x in (F.lit(t), F.lit(gmax[t]))]
    )[F.col("term")]
    sel = meta.filter(F.col("ub") + (F.lit(gsum) - gmax_col) >= F.lit(theta))
    cand = _decode(sel).select("rowid").distinct()

    # ---- verify: exact scores from row postings for candidates ----
    post = (
        index.postings_for_terms(live_terms)
        .join(cand, "rowid", "inner")
        .select("term", "rowid", "space", "tf0", "tf1", "dl")
    )
    exact = post.select(
        "rowid", "space", contrib.alias("c"), F.lit(1).alias("one")
    ).groupBy("rowid").agg(
        F.first("space").alias("space"),
        F.sum("c").alias("score"),
        F.count("one").alias("nterms"),
    )
    if mode == "and":
        exact = exact.filter(F.col("nterms") == len(live_terms))
    out = (
        exact.select("rowid", "space", (-F.col("score")).alias("score"))
        .orderBy("score", "rowid")
        .limit(k)
    )
    meta.unpersist()
    return out
