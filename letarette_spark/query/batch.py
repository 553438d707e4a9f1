"""Batch BM25 retrieval: top-k hits for N queries in ONE distributed job.

The reference serves queries one at a time over NATS (searcher.go:86-137);
an offline training-data pipeline instead has thousands-to-millions of
queries to run against the same index (mining hard negatives, building
eval/distillation sets, bulk relevance joins). Driving ``Searcher.search``
in a loop costs one driver round-trip per query; ``search_batch``
expresses the whole batch as a single join plan:

    query terms  ⋈  postings (term-pruned narrow scan, no position arrays)
      → per-(query, phrase) tf            [synonym alternatives summed]
      → per-(query, phrase) df            [window — exact FTS5 table-wide df]
      → per-(query, doc) BM25 sum         [one hash aggregate]
      → per-query top-k                   [row_number window over query_id]

Every shuffle key is prefixed with ``query_id``, so the plan distributes
across queries: 4N executors work 4× the query batch at the same latency.

Semantics vs ``Searcher.search`` (db_search.go:60-96, search_1.sql):

* **single-phrase queries**: rank- and score-identical (tested at 1e-9),
  including colocated-synonym tf summing and the single-word stopword
  drop rule (snowball.c:248-262).
* **multi-phrase queries**: plain conjunction (``mode="and"``, default) or
  disjunction (``mode="or"``). The interactive path's NEAR(15) proximity
  window and participant-filtered tf do NOT apply in batch — a documented
  divergence; route proximity-sensitive queries through ``Searcher``.
* **'-' excludes**: per-query anti-join, same contract as the interactive
  path (both analyze exclude phrases with ``Searcher.analyze_exclude``,
  which skips the stopword rule).
* **multi-word ("quoted") phrases and wildcards** are not batchable
  (they need position arrays / prefix aggregates per query); they raise
  by default or are skipped with ``on_unsupported="skip"``.

Phrase df is computed in-plan over the live postings view BEFORE space
filters and excludes (FTS5 computes idf from table-wide stats the same
way), so results stay exact through delta-segment overlays and deletes —
no reliance on term_stats freshness.

Scale shape: with a driver-side query list the postings scan is
term-pruned (bucket partition dirs + row-group pushdown on the sorted
term column) and reads only the narrow (term, rowid, space, dl, tf0, tf1)
columns — the fat pos0/pos1 arrays are never touched. Above
``MAX_PRUNED_TERMS`` distinct terms (or with a DataFrame of queries) the
plan switches to a full narrow-postings shuffle join on ``term`` — the
correct regime when the batch covers most of the vocabulary anyway.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.query.executor import bm25, bm25_idf
from letarette_spark.query.parser import parse_query, reduce_phrases

# Above this many distinct terms an isin() pruning predicate stops paying
# for itself (the engine's wildcard expansion batches at the same size) —
# switch to the full-scan shuffle join on term.
MAX_PRUNED_TERMS = 4096

_QTERMS_FIELDS = [
    T.StructField("query_id", T.StringType(), False),
    T.StructField("pidx", T.IntegerType(), False),
    T.StructField("exclude", T.BooleanType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("n_inc", T.IntegerType(), False),
]
QTERMS_SCHEMA = T.StructType(_QTERMS_FIELDS)


class UnsupportedBatchQuery(ValueError):
    """Raised for queries that need per-query positional evaluation
    (multi-word phrases, wildcards) — route these through Searcher."""


def _analyze_one(searcher, query_id: str, text: str) -> list[tuple]:
    """Analyze one query into qterms rows; [] when the reduced query is
    empty (the interactive path returns no result then, search_df)."""
    phrases = reduce_phrases(parse_query(text))
    includes = [p for p in phrases if not p.exclude]
    excludes = [p for p in phrases if p.exclude]

    inc_alts = []
    for p in includes:
        alts = searcher.analyze_phrase(p)  # stopword rule applies here
        if not alts:
            continue
        if p.wildcard or len(alts) > 1:
            raise UnsupportedBatchQuery(
                f"query {query_id!r}: phrase {p.text!r} needs positional "
                "evaluation (wildcard or multi-word phrase); use Searcher"
            )
        inc_alts.append(alts[0])
    if not inc_alts:
        return []

    rows: list[tuple] = []
    n_inc = len(inc_alts)
    for i, terms in enumerate(inc_alts):
        for t in terms:
            rows.append((query_id, i, False, t, n_inc))
    pidx = n_inc
    for p in excludes:
        alts = searcher.analyze_exclude(p)
        if not alts:
            continue
        if p.wildcard or len(alts) > 1:
            raise UnsupportedBatchQuery(
                f"query {query_id!r}: exclude phrase {p.text!r} needs "
                "positional evaluation; use Searcher"
            )
        for t in alts[0]:
            rows.append((query_id, pidx, True, t, n_inc))
        pidx += 1
    return rows


def _qterms_from_list(searcher, queries, on_unsupported: str):
    spark = searcher.index.spark
    rows: list[tuple] = []
    for qid, text in queries:
        try:
            rows.append(_analyze_one(searcher, str(qid), text))
        except UnsupportedBatchQuery:
            if on_unsupported == "error":
                raise
            rows.append([])
    flat = [r for q in rows for r in q]
    qterms = spark.createDataFrame(flat, QTERMS_SCHEMA)
    terms = sorted({r[3] for r in flat})
    return qterms, terms


def _qterms_from_df(searcher, queries: DataFrame, on_unsupported: str):
    """Distributed analysis for a (query_id, query) DataFrame — no driver
    collect; the analyzer chain is rebuilt per executor from its config."""
    cfg = searcher.index.analyzer_config
    synonyms = dict(searcher.synonyms or {})
    stopwords = frozenset(searcher.stopwords or ())
    strict = on_unsupported == "error"

    def gen(it):
        import pandas as pd

        from letarette_spark.analysis.tokenizer import Analyzer
        from letarette_spark.query.executor import Searcher as _S

        class _Ctx:  # the Searcher attrs the two analyze methods touch
            pass

        ctx = _Ctx()
        ctx.analyzer = Analyzer(cfg)
        ctx.synonyms = synonyms
        ctx.stopwords = stopwords
        ctx.analyze_exclude = lambda p: _S.analyze_exclude(ctx, p)
        ctx.analyze_phrase = lambda p: _S.analyze_phrase(ctx, p)

        for pdf in it:
            out: list[tuple] = []
            for qid, text in zip(pdf["query_id"], pdf["query"]):
                try:
                    out.extend(_analyze_one(ctx, str(qid), text))
                except UnsupportedBatchQuery:
                    if strict:
                        raise
            yield pd.DataFrame(
                out, columns=[f.name for f in _QTERMS_FIELDS]
            ).astype(
                {"pidx": "int32", "exclude": "bool", "n_inc": "int32"}
            ) if out else pd.DataFrame(
                {f.name: pd.Series(dtype=d) for f, d in zip(
                    _QTERMS_FIELDS,
                    ["object", "int32", "bool", "object", "int32"],
                )}
            )

    return queries.mapInPandas(gen, QTERMS_SCHEMA), None


def search_batch(
    searcher,
    queries,
    *,
    limit: int = 10,
    mode: str = "and",
    spaces: Sequence[str] | None = None,
    on_unsupported: str = "error",
) -> DataFrame:
    """Top-``limit`` BM25 hits for every query in *queries*, one job.

    queries: list[str] (query_id = position), list[(id, str)], or a
    DataFrame with (query_id, query) columns (analysis runs distributed).
    Returns (query_id string, rank int, rowid, space, score) — score is
    the engine's negative-is-better BM25 (executor.py module docstring),
    ordered (score asc, rowid asc) within each query, rank 1-based.
    """
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    if on_unsupported not in ("error", "skip"):
        raise ValueError("on_unsupported must be 'error' or 'skip'")
    limit = max(1, int(limit))

    index = searcher.index
    if isinstance(queries, DataFrame):
        qterms, terms = _qterms_from_df(searcher, queries, on_unsupported)
    else:
        pairs = [
            q if isinstance(q, (tuple, list)) else (i, q)
            for i, q in enumerate(queries)
        ]
        qterms, terms = _qterms_from_list(searcher, pairs, on_unsupported)

    if terms is not None and len(terms) <= MAX_PRUNED_TERMS:
        # narrow, term-pruned scan: bucket partition dirs + term row-group
        # pushdown; position arrays never read
        posts = index.postings_for_terms(terms) if terms else (
            index.postings().filter(F.lit(False))
        )
    else:
        posts = index.postings()
    posts = posts.select("term", "rowid", "space", "dl", "tf0", "tf1")

    tfw_term = (
        F.col("tf0") * float(searcher.w_title)
        + F.col("tf1") * float(searcher.w_body)
    )
    hits = posts.join(
        F.broadcast(qterms) if terms is not None else qterms, "term"
    ).select(
        "query_id", "pidx", "exclude", "n_inc", "rowid", "space", "dl",
        tfw_term.alias("tfw"),
    )

    # per-(query, phrase, doc) tf: colocated-synonym alternatives sum
    # (positions are disjoint, so the sum equals the merged-positions
    # count — the interactive narrow read sums them the same way)
    ph = hits.groupBy(
        "query_id", "pidx", "exclude", "n_inc", "rowid", "space", "dl"
    ).agg(F.sum("tfw").alias("tfw"))

    # exact FTS5 phrase df: docs matching the phrase anywhere in the index,
    # computed BEFORE space filters / excludes (table-wide stats)
    ph = ph.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("query_id", "pidx"))
    )

    excl = ph.filter(F.col("exclude")).select("query_id", "rowid").distinct()
    inc = ph.filter(~F.col("exclude"))
    if spaces:
        inc = inc.filter(F.col("space").isin(list(spaces)))

    contrib = bm25(
        bm25_idf(F.col("df"), searcher.ndocs), F.col("tfw"), F.col("dl"),
        searcher.avgdl,
    )

    docs = inc.groupBy("query_id", "rowid").agg(
        F.first("space").alias("space"),
        F.first("n_inc").alias("n_inc"),
        F.sum(contrib).alias("pos_score"),
        F.count(F.lit(1)).alias("nph"),
    )
    if mode == "and":
        docs = docs.filter(F.col("nph") == F.col("n_inc"))
    docs = docs.join(excl, ["query_id", "rowid"], "left_anti")

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("rowid").asc()
    )
    out = (
        docs.select(
            "query_id", "rowid", "space",
            (-F.col("pos_score")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "rank", "rowid", "space", "score")
    )
    return out
