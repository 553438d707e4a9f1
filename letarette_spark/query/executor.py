"""BM25 top-k query execution over the inverted index.

Spark-first translation of the reference search path
(/root/reference/internal/letarette/searcher.go:29-132 +
sql/search_1.sql): parse -> reduce -> per-phrase posting retrieval ->
NEAR/NOT evaluation -> BM25 scoring -> global top-k.

Scoring contract (verified empirically against SQLite FTS5's bm25() and
pinned by tests/test_search_rank_identity.py):

    idf_i = ln((N - n_i + 0.5) / (n_i + 0.5)), clamped to 1e-6 when <= 0
    tf_i  = sum_col w_col * instances(phrase i, col)        (weighted)
    dl    = total tokens across columns (UNWEIGHTED)
    avgdl = sum(dl) / N                                      (unweighted)
    score = -sum_i idf_i * tf_i*(k1+1) / (tf_i + k1*(1 - b + b*dl/avgdl))

with k1=1.2, b=0.75, weights title=5.0 body=1.0 (db.go:357-361); ascending
score = best first, ties broken by rowid (FTS5 visits rowids in order).
``bm25_idf`` and ``bm25`` below are the one implementation of these
formulas; the interactive path, ``query/batch.py`` and ``query/wand.py``
all score through them.

NEAR semantics (empirical, matching FTS5): all include phrases must occur
in the SAME column with a selection of one instance per phrase such that
max(start) - min(end) - 1 <= N tokens. tf counts are NOT restricted to
instances inside the NEAR window.

Serving paths: ``Searcher.search_df`` routes a plain single-term query
under the cap through block-max WAND (query/wand.py). Every other query
runs one body: read each include phrase's per-doc rows, then the NEAR
conjunction (two or more phrases), excludes, the space filter, BM25, the
cap and ``total_hits``, and the top-k. Only the read differs: a
single-word, non-wildcard phrase query reads the narrow
(rowid, space, dl, tf0, tf1) posting columns (``_narrow_single_phrase``);
all others read position arrays (``_phrase_hits``).

Scale notes: per-phrase retrieval is a term-predicate scan over the
range-partitioned postings table (file/row-group pruning on `term`);
multi-phrase conjunction is a shuffle join keyed on rowid; the NEAR check
is an Arrow-batched pandas UDF over the (already capped) candidate rows;
scoring is pure JVM column arithmetic (whole-stage codegen); doc metadata
is attached to only the final top-k rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.analysis.tokenizer import Analyzer
from letarette_spark.index.builder import BODY_WEIGHT, TITLE_WEIGHT, Index
from letarette_spark.query.parser import Phrase, parse_query, reduce_phrases

K1 = 1.2
B = 0.75
NEAR_RANGE = 15          # db_search.go:46-50
DEFAULT_CAP = 10000      # config.go:70
MAX_PAGE_LIMIT = 500     # searcher.go:51-52
MAX_PREFIX_EXPANSION = 4096  # wildcard terms resolved via the dictionary


def bm25_idf(n: Column, ndocs: int) -> Column:
    """FTS5's idf of a phrase found in *n* of *ndocs* documents, clamped
    to 1e-6 when <= 0 (common phrases still score, just barely)."""
    raw = F.ln((F.lit(float(ndocs)) - n + 0.5) / (n + 0.5))
    return F.when(raw <= 0.0, F.lit(1e-6)).otherwise(raw)


def bm25(idf: Column, tf: Column, dl: Column, avgdl: float) -> Column:
    """One phrase's BM25 contribution for weighted count *tf* in a document
    of *dl* tokens; positive — callers negate the sum (FTS5 convention)."""
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / F.lit(avgdl)))


@dataclass
class Hit:
    space: str
    doc_id: str
    rowid: int
    score: float
    snippet: str = ""


class SearchTimeout(Exception):
    """The per-query time budget elapsed (reference: 4s default,
    config.go:69; sqlite interrupt -> SearchStatusTimeout,
    searcher.go:107-118)."""


@dataclass
class SearchResult:
    hits: list[Hit]
    total_hits: int
    capped: bool
    respelt: str = ""
    respelt_distance: int = 0
    # mirrors protocol.SearchStatusCode (protocol.go:176-186):
    # index_hit | no_hit | timeout
    status: str = "index_hit"


@dataclass
class Searcher:
    index: Index
    w_title: float = TITLE_WEIGHT
    w_body: float = BODY_WEIGHT
    cap: int = DEFAULT_CAP
    timeout: float | None = None  # seconds per query; reference default 4s
    stopwords: frozenset[str] | None = None     # None -> load from index
    synonyms: dict[str, list[str]] | None = None  # None -> load from index
    # optional result cache (reference: 250MB/10min LRU, config.go:71-72;
    # served hits are marked cache_hit, searcher.go:95-97). Invalidated
    # per-doc by upsert_documents(caches=[...]) like cache.go:183-185.
    cache: "object | None" = None  # letarette_spark.query.cache.ResultCache

    def __post_init__(self):
        from letarette_spark.index.auxiliary import load_stopwords, load_synonyms

        self.analyzer = Analyzer(self.index.analyzer_config)
        self.ndocs = int(self.index.meta["ndocs"])
        self.avgdl = (
            float(self.index.meta["sum_dl"]) / self.ndocs if self.ndocs else 1.0
        )
        if self.stopwords is None:
            self.stopwords = load_stopwords(self.index)
        if self.synonyms is None:
            self.synonyms = load_synonyms(self.index)
        import threading

        self._cached: list[DataFrame] = []
        self._cache_lock = threading.Lock()
        self._tl = threading.local()  # per-thread frame ledger for zombies

    def _evict_cache(self) -> None:
        """Release the previous query's cached phrase-hit frames. Lock:
        a cancelled query's worker thread may still be registering frames
        (see _with_deadline) while the next query evicts."""
        with self._cache_lock:
            old, self._cached = self._cached, []
        for df in old:
            df.unpersist()

    def _remember(self, df: DataFrame) -> None:
        with self._cache_lock:
            self._cached.append(df)
        frames = getattr(self._tl, "frames", None)
        if frames is not None:
            frames.append(df)

    # ------------------------------------------------------------------
    def analyze_phrase(self, p: Phrase) -> list[list[str]]:
        """Query-time analysis of one phrase: per-position term
        alternatives (primary + colocated synonyms). Stopword removal
        applies only to single-word, non-prefix phrases (snowball.c:248-262:
        a space in the phrase or the PREFIX flag disables it)."""
        alts = self.analyze_exclude(p)
        if (
            self.stopwords
            and not p.wildcard
            and " " not in p.text
            and len(alts) == 1
            and alts[0][0] in self.stopwords
        ):
            return []
        return alts

    def analyze_exclude(self, p: Phrase) -> list[list[str]]:
        """Query-time analysis of a '-' exclude phrase: like
        ``analyze_phrase`` but without the stopword rule, so excluding a
        stopword still removes the documents that contain it."""
        return self.analyzer.query_alternatives(
            p.text, synonyms=self.synonyms, prefix=p.wildcard
        )

    # ------------------------------------------------------------------
    def _phrase_hits(self, alts: list[list[str]], wildcard: bool) -> DataFrame:
        """DataFrame (rowid, space, dl, tf0, tf1, pos0, pos1) of every doc
        containing the phrase; positions are phrase start positions.
        ``alts[i]`` = acceptable terms at phrase position i (synonym
        expansion -> union of posting lists, like FTS5 colocated tokens)."""
        last = len(alts) - 1

        def term_posts(i: int, terms_i: list[str]) -> DataFrame:
            from letarette_spark.index.builder import _merge_posting_rows

            if wildcard and i == last:
                # prefix: serve from the build-time prefix aggregates
                # (pre-merged per rowid, one partition dir + row-group
                # pruning — the analog of the reference's prefix='2 3 4'
                # B-trees, 1_init.up.sql:96). O(result) at any vocabulary
                # size; segments overlay at query time.
                pre = self.index.prefix_hits(terms_i[0])
                if pre is not None:
                    return pre
                # legacy pre-tail index (current builds always cover this
                # via the plen=-1 term-range tail): resolve the FULL
                # expansion from the range-partitioned dictionary
                # (startswith-pruned scan), then read postings in
                # exact-pruned batches — bucket-dir + term row-group
                # pruning per batch, never an unpruned postings scan.
                expansion = [
                    r["term"]
                    for r in self.index.term_stats()
                    .filter(F.col("term").startswith(terms_i[0]))
                    .select("term")
                    .collect()
                ]
                if not expansion:
                    df = self.index.postings().filter(F.lit(False))
                else:
                    df = self.index.postings_for_terms(
                        expansion[:MAX_PREFIX_EXPANSION]
                    )
                    for j in range(
                        MAX_PREFIX_EXPANSION, len(expansion),
                        MAX_PREFIX_EXPANSION,
                    ):
                        df = df.unionByName(
                            self.index.postings_for_terms(
                                expansion[j : j + MAX_PREFIX_EXPANSION]
                            )
                        )
                return _merge_posting_rows(df)
            # exact terms: bucket partition-dir pruning + term pushdown
            df = self.index.postings_for_terms(terms_i)
            if len(terms_i) > 1:
                # synonym match: a doc may contain several matching terms —
                # union their instance lists (FTS5 colocated-token
                # semantics).
                return _merge_posting_rows(df)
            return df.select("rowid", "space", "dl", "pos0", "pos1")

        cur = term_posts(0, alts[0])
        for i, t in enumerate(alts[1:], start=1):
            nxt = term_posts(i, t).select(
                F.col("rowid").alias("rowid_j"),
                F.col("pos0").alias("q0"),
                F.col("pos1").alias("q1"),
            )
            cur = (
                cur.join(nxt, cur["rowid"] == nxt["rowid_j"], "inner")
                .withColumn(
                    "pos0",
                    F.expr(f"filter(pos0, x -> array_contains(q0, x + {i}))"),
                )
                .withColumn(
                    "pos1",
                    F.expr(f"filter(pos1, x -> array_contains(q1, x + {i}))"),
                )
                .drop("rowid_j", "q0", "q1")
                .filter((F.size("pos0") > 0) | (F.size("pos1") > 0))
            )
        return cur.select(
            "rowid",
            "space",
            "dl",
            F.size("pos0").alias("tf0"),
            F.size("pos1").alias("tf1"),
            "pos0",
            "pos1",
        )

    # ------------------------------------------------------------------
    @staticmethod
    def _cluster_exists(n_phrases: int, phrase_lens: list[int], near: int) -> Column:
        """Pure-JVM NEAR(…, near) *existence* test over the per-phrase
        position columns p{i}c{col} — whole-stage-codegen'd, no Python.

        A selection (one instance y_j per phrase) is a cluster when
        max(start) - min(end) - 1 <= near, i.e. when some integer t lies in
        every phrase's interval union U_j = ∪_y [y - near - 1, y + len_j - 1]
        (see _near_participants). If ∩_j U_j is nonempty it contains the
        largest left endpoint among the intervals containing any common
        point, so it suffices to test t = y - near - 1 for each instance y
        of each phrase:

          ok = ∃ j, y ∈ pos_j: ∀ j' ≠ j, ∃ y' ∈ pos_j':
                 y' <= y  AND  y' >= y - near - len_j'

        This makes the match COUNT (TotalHits/cap decision) computable
        without the Arrow participant evaluator, so the Python UDF only
        ever sees the <= cap+1 rows FTS5 itself would rank (search_1.sql:29
        binds :cap = resultCap+1 — the scan stops there)."""
        per_col = []
        for c in (0, 1):
            disj = []
            for j in range(n_phrases):
                conj = " AND ".join(
                    f"exists(p{jp}c{c}, y{jp} -> y{jp} <= yy "
                    f"AND y{jp} >= yy - {near + phrase_lens[jp]})"
                    for jp in range(n_phrases)
                    if jp != j
                )
                disj.append(f"exists(p{j}c{c}, yy -> {conj})")
            per_col.append("(" + " OR ".join(disj) + ")")
        return F.expr(f"coalesce({per_col[0]}, false) or coalesce({per_col[1]}, false)")

    # ------------------------------------------------------------------
    def _near_eval(self, n_phrases: int, phrase_lens: list[int], near: int) -> Column:
        """Arrow-batched NEAR(…, near) evaluation over per-phrase position
        arrays (columns p{i}c{col}).

        Returns struct(ok boolean, tfw array<double>): ok is true when some
        column contains a cluster (one instance per phrase with
        max(start)-min(end)-1 <= near); tfw[i] is phrase i's
        column-weighted count of *participating* instances — FTS5 trims
        NEAR position lists before bm25 counts them (verified empirically:
        non-participating instances, including whole columns without a
        full cluster, contribute nothing).
        """
        w = (self.w_title, self.w_body)
        # test hook: when set, every Arrow batch drops a row-count file
        # there, so tests can assert the evaluator only sees the <= cap+1
        # rows that survive the JVM match filter + rowid-order truncation
        # (accumulators are unreliable under limit-truncated plans)
        counter_dir = getattr(self, "near_counter_dir", None)

        @F.pandas_udf(
            T.StructType(
                [
                    T.StructField("ok", T.BooleanType()),
                    T.StructField("tfw", T.ArrayType(T.DoubleType())),
                ]
            )
        )
        def near_eval(*cols: pd.Series) -> pd.DataFrame:
            oks, tfws = [], []
            nrows = len(cols[0])
            if counter_dir:
                import os
                import uuid

                with open(
                    os.path.join(counter_dir, f"{uuid.uuid4().hex}.cnt"), "w"
                ) as fh:
                    fh.write(str(nrows))
            for r in range(nrows):
                ok = False
                tfw = [0.0] * n_phrases
                for c in range(2):
                    lists = []
                    for i in range(n_phrases):
                        lst = cols[i * 2 + c][r]
                        lists.append([] if lst is None else list(lst))
                    counts = _near_participants(lists, phrase_lens, near)
                    if counts is not None:
                        ok = True
                        for i in range(n_phrases):
                            tfw[i] += w[c] * counts[i]
                oks.append(ok)
                tfws.append(tfw)
            return pd.DataFrame({"ok": oks, "tfw": tfws})

        # nondeterministic marker (the function IS deterministic): stops
        # Catalyst from (a) substituting the `ne` alias into the ok-filter,
        # which would clone the ArrowEvalPython node and double the Python
        # work, and (b) pushing the UDF projection below the cap+1 limit
        near_eval = near_eval.asNondeterministic()
        args = [F.col(f"p{i}c{c}") for i in range(n_phrases) for c in (0, 1)]
        return near_eval(*args)

    # ------------------------------------------------------------------
    def search_df(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
    ) -> tuple[DataFrame | None, int, bool]:
        """Execute and return (scored top-k DataFrame, total_hits, capped).

        The DataFrame has columns (rowid, space, score) sorted best-first;
        None when the reduced query is empty (db_search.go:64-66).
        """
        limit = max(1, min(limit, MAX_PAGE_LIMIT))
        phrases = reduce_phrases(parse_query(query))
        includes = [p for p in phrases if not p.exclude]
        excludes = [p for p in phrases if p.exclude]

        inc_terms = [(p, self.analyze_phrase(p)) for p in includes]
        inc_terms = [(p, t) for p, t in inc_terms if t]
        if not inc_terms:
            return None, 0, False

        fast = self._wand_fast_path(inc_terms, excludes, spaces, limit, offset)
        if fast is not None:
            return fast

        self._evict_cache()
        narrow = self._narrow_single_phrase(inc_terms)
        if narrow is not None:
            hits = [narrow]
        else:
            hits = []
            for p, terms in inc_terms:
                h = self._phrase_hits(terms, p.wildcard).cache()
                self._remember(h)
                hits.append(h)
        k = len(hits)
        lens = [len(terms) for _p, terms in inc_terms]
        # phrase document frequency over the whole index, taken before
        # excludes and the space filter (FTS5's table-wide stats) — kept
        # as a 1-row DataFrame and broadcast into the scoring plan (no
        # driver-side action per phrase)
        dfs = [
            h.agg(F.count(F.lit(1)).cast("double").alias(f"df_{i}"))
            for i, h in enumerate(hits)
        ]

        tfw = F.col("tf0") * self.w_title + F.col("tf1") * self.w_body
        positions = (
            [F.col("pos0").alias("p0c0"), F.col("pos1").alias("p0c1")] if k > 1 else []
        )
        cand = hits[0].select("rowid", "space", "dl", tfw.alias("tfw_0"), *positions)
        for i, h in enumerate(hits[1:], start=1):
            hi = h.select(
                F.col("rowid").alias("rowid_j"),
                F.col("pos0").alias(f"p{i}c0"),
                F.col("pos1").alias(f"p{i}c1"),
            )
            cand = cand.join(hi, cand["rowid"] == hi["rowid_j"], "inner").drop("rowid_j")

        if k > 1:
            # NEAR conjunction — exact existence test in pure JVM exprs, so
            # the match count below never touches Python
            cand = cand.filter(self._cluster_exists(k, lens, NEAR_RANGE))

        for p in excludes:
            ex_alts = self.analyze_exclude(p)
            if not ex_alts:
                continue
            ex = self._phrase_hits(ex_alts, p.wildcard).select("rowid")
            cand = cand.join(ex, "rowid", "left_anti")

        if spaces:
            cand = cand.filter(F.col("space").isin(spaces))

        if k > 1:
            # Bounded single heavy pass, mirroring FTS5's `LIMIT :cap+1`
            # (search_1.sql:29 with :cap = resultCap+1, db_search.go:93-96):
            # the first cap+1 matches in rowid order come out of ONE
            # TakeOrdered heap over the JVM-matched frame — the reference
            # never counts matches beyond cap+1 either, and TotalHits
            # reports min(n, cap) identically. localCheckpoint persists
            # that <= cap+1-row set AND cuts the optimizer boundary:
            # without it Catalyst pushes the NEAR-UDF projection below the
            # limit (projects commute with limits) or clones it into the
            # ok-filter. Never cache the unbounded wide match frame.
            cand = cand.orderBy("rowid").limit(self.cap + 1).localCheckpoint(
                eager=False
            )
            n = cand.count()
            capped = n > self.cap
            total = min(n, self.cap)
            # participant-filtered tf for scoring (Arrow UDF) — sees only
            # the checkpointed <= cap+1 rows; every row already passed the
            # JVM cluster-existence filter
            ne = self._near_eval(k, lens, NEAR_RANGE)
            cand = cand.withColumn("ne", ne).filter(F.col("ne.ok"))
            for i in range(k):
                cand = cand.withColumn(f"tfw_{i}", F.element_at("ne.tfw", i + 1))

        # BM25 scoring — pure JVM arithmetic, float64 throughout; per-phrase
        # df scalars ride along as broadcast 1-row frames.
        for df_i in dfs:
            cand = cand.crossJoin(F.broadcast(df_i))
        score = F.lit(0.0)
        for i in range(k):
            idf = bm25_idf(F.col(f"df_{i}"), self.ndocs)
            score = score + bm25(idf, F.col(f"tfw_{i}"), F.col("dl"), self.avgdl)
        # cache the scored frame (NARROW: rowid/space/score): the count
        # below materializes it once and the global sort's range sampling
        # reuses it instead of recomputing the joins/UDF
        cand = cand.select("rowid", "space", (-score).alias("score")).cache()
        self._remember(cand)  # evicted at the next query

        if k == 1:
            # single-phrase: scoring is pure JVM, so count over the scored
            # narrow cache in one pass (round-2 flow), then truncate
            total = cand.count()
            capped = total > self.cap
            total = min(total, self.cap)
            if capped:
                cand = cand.orderBy("rowid").limit(self.cap + 1)
        out = cand.orderBy("score", "rowid").offset(offset).limit(limit)
        return out, total, capped

    # ------------------------------------------------------------------
    def _with_deadline(self, fn):
        """Run *fn* under the per-query time budget: the Spark actions are
        tagged with a job group and cancelled when the budget elapses —
        the analog of the reference's 4s context deadline + sqlite
        interrupt (searcher.go:163-165, db_search.go:88-91)."""
        if not self.timeout:
            return fn()
        import threading
        import time as _time

        sc = self.index.spark.sparkContext
        group = f"lsearch-{id(self)}-{_time.monotonic_ns()}"
        out: list = []
        err: list = []
        cancelled = threading.Event()

        def run():
            sc.setJobGroup(group, "letarette search deadline", True)
            self._tl.frames = []  # this thread's own frame ledger
            try:
                out.append(fn())
            except BaseException as e:  # surfaced below
                err.append(e)
            finally:
                if cancelled.is_set():
                    # the zombie releases ONLY the frames it registered —
                    # never a newer query's caches (generation-scoped;
                    # double-unpersist of already-evicted frames is a no-op)
                    for df in self._tl.frames:
                        df.unpersist()
                self._tl.frames = None

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(self.timeout)
        if t.is_alive():
            cancelled.set()
            sc.cancelJobGroup(group)
            raise SearchTimeout(f"query exceeded {self.timeout}s budget")
        if err:
            raise err[0]
        return out[0]

    def search(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
        autocorrect: bool = True,
        snippets: bool = True,
        strategy: int = 1,
    ) -> SearchResult:
        """Full search under the query time budget; a blown budget returns
        an empty result with status='timeout' instead of raising, exactly
        like the reference maps interrupts to SearchStatusTimeout
        (searcher.go:107-118)."""
        key = None
        if self.cache is not None:
            from dataclasses import replace as _dc_replace

            from letarette_spark.query.cache import cache_key

            key = cache_key(
                query, spaces, limit, offset,
                autocorrect=autocorrect, snippets=snippets, strategy=strategy,
            )
            hit = self.cache.get(key)
            if hit is not None:
                return _dc_replace(hit, status="cache_hit")
        try:
            res = self._with_deadline(
                lambda: self._search_impl(
                    query, spaces, limit, offset, autocorrect, snippets, strategy
                )
            )
        except SearchTimeout:
            return SearchResult([], 0, False, status="timeout")
        if key is not None:
            # only successful searches are cached (searcher.go:98-103)
            self.cache.put(key, res, {h.doc_id for h in res.hits})
        return res

    # ------------------------------------------------------------------
    def search_terms_df(
        self, words: list[str], mode: str = "or", limit: int = 10
    ) -> DataFrame | None:
        """Bag-of-words BM25 top-k over raw words — no NEAR/phrase
        semantics, FTS5 '"w1" OR "w2"' / implicit-AND equivalent (the
        engine-strength form of the relational bm25 operator). Routes
        through block-max WAND (query/wand.py, multi-term or/and) whenever
        blocks reflect the current snapshot; otherwise scores exactly from
        the bucket-pruned row postings. Returns (rowid, space, score) in
        the FTS5 negative-ascending convention, or None for an empty
        analyzed query."""
        terms = []
        for w in words:
            alts = self.analyzer.query_alternatives(w, synonyms=self.synonyms)
            if alts and alts[0]:
                terms.append(alts[0][0])
        if not terms:
            return None
        from letarette_spark.index.blocks import has_blocks
        from letarette_spark.query.wand import exhaustive_topk, wand_topk

        if has_blocks(self.index) and not self.index.segments:
            return wand_topk(
                self.index, terms, k=limit, mode=mode,
                w_title=self.w_title, w_body=self.w_body,
            )
        return exhaustive_topk(
            self.index, terms, k=limit, mode=mode,
            w_title=self.w_title, w_body=self.w_body,
        )

    def _search_impl(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
        autocorrect: bool = True,
        snippets: bool = True,
        strategy: int = 1,
    ) -> SearchResult:
        """strategy mirrors the reference's Search.Strategy (sql.go:25-27):
        1 = windowed snippet around the first match (search_1.sql),
        3 = title as snippet, skipping re-tokenization (search_3.sql:16-49).
        (Strategy 2 is a join-order variant with identical results — join
        planning is Catalyst's job here, so it maps to strategy 1.)"""
        df, total, capped = self.search_df(query, spaces, limit, offset)
        respelt = ""
        respelt_distance = 0
        if total == 0 and autocorrect:
            fixed_q, dist, changed = self._respell(query)
            if changed:
                respelt, respelt_distance = fixed_q, dist
                query = fixed_q
                df, total, capped = self.search_df(query, spaces, limit, offset)
        if df is None:
            return SearchResult([], 0, False, respelt, respelt_distance, "no_hit")
        docs = self.index.docs().select("rowid", "doc_id", "alive", "title", "body")
        # top-k rows are tiny (<= page limit): broadcast them against docs.
        rows = (
            docs.join(F.broadcast(df), "rowid", "inner")
            .filter(F.col("alive"))
            .select("space", "doc_id", "rowid", "score", "title", "body")
            .collect()
        )
        rows = sorted(rows, key=lambda r: (r["score"], r["rowid"]))
        status = "index_hit" if total > 0 else "no_hit"
        if strategy == 3:
            hits = [
                Hit(r["space"], r["doc_id"], r["rowid"], r["score"], r["title"])
                for r in rows
            ]
            return SearchResult(hits, total, capped, respelt, respelt_distance, status)
        builder = None
        phrase_alts: list[list[list[str]]] = []
        if snippets:
            from letarette_spark.query.snippets import SnippetBuilder

            builder = SnippetBuilder(self.analyzer)
            for p in reduce_phrases(parse_query(query)):
                if not p.exclude:
                    alts = self.analyze_phrase(p)
                    if alts:
                        phrase_alts.append(alts)
        hits = []
        for r in rows:
            snip = ""
            if builder is not None and phrase_alts:
                snip = builder.snippet(r["title"], r["body"], phrase_alts)
            hits.append(Hit(r["space"], r["doc_id"], r["rowid"], r["score"], snip))
        return SearchResult(hits, total, capped, respelt, respelt_distance, status)

    # ------------------------------------------------------------------
    def _wand_fast_path(
        self,
        inc_terms: list,
        excludes: list,
        spaces: list[str] | None,
        limit: int,
        offset: int,
    ) -> tuple[DataFrame, int, bool] | None:
        """Route eligible queries through block-max WAND (query/wand.py):
        a single plain single-term phrase, no excludes/space filter, no
        pending delta segments (blocks reflect the base snapshot only), and
        a hit count under the cap (the capped path needs rowid-order
        truncation, which WAND's pruning cannot honor). total_hits comes
        from term_stats — no candidate scan at all."""
        if len(inc_terms) != 1 or excludes or spaces or self.index.segments:
            return None
        p, alts = inc_terms[0]
        if p.wildcard or len(alts) != 1 or len(alts[0]) != 1:
            return None
        from letarette_spark.index.blocks import has_blocks

        if not has_blocks(self.index):
            return None
        term = alts[0][0]
        row = (
            self.index.term_stats().filter(F.col("term") == term).limit(1).collect()
        )
        total = int(row[0]["df"]) if row else 0
        if total == 0:
            empty = self.index.spark.createDataFrame(
                [], "rowid long, space string, score double"
            )
            return empty, 0, False
        if total > self.cap:
            return None
        from letarette_spark.query.wand import wand_topk

        out = wand_topk(
            self.index, [term], k=offset + limit,
            w_title=self.w_title, w_body=self.w_body,
        ).offset(offset)
        return out, total, False

    # ------------------------------------------------------------------
    def _narrow_single_phrase(self, inc_terms: list) -> DataFrame | None:
        """Positions-free read for a query of one single-word, non-wildcard
        phrase: its (rowid, space, dl, tf0, tf1) rows from the narrow
        posting columns — the fat pos0/pos1 arrays (the bulk of postings
        I/O) are never touched. Colocated-synonym alternatives sum their
        tf (positions are disjoint, so the sum equals the merged-positions
        count ``_phrase_hits`` computes). None for every other query,
        which ``search_df`` then reads through ``_phrase_hits``."""
        if len(inc_terms) != 1:
            return None
        p, alts = inc_terms[0]
        if p.wildcard or len(alts) != 1:
            return None
        terms = alts[0]
        rows = self.index.postings_for_terms(terms).select(
            "rowid", "space", "dl", "tf0", "tf1"
        )
        if len(terms) > 1:
            rows = rows.groupBy("rowid").agg(
                F.first("space").alias("space"),
                F.first("dl").alias("dl"),
                F.sum("tf0").alias("tf0"),
                F.sum("tf1").alias("tf1"),
            )
        return rows

    # ------------------------------------------------------------------
    def _respell(self, query: str) -> tuple[str, int, bool]:
        """Zero-hit respell (searcher.go:54-76 + db_spelling.go:56-96):
        single-word, non-stopword phrases whose term has no hits are
        replaced by the closest dictionary word; multi-word phrases are
        skipped. Returns (fixed query, summed distance, changed?).

        Batched: ALL candidate terms are existence-checked in one
        term_stats scan, and all unknown terms are corrected in one
        speling-table scan — a whole respell attempt costs two Spark jobs
        regardless of query length (round-2 verdict task #6)."""
        from letarette_spark.query.spelling import respell_terms

        phrases = reduce_phrases(parse_query(query))
        # pass 1: which phrases are single-word, non-stopword candidates?
        cand: dict[int, str] = {}
        for i, p in enumerate(phrases):
            if " " in p.text or p.wildcard:
                continue
            alts = self.analyzer.query_alternatives(p.text)
            if not alts:
                continue
            term = alts[0][0]
            if self.stopwords and term in self.stopwords:
                continue
            cand[i] = term
        unknown: list[str] = []
        if cand:
            existing = self._terms_exist(sorted(set(cand.values())))
            unknown = sorted({t for t in cand.values() if t not in existing})
        fixes = respell_terms(self.index, unknown) if unknown else {}

        changed = False
        dist_sum = 0
        fixed: list[Phrase] = []
        for i, p in enumerate(phrases):
            res = fixes.get(cand.get(i, ""))
            if res is None:
                fixed.append(p)
                continue
            word, dist = res
            fixed.append(Phrase(word, wildcard=p.wildcard, exclude=p.exclude))
            dist_sum += dist
            changed = True
        return " ".join(str(p) for p in fixed), dist_sum, changed

    def _terms_exist(self, terms: list[str]) -> set[str]:
        """The subset of *terms* present in the dictionary — one
        range-pruned term_stats scan for the whole query."""
        return {
            r["term"]
            for r in self.index.term_stats()
            .filter(F.col("term").isin(terms))
            .select("term")
            .collect()
        }


def _merge_intervals(iv: list[tuple[int, int]]) -> list[tuple[int, int]]:
    iv.sort()
    out: list[tuple[int, int]] = []
    for lo, hi in iv:
        if out and lo <= out[-1][1] + 1:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def _intersect(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo <= hi:
            out.append((lo, hi))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _near_participants(
    lists: list[list[int]], lens: list[int], near: int
) -> list[int] | None:
    """NEAR participation within one column.

    A selection (one instance per phrase) is a cluster when
    max(start) - min(end) - 1 <= near. Equivalently: there is an integer t
    with, for every phrase j, some instance y_j satisfying
    y_j - near - 1 <= t <= y_j + lens[j] - 1 (t plays the role of the
    minimum end). Instance y of phrase i *participates* iff its own
    t-interval meets the intersection of the other phrases' interval
    unions. Returns per-phrase participating-instance counts, or None when
    no cluster exists (the column contributes nothing)."""
    k = len(lists)
    if any(not l for l in lists):
        return None
    unions = [
        _merge_intervals([(y - near - 1, y + lens[i] - 1) for y in lists[i]])
        for i in range(k)
    ]
    total = unions[0]
    for u in unions[1:]:
        total = _intersect(total, u)
        if not total:
            return None
    counts = []
    for i in range(k):
        others = None
        for j in range(k):
            if j == i:
                continue
            others = unions[j] if others is None else _intersect(others, unions[j])
        c = 0
        for y in lists[i]:
            iv = [(y - near - 1, y + lens[i] - 1)]
            if others is None or _intersect(iv, others):
                c += 1
        counts.append(c)
    return counts
