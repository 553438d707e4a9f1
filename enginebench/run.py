"""Engine benchmark: seeded workloads against letarette_spark's public API.

Run from the repository root:

    python3 enginebench/run.py --workload search --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's layer boundaries in
spans, turns on the Spark event log, and reports per-layer metrics. Every
result is checked against a live SQLite FTS5 twin after the timed window.
All scratch files go under ``.enginebench_run/`` in the working directory,
which is removed at exit; a traced run leaves its spans in
``.enginebench_spans.jsonl``. See README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
import probes  # noqa: E402
from spans import Tracer  # noqa: E402
from twin import Fts5Twin, same_ranking  # noqa: E402

N_DOCS = 3000            # corpus size; build cost is mostly fixed overhead
WORDS_PER_DOC = 24       # identifiers per document, beside the head words
CAP = 2000               # result cap, scaled with the corpus so head terms overflow it
BATCH_QUERIES = 64       # queries per search_batch call
BATCH_EVERY = 2          # the search workload makes one batch call per this many queries
UPSERT_DOCS = 100        # documents per upsert batch
ROUND_SECONDS = 12       # ingest runs one upsert round per this many --seconds
BUILD = dict(n_build_partitions=4, chunk_size=4)
# (name, unit, better): what --trace 0 prints, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("search_p50_ms", "ms", "lower"),
    ("search_mean_ms", "ms", "lower"),
    ("batch_qps", "1/s", "higher"),
    ("build_docs_per_s", "docs/s", "higher"),
    ("index_bytes_per_input_byte", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
SCHEMA = "rowid long, doc_id string, space string, title string, body string, alive boolean"


def pct(values, q):
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Bench:
    """State shared by the workloads: session, tracer, index and checks."""

    def __init__(self, args, rundir: str):
        self.args = args
        self.rundir = rundir
        self.tracer = Tracer(bool(args.trace))
        self.failures: list[str] = []
        self.attempted = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.rss = probes.PeakRss()
        self.spark = None
        self.facts: dict = {}

    # ---- set-up -----------------------------------------------------
    def start_session(self):
        from letarette_spark.session import get_spark

        tmp = os.path.join(self.rundir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        jopts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(self.rundir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.rundir, "warehouse"),
            "spark.driver.extraJavaOptions": jopts,
            "spark.executor.extraJavaOptions": jopts,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.eventlog = os.path.join(self.rundir, "eventlog")
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = os.cpu_count() or 4
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "enginebench", master=f"local[{cpus}]", extra_conf=conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def docs_df(self, rows):
        return self.spark.createDataFrame(
            [r if len(r) == 6 else (*r, True) for r in rows], SCHEMA
        )

    def build(self, corpus) -> None:
        """The full servable build: postings, WAND blocks, spelling table."""
        from letarette_spark.analysis.tokenizer import AnalyzerConfig
        from letarette_spark.index.blocks import build_blocks
        from letarette_spark.index.builder import Index, build_index
        from letarette_spark.query.spelling import build_speling_table

        self.root = os.path.join(self.rundir, "index")
        cfg = AnalyzerConfig(mode="porter")   # the FTS5-comparable analyzer
        docs = self.docs_df(corpus.docs)
        t0 = time.perf_counter()
        with self.tracer.span("index.builder.build"):
            build_index(self.spark, docs, self.root, config=cfg, **BUILD)
        index = Index.open(self.spark, self.root)
        with self.tracer.span("index.blocks.build"):
            build_blocks(index)
        index = Index.open(self.spark, self.root)
        with self.tracer.span("query.spelling.table"):
            build_speling_table(index)
        build_s = time.perf_counter() - t0
        self.metric("build_docs_per_s", len(corpus.docs) / build_s, "docs/s")
        self.metric(
            "index_bytes_per_input_byte",
            probes.tree_bytes(self.root) / corpus.input_bytes(), "ratio",
        )
        if self.args.trace:
            from letarette_spark.index.builder import tokenize_postings

            with self.tracer.span("analysis.tokenize"):
                tokenize_postings(docs.repartition(os.cpu_count() or 4), cfg) \
                    .write.format("noop").mode("overwrite").save()
        self.index = Index.open(self.spark, self.root)

    def searcher(self, cache=None):
        from letarette_spark.query.executor import Searcher

        return Searcher(self.index, cap=CAP, cache=cache)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # ---- operations -------------------------------------------------
    def search(self, searcher, q):
        """One Searcher.search call with the reference defaults; returns
        (result or exception, seconds)."""
        t0 = time.perf_counter()
        with self.tracer.span("client.search", q.qid) as s:
            try:
                res = searcher.search(q.text, spaces=list(q.spaces) if q.spaces else None)
            except Exception as e:  # counted as failed, reported below
                res = e
            if s is not None:
                s.info["cls"] = q.cls
        return res, time.perf_counter() - t0

    def batch(self, searcher, mode, queries, qid):
        from letarette_spark.query.batch import search_batch

        t0 = time.perf_counter()
        with self.tracer.span("query.batch.call", qid):
            try:
                rows = search_batch(searcher, queries, mode=mode).collect()
            except Exception as e:
                rows = e
        return rows, time.perf_counter() - t0

    # ---- checks -----------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check_search(self, twin, q, res, expected=None) -> None:
        """Compare one Searcher.search result with the twin: docIDs, scores
        at 1e-9, total_hits and capped. A respelt result is compared with
        the twin's results for the respelt query, after checking that the
        original query has no hits."""
        self.attempted += 1
        tag = f"{q.qid} [{q.cls}] {q.text!r} spaces={q.spaces}"
        if isinstance(res, Exception):
            self.fail(f"{tag}: raised {type(res).__name__}: {res}")
            return
        if res.status == "timeout":
            self.fail(f"{tag}: timed out")
            return
        if expected is None:
            expected = self.expected_search(twin, q, res)
        if isinstance(expected, str):
            self.fail(f"{tag}: {expected}")
            return
        want, total, capped, respelt = expected
        if res.respelt != respelt:
            self.fail(f"{tag}: respelt {res.respelt!r}, expected {respelt!r}")
            return
        got = [(h.rowid, h.score) for h in res.hits]
        err = same_ranking(got, want)
        if not err and (res.total_hits, res.capped) != (total, capped):
            err = f"total_hits/capped {(res.total_hits, res.capped)} != {(total, capped)}"
        if not err:
            ids = twin.doc_ids([r for r, _ in want])
            if [h.doc_id for h in res.hits] != ids:
                err = f"doc_ids {[h.doc_id for h in res.hits]} != {ids}"
        if err:
            self.fail(f"{tag}: {err}")

    @staticmethod
    def expected_search(twin, q, res):
        want, total, capped = twin.search(q.text, q.spaces, CAP)
        respelt = ""
        if total == 0 and res.respelt:
            respelt = res.respelt
            try:
                want, total, capped = twin.search(respelt, q.spaces, CAP)
            except ValueError as e:
                return f"respelt query {respelt!r} outside the checked grammar: {e}"
        return want, total, capped, respelt

    def check_batch(self, twin, mode, queries, rows) -> None:
        self.attempted += len(queries)
        if isinstance(rows, Exception):
            for qid, text in queries:
                self.fail(f"{qid} batch/{mode} {text!r}: raised {type(rows).__name__}: {rows}")
            return
        got: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["rowid"], r["score"]))
        for qid, text in queries:
            err = same_ranking(got.get(qid, []), twin.topk(text, mode))
            if err:
                self.fail(f"{qid} batch/{mode} {text!r}: {err}")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def setup(b: Bench, warm_query) -> tuple:
    """Session, inputs, the full build, and one query and one small batch
    call so that the timed window starts with warm Python workers."""
    b.start_session()
    corpus = I.make_corpus(b.args.seed, N_DOCS, words_per_doc=WORDS_PER_DOC)
    b.build(corpus)
    searcher = b.searcher()
    with b.tracer.span("warmup"):
        q = warm_query(corpus)
        searcher.search(q.text, spaces=list(q.spaces) if q.spaces else None)
        warm_batch = I.batch_calls(corpus, b.args.seed + 10**6, 1, BATCH_QUERIES)[0]
        b.batch(searcher, *warm_batch, "warm")
    b.rss.sample()
    return corpus, searcher


def run_search(b: Bench) -> None:
    """Read-only: one client in a closed loop over the interactive stream
    (every query distinct, no result cache), with a search_batch call
    after every BATCH_EVERY queries. Interleaving spreads both kinds of
    samples over the whole window, so a burst of load from other tenants
    of the host weighs on both metrics alike instead of on one phase."""
    stream_of = lambda c: I.search_queries(c, b.args.seed, I.MAX_QUERIES)  # noqa: E731
    cycle = len(I.CYCLE)
    # the warm-up query is the last head query, which the timed loop never reaches
    corpus, searcher = setup(b, lambda c: stream_of(c)[-cycle])
    b.metric("setup_s", time.perf_counter() - T_START, "s")
    stream = stream_of(corpus)[:-cycle]
    calls = I.batch_calls(corpus, b.args.seed, len(stream) // BATCH_EVERY, BATCH_QUERIES)

    # whole cycles of the query classes, so every run has the same mix
    done, lat = [], []
    bdone, blat = [], []
    t0 = time.perf_counter()
    with b.tracer.span("workload.search"):
        for i, q in enumerate(stream, start=1):
            res, dt = b.search(searcher, q)
            done.append((q, res))
            lat.append(dt)
            if i % BATCH_EVERY == 0:
                mode, qs = calls[i // BATCH_EVERY - 1]
                rows, dt = b.batch(searcher, mode, qs, f"b{len(bdone)}")
                bdone.append((mode, qs, rows))
                blat.append(dt)
            if i % cycle == 0 and time.perf_counter() - t0 >= b.args.seconds:
                break
    b.rss.sample()
    report_reads(b, [q for q, _r in done], lat, blat, len(bdone) * BATCH_QUERIES)

    twin = Fts5Twin(corpus.docs)
    for q, res in done:
        b.check_search(twin, q, res)
    for mode, qs, rows in bdone:
        b.check_batch(twin, mode, qs, rows)
    b.facts["capped_share"] = sum(
        1 for _q, r in done if not isinstance(r, Exception) and r.capped
    ) / max(1, len(done))
    if b.args.trace:
        # after the timed window, so untraced runs skip its cost: one
        # upsert round and a compaction, so that the write-path layers
        # report measured spans on this workload too
        from letarette_spark.index.incremental import compact_index, upsert_documents

        plan = I.ingest_plan(b.args.seed, corpus, 1, UPSERT_DOCS, WORDS_PER_DOC, CAP)
        with b.tracer.span("index.incremental.upsert"):
            upsert_documents(b.spark, b.root, b.docs_df(plan.rounds[0]))
        with b.tracer.span("index.incremental.compact"):
            compact_index(b.spark, b.root)


def report_reads(b: Bench, queries, lat, blat, n_batch_queries) -> None:
    b.metric("search_p50_ms", pct(lat, 50) * 1e3, "ms")
    b.metric("search_mean_ms", sum(lat) / len(lat) * 1e3, "ms")
    b.facts["search_p90_ms"] = pct(lat, 90) * 1e3
    b.metric("batch_qps", n_batch_queries / sum(blat), "1/s")
    b.facts["samples"] = {"search": len(lat), "batch_calls": len(blat)}
    b.facts["latencies"] = (
        " ".join(f"{q.cls}={dt * 1e3:.0f}" for q, dt in zip(queries, lat))
        + " | batch calls s: " + " ".join(f"{dt:.2f}" for dt in blat)
    )


def run_ingest(b: Bench) -> None:
    """The write path beside reads: the query pool through a ResultCache
    on the fresh index, then upsert rounds that insert, replace and
    tombstone documents, each followed by the pool again. Each pass over
    the pool makes a search_batch call after its first query, so the
    batch samples span the fresh index and the pending segments. Each
    round invalidates one pool entry, so with three pool queries a third
    of the reads after it are cache hits and the read latencies still
    measure the engine."""
    from letarette_spark.index.builder import Index
    from letarette_spark.index.incremental import compact_index, upsert_documents
    from letarette_spark.query.cache import ResultCache

    n_rounds = max(1, round(b.args.seconds / ROUND_SECONDS))
    warm = lambda c: I.search_queries(c, b.args.seed, 8, tag="w")[2]  # noqa: E731
    corpus, _s = setup(b, warm)
    plan = I.ingest_plan(b.args.seed, corpus, n_rounds, UPSERT_DOCS, WORDS_PER_DOC, CAP)
    b.metric("setup_s", time.perf_counter() - T_START, "s")
    batch_calls = I.batch_calls(corpus, b.args.seed, n_rounds + 1, BATCH_QUERIES)

    cache = ResultCache()
    reads, lat, upserts = [], [], []
    bdone, blat = [], []

    def read_pool(state: int, phase: str, cached: bool = True, batch=None) -> None:
        searcher = b.searcher(cache if cached else None)
        for k, q in enumerate(plan.pool):
            q = I.Query(f"{q.qid}.{phase}", q.cls, q.text, q.spaces)
            res, dt = b.search(searcher, q)
            reads.append((state, q, res, len(searcher.index.segments), cached))
            if cached:
                lat.append(dt)
            if k == 0 and batch is not None:
                mode, qs = batch
                rows, dt = b.batch(b.searcher(), mode, qs, f"b{len(bdone)}")
                bdone.append((state, mode, qs, rows))
                blat.append(dt)

    with b.tracer.span("workload.ingest"):
        read_pool(0, "r0", batch=batch_calls[0])
        for r, batch in enumerate(plan.rounds, start=1):
            t0 = time.perf_counter()
            with b.tracer.span("index.incremental.upsert"):
                upsert_documents(b.spark, b.root, b.docs_df(batch), caches=[cache])
            upserts.append(time.perf_counter() - t0)
            b.index = Index.open(b.spark, b.root)
            read_pool(r, f"r{r}", batch=batch_calls[r])
    b.rss.sample()
    report_reads(b, [r[1] for r in reads if r[4]], lat, blat, sum(len(qs) for _s, _m, qs, _r in bdone))
    if b.args.trace:
        # after the timed window, so untraced runs skip its cost: compaction,
        # the pool once more without the cache, and one uncached query of
        # each class, so that every query layer reports measured spans
        with b.tracer.span("index.incremental.compact"):
            compact_index(b.spark, b.root)
        b.index = Index.open(b.spark, b.root)
        read_pool(len(plan.rounds), "rc", cached=False)
        searcher = b.searcher()
        for q in I.search_queries(corpus, b.args.seed, len(I.QUERY_CLASSES), tag="probe"):
            res, _dt = b.search(searcher, q)
            reads.append((len(plan.rounds), q, res, 0, False))
    b.facts.update(
        upserts=upserts, reads=reads,
        cache=dict(cache.stats(), lookups=cache.hits + cache.misses),
    )

    # replay the rounds on the twin, modelling the reference cache: an
    # entry lives until an upsert touches one of its documents; each batch
    # call is checked against the twin in the state it was made in
    twin = Fts5Twin(corpus.docs)
    model: dict = {}
    state = 0

    def check_batches(at: int) -> None:
        for st, mode, qs, rows in bdone:
            if st == at:
                b.check_batch(twin, mode, qs, rows)

    for st, q, res, _segs, cached in reads:
        while state < st:
            check_batches(state)
            batch = plan.rounds[state]
            twin.upsert(batch)
            gone = {row[1] for row in batch}
            model = {k: v for k, v in model.items() if not (v[1] & gone)}
            state += 1
        key = (q.text, q.spaces)
        if not cached:
            b.check_search(twin, q, res)
            continue
        if key in model:
            if not isinstance(res, Exception) and res.status != "cache_hit":
                b.attempted += 1
                b.fail(f"{q.qid} {q.text!r}: served fresh, the cache should still hold it")
                continue
            b.check_search(twin, q, res, expected=model[key][0])
            continue
        if not isinstance(res, Exception) and res.status == "cache_hit":
            b.attempted += 1
            b.fail(f"{q.qid} {q.text!r}: served from cache after its documents changed")
            continue
        expected = b.expected_search(twin, q, res) if not isinstance(res, Exception) else None
        b.check_search(twin, q, res, expected=expected)
        if isinstance(expected, tuple):
            model[key] = (expected, set(twin.doc_ids([r for r, _ in expected[0]])))
    check_batches(state)


WORKLOADS = {"search": run_search, "ingest": run_ingest}


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit, so that the run
    leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway exits on EOF
        proc.wait(timeout=60)
    probes.wait_for_children(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(os.getcwd(), "letarette_spark")):
        print("run from the repository root: letarette_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    rundir = os.path.abspath(".enginebench_run")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    # the short-lived JVM that spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    b = Bench(args, rundir)
    if args.trace:
        import layers

        layers.install(b.tracer)
    try:
        with b.tracer.span("run"):
            WORKLOADS[args.workload](b)
        b.rss.sample()
        b.metric("peak_rss_mb", b.rss.peak_mb, "MB")
    finally:
        if b.spark is not None:
            b.spark.stop()
            stop_jvm()
        b.tracer.unpatch()
    try:
        totals = None
        if args.trace:
            totals = b.tracer.attribute(b.eventlog)
            b.tracer.write(os.path.abspath(".enginebench_spans.jsonl"))
            import layers

            for name, (value, unit) in layers.compute(b, totals).items():
                b.metric(name, value, unit)
        report(b, totals)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return 0


def report(b: Bench, totals) -> None:
    import layers

    names = [n for n, _u, _b in (layers.PER_LAYER if b.args.trace else END_TO_END)]
    print(f"# workload={b.args.workload} seed={b.args.seed} samples={b.facts.get('samples')}")
    print(f"# latencies ms: {b.facts.get('latencies')}")
    print(f"# search p90 ms: {b.facts.get('search_p90_ms', 0):.0f}")
    if b.facts.get("upserts"):
        print(f"# upserts s: {' '.join(f'{u:.2f}' for u in b.facts['upserts'])}")
    print(f"# wall s: {time.perf_counter() - T_START:.1f}")
    if b.failures:
        print(f"# {len(b.failures)} of {b.attempted} checks failed:")
        for f in b.failures:
            print(f"#   FAIL {f}")
    if totals:
        print(f"# event log: {totals}")
    out = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {
            n: {"value": b.metrics[n][0], "unit": b.metrics[n][1]} for n in names
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
