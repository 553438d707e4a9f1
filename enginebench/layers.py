"""Where the traced run puts its spans, and the per-layer metrics it derives.

``install`` wraps the engine's layer boundaries; ``compute`` turns the
spans (with their event-log job, stage and task counts) into the
``per_layer`` metrics of BENCHMARK.json. A metric of a layer that the
workload does not reach is 0.
"""

from __future__ import annotations

import statistics

import inputs as I

CLASSES = I.QUERY_CLASSES

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("analysis.query_ms", "ms", "lower"),
    ("analysis.tokenize_s", "s", "lower"),
    ("query.parser.ms", "ms", "lower"),
    ("query.executor.search_df_ms", "ms", "lower"),
    ("query.executor.self_ms", "ms", "lower"),
    ("query.wand.ms", "ms", "lower"),
    ("query.wand.share", "share", "higher"),
    ("search.path.narrow_share", "share", "higher"),
    ("search.path.general_share", "share", "lower"),
    ("search.path.cache_share", "share", "higher"),
    ("search.capped_share", "share", "lower"),
    ("query.snippets.ms", "ms", "lower"),
    ("query.spelling.respell_ms", "ms", "lower"),
    ("spark.jobs_per_query", "count", "lower"),
    ("spark.stages_per_query", "count", "lower"),
    ("spark.tasks_per_query", "count", "lower"),
    *[(f"search.{c}.p50_ms", "ms", "lower") for c in CLASSES],
    *[(f"spark.jobs_per_query.{c}", "count", "lower") for c in CLASSES],
    ("query.batch.call_s", "s", "lower"),
    ("query.batch.jobs_per_call", "count", "lower"),
    ("query.batch.stages_per_call", "count", "lower"),
    ("query.batch.shuffle_bytes", "bytes", "lower"),
    ("query.batch.task_cpu_s", "s", "lower"),
    ("index.builder.postings_for_terms_ms", "ms", "lower"),
    ("index.builder.build_s", "s", "lower"),
    ("index.builder.jobs", "count", "lower"),
    ("index.builder.unattributed_jobs", "count", "lower"),
    ("index.builder.shuffle_write_bytes", "bytes", "lower"),
    ("index.builder.spill_bytes", "bytes", "lower"),
    ("index.builder.task_cpu_s", "s", "lower"),
    ("index.blocks.build_s", "s", "lower"),
    ("query.spelling.table_s", "s", "lower"),
    ("index.incremental.upsert_s", "s", "lower"),
    ("index.incremental.upsert_p50_ms", "ms", "lower"),
    ("index.incremental.jobs_per_upsert", "count", "lower"),
    ("index.incremental.compact_s", "s", "lower"),
    ("index.incremental.segments", "count", "lower"),
    ("query.cache.hit_ratio", "share", "higher"),
    ("query.cache.lookups", "count", "higher"),
    ("query.cache.invalidations", "count", "lower"),
    ("trace.jobs_total", "count", "lower"),
    ("trace.jobs_on_spans", "count", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
    ("trace.search_p50_ms", "ms", "lower"),
    ("trace.search_mean_ms", "ms", "lower"),
    ("trace.search_p90_ms", "ms", "lower"),
    ("trace.batch_qps", "1/s", "higher"),
    ("failed_ratio", "share", "lower"),
]


def install(t) -> None:
    """Wrap each layer's public callables where their callers look them
    up; the serving-path decisions of the executor are wrapped too, so a
    span records which path answered."""
    from letarette_spark.analysis.tokenizer import Analyzer
    from letarette_spark.index.builder import Index
    from letarette_spark.query import batch, cache, executor, snippets, wand
    from letarette_spark.query.cache import ResultCache
    from letarette_spark.query.executor import Searcher

    def served(span, out):
        span.info["served"] = out is not None

    def dropped(span, out):
        span.info["dropped"] = out

    t.wrap(Searcher, "search", "query.executor.search")
    t.wrap(Searcher, "search_df", "query.executor.search_df")
    t.wrap(Searcher, "_wand_fast_path", "query.executor.route.wand", served)
    t.wrap(Searcher, "_narrow_single_phrase", "query.executor.route.narrow", served)
    t.wrap(Searcher, "_respell", "query.spelling.respell")
    t.wrap(Analyzer, "query_alternatives", "analysis.query")
    for mod in (executor, batch, cache):
        for fn in ("parse_query", "reduce_phrases"):
            if hasattr(mod, fn):
                t.wrap(mod, fn, "query.parser")
    t.wrap(wand, "wand_topk", "query.wand")
    t.wrap(wand, "exhaustive_topk", "query.wand")
    t.wrap(snippets.SnippetBuilder, "snippet", "query.snippets")
    t.wrap(Index, "postings_for_terms", "index.builder.postings_for_terms")
    t.wrap(ResultCache, "invalidate_doc", "query.cache.invalidate", dropped)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(b, totals: dict) -> dict:
    t = b.tracer
    kids = t.children()
    spans = t.spans
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    out: dict[str, tuple[float, str]] = {}
    unit = {n: u for n, u, _b in PER_LAYER}

    def put(name, value):
        out[name] = (float(value), unit[name])

    def sub_sum(root, name, attr="dur"):
        return sum(getattr(s, attr) for s in t.subtree(root, kids) if s.name == name)

    def sub_total(root, attr):
        return sum(getattr(s, attr) for s in t.subtree(root, kids))

    # ---- interactive queries ----
    queries = named("client.search")
    rows = []
    for q in queries:
        sub = t.subtree(q, kids)
        execs = [s for s in sub if s.name == "query.executor.search"]
        dfs = sorted((s for s in sub if s.name == "query.executor.search_df"), key=lambda s: s.start)
        if not dfs:
            path = "cache"
        else:
            routes = {c.name: c.info.get("served") for c in kids.get(dfs[-1].sid, [])}
            path = (
                "wand" if routes.get("query.executor.route.wand")
                else "narrow" if routes.get("query.executor.route.narrow")
                else "general"
            )
        rows.append({
            "cls": q.info.get("cls"), "dur": q.dur, "path": path,
            "parser": sub_sum(q, "query.parser"),
            "analysis": sub_sum(q, "analysis.query"),
            "search_df": sub_sum(q, "query.executor.search_df"),
            "self": sum(t.self_time(s, kids) for s in execs),
            "wand": sub_sum(q, "query.wand"),
            "snippets": sub_sum(q, "query.snippets"),
            "respell": sub_sum(q, "query.spelling.respell"),
            "jobs": sub_total(q, "jobs"),
            "stages": sub_total(q, "stages"),
            "tasks": sub_total(q, "tasks"),
        })
    ms = lambda k: _mean(r[k] for r in rows) * 1e3  # noqa: E731
    put("query.parser.ms", ms("parser"))
    put("analysis.query_ms", ms("analysis"))
    put("query.executor.search_df_ms", ms("search_df"))
    put("query.executor.self_ms", ms("self"))
    put("query.wand.ms", ms("wand"))
    put("query.snippets.ms", ms("snippets"))
    put("query.spelling.respell_ms", ms("respell"))
    share = lambda p: _mean(1.0 if r["path"] == p else 0.0 for r in rows)  # noqa: E731
    put("query.wand.share", share("wand"))
    put("search.path.narrow_share", share("narrow"))
    put("search.path.general_share", share("general"))
    put("search.path.cache_share", share("cache"))
    put("search.capped_share", b.facts.get("capped_share", 0.0))
    put("spark.jobs_per_query", _mean(r["jobs"] for r in rows))
    put("spark.stages_per_query", _mean(r["stages"] for r in rows))
    put("spark.tasks_per_query", _mean(r["tasks"] for r in rows))
    for c in CLASSES:
        mine = [r for r in rows if r["cls"] == c]
        put(f"search.{c}.p50_ms", statistics.median(r["dur"] for r in mine) * 1e3 if mine else 0)
        put(f"spark.jobs_per_query.{c}", _mean(r["jobs"] for r in mine))

    # ---- batch calls ----
    calls = [s for s in named("query.batch.call") if s.qid != "warm"]
    put("query.batch.call_s", _mean(s.dur for s in calls))
    put("query.batch.jobs_per_call", _mean(sub_total(s, "jobs") for s in calls))
    put("query.batch.stages_per_call", _mean(sub_total(s, "stages") for s in calls))
    put("query.batch.shuffle_bytes", _mean(
        sub_total(s, "shuffle_read") + sub_total(s, "shuffle_write") for s in calls))
    put("query.batch.task_cpu_s", _mean(sub_total(s, "cpu_s") for s in calls))
    put("index.builder.postings_for_terms_ms", _mean(
        sub_sum(s, "index.builder.postings_for_terms") for s in calls) * 1e3)

    # ---- build ----
    (build,) = named("index.builder.build")
    put("index.builder.build_s", build.dur)
    put("index.builder.jobs", sub_total(build, "jobs"))
    put("index.builder.unattributed_jobs", sub_total(build, "unattributed_jobs"))
    put("index.builder.shuffle_write_bytes", sub_total(build, "shuffle_write"))
    put("index.builder.spill_bytes", sub_total(build, "spill"))
    put("index.builder.task_cpu_s", sub_total(build, "cpu_s"))
    put("index.blocks.build_s", sum(s.dur for s in named("index.blocks.build")))
    put("query.spelling.table_s", sum(s.dur for s in named("query.spelling.table")))
    put("analysis.tokenize_s", sum(s.dur for s in named("analysis.tokenize")))
    put("session.start_s", sum(s.dur for s in named("session.start")))

    # ---- write path and cache ----
    ups = named("index.incremental.upsert")
    put("index.incremental.upsert_s", _mean(s.dur for s in ups))
    put("index.incremental.upsert_p50_ms", statistics.median(s.dur for s in ups) * 1e3 if ups else 0)
    put("index.incremental.jobs_per_upsert", _mean(sub_total(s, "jobs") for s in ups))
    put("index.incremental.compact_s", sum(s.dur for s in named("index.incremental.compact")))
    put("index.incremental.segments", _mean(r[3] for r in b.facts.get("reads", []) if r[4]))
    cs = b.facts.get("cache", {})
    put("query.cache.lookups", cs.get("lookups", 0))
    put("query.cache.hit_ratio", cs["hits"] / cs["lookups"] if cs.get("lookups") else 0)
    put("query.cache.invalidations", sum(s.info.get("dropped", 0) for s in named("query.cache.invalidate")))

    # ---- the trace itself ----
    put("trace.jobs_total", totals["jobs"])
    put("trace.jobs_on_spans", totals["jobs_on_spans"])
    put("trace.unattributed_jobs", totals["unattributed_jobs"])
    put("trace.search_p50_ms", b.metrics["search_p50_ms"][0])
    put("trace.search_mean_ms", b.metrics["search_mean_ms"][0])
    put("trace.search_p90_ms", b.facts["search_p90_ms"])
    put("trace.batch_qps", b.metrics["batch_qps"][0])
    put("failed_ratio", len(b.failures) / max(1, b.attempted))

    for w in [s for s in spans if s.name.startswith("workload.")]:
        children = sum(c.dur for c in kids.get(w.sid, []))
        print(
            f"# {w.name}: {w.dur:.3f} s = child spans {children:.3f} s"
            f" + self {t.self_time(w, kids):.3f} s"
        )
    by_path: dict[str, int] = {}
    for r in rows:
        by_path[r["path"]] = by_path.get(r["path"], 0) + 1
    print(f"# serving paths over {len(rows)} queries: {by_path}")
    layer_ms = {k: ms(k) for k in ("parser", "analysis", "search_df", "self", "snippets", "respell")}
    print(f"# mean ms per query by span: {layer_ms}, total {ms('dur'):.1f}")
    return out
