"""Seeded input generator for the engine benchmark.

Everything here is plain Python driven by ``random.Random`` instances
seeded from ``seed`` (the ingest plan also asks the benchmark's own FTS5
twin for top hits), and none of it imports ``letarette_spark``: a change
to the library cannot change the inputs. The same seed gives byte-identical documents and query
streams (``digest`` hashes them; ``test_inputs.py`` pins the property).

The corpus is shaped like source code in three spaces (``go``, ``py``,
``md``):

* ``HEAD_WORDS`` are keywords present in ~97% of documents, so their
  document frequency exceeds a result cap of two thirds of the corpus;
* identifiers follow a Zipf law over a seeded pseudo-word vocabulary, so a
  few identifiers sit near the cap, most have a document frequency between
  a handful and a few thousand, and the tail is rare;
* numbers, and repeated identifier n-grams that phrase and NEAR queries
  find.

Query classes for the interactive stream (``QUERY_CLASSES``); one cycle
of the stream (``CYCLE``) holds each class once and ``head`` twice:

=========  ===========================================================
head       one keyword above the cap (the capped path)
term       one identifier under the cap (the WAND path)
near       2-3 identifiers, implicit NEAR(…, 15)
phrase     a quoted n-gram
not        identifier plus an excluded identifier
prefix     a 3-4 letter prefix query
space      one identifier with a space filter
typo       an identifier with one letter changed: zero hits, so respell
=========  ===========================================================
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from dataclasses import dataclass, field

SPACES = ("go", "py", "md")
HEAD_WORDS = (
    "return", "value", "error", "string", "data", "index", "result",
    "count", "buffer", "config", "handler", "context",
)
HEAD_PROB = 0.97            # chance a document carries a given head word
SPACE_KEYWORDS = {
    "go": ("func", "package", "struct", "defer", "chan"),
    "py": ("def", "import", "self", "lambda", "yield"),
    "md": ("section", "example", "usage", "note", "see"),
}
QUERY_CLASSES = ("head", "term", "near", "phrase", "not", "prefix", "space", "typo")
# Single frequent words are the commonest queries in real logs, so a cycle
# has a second head query. With five cheap queries (head, not, prefix,
# space) and four costly ones, the median of a cycle is one cheap query,
# not the midpoint between the two groups, which jumped with the costly
# query nearest the middle.
CYCLE = QUERY_CLASSES + ("head",)
MAX_QUERIES = len(CYCLE) * (len(HEAD_WORDS) // CYCLE.count("head"))

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "du", "fa", "go",
    "hi", "ju", "ko", "le", "ma", "no", "pi", "qu", "ri", "so", "tu", "va",
    "we", "xo", "ya", "ze", "bar", "kin", "mor", "tal", "vex", "dun", "pol",
    "sar", "tem", "wix", "zol", "fen", "gar", "hul", "jor", "lum", "nix",
)
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class Corpus:
    """Documents as (rowid, doc_id, space, title, body) tuples plus the
    vocabulary facts the query generators draw from."""

    docs: list[tuple[int, str, str, str, str]]
    vocab: list[str]                       # Zipf rank order
    ngrams: list[tuple[str, ...]]
    raw_df: dict[str, int] = field(default_factory=dict)

    def input_bytes(self) -> int:
        return sum(
            len(d.encode()) + len(s.encode()) + len(t.encode()) + len(b.encode())
            for _r, d, s, t, b in self.docs
        )


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set(HEAD_WORDS)
    for kws in SPACE_KEYWORDS.values():
        seen.update(kws)
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class _Zipf:
    def __init__(self, n: int, s: float, offset: float):
        acc, cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + offset) ** s
            cum.append(acc)
        self.cum, self.total = cum, acc

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.total)


VOCAB_SIZE = 3000


def make_corpus(seed: int, n_docs: int, words_per_doc: int) -> Corpus:
    """``n_docs`` documents. Vocabulary and n-grams depend only on ``seed``;
    document ``i`` depends on ``(seed, i)``, so documents added later by
    the ingest plan share the vocabulary of the corpus."""
    vrng = random.Random(f"vocab:{seed}")
    vocab = _vocabulary(vrng, VOCAB_SIZE)
    zipf = _Zipf(VOCAB_SIZE, 1.0, 3.0)
    # n-grams over mid-rank identifiers: frequent enough to co-occur,
    # rare enough to stay under the cap
    ngrams = []
    for i in range(160):
        k = 2 if i % 3 else 3
        ngrams.append(tuple(vocab[vrng.randrange(30, 600)] for _ in range(k)))
    docs = []
    raw_df: dict[str, int] = {}
    for i in range(n_docs):
        docs.append(make_doc(seed, i, vocab, zipf, ngrams, words_per_doc, raw_df))
    return Corpus(docs, vocab, ngrams, raw_df)


def make_doc(seed, i, vocab, zipf, ngrams, words_per_doc, raw_df=None, version=0):
    rng = random.Random(f"doc:{seed}:{i}:{version}")
    space = SPACES[i % 3]
    kws = SPACE_KEYWORDS[space]
    ident = lambda: vocab[zipf.draw(rng)]  # noqa: E731
    heads = [w for w in HEAD_WORDS if rng.random() < HEAD_PROB]
    rng.shuffle(heads)
    lines = []
    seen: set[str] = set()
    n_words = 0
    while n_words < words_per_doc or heads:
        kind = rng.random()
        if kind < 0.15:
            g = ngrams[rng.randrange(len(ngrams))]
            words = [rng.choice(kws), *g]
        elif kind < 0.25:
            words = [ident(), str(rng.randrange(1000)), ident()]
        else:
            words = [rng.choice(kws)] + [ident() for _ in range(rng.randint(2, 5))]
        if heads:
            words.insert(rng.randrange(len(words) + 1), heads.pop())
        n_words += len(words)
        seen.update(words)
        if space == "go":
            lines.append(f"\t{words[0]} {'_'.join(words[1:3])}({', '.join(words[3:])})")
        elif space == "py":
            lines.append(f"    {words[0]} {'.'.join(words[1:3])}: {' '.join(words[3:])}")
        else:
            lines.append("- " + " ".join(words))
    title = f"{vocab[zipf.draw(rng)]}/{vocab[zipf.draw(rng)]}.{space}"
    body = "\n".join(lines)
    if raw_df is not None:
        for w in seen:
            raw_df[w] = raw_df.get(w, 0) + 1
    doc_id = f"repo{i % 97}:{title}#{i}"
    return (rowid_of(seed, i), doc_id, space, title, body)


def rowid_of(seed: int, i: int) -> int:
    """A stable non-negative 63-bit rowid per document number (FTS5 and the
    engine both break score ties by rowid, so it must not depend on order)."""
    h = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") >> 1


# ---------------------------------------------------------------------------
# interactive query stream
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Query:
    qid: str
    cls: str
    text: str
    spaces: tuple[str, ...] | None = None


def _mid_words(corpus: Corpus, lo: int, hi: int) -> list[str]:
    return [w for w in corpus.vocab if lo <= corpus.raw_df.get(w, 0) <= hi]


def search_queries(corpus: Corpus, seed: int, n: int, tag: str = "q") -> list[Query]:
    """``n`` distinct queries cycling through ``CYCLE`` in a fixed order,
    so each whole cycle of the stream has the same mix of classes.
    Identifiers come from the document-frequency band between 40 and a
    third of the corpus, which keeps them under a cap of two thirds."""
    rng = random.Random(f"queries:{tag}:{seed}")
    top = len(corpus.docs) // 3
    terms = _mid_words(corpus, 40, top)
    near_pool = _mid_words(corpus, top // 4, top)
    heads = list(HEAD_WORDS)
    rng.shuffle(heads)
    known = set(corpus.vocab) | set(HEAD_WORDS)
    seen: set[tuple] = set()
    out: list[Query] = []

    def gen(cls: str, k: int) -> Query:
        if cls == "head":
            return Query("", cls, heads[k])
        if cls == "term":
            return Query("", cls, rng.choice(terms))
        # the shape of a near or prefix query sets much of its cost, so it
        # alternates by cycle instead of by chance: every run's first
        # cycle has a two-word NEAR and a three-letter prefix
        if cls == "near":
            g = corpus.ngrams[rng.randrange(len(corpus.ngrams))]
            words = list(g[:2])
            rng.shuffle(words)
            if k % 2:
                words.append(rng.choice(near_pool))
            return Query("", cls, " ".join(words))
        if cls == "phrase":
            g = corpus.ngrams[rng.randrange(len(corpus.ngrams))]
            return Query("", cls, '"' + " ".join(g[:2]) + '"')
        if cls == "not":
            return Query("", cls, f"{rng.choice(near_pool)} -{rng.choice(near_pool)}")
        if cls == "prefix":
            w = rng.choice(terms)
            return Query("", cls, w[: 3 + k % 2] + "*")
        if cls == "space":
            return Query("", cls, rng.choice(terms), (SPACES[rng.randrange(3)],))
        # typo: one substituted letter, not itself a vocabulary word
        while True:
            w = rng.choice([t for t in terms if len(t) >= 6])
            j = rng.randrange(1, len(w) - 1)
            c = rng.choice(_LETTERS.replace(w[j], ""))
            t = w[:j] + c + w[j + 1:]
            if t not in known:
                return Query("", cls, t)

    if n > MAX_QUERIES:
        raise ValueError(f"at most {MAX_QUERIES} distinct queries")
    made = dict.fromkeys(QUERY_CLASSES, 0)   # queries of each class so far
    while len(out) < n:
        cls = CYCLE[len(out) % len(CYCLE)]
        q = gen(cls, made[cls])
        made[cls] += 1
        while (q.text, q.spaces) in seen:
            q = gen(cls, 0)
        seen.add((q.text, q.spaces))
        out.append(Query(f"{tag}{len(out)}", cls, q.text, q.spaces))
    return out


# ---------------------------------------------------------------------------
# batch query stream
# ---------------------------------------------------------------------------
def batch_calls(
    corpus: Corpus, seed: int, n_calls: int, per_call: int
) -> list[tuple[str, list[tuple[str, str]]]]:
    """``n_calls`` (mode, [(query_id, text), ...]) batches of plain words:
    1-3 identifiers per query, AND and OR calls alternating."""
    rng = random.Random(f"batch:{seed}")
    terms = _mid_words(corpus, 5, 4000)
    calls = []
    for c in range(n_calls):
        mode = "and" if c % 2 == 0 else "or"
        qs = []
        for j in range(per_call):
            k = 1 + j % 3
            qs.append((f"b{c}.{j}", " ".join(rng.sample(terms, k))))
        calls.append((mode, qs))
    return calls


# ---------------------------------------------------------------------------
# ingest stream
# ---------------------------------------------------------------------------
POOL_CLASSES = ("near", "phrase", "term")


@dataclass
class IngestPlan:
    """A small repeating query pool and rounds of (rowid, doc_id, space,
    title, body, alive) upserts. Each round inserts new documents,
    tombstones a few and replaces others; among the replaced documents is
    the best-ranked hit of one pool query (a different one each
    round), so the per-document cache invalidation drops that entry
    and the others stay cache hits."""

    pool: list[Query]
    rounds: list[list[tuple]]


def ingest_plan(
    seed: int, corpus: Corpus, n_rounds: int, per_round: int, words_per_doc: int, cap: int
) -> IngestPlan:
    from twin import Fts5Twin  # the benchmark's own FTS5 model, not the engine

    rng = random.Random(f"upserts:{seed}")
    twin = Fts5Twin(corpus.docs)
    stream = search_queries(corpus, seed, MAX_QUERIES, tag="pool")
    pool = []
    for cls in POOL_CLASSES:
        # a query with hits: a cached empty result has no document to invalidate
        q = next(
            q for q in stream
            if q.cls == cls and twin.search(q.text, q.spaces, cap)[0]
        )
        pool.append(Query(f"p{len(pool)}", cls, q.text, q.spaces))
    vocab, ngrams = corpus.vocab, corpus.ngrams
    zipf = _Zipf(len(vocab), 1.0, 3.0)
    current = {d[0]: (i, d) for i, d in enumerate(corpus.docs)}
    n_new = per_round // 2
    n_del = max(1, per_round // 10)
    nxt = len(corpus.docs)
    rounds = []
    for r in range(n_rounds):
        touched: dict[int, tuple] = {}

        def replace(rowid):
            i, old = current[rowid]
            _r, _d, _s, title, body = make_doc(
                seed, i, vocab, zipf, ngrams, words_per_doc, version=r + 1
            )
            touched[rowid] = (rowid, old[1], old[2], title, body, True)

        # the top hits of the other pool queries stay untouched, so the
        # round invalidates exactly one cached entry
        tops = [[rid for rid, _s in twin.search(q.text, q.spaces, cap)[0]] for q in pool]
        mine = r % len(pool)
        protected = {rid for k, top in enumerate(tops) if k != mine for rid in top}
        target = [rid for rid in tops[mine] if rid not in protected]
        if target:
            replace(target[0])
        for _ in range(n_new):
            d = make_doc(seed, nxt, vocab, zipf, ngrams, words_per_doc)
            current[d[0]] = (nxt, d)
            touched[d[0]] = (*d, True)
            nxt += 1
        base = sorted(rid for rid in current if rid not in touched and rid not in protected)
        for rid in rng.sample(base, n_del):
            _i, old = current.pop(rid)
            touched[rid] = (*old, False)
        base = [rid for rid in base if rid in current]
        for rid in rng.sample(base, max(0, per_round - len(touched))):
            replace(rid)
        batch = list(touched.values())
        for row in batch:
            if row[5]:
                current[row[0]] = (current[row[0]][0], row[:5])
        twin.upsert(batch)
        rounds.append(batch)
    return IngestPlan(pool, rounds)


def digest(*parts) -> str:
    """sha256 over the JSON form of generated inputs."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=list).encode())
    return h.hexdigest()
