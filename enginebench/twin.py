"""A live SQLite FTS5 twin of the engine, for checking results.

The twin holds the same documents as the engine's index in an FTS5 table
configured like the reference (``porter unicode61 remove_diacritics 2``,
``bm25(5.0, 1.0)`` over (title, body)). Match strings are compiled here
from the query text, independently of ``letarette_spark.query.parser``.

Interactive results follow the reference's capped pool: the first
``cap + 1`` matches in rowid order (``LIMIT cap+1``) are ranked by
(score, rowid); ``total_hits`` is ``min(matches, cap)`` and ``capped`` is
``matches > cap``.
"""

from __future__ import annotations

import math
import sqlite3

NEAR_RANGE = 15
TITLE_WEIGHT = 5.0
BODY_WEIGHT = 1.0


def parse(text: str) -> list[tuple[str, bool, bool]]:
    """(phrase, exclude, prefix) for the query shapes the generator makes:
    whitespace-separated words, ``"quoted phrases"``, a leading ``-`` for
    exclusion and a trailing ``*`` for prefix search."""
    out = []
    i, n = 0, len(text)
    while i < n:
        if text[i].isspace():
            i += 1
            continue
        exclude = text[i] == "-"
        if exclude:
            i += 1
        if i < n and text[i] == '"':
            j = text.index('"', i + 1)
            phrase = text[i + 1:j]
            i = j + 1
        else:
            j = i
            while j < n and not text[j].isspace() and text[j] != "*":
                j += 1
            phrase = text[i:j]
            i = j
        prefix = i < n and text[i] == "*"
        if prefix:
            i += 1
        if not phrase or '"' in phrase or "-" in phrase:
            raise ValueError(f"query shape outside the generated grammar: {text!r}")
        out.append((phrase, exclude, prefix))
    return out


def _quote(phrase: str, prefix: bool) -> str:
    return '"' + phrase + '"' + ("*" if prefix else "")


def compile_match(text: str) -> str:
    """The reference's FTS5 expression: one include phrase alone, several
    as ``NEAR(p1 p2 …, 15)``, excludes as ``NOT (e1 OR e2 …)``."""
    phrases = parse(text)
    inc = [_quote(p, w) for p, ex, w in phrases if not ex]
    exc = [_quote(p, w) for p, ex, w in phrases if ex]
    if not inc:
        return ""
    m = inc[0] if len(inc) == 1 else f"NEAR({' '.join(inc)}, {NEAR_RANGE})"
    if exc:
        m += " NOT (" + " OR ".join(exc) + ")"
    return m


def compile_bag(text: str, mode: str) -> str:
    """Batch semantics: plain conjunction or disjunction of words."""
    op = " AND " if mode == "and" else " OR "
    return op.join(_quote(p, False) for p, _ex, _w in parse(text))


class Fts5Twin:
    def __init__(self, docs):
        """``docs``: (rowid, doc_id, space, title, body) tuples."""
        self.con = sqlite3.connect(":memory:")
        self.con.execute(
            "CREATE VIRTUAL TABLE fts USING fts5(title, txt, "
            "tokenize='porter unicode61 remove_diacritics 2', prefix='2 3 4')"
        )
        self.con.execute(
            "CREATE TABLE meta(rowid INTEGER PRIMARY KEY, doc_id TEXT, space TEXT)"
        )
        self.upsert((r, d, s, t, b, True) for r, d, s, t, b in docs)

    def upsert(self, rows) -> None:
        """(rowid, doc_id, space, title, body, alive) rows: replace or delete."""
        cur = self.con.cursor()
        for rowid, doc_id, space, title, body, alive in rows:
            cur.execute("DELETE FROM fts WHERE rowid = ?", (rowid,))
            cur.execute("DELETE FROM meta WHERE rowid = ?", (rowid,))
            if alive:
                cur.execute(
                    "INSERT INTO fts(rowid, title, txt) VALUES (?, ?, ?)",
                    (rowid, title, body),
                )
                cur.execute(
                    "INSERT INTO meta(rowid, doc_id, space) VALUES (?, ?, ?)",
                    (rowid, doc_id, space),
                )
        self.con.commit()

    def doc_ids(self, rowids) -> list[str]:
        out = []
        for r in rowids:
            row = self.con.execute("SELECT doc_id FROM meta WHERE rowid = ?", (r,)).fetchone()
            out.append(row[0] if row else None)
        return out

    def search(self, text: str, spaces=None, cap: int = 10000, limit: int = 10):
        """(hits [(rowid, score)], total_hits, capped) for an interactive query."""
        match = compile_match(text)
        if not match:
            return [], 0, False
        sql = "SELECT rowid, bm25(fts, ?, ?) FROM fts WHERE fts MATCH ?"
        args: list = [TITLE_WEIGHT, BODY_WEIGHT, match]
        if spaces:
            sql += (
                " AND rowid IN (SELECT rowid FROM meta WHERE space IN ("
                + ",".join("?" * len(spaces)) + "))"
            )
            args += list(spaces)
        sql += " ORDER BY rowid LIMIT ?"
        args.append(cap + 1)
        pool = self.con.execute(sql, args).fetchall()
        ranked = sorted(pool, key=lambda r: (r[1], r[0]))[:limit]
        return ranked, min(len(pool), cap), len(pool) > cap

    def topk(self, text: str, mode: str, limit: int = 10):
        """Uncapped top-``limit`` (rowid, score) of a batch query."""
        return self.con.execute(
            "SELECT rowid, bm25(fts, ?, ?) AS r FROM fts WHERE fts MATCH ? "
            "ORDER BY r, rowid LIMIT ?",
            (TITLE_WEIGHT, BODY_WEIGHT, compile_bag(text, mode), limit),
        ).fetchall()


def same_ranking(got, want) -> str:
    """'' when two [(rowid, score)] lists agree (docIDs exactly, scores at
    1e-9 relative), else a description of the first difference."""
    if [r for r, _ in got] != [r for r, _ in want]:
        return f"rowids {[r for r, _ in got]} != {[r for r, _ in want]}"
    for (r, a), (_, b) in zip(got, want):
        if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return f"score of rowid {r}: {a!r} != {b!r}"
    return ""
