"""The ONE lexer-accurate SQL scanner the engine's lexical rewrites use
(dialect rewrites, placeholder binding, remote-name scans), plus the
literal helpers built on it.

Whether a statement may write is not decided here: ``Engine.sql``
decides it from Spark's own parse (``read_only=True``, or a restricted
caller), as the reference decides it from the planned statement's type
(beacon-mcp server.rs:70-85, statement_plan/mod.rs:58-78).

Why a hand lexer and not a regex: Spark's default lexer
(``escapedStringLiterals=false``) treats backslash as an escape inside
string literals, and allows comments between any two tokens. A blanking
regex that knows only the SQL ``''`` escape desyncs from the real lexer
on ``'\\''`` — a rewrite then fires inside what Spark parses as a literal,
or skips what Spark parses as code. Every scan below tracks literals
(single- AND double-quoted, with ``\\x`` and doubled-quote escapes),
``--``/``/* */`` comments, and backtick-quoted identifiers exactly as
Spark's ANTLR lexer does.
"""

from __future__ import annotations

__all__ = [
    "scrub_sql", "sql_noncode_spans", "sql_string_literal", "sql_is_closed",
]


def sql_string_literal(value: str) -> str:
    """Spark-lexer-safe single-quoted literal. ``''``-doubling alone is
    NOT enough: Spark treats backslash as a live escape inside single
    quotes, so a value ending in ``\\`` turns the closing quote into an
    escaped character — the literal swallows the following statement
    text and re-opens code at an attacker-influenced point. Every
    value spliced into engine-executed SQL must come through here."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def _lex(sql: str):
    """Yield ``(kind, start, end)`` tokens over ``sql`` where kind is
    'code', 'lit' (string literal incl. quotes), 'comment', or 'ident'
    (backtick-quoted). Mirrors Spark's default lexer: ``\\x`` escapes and
    doubled quotes inside literals, ``--``-to-EOL and ``/* */`` comments,
    doubled backticks inside quoted identifiers. Unterminated constructs
    run to end-of-string (Spark would reject the statement; treating the
    tail as non-code errs toward blanking, never toward leaking)."""
    i, n = 0, len(sql)
    code_start = 0

    def flush(upto):
        nonlocal code_start
        if upto > code_start:
            yield ("code", code_start, upto)

    while i < n:
        c = sql[i]
        if c == "-" and sql.startswith("--", i):
            yield from flush(i)
            j = sql.find("\n", i)
            j = n if j == -1 else j
            yield ("comment", i, j)
            i = code_start = j
        elif c == "/" and sql.startswith("/*", i):
            yield from flush(i)
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            yield ("comment", i, j)
            i = code_start = j
        elif c in ("'", '"'):
            yield from flush(i)
            q, j = c, i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            yield ("lit", i, j)
            i = code_start = j
        elif c == "`":
            yield from flush(i)
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            yield ("ident", i, j)
            i = code_start = j
        else:
            i += 1
    yield from flush(n)


def sql_noncode_spans(
    sql: str, include_idents: bool = True
) -> list[tuple[int, int]]:
    """(start, end) spans of everything that is NOT code: string
    literals, comments, and (by default) backtick-quoted identifiers.
    Lexical rewrites/gates must skip matches starting inside these;
    scanners that RESOLVE table references pass
    ``include_idents=False`` — a backticked name is still a reference."""
    skip = {"lit", "comment"} | ({"ident"} if include_idents else set())
    return [(s, e) for kind, s, e in _lex(sql) if kind in skip]


def scrub_sql(sql: str) -> str:
    """Lexer-accurate scrub for keyword scans: comments become one space
    (so token adjacency survives — ``parquet/**/.`` still reads as
    ``parquet .``), string-literal bodies are blanked (quotes kept),
    backtick identifiers pass through."""
    out: list[str] = []
    for kind, s, e in _lex(sql):
        if kind == "comment":
            out.append(" ")
        elif kind == "lit":
            out.append(sql[s] + sql[e - 1] if e - s >= 2 else "''")
        else:
            out.append(sql[s:e])
    return "".join(out)


def sql_is_closed(sql: str) -> bool:
    """True when ``sql`` ends in CODE state — no open literal, comment,
    or backtick identifier. A fragment ending inside an open construct
    is DANGEROUS to splice into a larger statement: the open literal
    (or a trailing ``--``) swallows the template text that follows and
    re-opens code at a point the fragment author chose — gates that
    splice caller fragments must refuse it. Decided by the SAME lexer
    as every other gate, via a sentinel: append a marker and check it
    lexes as code (hand-rolled closure rules desync on '' / \\\\' tails)."""
    marker = "__beacon_closed_probe__"
    probe = sql + marker
    for kind, s, e in _lex(probe):
        if kind == "code" and marker in probe[s:e]:
            return True
    return False
