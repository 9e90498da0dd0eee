"""SQL text lexing: one pass per text, shared by every dialect rewrite.

ClickHouse lexes a statement once (``src/Parsers/Lexer.cpp``) and every
later stage reads its tokens. The rewrites in ``dialect.py`` and
``dialect_ddl.py`` do the same: :func:`tokens` splits a text into token
spans in one regex pass and records, for each token, its ``(``/``[``
nesting depth and, for an opener, its matching closer. The helpers below
read that one token list, so the lexical contract lives here:

* **quoted** tokens: ``'...'`` string literals and ``"..."`` / ```...```
  quoted identifiers. Both ClickHouse escape styles hold in all three: a
  backslash escapes the next character (``'O\\'Brien'``) and a doubled
  quote stands for itself (``'O''Brien'``). An unterminated quote runs to
  the end of the text.
* **comment** tokens: ``-- ...`` up to the end of the line, ``/* ... */``
  (an unterminated block comment runs to the end of the text).
* **word** tokens: maximal runs of ``[A-Za-z0-9_]`` (numbers included).
* **space** tokens: maximal whitespace runs; **punct**: any other single
  character.
* depth counts ``(`` and ``[`` together. A ``(`` matches the ``)`` that
  balances the parentheses, brackets aside; a ``[`` matches the first
  later closer, of either kind, that brings the depth back to its own. An
  unmatched ``(`` raises (:func:`close_of`); an unmatched ``[`` is left to
  the caller.

:func:`tokens` is memoized on the text, so the dozen clause passes that
each read the same statement lex it once.
"""

from __future__ import annotations

import bisect
import functools
import operator
import re
from typing import NamedTuple

QUOTED, COMMENT, WORD, SPACE, PUNCT = "quoted", "comment", "word", "space", "punct"

_TOKEN_RE = re.compile(
    r"(?P<quoted>'(?:[^\\']+|\\[\s\S]?|'')*'?"
    r'|"(?:[^\\"]+|\\[\s\S]?|"")*"?'
    r"|`(?:[^\\`]+|\\[\s\S]?|``)*`?)"
    r"|(?P<comment>--[^\n]*|/\*[\s\S]*?(?:\*/|\Z))"
    r"|(?P<word>[A-Za-z0-9_]+)"
    r"|(?P<space>\s+)"
    r"|(?P<punct>[\s\S])"
)


class Token(NamedTuple):
    kind: str  # QUOTED | COMMENT | WORD | SPACE | PUNCT
    text: str
    start: int
    end: int
    #: open ``(``/``[`` around the token; an opener and its closer sit at
    #: the outer depth, and a stray closer takes the depth below zero
    depth: int
    #: an opener's matching closer (token index), else -1
    close: int = -1


@functools.lru_cache(maxsize=256)
def tokens(sql: str) -> tuple[Token, ...]:
    """The token spans of ``sql``, in order; their texts join back to it."""
    out: list[Token] = []
    openers: list[int] = []  # both kinds
    parens: list[int] = []
    depth = 0
    for m in _TOKEN_RE.finditer(sql):
        kind, text = m.lastgroup, m.group()
        if kind == PUNCT and text in ")]":
            depth -= 1
            k = openers.pop() if openers else -1
            if k >= 0 and out[k].text == "[":
                out[k] = out[k]._replace(close=len(out))
            if text == ")" and parens:
                k = parens.pop()
                out[k] = out[k]._replace(close=len(out))
        out.append(Token(kind, text, m.start(), m.end(), depth))
        if kind == PUNCT and text in "([":
            openers.append(len(out) - 1)
            if text == "(":
                parens.append(len(out) - 1)
            depth += 1
    return tuple(out)


def close_of(toks: tuple[Token, ...], k: int) -> int:
    """Token index of the closer matching the opener ``toks[k]``. An
    unbalanced ``(`` raises ValueError; an unbalanced ``[`` gives -1."""
    t = toks[k]
    if t.close < 0 and t.text == "(":
        raise ValueError(f"unbalanced parentheses in SQL near index {t.start}")
    return t.close


def find_close(sql: str, i: int) -> int:
    """Character index of the closer matching the ``(`` or ``[`` at
    ``sql[i]`` (same contract as :func:`close_of`)."""
    toks = tokens(sql)
    c = close_of(toks, bisect.bisect_left(toks, i, key=operator.attrgetter("start")))
    return toks[c].start if c >= 0 else -1


def next_paren(toks: tuple[Token, ...], k: int) -> int:
    """Index of the ``(`` that follows ``toks[k]`` (whitespace allowed
    between), or -1 — the call test of the function-call walkers."""
    k += 1
    if k < len(toks) and toks[k].kind == SPACE:
        k += 1
    return k if k < len(toks) and toks[k].text == "(" else -1


def strip_comments(sql: str) -> str:
    """``sql`` with every comment replaced by one space (a comment
    separates tokens: ``t/* hint */WHERE`` must not glue into one word)."""
    toks = tokens(sql)
    if not any(t.kind == COMMENT for t in toks):
        return sql
    return "".join(" " if t.kind == COMMENT else t.text for t in toks)


def blank_quoted(sql: str) -> str:
    """``sql`` with every quoted token replaced by as many spaces, so a
    regex over it never matches inside a literal and its offsets still
    index ``sql``."""
    return "".join(
        " " * len(t.text) if t.kind == QUOTED else t.text for t in tokens(sql)
    )


def sub_unquoted(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` matching only outside quoted tokens
    (matches are found on :func:`blank_quoted` text, and one that spans a
    blanked token is left as it is; ``repl`` is a string or a match ->
    string function, as for ``re.sub``)."""
    blank = blank_quoted(sql)
    out, last = [], 0
    for m in pattern.finditer(blank):
        if blank[m.start() : m.end()] != sql[m.start() : m.end()]:
            continue
        out += (sql[last : m.start()], repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def top_level_commas(sql: str) -> list[int]:
    """Character indices of the commas at depth 0."""
    return [t.start for t in tokens(sql) if t.depth == 0 and t.text == ","]


def split_at(sql: str, cuts: list[int]) -> list[str]:
    """``sql`` split at the separator indices ``cuts``, each part stripped;
    an empty last part is dropped."""
    parts, last = [], 0
    for c in cuts:
        parts.append(sql[last:c].strip())
        last = c + 1
    tail = sql[last:].strip()
    return [*parts, tail] if tail else parts


def split_top_level(sql: str) -> list[str]:
    """``sql`` split at its depth-0 commas (a call's argument list, a
    select list, a column list)."""
    return split_at(sql, top_level_commas(sql))


def top_level_words(sql: str) -> list[tuple[int, int, str]]:
    """``(start, end, UPPER-word)`` of every depth-0 word: the clause
    keywords (and numbers) the clause rewrites navigate by."""
    return [
        (t.start, t.end, t.text.upper())
        for t in tokens(sql)
        if t.kind == WORD and t.depth == 0
    ]
