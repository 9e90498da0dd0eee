"""The one SQL lexer (``sqltext``) every dialect rewrite reads, property
tested over random mixes of words, commas, nested ``(``/``[``, comments and
quoted tokens with both escape styles:

- the token spans join back to the input exactly;
- each opener's match agrees with a plain reference scan written here;
- a comma inside a quote or a comment never splits.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from binance_etl_clickhouse_spark import sqltext

_words = st.sampled_from(["a", "b1", "sum", "x_y", "42", "SELECT", "FROM"])
_quoted = st.builds(
    lambda q, body: q + body + q,
    st.sampled_from(["'", '"', "`"]),
    st.lists(
        st.sampled_from(["x", ",", " ", "(", "]", "--", "/*", "\\'", "\\\"", "\\`", "\\\\"]),
        max_size=5,
    ).map("".join),
)
_doubled = st.sampled_from(["'it''s, (x'", '"a"",b"', "`c``,d`"])
_comments = st.sampled_from(["-- c, (x\n", "/* a, [b */", "/* ) , ' */"])
_atoms = st.one_of(
    _words,
    _quoted,
    _doubled,
    _comments,
    st.sampled_from([",", ",", " ", "\n", "(", ")", "[", "]", "=", ".", "'", "\\"]),
)


def _skipped_spans(text: str) -> set[int]:
    """Indices inside quoted tokens and comments, by a plain character
    walk (backslash and doubled-quote escapes; unterminated spans run to
    the end)."""
    skip, i, n = set(), 0, len(text)
    while i < n:
        ch, j = text[i], i + 1
        if ch in "'\"`":
            while j < n:
                if text[j] == "\\":
                    j += 2
                elif text[j] == ch and text[j + 1 : j + 2] == ch:
                    j += 2
                elif text[j] == ch:
                    j += 1
                    break
                else:
                    j += 1
        elif text.startswith("--", i):
            j = text.find("\n", i) if "\n" in text[i:] else n
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2) + 2 if "*/" in text[i + 2 :] else n
        else:
            i += 1
            continue
        skip.update(range(i, min(j, n)))
        i = j
    return skip


def _reference_matches(text: str) -> dict[int, int]:
    """Opener index -> closer index: a ``(`` counts parentheses only, a
    ``[`` counts both kinds together."""
    skip = _skipped_spans(text)
    out = {}
    for i, ch in enumerate(text):
        if i in skip or ch not in "([":
            continue
        depth = 0
        for j in range(i, len(text)):
            c = text[j]
            if j in skip or (ch == "(" and c in "[]"):
                continue
            depth += 1 if c in "([" else -1 if c in ")]" else 0
            if depth == 0:
                out[i] = j
                break
    return out


@given(st.lists(_atoms, max_size=30).map("".join))
@settings(max_examples=300, deadline=None)
def test_tokens_join_back_and_brackets_match(text):
    toks = sqltext.tokens(text)
    assert "".join(t.text for t in toks) == text
    assert all(text[t.start : t.end] == t.text for t in toks)
    skip = _skipped_spans(text)
    assert {i for t in toks if t.kind in (sqltext.QUOTED, sqltext.COMMENT) for i in range(t.start, t.end)} == skip
    got = {t.start: toks[t.close].start for t in toks if t.close >= 0}
    assert got == _reference_matches(text)


@given(st.lists(st.one_of(_words, _quoted, _doubled, _comments), min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_commas_inside_quotes_and_comments_never_split(parts):
    # each part holds no top-level comma of its own; joined by top-level
    # commas, the split returns exactly the parts (comments end their line)
    text = " , ".join(parts)
    assert sqltext.split_top_level(text) == [p.strip() for p in parts]


def test_escape_styles_and_unterminated_spans():
    toks = sqltext.tokens(r"'O\'Brien', 'O''Brien', `a``b`, 'open")
    assert [t.text for t in toks if t.kind == sqltext.QUOTED] == [
        r"'O\'Brien'",
        "'O''Brien'",
        "`a``b`",
        "'open",
    ]
    assert sqltext.strip_comments("a -- x, 'y\nb /* open") == "a  \nb  "
    assert sqltext.blank_quoted("f('a,b', c)") == "f(     , c)"
    # a match that would swallow a quoted token is not outside quotes
    ab = re.compile(r"a\s+b")
    assert sqltext.sub_unquoted(ab, "X", "a 'q' b, a b, 'a b'") == "a 'q' b, X, 'a b'"
    assert sqltext.top_level_words("SELECT f(x) FROM t") == [
        (0, 6, "SELECT"),
        (7, 8, "F"),
        (12, 16, "FROM"),
        (17, 18, "T"),
    ]


def test_unbalanced_open_paren_raises_and_bracket_reads_minus_one():
    with pytest.raises(ValueError, match="unbalanced parentheses"):
        sqltext.find_close("f(a, (b)", 1)
    assert sqltext.find_close("a[1", 1) == -1
    assert sqltext.find_close("f(a[1)", 1) == 5  # brackets aside
