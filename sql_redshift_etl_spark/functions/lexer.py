"""The one SQL tokenizer under the Redshift front-end (redshift_sql) and
the script runner (script_runner). Every quote-, comment- and
paren-aware scan in those modules is derived from the token stream
below; nothing else in the package tracks quote state.

Grammar (one compiled regex, tried left to right at each position):

- ``'...'``  string literal. A quote inside is written twice (``''``),
  the escape Redshift and Spark share. Backslash-escaped quotes
  (``\\'``) are NOT supported: a backslash is an ordinary character, so
  ``'it\\'s'`` ends at the second quote. Normalize such scripts first.
- ``"..."``  quoted identifier (``""`` inside stands for one ``"``).
- ``-- ...`` to the end of the line, and ``/* ... */`` (not nested):
  comments.
- ``$$...$$`` dollar-quoted body (procedure and function source). It is
  opaque: quotes, comments and semicolons inside it are body text.
- ``(``, ``)``, ``,`` and ``;``.
- words: runs of letters, digits, ``_`` and ``$`` (``$$`` never
  continues a word, so ``AS$$`` still opens a body).
- whitespace, and operator characters (everything else).

An unterminated literal, identifier, comment or body raises ValueError
in Redshift's wording, e.g. ``unterminated quoted string at or near
"'abc"``; so does a ``(`` that ``close_paren`` cannot close.

Derived helpers: ``strip_comments``, ``split_statements``, ``mask``
(same-length copy with literal, identifier and body contents blanked and
comments erased), ``close_paren``, ``top_matches`` / ``split_top`` /
``partition_top`` (paren-depth-0 matches outside quotes), and
``protect`` / ``restore`` / ``sub_outside_quotes`` (``re.sub`` that
cannot touch quoted text). Scans are cached per input string, so the
~35 rewrite passes over one statement tokenize it once.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from functools import lru_cache

_TOKEN = re.compile(
    r"(?P<lit>'[^']*(?:''[^']*)*')"
    r'|(?P<ident>"[^"]*(?:""[^"]*)*")'
    r"|(?P<comment>--[^\n]*|/\*.*?\*/)"
    r"|(?P<body>\$\$.*?\$\$)"
    r"|(?P<open>\()|(?P<close>\))|(?P<comma>,)|(?P<semi>;)"
    r"|(?P<word>(?:\w|\$(?!\$))+)"
    r"|(?P<space>\s+)"
    r"|(?P<bad>['\"]|/\*|\$\$)"
    r"|(?P<op>[^\w\s'\"(),;$/-]+|.)",
    re.S,
)

_UNTERMINATED = {
    "'": "unterminated quoted string",
    '"': "unterminated quoted identifier",
    "/*": "unterminated /* comment",
    "$$": "unterminated dollar-quoted string",
}

# token kinds whose text is data or commentary, not SQL structure
_OPAQUE = frozenset({"lit", "ident", "body", "comment"})


def _near(sql: str, at: int) -> str:
    snippet = sql[at : at + 60]
    return f'"{snippet}"'


@lru_cache(maxsize=512)
def tokens(sql: str) -> tuple[tuple[str, int, int], ...]:
    """``(kind, start, end)`` for every token; together they cover ``sql``."""
    out = []
    for m in _TOKEN.finditer(sql):
        kind = m.lastgroup
        if kind == "bad":
            raise ValueError(f"{_UNTERMINATED[m.group()]} at or near {_near(sql, m.start())}")
        out.append((kind, m.start(), m.end()))
    return tuple(out)


def strip_comments(sql: str) -> str:
    """``sql`` without its comments. A line comment keeps its newline and
    a block comment leaves one space, so both stay token separators
    (``a/**/b`` is two words). Comments inside ``$$`` bodies are body
    text and stay."""
    out, last = [], 0
    for kind, s, e in tokens(sql):
        if kind == "comment":
            out.append(sql[last:s])
            if sql.startswith("/*", s):
                out.append(" ")
            last = e
    out.append(sql[last:])
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Comment-free statements of ``script``, cut at every ``;`` outside
    literals, identifiers and ``$$`` bodies; stripped, empties dropped."""
    text = strip_comments(script)
    cuts = [s for kind, s, _ in tokens(text) if kind == "semi"]
    bounds = zip([-1, *cuts], [*cuts, len(text)])
    return [p for p in (text[a + 1 : b].strip() for a, b in bounds) if p]


@lru_cache(maxsize=512)
def mask(sql: str) -> str:
    """Same-length copy of ``sql`` for position-based scans: literal,
    identifier and body contents become spaces (delimiters stay) and
    comments become spaces entirely, so keyword, ``;`` and paren searches
    cannot match inside them."""
    out, last = [], 0
    for kind, s, e in tokens(sql):
        if kind in _OPAQUE:
            d = 0 if kind == "comment" else 2 if kind == "body" else 1
            out.append(sql[last : s + d])
            out.append(" " * (e - s - 2 * d))
            last = e - d
    out.append(sql[last:])
    return "".join(out)


@lru_cache(maxsize=512)
def _parens(sql: str) -> tuple[tuple[int, ...], tuple[int, ...], dict[int, int]]:
    """Sorted open and close positions, and each open paren's partner."""
    opens, closes, pairs, stack = [], [], {}, []
    for kind, s, _ in tokens(sql):
        if kind == "open":
            opens.append(s)
            stack.append(s)
        elif kind == "close":
            closes.append(s)
            if stack:
                pairs[stack.pop()] = s
    return tuple(opens), tuple(closes), pairs


def close_paren(sql: str, open_at: int) -> int:
    """Index just past the ``)`` that closes the ``(`` at ``open_at``."""
    close = _parens(sql)[2].get(open_at)
    if close is None:
        raise ValueError(f"unbalanced parentheses at or near {_near(sql, open_at)}")
    return close + 1


def top_matches(sql: str, pattern: str | re.Pattern) -> list[re.Match]:
    """Matches of ``pattern`` in ``mask(sql)`` that start at paren depth 0
    (parens in quotes and comments do not count). Match positions index
    ``sql`` too: the mask has the same length."""
    opens, closes, _ = _parens(sql)
    return [
        m
        for m in re.finditer(pattern, mask(sql))
        if bisect_left(opens, m.start()) == bisect_left(closes, m.start())
    ]


def _sep_pattern(sep: str) -> str:
    return rf"(?i)\b{sep}\b" if sep[0].isalpha() else re.escape(sep)


def split_top(sql: str, sep: str, maxsplit: int = -1) -> list[str]:
    """``sql`` cut at each depth-0 ``sep`` outside quotes. ``sep`` is a
    punctuation mark (``,``, ``;``) or a keyword, matched as a whole
    word in any case. Parts are returned unstripped."""
    parts, start = [], 0
    for m in top_matches(sql, _sep_pattern(sep)):
        if len(parts) == maxsplit:
            break
        parts.append(sql[start : m.start()])
        start = m.end()
    parts.append(sql[start:])
    return parts


def partition_top(sql: str, sep: str) -> tuple[str, str | None]:
    """``(head, tail)`` around the first depth-0 ``sep`` (both stripped),
    or ``(sql stripped, None)`` when there is none."""
    parts = split_top(sql, sep, 1)
    return parts[0].strip(), parts[1].strip() if len(parts) > 1 else None


_HOLE = re.compile(r"\x00(\d+)\x00")


def protect(sql: str) -> tuple[str, list[str]]:
    """``sql`` with every literal, quoted identifier, body and comment
    replaced by a ``\\x00<n>\\x00`` placeholder (NUL cannot occur in
    SQL text), plus the replaced texts for ``restore``. Regexes run on
    the protected text see each quoted token as one opaque atom."""
    saved, out, last = [], [], 0
    for kind, s, e in tokens(sql):
        if kind in _OPAQUE:
            out.append(sql[last:s])
            out.append(f"\x00{len(saved)}\x00")
            saved.append(sql[s:e])
            last = e
    out.append(sql[last:])
    return "".join(out), saved


def restore(text: str, saved: list[str]) -> str:
    return _HOLE.sub(lambda m: saved[int(m.group(1))], text)


def sub_outside_quotes(pattern: str | re.Pattern, repl, sql: str, flags: int = 0) -> str:
    """``re.sub`` that leaves literals, quoted identifiers, bodies and
    comments untouched."""
    text, saved = protect(sql)
    return restore(re.sub(pattern, repl, text, flags=flags), saved)
