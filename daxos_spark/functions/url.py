"""URL canonicalization — the normalization every crawl pipeline runs
BEFORE content-level dedup (CCNet / RefinedWeb stage order: a page
refetched under utm-tagged, fragment-bearing, or case-twiddled URLs
must collapse to ONE canonical key so URL-level dedup can keep the
latest snapshot and the expensive content dedup never sees the
syndication noise).

Rules, applied in a FIXED order (each is one regex pass; all patterns
are RE2-safe — no backrefs in the PATTERN, no lookaround — and every
comparison is exact string machinery, so Spark and duckdb produce the
identical canonical key):

  1. fragment strip:      everything from '#' (DOTALL — the ANCHOR_RE
                          lesson: `.`'s line-terminator sets differ
                          between Java regex and RE2 without (?s))
  2. scheme+host lower:   the authority prefix (scheme '://' host[:port])
                          is extracted, lowercased, and re-attached;
                          the PATH keeps its case (case-significant
                          per RFC 3986)
  3. www strip:           'https?://www.' → 'https?://'
  4. default-port strip:  ':80' on http, ':443' on https
  5. tracking params:     utm_*, fbclid, gclid, ref removed from the
                          query string (three passes: '&'-separated,
                          leading-followed-by-more, leading-and-last)
  6. trailing slash:      a path-final '/' is dropped (before '?' or at
                          end); '//' (the scheme separator or an empty
                          path segment) is never touched

Documented limitations (deterministic, identical in both engines):
no percent-encoding normalization, no query-param re-ordering, no IDN
handling; scheme-less inputs pass through rules 1/5/6 only (rule 2's
extract misses, degrading to a no-op). These are the same conscious
omissions CCNet's URL normalizer makes — the rules above catch the
variant classes that dominate real crawl duplicates.

Replacement-string dialects differ (Spark backreference is ``$1``,
duckdb is ``\\1``) — the generators below take care of it; regex
literals go through the shared ``_spark_lit`` escaping rule
(functions/html.py) on the Spark side only.
"""

from __future__ import annotations

from .html import _spark_lit

FRAG_RE = r"(?s)#.*"
SCHEME_HOST_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?]*)"
WWW_RE = r"^(https?://)www\."
PORT80_RE = r"^(http://[^/:]+):80\z"
PORT443_RE = r"^(https://[^/:]+):443\z"
_TRACK = r"(?:utm_[a-z0-9_]+|fbclid|gclid|ref)"
TRACK_AMP_RE = r"&" + _TRACK + r"=[^&#]*"
TRACK_LEAD_MID_RE = r"\?" + _TRACK + r"=[^&#]*&"
TRACK_LEAD_END_RE = r"\?" + _TRACK + r"=[^&#]*\z"
SLASH_Q_RE = r"([^/])/\?"
SLASH_END_RE = r"([^/])/\z"


def _steps(rr, rx, ref1):
    """The shared rule chain. ``rr(expr, pat, repl)`` renders a global
    regexp_replace, ``rx(expr, pat)`` a group-1 regexp_extract, and
    ``ref1`` is the dialect's group-1 backreference token. Returns the
    list of (rule_name, build) where build maps the previous step's
    fragment to this step's fragment."""

    def authority(prev: str) -> str:
        sh = rx(prev, SCHEME_HOST_RE)
        fixed = rr(
            rr(rr(f"lower({sh})", WWW_RE, ref1), PORT80_RE, ref1), PORT443_RE, ref1
        )
        return f"concat({fixed}, substr({prev}, length({sh}) + 1))"

    return [
        ("fragment", lambda p: rr(p, FRAG_RE, "")),
        ("authority", authority),
        (
            "tracking",
            lambda p: rr(
                rr(rr(p, TRACK_AMP_RE, ""), TRACK_LEAD_MID_RE, "?"),
                TRACK_LEAD_END_RE,
                "",
            ),
        ),
        (
            "slash",
            lambda p: rr(rr(p, SLASH_Q_RE, ref1 + "?"), SLASH_END_RE, ref1),
        ),
    ]


# ---------------------------------------------------------------- Spark side


def _rr_spark(expr: str, pat: str, repl: str) -> str:
    return f"regexp_replace({expr}, '{_spark_lit(pat)}', '{repl}')"


def _rx_spark(expr: str, pat: str) -> str:
    return f"regexp_extract({expr}, '{_spark_lit(pat)}', 1)"


def url_canonical_sqlexpr(url_expr: str) -> str:
    """Spark-SQL fragment: the canonical form of ``url_expr``."""
    out = url_expr
    for _, build in _steps(_rr_spark, _rx_spark, "$1"):
        out = build(out)
    return out


def url_rule_steps_spark(url_expr: str) -> list[tuple[str, str]]:
    """[(rule_name, fragment_after_rule)] — cumulative, for the
    per-rule fire census."""
    out = url_expr
    acc = []
    for rule, build in _steps(_rr_spark, _rx_spark, "$1"):
        out = build(out)
        acc.append((rule, out))
    return acc


# ----------------------------------------------------------------- SQL side


def _rr_sql(expr: str, pat: str, repl: str) -> str:
    # duckdb replacement backref dialect is \1 — double the backslash
    # INSIDE the python literal only
    repl = repl.replace("$1", "\\1")
    return f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"


def _rx_sql(expr: str, pat: str) -> str:
    return f"regexp_extract({expr}, '{pat}', 1)"


def sql_url_canonical(url_expr: str) -> str:
    out = url_expr
    for _, build in _steps(_rr_sql, _rx_sql, "$1"):
        out = build(out)
    return out


def url_rule_steps_sql(url_expr: str) -> list[tuple[str, str]]:
    out = url_expr
    acc = []
    for rule, build in _steps(_rr_sql, _rx_sql, "$1"):
        out = build(out)
        acc.append((rule, out))
    return acc
