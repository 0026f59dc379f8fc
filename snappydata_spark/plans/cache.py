"""Plan cache with parameterized literals.

The reference's single biggest lifecycle feature missing from Catalyst
(SURVEY.md §4): literals in the SQL text are tokenized (ParamLiteral,
SnappyParser.scala:226-261) so textually different but structurally
identical queries share one cached plan, with new literal values re-bound
(SnappySession.scala:2584-2683).

PySpark realization: normalize the SQL text by replacing literals with
positional slots → (template, values).  The cache maps
(scope, template, values) → the analyzed DataFrame, so a repeated query
(same template AND values — the dashboard refresh shape) returns the
cached DataFrame with zero re-parse/re-analysis.  A template hit with NEW
values re-binds through Spark 3.4+ parameterized sql(template, args):
one parse of the same template text, values bound as parameters — the
closest public-API analogue of ParamLiteral re-binding (PySpark exposes
no hook to mutate literals inside an already-analyzed plan).

`scope` carries the session user: row-level-security policies make view
contents user-dependent, so plans must never be shared across users
(CachedKey includes schema/user, SnappySession.scala:2807).  Any view
refresh (mutation, policy change) must `clear()` the cache — the session
facade does this in `_refresh_view`.
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

# string literals first (so numbers inside strings aren't tokenized), then
# numeric literals not part of an identifier.  PROTECTED text is kept
# verbatim, never parameterized:
# - double-quoted text: under Spark's default dialect "..." is a string
#   literal, under ANSI double-quoted-identifiers it's an identifier —
#   either way its contents must not be tokenized (a number inside would
#   otherwise leave a :pN marker INSIDE the literal, which parses fine
#   with the arg unused and silently compares against ':pN');
# - the string of a typed literal (DATE '...', TIMESTAMP '...',
#   INTERVAL '...', X'...'): it is part of the literal's syntax —
#   `TIMESTAMP :p0` parses as a column named TIMESTAMP.
_STRING = re.compile(r"'(?:[^'\\]|\\.)*'")
_PROTECTED = re.compile(
    r'"(?:[^"\\]|\\.)*"'
    r"|(?<![\w.])(?i:DATE|TIMESTAMP(?:_NTZ|_LTZ)?|INTERVAL|X)\s*"
    + _STRING.pattern
)
_NUMBER = re.compile(r"(?<![\w'\.])-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?(?![\w'])")
# one pass finds protected / string / number occurrences in text order
_LITERAL = re.compile(
    f"(?P<keep>{_PROTECTED.pattern})|{_STRING.pattern}|{_NUMBER.pattern}"
)


def normalize_sql(text: str) -> tuple[str, list[str]]:
    """Replace literals with :p0, :p1 ... ; return (template, values)."""
    values: list[str] = []

    def _sub(m: re.Match) -> str:
        if m.group("keep"):
            return m.group(0)
        values.append(m.group(0))
        return f":p{len(values) - 1}"

    return _LITERAL.sub(_sub, text), values


class PlanCache:
    """Guava-planCache analogue (size default PlanCacheSize, Literals.scala:
    122-124); LRU of normalized-SQL → parameterized plan."""

    def __init__(self, max_size: int = 3000, enabled: bool = True):
        self.max_size = max_size
        self.enabled = enabled
        self._cache: OrderedDict[tuple, DataFrame] = OrderedDict()
        # concurrent sessions share one cache (the reference's is a shared
        # Guava cache); parse/analyze runs OUTSIDE the lock so concurrent
        # misses don't serialize on each other
        self._lock = threading.RLock()
        self.hits = 0
        self.misses = 0
        # templates that failed parameterized parse once fall back to raw
        # text permanently (literal tokenization can move a literal into a
        # position where parameters are illegal, e.g. LIMIT in old Sparks)
        self._raw_templates: set[str] = set()

    def get_or_build(self, spark: SparkSession, text: str, scope: str = "") -> DataFrame:
        if not self.enabled:
            return spark.sql(text)
        template, values = normalize_sql(text)
        key = (scope, template, tuple(values))
        with self._lock:
            cached = self._cache.get(key)
            if cached is not None:
                # true plan reuse: same template + same values (dashboard
                # refresh) returns the already-analyzed DataFrame
                self.hits += 1
                self._cache.move_to_end(key)
                return cached
            self.misses += 1
        # Spark 3.4+ parameterized SQL: the parse tree for a given template
        # is identical across calls; literal values bind as parameters
        # (DynamicReplacableConstant analogue, ParamLiteral.scala:44-100).
        df = None
        if values and template not in self._raw_templates:
            args = {f"p{i}": _parse_literal(v) for i, v in enumerate(values)}
            try:
                df = spark.sql(template, args=args)
            except Exception:
                # remember dialect corners the normalizer mangles and stop
                # retrying them (CodegenSparkFallback analogue,
                # SnappyStrategies:831-856)
                self._raw_templates.add(template)
        if df is None:
            df = spark.sql(text)
        with self._lock:
            self._cache[key] = df
            if len(self._cache) > self.max_size:
                self._cache.popitem(last=False)
        return df

    def clear(self) -> None:
        """Invalidate every cached plan.  Called on any view refresh —
        mutation, DDL, policy/grant change — because cached DataFrames
        capture the view definition (and its file listing) at analysis
        time and would otherwise serve stale plans."""
        with self._lock:
            self._cache.clear()


# Spark's ParserUtils.unescapeSQLString escape set: named control chars,
# \uXXXX, LIKE escapes (\% \_) keep their backslash, any other \x → x
_NAMED_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "b": "\b",
    "0": "\0",
    "Z": "\x1a",
    "%": "\\%",
    "_": "\\_",
}


def _unescape_sql_string(s: str) -> str:
    def _one(m: re.Match) -> str:
        if m.group(1) is not None:  # \uXXXX
            return chr(int(m.group(1), 16))
        c = m.group(2)
        return _NAMED_ESCAPES.get(c, c)

    return re.sub(r"\\u([0-9a-fA-F]{4})|\\(.)", _one, s)


def _parse_literal(tok: str):
    if tok.startswith("'"):
        return _unescape_sql_string(tok[1:-1])
    try:
        if re.search(r"[\.eE]", tok):
            return float(tok)
        return int(tok)
    except ValueError:
        return tok
