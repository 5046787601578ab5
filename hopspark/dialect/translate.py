"""Token-level Impala→Spark SQL rewriter.

Not a full parser: a lossless tokenizer plus targeted token-stream rewrites.
Each rewrite corresponds to a documented dialect delta (SURVEY.md §3, §7.B);
unrecognized SQL passes through byte-for-byte, so Spark-compatible queries
are never harmed.
"""

from __future__ import annotations

import re
import zoneinfo
from collections.abc import Callable
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")
    | (?P<bquote>`[^`]*`)
    | (?P<num>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
    | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><=>|<>|!=|<=|>=|\|\||&&|::|[-+*/%(),.<>=!\[\]{};?&^~|])
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Tok:
    kind: str  # ws | comment | str | bquote | num | word | op
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper()


def tokenize(sql: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            # Unknown byte — keep it verbatim as an op token.
            out.append(Tok("op", sql[pos]))
            pos += 1
            continue
        out.append(Tok(m.lastgroup or "op", m.group()))
        pos = m.end()
    return out


def untokenize(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def _splice(toks: list[Tok], lo: int, hi: int, text: str) -> int:
    """Replace ``toks[lo:hi]`` with the tokens of ``text``; returns how
    many tokens went in."""
    new = tokenize(text)
    toks[lo:hi] = new
    return len(new)


def _single_quoted(body: str) -> str:
    """The body of a string literal as a single-quoted Spark literal: a
    quote the body holds unescaped (a double-quoted literal may) gets a
    backslash."""
    return "'" + re.sub(r"(?<!\\)((?:\\\\)*)'", r"\1\\'", body) + "'"


def _is_code(t: Tok) -> bool:
    return t.kind not in ("ws", "comment")


def _next_code(toks: list[Tok], i: int) -> int:
    """Index of next code token at or after i, or len(toks)."""
    while i < len(toks) and not _is_code(toks[i]):
        i += 1
    return i


def _prev_code(toks: list[Tok], i: int) -> int:
    """Index of previous code token at or before i, or -1."""
    while i >= 0 and not _is_code(toks[i]):
        i -= 1
    return i


def _matching_paren(toks: list[Tok], open_i: int) -> int:
    """Given index of '(', return index of its ')'."""
    depth = 0
    for j in range(open_i, len(toks)):
        if toks[j].text == "(":
            depth += 1
        elif toks[j].text == ")":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses in SQL")


def _split_args(toks: list[Tok], open_i: int, close_i: int) -> list[tuple[int, int]]:
    """Arg spans [(start, end_exclusive)] between '(' and ')', split on
    top-level commas."""
    spans: list[tuple[int, int]] = []
    depth = 0
    start = open_i + 1
    for j in range(open_i + 1, close_i):
        t = toks[j].text
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif t == "," and depth == 0:
            spans.append((start, j))
            start = j + 1
    if close_i > open_i + 1:
        spans.append((start, close_i))
    return spans


def _ds_kll_render_sql(name: str, x: str, ps: list[str]) -> str:
    """Spark SQL for the DataSketches KLL string renderings: exact
    aggregates over the sketched expression `x`, formatted like the
    reference's std::stringstream output (ds_format_value = "%.6g").

    CDF/PMF follow the library's default EXCLUSIVE rank semantics (fraction
    of items < split point) and return len(splits)+1 values with the CDF's
    trailing normalized 1 (kll_sketch::get_CDF/get_PMF)."""
    fmt = "ds_format_value"
    if name == "ds_kll_quantiles_as_string":
        parts = [f"{fmt}(CAST(percentile({x}, {p}) AS FLOAT))" for p in ps]
        return "concat(" + ", ',', ".join(parts) + ")"
    if name in ("ds_kll_cdf_as_string", "ds_kll_pmf_as_string"):
        # literal split points must be unique and ascending (reference:
        # "Values must be unique and monotonically increasing")
        try:
            nums = [float(p) for p in ps]
        except ValueError:
            nums = []
        if nums and any(b <= a for a, b in zip(nums, nums[1:])):
            raise ValueError("Values must be unique and monotonically increasing")
        if name == "ds_kll_cdf_as_string":
            parts = [
                f"{fmt}(avg(CAST({x} < {p} AS DOUBLE)))" for p in ps
            ] + ["'1'"]
        else:
            parts = [f"{fmt}(avg(CAST({x} < {ps[0]} AS DOUBLE)))"]
            parts += [
                f"{fmt}(avg(CAST({x} >= {a} AND {x} < {b} AS DOUBLE)))"
                for a, b in zip(ps, ps[1:])
            ]
            parts.append(f"{fmt}(avg(CAST({x} >= {ps[-1]} AS DOUBLE)))")
        return "concat(" + ", ',', ".join(parts) + ")"
    # ds_kll_stringify → the to_string(false, false) summary block. K/M are
    # the library defaults (kll_sketch: k=200, m=8); N/min/max are exact;
    # levels is the ceil-log2 level count the compactor ladder implies.
    n = f"count({x})"
    levels = (
        f"IF({n} <= 200, 1, CAST(ceil(log2({n} / 200.0)) AS BIGINT) + 1)"
    )
    return (
        "concat('### KLL sketch summary:\\n',"
        "'   K              : 200\\n',"
        "'   min K          : 200\\n',"
        "'   M              : 8\\n',"
        f"'   N              : ', CAST({n} AS STRING), '\\n',"
        "'   Epsilon        : 1.33%\\n',"
        "'   Epsilon PMF    : 1.65%\\n',"
        "'   Empty          : false\\n',"
        f"'   Estimation mode: ', IF({n} > 200, 'true', 'false'), '\\n',"
        f"'   Levels         : ', CAST({levels} AS STRING), '\\n',"
        f"'   Sorted         : false\\n',"
        f"'   Min value      : ', ds_format_value(CAST(min({x}) AS DOUBLE)), '\\n',"
        f"'   Max value      : ', ds_format_value(CAST(max({x}) AS DOUBLE)), '\\n',"
        "'### End sketch summary\\n')"
    )


# ---------------------------------------------------------------------------
# Rewrite 1: function renames / small argument rewrites
# ---------------------------------------------------------------------------

# name → spark name (same argument list)
_FN_RENAME = {
    "ndv": "approx_count_distinct",
    "strleft": "left",
    "strright": "right",
    # murmur_hash is registered faithfully in functions/registry.py
    # (MurmurHash2_64, hash-util.h) — no rename needed.
    "dceil": "ceil",
    "dfloor": "floor",
    "dround": "round",
    "dexp": "exp",
    "dlog10": "log10",
    "dsqrt": "sqrt",
    "dpow": "pow",
    "fpow": "pow",
    "lcase": "lower",
    "ucase": "upper",
    "char_length": "length",
    "character_length": "length",
    "is_nan": "isnan",
    # time-of-day ignored + unrounded (MonthsBetween; expr-test.cc:6982)
    "months_between": "months_between2",
    "week": "weekofyear",
    # fmod gets an arg-casting rewrite in _rewrite_functions (FLOAT/DOUBLE
    # only signatures) — not a plain rename
    "user": "current_user",
    "effective_user": "current_user",
    "logged_in_user": "current_user",
    "current_sid": "current_session",
    "regexp": "rlike",
    # distance-function short aliases (impala_functions.py jaro/le families)
    "jaro_dst": "jaro_distance",
    "jaro_sim": "jaro_similarity",
    "jw_dst": "jaro_winkler_distance",
    "jw_sim": "jaro_winkler_similarity",
    "le_dst": "levenshtein",
    "dle_dst": "damerau_levenshtein",
    # dlog1 = natural log (math-functions-ir.cc); bytes() = byte length
    "dlog1": "ln",
    "bytes": "octet_length",
    # variance_pop/variance_samp aliases (BuiltinsDb.java:1254,1270);
    # Spark spells them var_pop/var_samp (variance itself is native).
    "variance_pop": "var_pop",
    "variance_samp": "var_samp",
    # DataSketches HLL family → Spark's native HLL sketches (Spark 3.5+).
    # The sketch *bytes* differ (DataSketches vs Spark's implementation) but
    # the agg/estimate/union algebra is the same (reference BuiltinsDb
    # ds_hll_* registrations at 1095-1116).
    "ds_hll_sketch": "hll_sketch_agg",
    "ds_hll_estimate": "hll_sketch_estimate",
    "ds_hll_union": "hll_union_agg",
    # probabilistic-counting ancestors (BuiltinsDb distinctpc/distinctpcsa
    # :1200,1210) — all map to the modern HLL approximation
    "distinctpc": "approx_count_distinct",
    "distinctpcsa": "approx_count_distinct",
    # sample(x): "some value from the group" (BuiltinsDb:1020) — any_value
    # matches the contract minus the pseudo-random pick (documented).
    "sample": "any_value",
    # theta/cpc sketch families: in SQL, count-distinct algebra maps onto
    # Spark's HLL sketches; the full theta algebra incl. intersect/exclude
    # (ds_theta_intersect / ds_theta_exclude) is implemented natively as KMV
    # sketches in hopspark.operators.sketches (DataFrame API).
    "ds_theta_sketch": "hll_sketch_agg",
    "ds_theta_estimate": "hll_sketch_estimate",
    "ds_theta_union": "hll_union_agg",
    "ds_cpc_sketch": "hll_sketch_agg",
    "ds_cpc_estimate": "hll_sketch_estimate",
    "ds_cpc_union": "hll_union_agg",
    # scalar two-sketch unions (ds_*_union_f) → Spark's scalar hll_union;
    # *_stringify → hex rendering of the sketch bytes
    "ds_hll_union_f": "hll_union",
    "ds_cpc_union_f": "hll_union",
    "ds_theta_union_f": "hll_union",
    "ds_hll_stringify": "hex",
    "ds_cpc_stringify": "hex",
}

# name → (spark_name, extra_args_sql_appended)
_FN_APPEND_ARG = {
    "appx_median": ("percentile_approx", "0.5"),
    "nullifzero": ("nullif", "0"),
    "zeroifnull": ("coalesce", "0"),
    "dayname": ("date_format", "'EEEE'"),
    "monthname": ("date_format", "'MMMM'"),
}

# name → (spark_name, default_appended_only_when_one_arg): Impala
# group_concat(x) joins with ', ' (aggregate-functions-ir.cc StringConcat
# default separator); Spark string_agg defaults to ''.
_FN_DEFAULT_ARG = {
    "group_concat": ("string_agg", "', '"),
}

#: timezone abbreviations Spark's JVM resolves that zoneinfo does not
_TZ_ABBRS = {
    "UTC", "GMT", "PST", "PDT", "EST", "EDT", "CST", "CDT", "MST", "MDT",
    "HST", "AKST", "AKDT", "CET", "CEST", "EET", "EEST", "WET", "WEST",
    "JST", "IST", "BST", "NST", "AST", "ADT",
    # Java legacy three-letter zone IDs the JVM still resolves
    "ACT", "AET", "AGT", "ART", "BET", "CAT", "CNT", "CTT", "EAT", "ECT",
    "IET", "MIT", "NET", "PLT", "PNT", "PRT", "SST", "VST",
}


def _tz_known(name: str) -> bool:
    """True when a literal timezone name resolves — unknown names make
    from/to_utc_timestamp a PASSTHROUGH in the reference (timezone_db
    lookup failure) where Spark raises INVALID_TIMEZONE."""
    if name.upper() in _TZ_ABBRS:
        return True
    if re.fullmatch(r"[+-]\d{1,2}(:\d{2})?", name):
        return True
    try:
        zoneinfo.ZoneInfo(name)
    except (zoneinfo.ZoneInfoNotFoundError, ValueError, OSError):
        return False
    return True


def _rewrite_escape_residue(toks: list[Tok]) -> list[Tok]:
    """Lexical-compat fixups.

    NOTE on escapes: the reference's BE receives Hive-unescaped literals
    (unknown escapes DROP the backslash — Hive3MetastoreShimBase
    unescapeSQLString default case; expr-test.cc:4978 pins
    regexp_match_count('abc123efg', '[\\^\\\\d]') = 6, i.e. the pattern
    reached RE2 as [^\\d]), which matches Spark's literal parser — so NO
    escape rewriting is done here.  The reference's FE CONSTANT-FOLDING
    path compares with raw escapes instead (StringLiteral.getStringValue
    returns original escapes), making least('apples','app\\fles') pins
    unreproducible simultaneously with the BE contract — classed
    fe-fold-escape-context in the expr triage."""
    # lexical compat: the reference's flex scanner tokenizes a number glued
    # to a keyword ('...832as decimal(38,31)' — expr-test.cc:6038 runs it);
    # Spark's lexer rejects digit-followed-by-letter, so re-insert a space
    k = len(toks) - 1
    while k > 0:
        if (
            toks[k].kind == "word"
            and toks[k - 1].kind == "num"
        ):
            toks.insert(k, Tok("ws", " "))
        k -= 1
    return toks


def _ts_range_guard(
    expr: str, date_aware: bool = False, lo: int | None = None
) -> str:
    """Wrap a timestamp-producing expression with the reference's valid-range
    contract: TIMESTAMP values live in [1400-01-01, 10000-01-01) and every
    producer (string/numeric casts, interval arithmetic, timezone
    conversion) returns NULL outside it (timestamp-value.h TimestampValue;
    exprs.test out-of-range rows). Spark has no such range, and year-10000
    values even crash the Python collect path — the guard is both a
    semantic and a safety fix.

    ``date_aware``: the reference's DATE type has the WIDER range
    [0001-01-01, 9999-12-31] (date-value.h), and DATE ± INTERVAL stays
    DATE — so arithmetic sites whose operand type is unknowable at
    translate time dispatch the lower bound on runtime typeof().

    ``lo``: static lower-bound override for sites where the operand is
    PROVABLY DATE at translate time (lo=1) — e.g. date_trunc's DATE
    overload (round-8 advice, medium)."""
    # upper() directly: this guard is spliced AFTER the typeof-uppercase
    # dialect pass has run, and that pass skips an already-upper-wrapped
    # typeof on re-translation (idempotency)
    lo_sql = (
        str(lo)
        if lo is not None
        else (
            f"(CASE WHEN upper(typeof({expr})) = 'DATE' THEN 1 ELSE 1400 END)"
            if date_aware
            else "1400"
        )
    )
    return f"(CASE WHEN year({expr}) BETWEEN {lo_sql} AND 9999 THEN {expr} END)"


#: functions whose TIMESTAMP result must be range-guarded where called
#: date_trunc included: truncation can cross the lower bound
#: (date_trunc('WEEK', '1400-01-01') lands in 1399 — NULL in the
#: reference, expr-test date_trunc rows)
_TS_GUARD_FNS = {"from_utc_timestamp", "to_utc_timestamp", "date_trunc"}

#: extract()/date_part() field names (udf-builtins.cc ExtractUnit) — used
#: to disambiguate extract('<ts string>', 'unit') where BOTH args are
#: string literals
_EXTRACT_UNITS = {
    "YEAR", "QUARTER", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND",
    "MILLISECOND", "EPOCH",
}

#: datetime functions whose STRING argument the reference implicit-casts
#: through the validating string→TIMESTAMP path (so year('1399-12-31') and
#: last_day('00:00:00') are NULL, not Spark's lenient parse). A bare
#: string-literal argument is wrapped in CAST(... AS TIMESTAMP), which the
#: literal validation + range guard above then police. Maps fn → index of
#: the timestamp argument.
_IMPLICIT_TS_ARG_FNS = {
    "year": 0, "month": 0, "day": 0, "dayofmonth": 0, "hour": 0,
    "minute": 0, "second": 0, "quarter": 0, "dayofweek": 0,
    "dayofyear": 0, "weekofyear": 0, "last_day": 0, "last_day1": 0,
    "next_day2": 0, "date_trunc": 1, "unix_timestamp": 0,
}

#: keywords that may directly precede '(' without being a function name
_PRIMARY_KEYWORDS = {
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "ON",
    "BY", "IN", "ALL", "ANY", "SOME", "DISTINCT", "UNION", "INTERSECT",
    "EXCEPT", "FROM", "AS", "CASE", "END", "HAVING", "LIKE", "ILIKE",
    "RLIKE", "BETWEEN", "IS", "JOIN", "VALUES", "OVER", "PARTITION",
    "USING", "EXISTS", "THEN", "LIMIT", "OFFSET", "RETURN",
}


def _scan_interval_unit(toks: list[Tok], start: int) -> int | None:
    """From the token after INTERVAL, find the unit word at depth 0 (same
    search discipline as _rewrite_interval_exprs). Returns the unit token
    index or None."""
    depth = 0
    k = start
    n = len(toks)
    while k < n:
        tk = toks[k]
        if not _is_code(tk):
            k += 1
            continue
        if tk.text == "(":
            depth += 1
        elif tk.text == ")":
            if depth == 0:
                return None
            depth -= 1
        elif depth == 0:
            if tk.text in (",", ";"):
                return None
            if tk.kind == "word":
                base = tk.text.lower()
                if base.endswith("s"):
                    base = base[:-1]
                if base in _INTERVAL_UNIT_POS or base in _INTERVAL_SUBSEC_DIV:
                    prv = _prev_code(toks, k - 1)
                    if prv >= 0 and toks[prv].text == ".":
                        k += 1
                        continue
                    nxt = _next_code(toks, k + 1)
                    if nxt >= n or toks[nxt].text != "(":
                        return k
                elif tk.upper in _INTERVAL_STOP_WORDS:
                    return None
        k += 1
    return None


def _primary_start(toks: list[Tok], p: int) -> int | None:
    """Index where the primary expression ending at code token p begins:
    a parenthesized group (with an optional preceding function name /
    CAST keyword), or a (possibly dotted) identifier/literal chain."""
    if p < 0:
        return None
    t = toks[p]
    if t.text == ")":
        depth = 0
        q = p
        while q >= 0:
            if toks[q].text == ")":
                depth += 1
            elif toks[q].text == "(":
                depth -= 1
                if depth == 0:
                    break
            q -= 1
        if q < 0:
            return None
        before = _prev_code(toks, q - 1)
        # a word directly before '(' is a call's function name UNLESS it
        # is a SQL keyword (SELECT (CASE...), WHEN (...), AND (...), …)
        if (
            before >= 0
            and toks[before].kind == "word"
            and toks[before].upper not in _PRIMARY_KEYWORDS
        ):
            return before
        return q
    if t.kind == "word" and t.upper == "END":
        # CASE ... END is itself a primary: scan back to the matching CASE
        # (nested CASEs tracked by depth). Treating END as a bare identifier
        # spliced the guard around `END + INTERVAL ...`, producing
        # unparseable SQL (round-7 advice, high).
        depth = 0
        q = p
        while q >= 0:
            tk = toks[q]
            if _is_code(tk) and tk.kind == "word":
                if tk.upper == "END":
                    depth += 1
                elif tk.upper == "CASE":
                    depth -= 1
                    if depth == 0:
                        return q
            q -= 1
        return None
    if t.kind in ("word", "num", "str", "bquote"):
        # typed literals keep their type keyword: DATE '...' / TIMESTAMP '...'
        if t.kind == "str":
            kw = _prev_code(toks, p - 1)
            if kw >= 0 and toks[kw].upper in ("DATE", "TIMESTAMP"):
                return kw
        start = p
        while True:
            dot = _prev_code(toks, start - 1)
            if dot < 0 or toks[dot].text != ".":
                return start
            ident = _prev_code(toks, dot - 1)
            if ident < 0 or toks[ident].kind not in ("word", "bquote"):
                return start
            start = ident
    return None


def _in_guard_context(toks: list[Tok], start: int) -> bool:
    """True when the producer at `start` sits in one of the three positions
    the range guard itself creates, verified STRUCTURALLY against the guard
    template ``CASE WHEN year(X) BETWEEN {lo} AND 9999 THEN X END`` (and the
    date_aware lo's ``upper(typeof(X)) = 'DATE'``).  Round-7 advice: the old
    check skipped on ANY `year(`/`typeof(`/post-THEN context, so user-written
    ``CASE WHEN c THEN CAST(s AS TIMESTAMP) END`` and
    ``year(CAST(s AS TIMESTAMP))`` never got the guard and year-10000 values
    could still crash the collect path.  Matching the template keeps
    translate() idempotent without suppressing the guard on user SQL.  (When
    user SQL literally spells the guard template, skipping is semantically
    correct — the producer is already range-dispatched.)"""
    prev = _prev_code(toks, start - 1)
    if prev < 0:
        return False
    n = len(toks)
    if toks[prev].text == "(":
        fn = _prev_code(toks, prev - 1)
        if fn < 0 or toks[fn].kind != "word":
            return False
        low = toks[fn].text.lower()
        if low == "year":
            # guard scaffold: CASE WHEN year ( X ) BETWEEN ...
            w = _prev_code(toks, fn - 1)
            if w < 0 or toks[w].upper != "WHEN":
                return False
            c = _prev_code(toks, w - 1)
            if c < 0 or toks[c].upper != "CASE":
                return False
            close = _matching_paren(toks, prev)
            after = _next_code(toks, close + 1)
            return after < n and toks[after].upper == "BETWEEN"
        if low == "typeof":
            # date_aware lo scaffold: upper ( typeof ( X ) ) = 'DATE'
            op = _prev_code(toks, fn - 1)
            if op < 0 or toks[op].text != "(":
                return False
            up_fn = _prev_code(toks, op - 1)
            if up_fn < 0 or toks[up_fn].text.lower() != "upper":
                return False
            close = _matching_paren(toks, prev)
            after = _next_code(toks, close + 1)
            if after >= n or toks[after].text != ")":
                return False
            eq = _next_code(toks, after + 1)
            if eq >= n or toks[eq].text != "=":
                return False
            lit = _next_code(toks, eq + 1)
            return (
                lit < n
                and toks[lit].kind == "str"
                and toks[lit].text.strip("'\"").upper() == "DATE"
            )
        return False
    if toks[prev].upper == "THEN":
        # guard scaffold: BETWEEN {lo} AND 9999 THEN X END
        p1 = _prev_code(toks, prev - 1)
        if p1 < 0 or toks[p1].text != "9999":
            return False
        p2 = _prev_code(toks, p1 - 1)
        if p2 < 0 or toks[p2].upper != "AND":
            return False
        p3 = _prev_code(toks, p2 - 1)
        if p3 < 0:
            return False
        if toks[p3].text in ("1400", "1"):  # 1 = static DATE-overload lo
            p4 = _prev_code(toks, p3 - 1)
            return p4 >= 0 and toks[p4].upper == "BETWEEN"
        if toks[p3].text == ")":
            # date_aware lo: BETWEEN (CASE ... END) AND 9999
            open_i = _matching_paren_rev(toks, p3)
            p4 = _prev_code(toks, open_i - 1)
            return p4 >= 0 and toks[p4].upper == "BETWEEN"
        return False
    return False


def _after_values_rows(toks: list[Tok], i: int) -> int:
    """The index after the row list of the VALUES keyword at ``i``.  Spark
    inline tables reject non-foldable expressions such as CASE
    (INVALID_INLINE_TABLE), so the passes that splice guards or kernels
    skip the rows: values written there keep Spark's native semantics
    (documented delta)."""
    k = _next_code(toks, i + 1)
    while k < len(toks) and toks[k].text == "(":
        k = _next_code(toks, _matching_paren(toks, k) + 1)
        if k < len(toks) and toks[k].text == ",":
            k = _next_code(toks, k + 1)
        else:
            break
    return k


def _rewrite_timestamp_range(toks: list[Tok]) -> list[Tok]:
    """Apply the TIMESTAMP valid-range contract (see _ts_range_guard) to the
    three producer shapes the reference NULLs out-of-range:

      * ``CAST(x AS TIMESTAMP)`` without FORMAT (string, BIGINT-unixtime
        and DOUBLE-unixtime conversions all route here),
      * infix interval arithmetic ``<primary> ± INTERVAL <qty> <unit>``,
      * ``from_utc_timestamp`` / ``to_utc_timestamp`` results.

    Each wrap splices guard text and skips past it, so the duplicated
    inner expression is not re-wrapped (the guard is semantically
    idempotent; skipping just avoids token blow-up)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word":
            i += 1
            continue
        up = t.upper
        low = t.text.lower()
        if up == "VALUES":
            i = _after_values_rows(toks, i)
            continue
        if up == "CAST":
            c = _parse_cast(toks, i)
            if c is None or c.fmt is not None:
                i += 1
                continue
            j, as_idx, close = c.open, c.as_, c.close
            if c.ty in ("TINYINT", "SMALLINT", "INT") and _static_type(
                toks, j + 1, as_idx
            ) == "TIMESTAMP":
                # CAST(<timestamp> AS intN): the reference converts to
                # epoch seconds then TRUNCATES to the int width (C++
                # static_cast wrap) — Spark NULLs the overflow
                # (expr-test.cc:3459 pins -128; :7063-7065 pin 77/-4787)
                inner = untokenize(
                    _rewrite_timestamp_range(toks[j + 1 : as_idx])
                ).strip()
                repl = tokenize(
                    f"CAST(sxw(to_unix_timestamp({inner}), "
                    f"{_INT_WIDTH_TYPES[c.ty]}) AS {toks[c.type_s].text})"
                )
                toks[i : close + 1] = repl
                i += len(repl)
                continue
            if c.ty != "TIMESTAMP" or _in_guard_context(toks, i):
                i += 1
                continue
            # STRING-LITERAL shape validation (static): the reference
            # rejects partial datetime forms — year-only, year-month,
            # hour-without-seconds, trailing '.', time-with-space-zone —
            # as NULL (timestamp-parse-util; expr-test TestIsNull rows for
            # '1909', '1909-10', '1909-10-2 12', '1:05:1'), while Spark's
            # lenient cast fills the missing parts (a time-only string
            # even resolves against TODAY — nondeterministic). The
            # reference's dateless time-only timestamps are unrepresentable
            # in Spark and also map to NULL (documented delta).
            lit_code = [
                k for k in range(j + 1, as_idx) if _is_code(toks[k])
            ]
            # NUMERIC epoch literals (bare or CAST(n AS DECIMAL(p,s))):
            # the reference NULLs epochs outside [1400-01-01, 10000-01-01)
            # where Spark's int64 micros arithmetic silently WRAPS
            # (expr-test.cc:3435-3447 pin NULL for ±2^63-scale decimals)
            num, num_re = toks[j + 1 : as_idx], r"-?\d+(?:\.\d+)?"
            dec = _parse_cast(toks, lit_code[0]) if lit_code else None
            if (
                dec is not None
                and dec.close == lit_code[-1]
                and dec.fmt is None
                and dec.ty.startswith("DECIMAL")
            ):
                num, num_re = toks[dec.open + 1 : dec.as_], r"-?\d+"
            m_num = re.fullmatch(num_re, untokenize(num).strip())
            if m_num:
                v = float(m_num.group())
                if not (-17987443200 <= v < 253402300800):
                    toks[i : close + 1] = tokenize("CAST(NULL AS TIMESTAMP)")
                    continue
            if len(lit_code) == 1 and toks[lit_code[0]].kind == "str":
                text = toks[lit_code[0]].text.strip("'\"")
                # validate on the UNESCAPED value (Spark's literal parser
                # turns \t/\r/\n escapes into real whitespace)
                text = (
                    text.replace("\\t", "\t")
                    .replace("\\r", "\r")
                    .replace("\\n", "\n")
                )
                # the date-time separator is a run of SPACES or a single
                # 'T' — a \t/\r/\n between the parts is REJECTED
                # (expr-test.cc:3395-3400) even though leading/trailing
                # whitespace of any kind is accepted (:3338)
                if not re.fullmatch(
                    r"\s*\d{1,4}-\d{1,2}-\d{1,2}"
                    r"(( +|T)\d{1,2}:\d{1,2}:\d{1,2}(\.\d*)?"
                    r"([+-]\d{2}(:?\d{2})?|Z)?)?\s*",
                    text,
                ) or text.rstrip().endswith("."):
                    # splice a typed NULL and RE-PROCESS it from i so the
                    # normal branch guard-wraps it — keeps translate()
                    # idempotent (re-translation sees the guarded form)
                    toks[i : close + 1] = tokenize("CAST(NULL AS TIMESTAMP)")
                    continue
                # the reference's parser accepts a WHITESPACE RUN between
                # the date and time parts ('2001-01-09   01:05:01') where
                # Spark's cast rejects it — normalize the literal.  A
                # trailing timezone offset is parsed but IGNORED
                # (timestamp-parse-util; expr-test.cc:7606-7619 pin
                # cast('2012-01-01T09:10:11+01:30' as timestamp) to
                # 09:10:11 wall time) — strip it so Spark doesn't apply it.
                norm = re.sub(r"\s+", " ", text.strip())
                norm = re.sub(
                    r"(:\d{1,2}(\.\d*)?)([+-]\d{2}(:?\d{2})?|Z)$",
                    r"\1",
                    norm,
                )
                if norm != text:
                    q = toks[lit_code[0]].text[0]
                    toks[lit_code[0]] = Tok("str", f"{q}{norm}{q}")
            # recurse over the parenthesized part only (the CAST keyword
            # itself must not re-enter this branch)
            inner = "CAST" + untokenize(
                _rewrite_timestamp_range(toks[j : close + 1])
            ).strip()
            new_toks = tokenize(_ts_range_guard(inner))
            toks[i : close + 1] = new_toks
            i += len(new_toks)
            continue
        if low in _IMPLICIT_TS_ARG_FNS:
            j2 = _next_code(toks, i + 1)
            if j2 < len(toks) and toks[j2].text == "(":
                close2 = _matching_paren(toks, j2)
                args2 = _split_args(toks, j2, close2)
                ai = _IMPLICIT_TS_ARG_FNS[low]
                # unix_timestamp only in its 1-arg form — the 2-arg form
                # parses with an explicit format, not the implicit cast
                if low == "unix_timestamp" and len(args2) != 1:
                    ai = len(args2)  # disable
                if len(args2) > ai:
                    ac = [
                        k for k in range(*args2[ai]) if _is_code(toks[k])
                    ]
                    if len(ac) == 1 and toks[ac[0]].kind == "str":
                        toks[ac[0] : ac[0] + 1] = tokenize(
                            f"CAST({toks[ac[0]].text} AS TIMESTAMP)"
                        )
                        continue  # re-process from i: validate + guard
        if low in _TS_GUARD_FNS:
            j = _next_code(toks, i + 1)
            if j >= len(toks) or toks[j].text != "(" or _in_guard_context(toks, i):
                i += 1
                continue
            close = _matching_paren(toks, j)
            lo_override: int | None = None
            if low == "date_trunc":
                # the DATE overload has the WIDER [0001, 9999] range
                # (date-value.h): date_trunc('YEAR', DATE '1200-06-15')
                # is DATE '1200-01-01' in the reference, NOT NULL.  The
                # function pass has already DATE(...)-wrapped provably-DATE
                # arguments, so detect either the wrap or the typed arg
                # and drop the 1400 floor to 1 (round-8 advice, medium).
                args_g = _split_args(toks, j, close)
                prev_g = _prev_code(toks, i - 1)
                inside_date_g = (
                    prev_g >= 0
                    and toks[prev_g].text == "("
                    and _prev_code(toks, prev_g - 1) >= 0
                    and toks[_prev_code(toks, prev_g - 1)].upper == "DATE"
                )
                if inside_date_g or (
                    len(args_g) == 2
                    and _static_type(toks, *args_g[1]) == "DATE"
                ):
                    lo_override = 1
            inner = t.text + untokenize(
                _rewrite_timestamp_range(toks[j : close + 1])
            ).strip()
            new_toks = tokenize(_ts_range_guard(inner, lo=lo_override))
            toks[i : close + 1] = new_toks
            i += len(new_toks)
            continue
        if up == "INTERVAL":
            op_idx = _prev_code(toks, i - 1)
            if op_idx < 0 or toks[op_idx].text not in ("+", "-"):
                i += 1
                continue
            unit_idx = _scan_interval_unit(toks, _next_code(toks, i + 1))
            if unit_idx is None:
                i += 1
                continue
            prim = _primary_start(toks, _prev_code(toks, op_idx - 1))
            if prim is None or _in_guard_context(toks, prim):
                i += 1
                continue
            p_end = _prev_code(toks, op_idx - 1)
            if (
                prim == p_end
                and toks[prim].kind == "word"
                and toks[prim].upper == "NULL"
            ):
                # NULL ± INTERVAL n unit is NULL (the reference types the
                # NULL operand TIMESTAMP); Spark cannot resolve the bare
                # form — splice a typed NULL, re-process for the guard
                toks[prim : unit_idx + 1] = tokenize(
                    "CAST(NULL AS TIMESTAMP)"
                )
                i = prim
                continue
            # If the primary is itself the right operand of a binary
            # operator (`a - b + INTERVAL 1 DAY`, `a * b + INTERVAL ...`),
            # wrapping just `b` would regroup the expression — e.g. turn
            # `(a - b) + INTERVAL` into `a - (b + INTERVAL)`, flipping the
            # interval's sign. Skip the guard: the value keeps Spark's
            # native (unclamped) semantics — documented delta, same policy
            # as VALUES rows above. (round-7 advice, high)
            before_prim = _prev_code(toks, prim - 1)
            if before_prim >= 0 and toks[before_prim].text in (
                "+", "-", "*", "/", "%", "||", "&", "|", "^",
            ):
                i += 1
                continue
            if (
                before_prim >= 0
                and toks[before_prim].kind == "word"
                and toks[before_prim].upper == "DIV"
            ):
                i += 1
                continue
            # Literal quantities beyond Spark's interval representation
            # (e.g. INTERVAL 2147483647 YEARS — exprs.test's MAX_INT
            # overflow rows) fail Spark's PARSER, while the reference
            # returns NULL (IsValidTimeInterval). Any magnitude that big is
            # also far outside the [1400,10000) result range, so the NULL
            # is exact: emit a NULL typed as the operand (CASE WHEN FALSE).
            qty_code = [
                k for k in range(i + 1, unit_idx) if _is_code(toks[k])
            ]
            if len(qty_code) == 1 and toks[qty_code[0]].kind == "num":
                base_unit = toks[unit_idx].text.lower().rstrip("s")
                limits = {
                    # any quantity that cannot keep the result inside the
                    # DATE/TIMESTAMP range [0001, 9999] folds to NULL —
                    # tighter than Spark's representation limits, so
                    # internal overflows (e.g. DATE '9999-12-31' -
                    # INTERVAL 2147483647 MONTHS hits Spark's int32 month
                    # arithmetic) can never fire (expr-test.cc:8276)
                    "year": 9999, "month": 119999,
                    "week": 521723, "day": 3652060,
                    "hour": 87649440, "minute": 5258966400,
                    "second": 315537984000,
                }
                try:
                    qv = abs(int(float(toks[qty_code[0]].text)))
                except ValueError:
                    qv = 0
                if base_unit in limits and qv > limits[base_unit]:
                    primary_text = untokenize(toks[prim:op_idx]).strip()
                    repl = tokenize(
                        f"(CASE WHEN FALSE THEN {primary_text} END)"
                    )
                    toks[prim : unit_idx + 1] = repl
                    i = prim + len(repl)
                    continue
            # recurse over the operand and quantity separately — the
            # INTERVAL keyword itself must not re-enter this branch
            primary = untokenize(
                _rewrite_timestamp_range(toks[prim:op_idx])
            ).strip()
            qty = untokenize(
                _rewrite_timestamp_range(toks[i + 1 : unit_idx])
            ).strip()
            inner = (
                f"{primary} {toks[op_idx].text} INTERVAL {qty} "
                f"{toks[unit_idx].text}"
            )
            new_toks = tokenize(_ts_range_guard(inner, date_aware=True))
            toks[prim : unit_idx + 1] = new_toks
            i = prim + len(new_toks)
            continue
        i += 1
    return toks

# {unit}_{add,sub} / plain date_add/date_sub → CalendarInterval arithmetic.
# `x ± make_interval(...)` preserves the argument's type (DATE stays DATE,
# TIMESTAMP stays TIMESTAMP — unlike Spark's date_add, which truncates a
# timestamp to DATE), matching the reference's per-type overloads
# (impala_functions.py years_add/…; timestamp-functions-ir.cc). Value is
# the make_interval argument position: (years, months, weeks, days, …).
# Sub-day units are TIMESTAMP-only in Impala and stay SQL-registered
# functions (hopspark/functions/registry.py).
_DATE_UNIT_FNS = {
    "years_add": (0, "+"), "years_sub": (0, "-"),
    "weeks_add": (2, "+"), "weeks_sub": (2, "-"),
    "days_add": (3, "+"), "days_sub": (3, "-"),
    "date_add": (3, "+"), "date_sub": (3, "-"),
    "adddate": (3, "+"), "subdate": (3, "-"),
    # *_interval month forms: keep_max_day=false (AddInterval<Months>,
    # timestamp-functions-ir.cc:649-653) — day clamped into the target
    # month, which is exactly make_interval arithmetic.
    "months_add_interval": (1, "+"), "months_sub_interval": (1, "-"),
}

# months_add/months_sub/add_months carry the reference's keep_max_day=true
# contract (AddMonths, timestamp-functions-ir.cc:619-647): when the input is
# the LAST day of its month, the result snaps to the last day of the target
# month (Feb 28 + 1 month = Mar 31), else the day is min-clamped. Spark's
# add_months/make_interval only clamp, so these rewrite to a CASE that adds
# the snap-to-last-day correction; `x + interval` keeps DATE→DATE,
# TIMESTAMP→TIMESTAMP (Spark's add_months would truncate a timestamp).
_MONTHS_KEEP_LAST_DAY = {"months_add": "", "add_months": "", "months_sub": "-"}


def _span_sql(toks: list[Tok], span: tuple[int, int]) -> str:
    """The SQL of the token span ``(start, end_exclusive)``, stripped."""
    return untokenize(toks[span[0]:span[1]]).strip()


def _translated_sql(toks: list[Tok], span: tuple[int, int]) -> str:
    """The span's SQL after this pass, for an argument spliced into a
    replacement that the walk then steps over (a rescan would see the
    replacement's own function names again)."""
    return untokenize(_rewrite_functions(toks[span[0]:span[1]])).strip()


def _c_log(fn: str, a: str) -> str:
    """``fn(a)`` with the C library's domain: -Infinity at 0, NaN below."""
    return (
        f"(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN ({a}) > 0 THEN {fn}(CAST(({a}) AS DOUBLE)) "
        f"WHEN ({a}) = 0 THEN CAST('-Infinity' AS DOUBLE) "
        f"ELSE CAST('NaN' AS DOUBLE) END)"
    )


def _call_date_unit(toks, i, j, close, args):
    """Type-preserving date arithmetic (see _DATE_UNIT_FNS).  First,
    date_add(x, INTERVAL n unit) → (x + INTERVAL n unit): Impala's
    grammar routes INTERVAL arithmetic through the date_add/date_sub
    builtins (sql-parser.cup:299 KW_INTERVAL), Spark only accepts the
    infix form."""
    if len(args) != 2:
        return None
    name = toks[i].text.lower()
    pos, op = _DATE_UNIT_FNS[name]
    if name in ("date_add", "date_sub"):
        a2 = _next_code(toks, args[1][0])
        if a2 < close and toks[a2].upper == "INTERVAL":
            # '(' stays; comma becomes the arithmetic operator.
            comma = _prev_code(toks, args[1][0] - 1)
            _splice(toks, comma, comma + 1, f" {op} ")
            del toks[i]  # drop the function name
            return i
    x = _span_sql(toks, args[0])
    n = _span_sql(toks, args[1])
    # cap the quantity: counts far past the full [1,9999] span overflow
    # make_interval's integer month math (a Spark ArithmeticException) —
    # the reference returns NULL (IsValidTimeInterval). NULL quantity ->
    # NULL result.
    cap = {0: 20000, 1: 240001, 2: 1050000, 3: 7400000}[pos]
    gn = f"(CASE WHEN abs(CAST(({n}) AS BIGINT)) <= {cap} THEN ({n}) END)"
    tail = ", 0" * (6 - pos) + ")"
    _splice(toks, i, close + 1, _ts_range_guard(
        f"(({x}) {op} make_interval({'0, ' * pos}{gn}{tail})",
        date_aware=True,
    ))
    return i + 1  # re-scan the splice: inner dialect fns still rewrite


def _call_c_log(toks, i, j, close, args):
    """The log family applies C log() with NO domain guard
    (math-functions-ir.cc ONE_ARG_MATH_FN(Ln, ..., log) and Log10/Log2),
    so log of 0 is -Infinity and log of a negative is NaN; Spark returns
    NULL for both.  Re-create the C contract."""
    if len(args) != 1:
        return None
    fn = _FN_RENAME.get(toks[i].text.lower(), toks[i].text.lower())
    return i + _splice(
        toks, i, close + 1, _c_log(fn, _translated_sql(toks, args[0]))
    )


def _call_log(toks, i, j, close, args):
    """2-arg log(base, x) is ln(x)/ln(base) with RAW C semantics on BOTH
    legs (math-functions-ir.cc Log uses std::log with no domain guard):
    log(1,2)=Infinity, log(1,1)=NaN, log(0,2)=-0, log(2,0)=-Infinity,
    log(0,0)=NaN (exprs.test:1917).  Spark's 2-arg log NULLs non-positive
    operands AND a zero divisor, so build the IEEE division explicitly."""
    if len(args) != 2:
        return None
    lb = _c_log("ln", _translated_sql(toks, args[0]))
    la = _c_log("ln", _translated_sql(toks, args[1]))
    return i + _splice(toks, i, close + 1, (
        f"(CASE WHEN {lb} = 0 THEN "
        f"(CASE WHEN {la} > 0 THEN CAST('Infinity' AS DOUBLE) "
        f"WHEN {la} < 0 THEN CAST('-Infinity' AS DOUBLE) "
        f"WHEN {la} = 0 THEN CAST('NaN' AS DOUBLE) "
        f"ELSE {la} END) "
        f"ELSE {la} / {lb} END)"
    ))


def _cast_decimal_result(toks, i, close, ps, d, carry) -> int | None:
    """DECIMAL_V2 result typing of round/truncate(DECIMAL(p,s), d):
    DECIMAL(p-s+s'+carry, s') with s' = max(0, min(s, d)).  Wraps the
    call at ``i`` in that CAST unless an enclosing CAST already names it,
    and returns the index of the wrapped call."""
    p, s = ps
    sr = max(0, min(s, d))
    pr = min(38, max(1, p - s + sr + carry))
    if _enclosing_cast_target(toks, i) == f"DECIMAL({pr},{sr})":
        return None
    inner = _span_sql(toks, (i, close + 1))
    _splice(toks, i, close + 1, f"CAST({inner} AS DECIMAL({pr}, {sr}))")
    return i + 2  # step into the CAST; the inner call skips the wrap


def _call_round(toks, i, j, close, args):
    """round/dround over a FLOAT argument: the reference widens to DOUBLE
    before rounding, so round(cast(1.1 as float), 2) is a clean 1.1
    (exprs.test:1775, IMPALA-1508); Spark rounds within FLOAT and the
    widened display keeps the float artifact.  Over a DECIMAL(p,s)
    argument the result is DECIMAL(p-s+s'+carry, s'), carry=1 only when
    d < s (rounding can add a digit); Spark's round gives (p+1, d) —
    expr-test.cc:8961/8973 pin precision 6 and 4.  DOUBLE arguments keep
    Spark's native typing."""
    if len(args) != 2:
        return None
    a_ty = _static_type(toks, *args[0])
    if a_ty == "FLOAT":
        a = _translated_sql(toks, args[0])
        n_arg = _translated_sql(toks, args[1])
        return i + _splice(
            toks, i, close + 1, f"round(CAST(({a}) AS DOUBLE), {n_arg})"
        )
    ps = _decimal_ps(a_ty)
    d = _int_literal_value(toks, args[1])
    if ps is None or d is None:
        return None
    return _cast_decimal_result(toks, i, close, ps, d, int(d < ps[1]))


def _call_mask_hash(toks, i, j, close, args):
    """mask_hash: only STRING inputs hash; every other type is NULL
    (mask-functions-ir.cc MaskHash non-string overloads)."""
    if len(args) != 1:
        return None
    code = [k for k in range(*args[0]) if _is_code(toks[k])]
    null_ty = None
    if len(code) == 1 and toks[code[0]].kind == "num":
        null_ty = "DOUBLE" if "." in toks[code[0]].text else "BIGINT"
    elif len(code) == 1 and toks[code[0]].upper in ("TRUE", "FALSE"):
        null_ty = "BOOLEAN"
    elif code and toks[code[0]].kind == "word":
        # a cast, a typed literal or a call of fixed type
        null_ty = _static_type(toks, *args[0])
    if null_ty is None or null_ty.startswith(("CHAR", "VARCHAR", "STRING")):
        return None
    _splice(toks, i, close + 1, f"CAST(NULL AS {null_ty})")
    return i + 1


def _call_parse_url(toks, i, j, close, args):
    """parse_url: an invalid literal part is an error like the
    reference's (string-functions-ir.cc "Invalid URL part"); parts are
    case-sensitive UPPERCASE.  The call goes to the reference-scanner
    kernels (util/url-parser.cc): Java's URI-based parse_url rejects
    'htt@p' protocols, multiple '@', trailing spaces — the reference's
    ://-search scanner accepts them (expr-test.cc:5073-5347)."""
    if len(args) >= 2:
        p_i = _next_code(toks, args[1][0])
        if p_i < close and toks[p_i].kind == "str":
            part = toks[p_i].text[1:-1]
            if part not in (
                "PROTOCOL", "HOST", "PATH", "REF", "AUTHORITY",
                "FILE", "USERINFO", "QUERY",
            ):
                raise ValueError(f"Invalid URL part: {part}")
    if len(args) not in (2, 3):
        return None
    toks[i] = Tok("word", f"parse_url{len(args)}")
    return j + 1


def _call_parse_format(toks, i, j, close, args):
    """2-arg parse formats: Impala's SimpleDateFormat timezone-offset
    tokens +hh:mm / +hhmm / +hh (datetime-simple-date-format-parser;
    expr-test.cc:7640-7706 — the offset is parsed and APPLIED) map to
    Java's XXX / xx / x, and a bare 'T' literal must be quoted for Java's
    parser (:7628).  The name itself is Spark's."""
    if len(args) != 2:
        return None
    f_i = _next_code(toks, args[1][0])
    if not (f_i < close and toks[f_i].kind == "str"):
        return None
    body = toks[f_i].text[1:-1]
    # trailing-input lenience: the reference's parser walks PATTERN
    # tokens only — input past the pattern is never examined
    # (datetime-simple-date-format-parser.cc:406-416 ParseDateTime
    # iterates dt_ctx.toks; expr-test.cc:7628 pins
    # unix_timestamp('2038/01/19T03:14:08+01:00', 'yyyy/MM/ddTHH:mm:ss')
    # = 2147483648).  Java's parser rejects leftover input, so for a
    # FIXED-WIDTH pattern (only 2/4-char unit tokens + separators —
    # single-char units scan ahead and are not fixed) truncate the input
    # to the pattern length.  Quote chars in the body mean a prior pass
    # already ran (T-quoting) — skip for idempotency; a bytesubstr3()
    # first arg means this pass ran.  The byte kernel (not substr)
    # because the reference parser walks C char pointers — pattern length
    # counts BYTES.
    a0_i = _next_code(toks, args[0][0])
    if (
        re.fullmatch(r"(?:yyyy|MM|dd|HH|mm|ss|T|[^A-Za-z'])+", body)
        and not (
            a0_i < close
            and toks[a0_i].kind == "word"
            and toks[a0_i].text.lower() == "bytesubstr3"
        )
    ):
        s0, e0 = args[0]
        inner = _span_sql(toks, args[0])
        # pattern length in BYTES, not chars — the separator class admits
        # non-ASCII (multi-byte UTF-8) separators and the kernel counts
        # bytes
        blen = len(body.encode("utf-8"))
        n = _splice(toks, s0, e0, f"bytesubstr3({inner}, 1, {blen})")
        f_i += n - (e0 - s0)  # the format literal moves with the splice
    quote = toks[f_i].text[0]
    new_body = re.sub(r"[+-]hh:mm", "XXX", body)
    new_body = re.sub(r"[+-]hhmm", "xx", new_body)
    new_body = re.sub(r"[+-]hh(?![hm])", "x", new_body)
    # the quoted 'T' must itself be escaped inside a single-quoted SQL
    # literal
    t_quoted = "''T''" if quote == "'" else "'T'"
    new_body = re.sub(r"(?<!')T(?!')", t_quoted, new_body)
    if new_body != body:
        toks[f_i] = Tok("str", f"{quote}{new_body}{quote}")
    return None


def _call_utc_timestamp(toks, i, j, close, args):
    """from_utc_timestamp/to_utc_timestamp with an UNKNOWN literal
    timezone return the input unchanged + a warning (timezone_db lookup
    failure, timestamp-functions.cc; expr-test pins
    from_utc_timestamp(ts, 'FOOBAR') = ts); Spark throws
    INVALID_TIMEZONE."""
    if len(args) != 2:
        return None
    tz_i = _next_code(toks, args[1][0])
    if (
        tz_i < close
        and toks[tz_i].kind == "str"
        and not _tz_known(toks[tz_i].text[1:-1])
    ):
        return i + _splice(
            toks, i, close + 1, f"({_translated_sql(toks, args[0])})"
        )
    return None


def _call_width_bucket(toks, i, j, close, args):
    """width_bucket over DECIMAL args computes in exact int128/256
    arithmetic (math-functions-ir.cc WidthBucketImpl); Spark's native
    double math misbuckets near 1e38 — route decimal-typed / huge-literal
    calls to the exact kernel, keep plain numeric calls (the hot path) on
    the native."""
    if len(args) != 4:
        return None

    def _needs_precise(sp):
        if _decimal_ps(_static_type(toks, *sp)) is not None:
            return True
        lc = [k for k in range(*sp) if _is_code(toks[k])]
        lit = None
        if len(lc) == 1 and toks[lc[0]].kind == "num":
            lit = toks[lc[0]].text
        elif (
            len(lc) == 2
            and toks[lc[0]].text == "-"
            and toks[lc[1]].kind == "num"
        ):
            lit = toks[lc[1]].text
        return lit is not None and len(lit.replace(".", "")) > 15

    if not any(_needs_precise(sp) for sp in args[:3]):
        return None
    a = [_translated_sql(toks, sp) for sp in args]
    return i + _splice(toks, i, close + 1, (
        f"wb_precise(CAST({a[0]} AS STRING), "
        f"CAST({a[1]} AS STRING), CAST({a[2]} AS STRING), "
        f"{a[3]})"
    ))


def _call_typeof(toks, i, j, close, args):
    """typeof folds what Spark answers differently: an INTEGER LITERAL's
    smallest-fit type (fe LiteralExpr: 1 is TINYINT, 128 SMALLINT, ...),
    a CAST's declared CHAR/VARCHAR (Spark erases both to STRING at
    runtime) and typeof(NULL), which is BOOLEAN (NullLiteral's type).
    Any other typeof is upper-cased: Impala renders type names UPPERCASE
    ('DECIMAL(2,1)', 'STRING' — fe ScalarType.toSql); Spark's typeof
    prints lowercase."""
    if len(args) != 1:
        return None
    code = [k for k in range(*args[0]) if _is_code(toks[k])]
    ty = _static_type(toks, *args[0])
    if [toks[k].upper for k in code] == ["NULL"]:
        ty = "BOOLEAN"
    elif ty in _INT_WIDTH_TYPES:
        if toks[code[0]].upper == "CAST":
            ty = None  # Spark names a CAST's int type itself
    elif not (ty or "").startswith(("CHAR(", "VARCHAR(")):
        ty = None
    if ty is not None:
        _splice(toks, i, close + 1, f"'{ty}'")
        return i + 1
    # Skip when already wrapped (idempotency: the ts-range guard emits
    # upper(typeof(...)) directly, and translate() may re-run over its
    # own output, e.g. for stored view bodies).
    prev_p = _prev_code(toks, i - 1)
    if prev_p >= 0 and toks[prev_p].text == "(":
        prev_f = _prev_code(toks, prev_p - 1)
        if prev_f >= 0 and toks[prev_f].text.lower() == "upper":
            return None
    # pre-rewrite the ARGUMENT (paren part only — re-running over the
    # typeof name itself would recurse) so dialect contracts inside
    # typeof probes are visible
    inner = "typeof" + _translated_sql(toks, (j, close + 1))
    return i + _splice(toks, i, close + 1, f"upper({inner})")


def _call_fmod(toks, i, j, close, args):
    """fmod is the FLOAT/DOUBLE modulo kernel (math-functions-ir.cc
    FmodFloat/FmodDouble; impala_functions.py:380-381 — only floating
    signatures exist), so the result type is always floating: cast both
    args to DOUBLE before Spark's mod, which would otherwise return
    DECIMAL for decimal literals."""
    if len(args) != 2:
        return None
    a, b = _span_sql(toks, args[0]), _span_sql(toks, args[1])
    _splice(
        toks, i, close + 1,
        f"mod(CAST(({a}) AS DOUBLE), CAST(({b}) AS DOUBLE))",
    )
    return i + 1


def _call_months_keep_last_day(toks, i, j, close, args):
    """Month arithmetic with the keep-last-day contract (see
    _MONTHS_KEEP_LAST_DAY)."""
    if len(args) != 2:
        return None
    x, n = _span_sql(toks, args[0]), _span_sql(toks, args[1])
    sign = _MONTHS_KEEP_LAST_DAY[toks[i].text.lower()]
    # month-count cap: see _call_date_unit
    gn = f"(CASE WHEN abs(CAST(({n}) AS BIGINT)) <= 240001 THEN ({n}) END)"
    rd = f"(({x}) + make_interval(0, {sign}{gn}))"
    _splice(toks, i, close + 1, _ts_range_guard(
        f"(CASE WHEN day({x}) = day(last_day({x})) "
        f"THEN {rd} + make_interval(0, 0, 0, "
        f"datediff(last_day({rd}), DATE({rd}))) "
        f"ELSE {rd} END)",
        date_aware=True,
    ))
    return i + 1


def _call_truncate(toks, i, j, close, args):
    """truncate/dtrunc/trunc are three aliases of BOTH the numeric
    truncate-toward-zero (1-2 args, impala_functions.py:350,481-486) and
    the Oracle-style datetime trunc (string unit second arg).  Dispatch on
    the second argument's shape: string literal → Spark's native date
    trunc; otherwise → the registered numeric truncate, defaulting the
    scale to 0 for the 1-arg form.  A call without arguments is left to
    Spark's analysis error."""
    if not args:
        return None
    if len(args) == 2 and toks[_next_code(toks, args[1][0])].kind == "str":
        # Datetime trunc: the reference accepts the full Oracle unit set
        # (udf-builtins.cc StrToTruncUnit) and returns TIMESTAMP.  Spark's
        # native trunc() covers only year/quarter/month and demotes to
        # DATE; route through date_trunc(unit, ts) (TIMESTAMP-preserving)
        # via a unit table.  DAY/DY/D = start of week, Monday in both the
        # reference and Spark's 'WEEK'.  WW/W (same weekday as Jan 1 / 1st
        # of month) have no Spark unit — synthesized with day arithmetic.
        # Unknown units raise in the reference; leave the call unrewritten
        # so Spark raises rather than silently returning NULL.
        unit = toks[_next_code(toks, args[1][0])].text[1:-1].upper()
        a1 = _span_sql(toks, args[0])
        # the reference's DATE overloads of trunc/date_trunc keep DATE
        # (impala_functions.py); Spark's date_trunc always returns
        # TIMESTAMP — wrap provably-DATE arguments back
        is_date_arg = _static_type(toks, *args[0]) == "DATE"
        if unit in ("MILLENNIUM", "CENTURY", "DECADE"):
            _splice(toks, i, close + 1, _era_trunc_sql(a1, unit, is_date_arg))
            return i + 1
        if unit in _TRUNC_UNITS:
            repl = f"date_trunc('{_TRUNC_UNITS[unit]}', {a1})"
        elif unit in ("WW", "W"):
            anchor = (
                f"make_date(year({a1}), 1, 1)"
                if unit == "WW"
                else f"make_date(year({a1}), month({a1}), 1)"
            )
            repl = (
                f"timestampadd(DAY, "
                f"-((datediff(DATE(({a1})), {anchor})) % 7)"
                f", date_trunc('DAY', {a1}))"
            )
        else:
            return i + 1
        if is_date_arg:
            repl = f"DATE({repl})"
        _splice(toks, i, close + 1, repl)
        return i + 1
    ps = _decimal_ps(_static_type(toks, *args[0]))
    d = _int_literal_value(toks, args[1]) if len(args) == 2 else 0
    toks[i] = Tok("word", "truncate")
    if len(args) == 1:
        close += _splice(toks, close, close, ", 0")
    if ps is not None and d is not None:
        # DECIMAL_V2 result typing: no carry digit, truncation can't
        # round up (expr-test.cc:8963-8970)
        return _cast_decimal_result(toks, i, close, ps, d, 0) or i + 1
    return i + 1


def _call_regexp_replace(toks, i, j, close, args):
    """regexp_replace: the reference's rewrite strings use RE2 \\N
    backreferences (string-functions-ir.cc RegexpReplace); Java's
    Matcher.replaceAll wants $N and treats \\1 as an escaped literal.
    Convert literal third arguments; the name itself is Spark's."""
    if len(args) != 3:
        return None
    a3 = _next_code(toks, args[2][0])
    if a3 < close and toks[a3].kind == "str":
        inner = toks[a3].text[1:-1]
        # RE2 rewrite strings treat '$' as a literal; Java's
        # Matcher.replaceAll treats it as the group sigil ('price: $'
        # throws, '$1' silently substitutes group 1). Escape literal '$'
        # FIRST, so the '$N' forms the backref conversion emits next stay
        # live.
        converted = inner.replace("$", r"\\$")
        converted = re.sub(r"\\\\(\d)", r"$\1", converted)
        converted = re.sub(r"\\(\d)", r"$\1", converted)
        if converted != inner:
            toks[a3] = Tok("str", _single_quoted(converted))
    return None


def _call_pmod(toks, i, j, close, args):
    """pmod: ((a % b) + b) % b for every sign combination
    (math-functions-ir.cc PmodBigInt:436-440) — negative divisors yield a
    negative result (pmod(3,-5) = -2).  Spark's pmod only normalizes when
    the remainder is negative (pmod(3,-5) = 3)."""
    if len(args) != 2:
        return None
    a, b = _span_sql(toks, args[0]), _span_sql(toks, args[1])
    _splice(toks, i, close + 1, f"((({a}) % ({b}) + ({b})) % ({b}))")
    return i + 1


def _call_greatest_least(toks, i, j, close, args):
    """greatest/least: the reference returns NULL when ANY argument is
    NULL (math-functions-ir.cc LeastGreatest:619-622); Spark's
    greatest/least skip NULLs.  Rewrite to a null guard over
    array_max/array_min.  Each argument is spliced exactly ONCE: the
    single array literal is bound to a transform() lambda variable, so
    nondeterministic arguments (rand(), uuid()) and expensive scalar
    subqueries evaluate once, and no greatest( text remains for the
    rewrite pass to re-match."""
    if not args:
        return None
    arr = ", ".join(f"({_span_sql(toks, sp)})" for sp in args)
    fn = "array_max" if toks[i].text.lower() == "greatest" else "array_min"
    _splice(toks, i, close + 1, (
        f"element_at(transform(array(array({arr})), "
        f"__hs_a -> CASE WHEN exists(__hs_a, __hs_x -> "
        f"__hs_x IS NULL) THEN NULL ELSE {fn}(__hs_a) END), 1)"
    ))
    return i + 1


def _call_extract(toks, i, j, close, args):
    """extract(ts, 'unit') — Impala's two-arg form takes the SOURCE first
    (timestamp-functions-ir.cc; grammar sql-parser.cup also accepts
    extract(unit FROM ts), which Spark shares).  Spark's two-arg extract
    wants the field first; swap, and cast to BIGINT (Impala
    extract/date_part return BIGINT, Spark INT).  The swapped form has a
    string literal first, so it never re-matches."""
    name = toks[i].text.lower()
    if len(args) == 2:
        first_i = _next_code(toks, args[0][0])
        second_i = _next_code(toks, args[1][0])
        a1, a2 = _span_sql(toks, args[0]), _span_sql(toks, args[1])
        if name == "extract" and toks[first_i].kind != "str":
            field, src = a2, a1
        elif (
            name == "extract"
            and toks[first_i].kind == "str"
            and second_i < close
            and toks[second_i].kind == "str"
            and toks[second_i].text[1:-1].upper() in _EXTRACT_UNITS
        ):
            # extract('<ts string>', 'unit'): the first argument is the
            # implicit-cast timestamp (udf-builtins.cc Extract;
            # expr-test.cc:7538)
            field, src = a2, f"CAST({a1} AS TIMESTAMP)"
        elif name == "date_part" and toks[first_i].kind == "str":
            field, src = a1, a2
        else:
            return i + 1
        _splice(toks, i, close + 1, _extract_sql(field, src))
        return i + 1
    if len(args) == 1 and name == "extract":
        # extract(unit FROM ts) — grammar shared with Spark, but Impala
        # returns BIGINT where Spark returns INT.  Emit the quoted-field
        # two-arg form, which this pass never re-matches (string first
        # argument).
        inner = _span_sql(toks, (j + 1, close))
        m = re.match(r"(?is)^(.+?)\bFROM\b(.+)$", inner)
        if m:
            field, src = m.group(1).strip(), m.group(2).strip()
            _splice(toks, i, close + 1, _extract_sql(f"'{field}'", src))
            return i + 1
    return None


def _int_precision(v: int) -> int:
    """The digit capacity of the smallest integer type holding ``v``
    (TINYINT 3, SMALLINT 5, INT 10, BIGINT 19)."""
    return (
        3 if -(2**7) <= v < 2**7 else
        5 if -(2**15) <= v < 2**15 else
        10 if -(2**31) <= v < 2**31 else 19
    )


def _call_precision_scale(toks, i, j, close, args):
    """precision(x) / scale(x) — decimal type introspection (BuiltinsDb
    precision/scale; analysis-time in the reference).  Integer types
    report their digit capacity (TINYINT 3 ... BIGINT 19, scale 0 —
    ColumnType.precision), decimals their declared (p, s); other types
    NULL.  LITERAL arguments fold with the reference's smallest-fit /
    text-derived typing; anything else parses Spark's typeof at runtime."""
    name = toks[i].text.lower()
    if len(args) == 1:
        lc = [k for k in range(*args[0]) if _is_code(toks[k])]
        neg = (
            len(lc) == 2
            and toks[lc[0]].text == "-"
            and toks[lc[1]].kind == "num"
        )
        lit_tok = toks[lc[0]] if len(lc) == 1 else toks[lc[1]] if neg else None
        if (
            lit_tok is not None
            and lit_tok.kind == "num"
            and "e" not in lit_tok.text.lower()
        ):
            txt = lit_tok.text
            if "." in txt:
                digits = txt.replace(".", "").lstrip("0") or "0"
                s_v = len(txt.split(".")[1])
                p_v = max(len(digits), s_v)
            else:
                p_v = _int_precision(int(txt) * (-1 if neg else 1))
                s_v = 0
            out_v = p_v if name == "precision" else s_v
            _splice(toks, i, close + 1, str(out_v))
            return i + 1
        # integer-literal ARITHMETIC folds with the analyzer's promotion:
        # result = next wider int of the wider operand (precision(1 + 1)
        # is 5 — TINYINT+TINYINT→SMALLINT, expr-test.cc:8955)
        if (
            len(lc) == 3
            and toks[lc[0]].kind == "num"
            and "." not in toks[lc[0]].text
            and toks[lc[1]].text in ("+", "-", "*")
            and toks[lc[2]].kind == "num"
            and "." not in toks[lc[2]].text
        ):
            wider = max(
                _int_precision(int(toks[lc[0]].text)),
                _int_precision(int(toks[lc[2]].text)),
            )
            p_v = {3: 5, 5: 10, 10: 19, 19: 19}[wider]
            out_v = p_v if name == "precision" else 0
            _splice(toks, i, close + 1, str(out_v))
            return i + 1
    _splice(toks, close + 1, close + 1, "))")
    # upper(typeof(...)) — the typeof-uppercase dialect pass recognizes
    # the already-upper-wrapped form (idempotency)
    return j + _splice(toks, i, i + 1, f"{name}_of(upper(typeof")


def _call_aggif(toks, i, j, close, args):
    """aggif(p, x) → max(CASE WHEN p THEN x END) — the reference's
    conditional aggregate (BuiltinsDb.java:1188), defined for predicates
    selecting one distinct value per group."""
    if len(args) != 2:
        return None
    toks[i] = Tok("word", "max")
    comma = _prev_code(toks, args[1][0] - 1)
    _splice(toks, close, close, " END")
    _splice(toks, comma, comma + 1, " THEN ")
    _splice(toks, j + 1, j + 1, "CASE WHEN ")
    return i + 1


def _call_histogram(toks, i, j, close, args):
    """histogram(x) → sorted comma-joined values — Impala's histogram
    aggregate emits the sample values as a comma-separated string
    (BuiltinsDb.java:1040; aggregate-functions-ir.cc Histogram)."""
    toks[i] = Tok("word", "array_join")
    _splice(toks, close, close, " AS STRING))), ', '")
    return j + 1 + _splice(toks, j + 1, j + 1, "sort_array(collect_list(CAST(")


def _kll_sketch_arg(toks, close, args) -> tuple[int, int, int] | None:
    """The name, open and close paren of a ``ds_kll_sketch(…)`` call that
    opens the first argument, or None."""
    if not args:
        return None
    k = _next_code(toks, args[0][0])
    if k < close and toks[k].text.lower() == "ds_kll_sketch":
        o = _next_code(toks, k + 1)
        if o < close and toks[o].text == "(":
            return k, o, _matching_paren(toks, o)
    return None


def _call_ds_kll_quantile(toks, i, j, close, args):
    """ds_kll_quantile(ds_kll_sketch(x), q) → percentile(x, q): the KLL
    sketch→quantile composition collapses to the exact percentile
    (BuiltinsDb ds_kll_sketch:1420, datasketches-functions-ir.cc)."""
    sk = _kll_sketch_arg(toks, close, args) if len(args) == 2 else None
    if sk is None:
        return None
    # CAST to FLOAT: the reference returns FloatVal (DsKllQuantile,
    # datasketches-functions-ir.cc:240)
    _splice(toks, close + 1, close + 1, " AS FLOAT)")
    for k in reversed(sk):
        del toks[k]
    return i + _splice(toks, i, i + 1, "CAST(percentile")


def _call_ds_kll_rank(toks, i, j, close, args):
    """ds_kll_rank(ds_kll_sketch(x), v) → avg(CAST(x < v AS DOUBLE)): the
    sketch→rank composition collapses to the exact normalized rank
    (DataSketches KLL get_rank = fraction of items < v)."""
    sk = _kll_sketch_arg(toks, close, args) if len(args) == 2 else None
    if sk is None:
        return None
    comma = _prev_code(toks, args[1][0] - 1)
    _splice(toks, close, close, " AS DOUBLE)")
    _splice(toks, comma, comma + 1, " < ")
    del toks[sk[0]]
    return i + _splice(toks, i, i + 1, "avg(CAST")


def _call_ds_kll_n(toks, i, j, close, args):
    """ds_kll_n(ds_kll_sketch(x)) → count(x): the sketch's stream length
    is exactly the non-null count."""
    sk = _kll_sketch_arg(toks, close, args) if len(args) == 1 else None
    if sk is None:
        return None
    for k in reversed(sk):
        del toks[k]
    toks[i] = Tok("word", "count")
    return i + 1


def _call_ds_kll_render(toks, i, j, close, args):
    """ds_kll_*_as_string / ds_kll_stringify — the DataSketches STRING
    RENDERINGS (datasketches-functions-ir.cc DsKllQuantilesAsString:284,
    GetDsKllPMFOrCDF:304, DsKllStringify:337).  The sketch→render
    compositions collapse to exact aggregates formatted with
    ds_format_value (C++ stream "%.6g" — the formatting the reference
    inherits from std::stringstream).  NULL on an empty sketch, like the
    reference, falls out of concat()'s null propagation (min/avg/
    percentile over zero rows are NULL)."""
    name = toks[i].text.lower()
    sk = _kll_sketch_arg(toks, close, args)
    if sk is None or (len(args) < 2 and name != "ds_kll_stringify"):
        return None
    x = _span_sql(toks, (sk[1] + 1, sk[2]))
    ps = [_span_sql(toks, sp) for sp in args[1:]]
    _splice(toks, i, close + 1, _ds_kll_render_sql(name, x, ps))
    return i + 1


def _call_ds_hll_bounds(toks, i, j, close, args):
    """ds_hll_estimate_bounds_as_string (datasketches-functions-ir.cc
    DsHllEstimateBoundsAsString:54), rendered like the ds_kll ones."""
    if len(args) not in (1, 2):
        return None
    sk = _span_sql(toks, args[0])
    kappa = 2  # DS_DEFAULT_KAPPA (datasketches-common.h:45)
    if len(args) == 2:
        ktext = _span_sql(toks, args[1])
        try:
            kappa = int(ktext)
        except ValueError as exc:
            raise ValueError(
                "No matching function with signature: "
                f"ds_hll_estimate_bounds_as_string(STRING, {ktext})"
            ) from exc
        if kappa not in (1, 2, 3):
            raise ValueError("Kappa must be 1, 2 or 3")
    # lgK = 12 (DS_SKETCH_CONFIG, datasketches-common.h:43) ⇒ HLL
    # relative standard error ≈ 1.04/sqrt(2^12).  The library bounds are
    # slightly asymmetric; est/(1±κ·rse) is the documented approximation
    # (FUNCTIONS.md).
    rse = 1.04 / 64.0
    est = f"CAST(hll_sketch_estimate({sk}) AS DOUBLE)"
    _splice(toks, i, close + 1, (
        f"concat(ds_format_value({est}), ',', ds_format_value("
        f"{est} / {1 + kappa * rse!r}), ',', ds_format_value("
        f"{est} * {1 + kappa * rse!r}))"
    ))
    return i + 1


def _call_regexp_like(toks, i, j, close, args):
    """regexp_like(s, pat, 'flags') → rlike(s, concat('(?flags)', pat))
    when the flags are a literal made of Impala's i (case-insensitive), m
    (multi-line) and n (newline-matches-dot, Java's s) alone
    (string-functions-ir.cc).  Any other flags — c, whose order against i
    decides, an illegal letter, or a runtime value — go to the
    NULL-propagating validating kernel regexp_like3."""
    if len(args) != 3:
        return None
    f = _next_code(toks, args[2][0])
    if (
        toks[f].kind == "str"
        and _next_code(toks, f + 1) == close
        and set(toks[f].text[1:-1]) <= set("imn")
    ):
        flags = toks[f].text[1:-1].replace("n", "s")
        comma2 = _prev_code(toks, args[2][0] - 1)
        del toks[comma2:close]
        toks.insert(comma2, Tok("op", ")"))
        _splice(toks, args[1][0], args[1][0], f" concat('(?{flags})', ")
        toks[i] = Tok("word", "rlike")
    else:
        toks[i] = Tok("word", "regexp_like3")
    return i + 1


#: the date_trunc units Spark's date_trunc accepts
_SPARK_TRUNC_UNITS = {
    "YEAR", "YYYY", "YY", "QUARTER", "MONTH", "MM", "MON", "WEEK", "DAY",
    "DD", "HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND",
}


def _call_date_trunc(toks, i, j, close, args):
    """date_trunc(unit, x): the DATE overload returns DATE in the
    reference; Spark's always returns TIMESTAMP — wrap back."""
    if len(args) != 2:
        return None
    u_i = _next_code(toks, args[0][0])
    if u_i < close and toks[u_i].kind == "str":
        unit = toks[u_i].text[1:-1].upper()
        # the reference spells sub-second units PLURAL ONLY (udf-builtins.cc
        # StrToDateTruncUnit "milliseconds"/"microseconds"); Spark accepts
        # the singular — map.
        if unit in ("MILLISECONDS", "MICROSECONDS"):
            unit = unit[:-1]
            toks[u_i] = Tok("str", f"'{unit}'")
        if unit in ("MILLENNIUM", "CENTURY", "DECADE"):
            x = _span_sql(toks, args[1])
            is_date = _static_type(toks, *args[1]) == "DATE"
            _splice(toks, i, close + 1, _era_trunc_sql(x, unit, is_date))
            return i + 1
        if unit not in _SPARK_TRUNC_UNITS:
            # the reference raises on unknown units (udf-builtins.cc
            # StrToTruncUnit); Spark NULLs
            raise ValueError(f"Invalid Date/Time Unit: {toks[u_i].text}")
    prev = _prev_code(toks, i - 1)
    inside_date = (
        prev >= 0
        and toks[prev].text == "("
        and _prev_code(toks, prev - 1) >= 0
        and toks[_prev_code(toks, prev - 1)].upper == "DATE"
    )
    if (
        _static_type(toks, *args[1]) == "DATE"
        and not inside_date
        and not _in_guard_context(toks, i)
    ):
        _splice(toks, i, close + 1, f"DATE({_span_sql(toks, (i, close + 1))})")
        return i + 2  # step past DATE( so the inner call isn't re-seen
    return None


def _call_get_json_object(toks, i, j, close, args):
    """get_json_object: the reference's JSON-path parser skips whitespace
    around structural tokens (' $ . abc [ 2 ] ' works — expr-test
    get_json_object rows); Spark's requires a compact path.  Normalize
    LITERAL paths by stripping whitespace."""
    if len(args) != 2:
        return None
    pc = [k for k in range(*args[1]) if _is_code(toks[k])]
    if len(pc) != 1 or toks[pc[0]].kind != "str":
        return None
    raw = toks[pc[0]].text
    quote, body = raw[0], raw[1:-1]
    compact = "".join(body.split())
    if compact != body:
        toks[pc[0]] = Tok("str", f"{quote}{compact}{quote}")
    if "*" not in compact:
        return None
    # wildcard steps ($.* / [*]) — Spark's native get_json_object lacks
    # the object wildcard and renders multi-matches differently; route to
    # the BFS kernel (string-functions.cc GetJsonObjectImpl)
    toks[i] = Tok("word", "gjo_wild")
    return j + 1


def _call_mask(toks, i, j, close, args):
    """mask family (mask-functions-ir.cc):
      * the char position arg n defaults to 4 in 1-arg mask_*_n;
      * char arguments may be INT CODEPOINTS (65 -> 'A'); -1 means KEEP
        the class (maskchars handles the '-1' sentinel);
      * NUMERIC first arguments mask digits with '1' (or the 6th "number
        char" argument) and keep an integer result;
      * plain mask() gains the 6-arg form Spark lacks.
    A call without arguments is left to Spark's analysis error."""
    if not args:
        return None
    name = toks[i].text.lower()
    is_n_form = name != "mask"
    char_args = args[2:] if is_n_form else args[1:]
    # a provably-NULL first argument passes through typed
    # (mask(cast(NULL as DATE)) is NULL DATE — expr-test.cc:10605;
    # Spark's mask raises on non-string types)
    a0_up = " ".join(
        toks[k].upper for k in range(*args[0]) if _is_code(toks[k])
    )
    if a0_up == "NULL" or (
        a0_up.startswith("CAST ( NULL AS ") and len(args) == 1
    ):
        toks[i : close + 1] = toks[args[0][0] : args[0][1]]
        return i + 1
    # DATE overload (MaskImpl(DateVal)): day/month/year replacement args
    # sit at positions 6..8 of the 9-arg form; the 1-arg form masks every
    # component to the defaults (1, 0=January, 1)
    if (
        name == "mask"
        and len(args) in (1, 9)
        and _static_type(toks, *args[0]) == "DATE"
    ):
        a0 = _translated_sql(toks, args[0])
        if len(args) == 9:
            dmy = [_translated_sql(toks, sp) for sp in args[6:9]]
        else:
            dmy = ["1", "0", "1"]
        return i + _splice(
            toks, i, close + 1,
            f"mask_date3(({a0}), {dmy[0]}, {dmy[1]}, {dmy[2]})",
        )
    is_numeric = _static_type(toks, *args[0]) in _INT_WIDTH_TYPES

    def _char_literal(span):
        """A codepoint or -1 character argument as the string literal the
        kernels take, else None."""
        code = [k for k in range(span[0], span[1]) if _is_code(toks[k])]
        neg = (
            len(code) == 2
            and toks[code[0]].text == "-"
            and toks[code[1]].kind == "num"
        )
        if neg:
            return "'-1'"
        if len(code) == 1 and toks[code[0]].kind == "num":
            cp = int(float(toks[code[0]].text))
            # codepoints beyond U+10FFFF can't be chr()'d; the reference's
            # fast path assigns the masked codepoint to a BYTE
            # (mask-functions-ir.cc MaskSubStr `result.ptr[i] =
            # MaskTransform(...)`) — mirror the low-byte truncation
            if cp > 0x10FFFF or cp < 0:
                cp &= 0xFF
            ch = chr(cp).replace("'", "''")
            return f"'{ch}'"
        return None

    def _num_char_arg(span):
        # the NUMBER mask argument is a digit VALUE in [0,9]
        # (mask-functions-ir.cc getNumArg) — out-of-range or -1 falls back
        # to the default 1; never a codepoint
        code = [k for k in range(span[0], span[1]) if _is_code(toks[k])]
        if len(code) == 1 and toks[code[0]].kind == "num":
            v = int(float(toks[code[0]].text))
            return f"'{v}'" if 0 <= v <= 9 else "'1'"
        if (
            len(code) == 1
            and toks[code[0]].kind == "str"
            and toks[code[0]].text[1:-1].isdigit()
            and len(toks[code[0]].text) == 3
        ):
            return toks[code[0]].text
        return "'1'"

    needs_kernel = (
        is_numeric
        or len(char_args) >= 4  # other/number args present
        or any(_char_literal(sp) is not None for sp in char_args)
        or (is_n_form and len(args) == 1)
    )
    if needs_kernel and 1 <= len(args) <= (7 if is_n_form else 6):
        chars = [
            _char_literal(sp) or _translated_sql(toks, sp) for sp in char_args
        ]
        num_char = (
            _num_char_arg(char_args[4]) if len(char_args) >= 5 else "'1'"
        )
        u = chars[0] if len(chars) >= 1 else "'X'"
        l = chars[1] if len(chars) >= 2 else "'x'"
        d = chars[2] if len(chars) >= 3 else "'n'"
        o = chars[3] if len(chars) >= 4 else "CAST(NULL AS STRING)"
        a = _translated_sql(toks, args[0])
        src = f"CAST({a} AS STRING)" if is_numeric else f"({a})"
        if is_numeric:
            d = num_char
        if is_n_form:
            n_arg = (
                _translated_sql(toks, args[1])
                if len(args) >= 2
                else "4"  # MaskShowFirstN/MaskFirstN default
            )
            body = f"{name}6({src}, {n_arg}, {u}, {l}, {d}, {o})"
        else:
            body = f"maskchars({src}, {u}, {l}, {d}, {o})"
        if is_numeric:
            body = f"CAST({body} AS BIGINT)"
        return i + _splice(toks, i, close + 1, body)
    if is_n_form and 3 <= len(args) <= 6:
        defaults = ["'X'", "'x'", "'n'", "CAST(NULL AS STRING)"]
        pad = ", ".join(defaults[len(args) - 2 :])
        if pad:
            _splice(toks, close, close, f", {pad}")
        toks[i] = Tok("word", name + "6")
        return i + 1
    return None


def _call_distinct_from(toks, i, j, close, args):
    """IS [NOT] DISTINCT FROM exposed as functions (BuiltinsDb
    distinctfrom/notdistinct) → the <=> null-safe-equals operator."""
    if len(args) != 2:
        return None
    comma = _prev_code(toks, args[1][0] - 1)
    _splice(toks, comma, comma + 1, " <=> ")
    if toks[i].text.lower() == "distinctfrom":
        toks[i] = Tok("word", "not")
        return i + 1
    del toks[i]
    return i


def _call_sampled_ndv(toks, i, j, close, args):
    """sampled_ndv(x, sample_rate) — the sampling knob has no Spark
    analogue; the HLL estimate subsumes it.  Drop the second arg."""
    if len(args) != 2:
        return None
    toks[i] = Tok("word", "approx_count_distinct")
    comma = _prev_code(toks, args[1][0] - 1)
    del toks[comma:close]
    return i + 1


#: width-typed bit kernels (bit-byte-functions-ir.cc: one instantiation
#: per int width — rotation wraps within sizeof(T)*8, countset counts
#: within the width, positions past the width are errors): (name,
#: argument count) → kernel, which takes the width as an extra argument
_WIDTH_KERNELS = {
    ("rotateleft", 2): "rotl3",
    ("rotateright", 2): "rotr3",
    ("countset", 1): "countset1w",
    ("countset", 2): "countset2w",
    ("getbit", 2): "getbitw",
    ("setbit", 2): "setbitw",
    ("setbit", 3): "setbit4w",
}


def _call_width_kernel(toks, i, j, close, args):
    """The width is the first argument's _static_type: CAST form, or
    Impala's smallest-fit literal typing (LiteralExpr); columns fall back
    to 64 (documented — this pass does not see column_types)."""
    kernel = _WIDTH_KERNELS.get((toks[i].text.lower(), len(args)))
    if kernel is None:
        return None
    width = _INT_WIDTH_TYPES.get(_static_type(toks, *args[0]), 64)
    toks[i] = Tok("word", kernel)
    _splice(toks, close, close, f", {width}")
    return i + 1


def _call_abs(toks, i, j, close, args):
    """abs() PROMOTES the integer argument's type (IMPALA-4513,
    impala_functions.py Abs signatures: TINYINT→SMALLINT, SMALLINT→INT,
    INT→BIGINT) so abs(INT_MIN) cannot overflow; Spark keeps the input
    type.  Promote the provably-int shapes (CAST form / smallest-fit
    literals); other types unchanged."""
    if len(args) != 1:
        return None
    w = _INT_WIDTH_TYPES.get(_static_type(toks, *args[0]))
    if w in (8, 16, 32):
        # width-named kernel promotes BEFORE abs (abs(TINYINT -128) must
        # be 128 in SMALLINT, not the wrapped -128)
        toks[i] = Tok("word", f"abs{w}")
    elif w == 64:
        # BIGINT has no wider int to promote into: the reference NULLs the
        # one unrepresentable input (INT64_MIN), Spark wraps — abs64
        # kernel pins the NULL
        toks[i] = Tok("word", "abs64")
    return i + 1


def _call_shift(toks, i, j, close, args):
    """Width-typed shifts (bit-byte-functions-ir.cc ShiftLeftImpl /
    ShiftRightLogicalImpl): the C++ result truncates back to the
    argument's int width (shiftleft(TINYINT 1, 8) is 0, not 256), right
    shift is LOGICAL within that width (shiftright(cast(-1 as INT), 1) =
    0x7FFFFFFF, expr-test.cc:9947), and a NEGATIVE count shifts the other
    way (:9951-9952).  Routed to the shl3/shr3 kernels for provable
    widths; unprovable args keep Spark's native shift."""
    if len(args) != 2:
        return None
    ty = _static_type(toks, *args[0])
    w = _INT_WIDTH_TYPES.get(ty)
    if w is None:
        return None
    a = _translated_sql(toks, args[0])
    n_arg = _translated_sql(toks, args[1])
    kern = "shl3" if toks[i].text.lower() == "shiftleft" else "shr3"
    return i + _splice(
        toks, i, close + 1,
        f"CAST({kern}(CAST(({a}) AS BIGINT), {n_arg}, {w}) AS {ty})",
    )


def _call_regexp_extract(toks, i, j, close, args):
    """Group index past the pattern's capture count (or negative) → empty
    string (RegexpExtract:976-998; Spark raises INVALID_PARAMETER_VALUE).
    Foldable at translate time when pattern and index are literals — the
    common form; dynamic patterns keep Spark's native behavior
    (documented delta)."""
    if len(args) != 3:
        return None
    pat_toks = [tk for tk in toks[args[1][0] : args[1][1]] if _is_code(tk)]
    s0, e0 = args[2]
    # unwrap CAST(<intlit> AS <int type>) around the index (expr-test.cc:4888
    # uses cast(2 as bigint))
    c = _parse_cast(toks, _next_code(toks, s0))
    if (
        c is not None
        and _next_code(toks, c.close + 1) >= e0
        and c.fmt is None
        and c.ty in _INT_WIDTH_TYPES
    ):
        s0, e0 = c.open + 1, c.as_
    idx_toks = [tk for tk in toks[s0:e0] if _is_code(tk)]
    neg = (
        len(idx_toks) == 2
        and idx_toks[0].text == "-"
        and idx_toks[1].kind == "num"
    )
    if not (len(pat_toks) == 1 and pat_toks[0].kind == "str" and (
        neg or (len(idx_toks) == 1 and idx_toks[0].kind == "num")
    )):
        return None
    try:
        idx = -int(idx_toks[1].text) if neg else int(idx_toks[0].text)
    except ValueError:
        return None
    if 0 <= idx <= _count_capture_groups(pat_toks[0].text[1:-1]):
        return None
    subj = _span_sql(toks, args[0])
    _splice(toks, i, close + 1, (
        f"CASE WHEN ({subj}) IS NULL THEN CAST(NULL AS STRING) ELSE '' END"
    ))
    return i + 1


#: calls that pick a registered kernel by argument count alone: (name,
#: argument count) → (kernel, arguments appended to reach its arity)
_ARITY_KERNELS = {
    # factorial: the reference computes n<=1 as 1 (incl. negatives) and
    # ERRORS past 20 ("too large for BIGINT"); Spark's native NULLs both
    ("factorial", 1): ("factorial_k", ""),
    # 2-arg ltrim/rtrim/btrim: the reference's order is (src, chars) while
    # Spark's builtin 2-arg form is (trimStr, str) — the swapping kernels
    # (which also pin NULL-chars → src unchanged, expr-test.cc:4511/4524)
    ("ltrim", 2): ("ltrim2", ""),
    ("rtrim", 2): ("rtrim2", ""),
    ("btrim", 2): ("btrim2", ""),
    # conv with digit validation (ConvString: invalid digit for the source
    # base -> NULL; Spark parses the valid prefix to '0')
    ("conv", 3): ("conv3", ""),
    # regexp_match_count 3/4-arg forms (Spark temp functions cannot
    # overload arity)
    ("regexp_match_count", 3): ("regexp_match_count3", ""),
    ("regexp_match_count", 4): ("regexp_match_count4", ""),
    # from_unixtime: out-of-range epoch seconds -> NULL (the TIMESTAMP
    # valid-range contract applied to the epoch producer); values
    # unchanged in range
    ("from_unixtime", 1): ("from_unixtime1", ""),
    ("from_unixtime", 2): ("from_unixtime2", ""),
    # unhex returns STRING in Impala (string-functions-ir.cc) and
    # validates: odd length / non-hex chars give the EMPTY string (the
    # kernel also does the BINARY->STRING cast Spark needs)
    ("unhex", 1): ("unhex1", ""),
    # chr: out-of-[0,255] → empty string (Chr:1338-1343; Spark wraps the
    # codepoint mod 256 instead)
    ("chr", 1): ("chr1", ""),
    # negative target length → NULL (string-functions-ir.cc
    # Lpad/Rpad:192-225: `len.val < 0` returns null; Spark's lpad/rpad
    # return '' instead)
    ("lpad", 3): ("lpad3", ""),
    ("rpad", 3): ("rpad3", ""),
    # empty delimiter → the whole string (SplitPart:1374; Spark returns
    # ''); field 0 still errors in both engines
    ("split_part", 3): ("split_part3", ""),
    # isnull(a, b) is nvl(a, b); 1-arg isnull is Spark's
    ("isnull", 2): ("nvl", ""),
    # instr 3/4-arg → the position/occurrence window kernel (2-arg stays
    # native; string-functions-ir.cc Instr:788-846)
    ("instr", 3): ("instr4", ", 1"),
    ("instr", 4): ("instr4", ""),
}


def _call_arity_kernel(toks, i, j, close, args):
    row = _ARITY_KERNELS.get((toks[i].text.lower(), len(args)))
    if row is None:
        return None
    toks[i] = Tok("word", row[0])
    _splice(toks, close, close, row[1])
    return i + 1


def _call_append_arg(toks, i, j, close, args):
    new, extra = _FN_APPEND_ARG[toks[i].text.lower()]
    toks[i] = Tok("word", new)
    _splice(toks, close, close, f", {extra}")
    return i + 1


def _call_default_arg(toks, i, j, close, args):
    new, default = _FN_DEFAULT_ARG[toks[i].text.lower()]
    toks[i] = Tok("word", new)
    if len(args) == 1:
        _splice(toks, close, close, f", {default}")
    return i + 1


def _call_ignore_nulls(toks, i, j, close, args):
    """Impala puts IGNORE NULLS INSIDE the analytic call's parens —
    ``last_value(x ignore nulls)`` (grammar sql-parser.cup:3729
    ``expr_list KW_IGNORE KW_NULLS``) — where Spark wants it after:
    ``last_value(x) IGNORE NULLS``.  The reference accepts it only on
    first_value/last_value (AnalyticExpr.java:446-449); lag/lead here are
    a harmless SUPERSET — Impala would reject the spelling, Spark
    evaluates it meaningfully."""
    p_nulls = _prev_code(toks, close - 1)
    p_ignore = _prev_code(toks, p_nulls - 1) if p_nulls > j else -1
    if (
        p_ignore > j
        and toks[p_nulls].upper == "NULLS"
        and toks[p_ignore].upper == "IGNORE"
    ):
        del toks[p_ignore:close]
        _splice(toks, p_ignore + 1, p_ignore + 1, " IGNORE NULLS")
    return None


#: lower-case function name → handler(toks, i, j, close, args) for a call
#: whose name is at toks[i], its '(' at j and ')' at close; args are the
#: argument spans (_split_args).  The handler returns the index the walk
#: goes on from, or None to fall through to the renames.
_CALLS: dict[str, Callable[
    [list[Tok], int, int, int, list[tuple[int, int]]], int | None
]] = {
    **{name: _call_date_unit for name in _DATE_UNIT_FNS},
    **{name: _call_months_keep_last_day for name in _MONTHS_KEEP_LAST_DAY},
    **{name: _call_arity_kernel for name, _ in _ARITY_KERNELS},
    **{name: _call_width_kernel for name, _ in _WIDTH_KERNELS},
    **{name: _call_append_arg for name in _FN_APPEND_ARG},
    **{name: _call_default_arg for name in _FN_DEFAULT_ARG},
    **dict.fromkeys(("ln", "dlog1", "log10", "dlog10", "log2"), _call_c_log),
    "log": _call_log,
    "round": _call_round,
    "dround": _call_round,
    "mask_hash": _call_mask_hash,
    "parse_url": _call_parse_url,
    "unix_timestamp": _call_parse_format,
    "to_timestamp": _call_parse_format,
    "from_utc_timestamp": _call_utc_timestamp,
    "to_utc_timestamp": _call_utc_timestamp,
    "width_bucket": _call_width_bucket,
    "typeof": _call_typeof,
    "fmod": _call_fmod,
    **dict.fromkeys(("truncate", "dtrunc", "trunc"), _call_truncate),
    "regexp_replace": _call_regexp_replace,
    "pmod": _call_pmod,
    "greatest": _call_greatest_least,
    "least": _call_greatest_least,
    "extract": _call_extract,
    "date_part": _call_extract,
    "precision": _call_precision_scale,
    "scale": _call_precision_scale,
    "aggif": _call_aggif,
    "histogram": _call_histogram,
    "ds_kll_quantile": _call_ds_kll_quantile,
    "ds_kll_rank": _call_ds_kll_rank,
    "ds_kll_n": _call_ds_kll_n,
    **dict.fromkeys((
        "ds_kll_quantiles_as_string", "ds_kll_cdf_as_string",
        "ds_kll_pmf_as_string", "ds_kll_stringify",
    ), _call_ds_kll_render),
    "ds_hll_estimate_bounds_as_string": _call_ds_hll_bounds,
    "regexp_like": _call_regexp_like,
    "date_trunc": _call_date_trunc,
    "get_json_object": _call_get_json_object,
    **dict.fromkeys((
        "mask", "mask_first_n", "mask_last_n", "mask_show_first_n",
        "mask_show_last_n",
    ), _call_mask),
    "distinctfrom": _call_distinct_from,
    "notdistinct": _call_distinct_from,
    "sampled_ndv": _call_sampled_ndv,
    "abs": _call_abs,
    "shiftleft": _call_shift,
    "shiftright": _call_shift,
    "regexp_extract": _call_regexp_extract,
    **dict.fromkeys(
        ("first_value", "last_value", "lag", "lead"), _call_ignore_nulls
    ),
}


def _rewrite_functions(toks: list[Tok]) -> list[Tok]:
    """Rewrite Impala builtin calls into Spark ones, left to right.  For
    each ``name (`` the walk looks the lower-case name up once in
    ``_CALLS``; on a hit it finds the call's close paren and argument
    spans once and calls the entry's handler.  A handler that returns
    None, and a name with no entry, fall through to the renames:
    ``_FN_RENAME``, then the ``*_utf8`` / ``utf8_*`` / ``*_ascii``
    variants."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word":
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            i += 1
            continue
        name = t.text.lower()
        handler = _CALLS.get(name)
        if handler is not None:
            close = _matching_paren(toks, j)
            nxt = handler(toks, i, j, close, _split_args(toks, j, close))
            if nxt is not None:
                i = nxt
                continue
        if name in _FN_RENAME:
            toks[i] = Tok("word", _FN_RENAME[name])
        elif name.endswith("_utf8") and len(name) > 5:
            # Impala's *_utf8 variants opt into UTF-8 character semantics
            # (UTF8_MODE, impala_functions.py); Spark string functions are
            # UTF-8-native, so the base function IS the utf8 variant.
            toks[i] = Tok("word", _rewrite_utf8_base(toks, i, j, name[:-5]))
        elif name.startswith("utf8_") and len(name) > 5:
            # prefix form (utf8_length/utf8_reverse/utf8_substr[ing])
            toks[i] = Tok("word", _rewrite_utf8_base(toks, i, j, name[5:]))
        elif name.endswith("_ascii") and len(name) > 6:
            # *_ascii fast-path variants — identical results on ASCII
            # input, and Spark's UTF-8 natives are a strict superset.
            base = name[:-6]
            toks[i] = Tok("word", _FN_RENAME.get(base, base))
        i += 1
    return toks


# ---------------------------------------------------------------------------
# Rewrite 1b: CAST(x AS type FORMAT 'fmt') — ISO-SQL datetime format clause
# (reference: be/src/exprs/cast-format-expr.cc, datetime ISO-SQL patterns).
# Spark has no FORMAT clause; map to to_timestamp/to_date/date_format with
# the ISO tokens converted to Java SimpleDateFormat-style patterns.
# ---------------------------------------------------------------------------

# Token inventory mirrors the reference's ISO-SQL tokenizer
# (be/src/runtime/datetime-iso-sql-format-tokenizer.cc:40-89). Longest
# tokens must precede their prefixes (the converter is first-match).
# Unmapped-by-design: D / ID (day-of-week numbering differs between the
# reference and Java's week fields — a silent off-by-one is worse than a
# passthrough error), FX (strictness modifier; dropped). FM maps the NEXT
# token to its unpadded single-letter Java variant (_FM_UNPADDED).
# Also unmapped: IYYY/IYY/IY/IW/WW/W (week-based fields — Spark's CORRECTED
# datetime formatter prohibits Java's Y/w/W patterns outright).
# Datetime-trunc unit table (udf-builtins.cc StrToTruncUnit → Spark
# date_trunc units). WW/W are synthesized in the rewrite; unknown units
# are left unrewritten (the reference raises on them too).
_TRUNC_UNITS = {
    "SYYYY": "YEAR", "YYYY": "YEAR", "YEAR": "YEAR", "SYEAR": "YEAR",
    "YYY": "YEAR", "YY": "YEAR", "Y": "YEAR",
    "Q": "QUARTER",
    "MONTH": "MONTH", "MON": "MONTH", "MM": "MONTH", "RM": "MONTH",
    "DDD": "DAY", "DD": "DAY", "J": "DAY",
    "DAY": "WEEK", "DY": "WEEK", "D": "WEEK",
    "HH": "HOUR", "HH12": "HOUR", "HH24": "HOUR",
    "MI": "MINUTE",
}

_ISO_TO_JAVA = [
    ("YYYY", "yyyy"),
    # format-direction delta: Impala YYY/Y print the year's LAST digits;
    # Java's yyy/y print the full year (only yy is special-cased to
    # 2-digit output). Parse direction agrees.
    ("YYY", "yyy"),
    ("YY", "yy"),
    # round-year (RR/RRRR, iso-sql-format-tokenizer.cc:44-45): on format,
    # identical to YY/YYYY; on parse, 2-digit years century-infer — Java's
    # "yy" uses the same 2000-pivot inference in the CORRECTED parser.
    ("RRRR", "yyyy"),
    ("RR", "yy"),
    ("Y", "y"),
    ("DDD", "DDD"),
    ("DD", "dd"),
    ("DAY", "EEEE"),
    ("DY", "EEE"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("HH", "hh"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("FF9", "SSSSSSSSS"),
    ("FF8", "SSSSSSSS"),
    ("FF7", "SSSSSSS"),
    ("FF6", "SSSSSS"),
    ("FF5", "SSSSS"),
    ("FF4", "SSSS"),
    ("FF3", "SSS"),
    ("FF2", "SS"),
    ("FF1", "S"),
    ("FF", "SSSSSS"),
    ("A.M.", "a"),
    ("P.M.", "a"),
    ("AM", "a"),
    ("PM", "a"),
    ("TZH:TZM", "XXX"),  # paired offset → ISO ±HH:mm
    ("TZH", "x"),        # lone hour offset → ISO ±HH
    ("T", "'T'"),        # ISO 8601 time designator (literal)
    ("Z", "'Z'"),        # ISO 8601 zulu designator (literal)
    # MONTH→MMMM, MON→MMM; MM maps to itself so a lowercase 'mm' (FORMAT
    # patterns are case-insensitive in the reference, cast-format-expr.cc)
    # normalizes to the Java month token instead of leaking through as
    # Java minutes.
    ("MONTH", "MMMM"),
    ("MON", "MMM"),
    ("MM", "MM"),
    ("Q", "Q"),
    ("FM", ""),
    ("FX", ""),
]


# Format-direction overrides: the reference's Y/YYY PRINT the year's last
# 1/3 digits, while Java's y/yyy print the full year (only yy 2-digit
# special-cases). In the date_format direction these map to private-use
# placeholder characters (non-letters — literal to Java's formatter), which
# _cast_format then replace()s with a substring of the full year.
# Parse direction agrees between the dialects, so it keeps y/yyy.
_Y1_PH = "\ue001"
_Y3_PH = "\ue003"
_SOD_PH = "\ue005"  # SSSSS second-of-day (timestamp-parse-util.cc
# SECOND_IN_DAY:294-297): h*3600+m*60+s, zero-padded to 5 — no Java
# pattern exists; resolved via placeholder + arithmetic replace.
_MER_PH = "\ue004"  # A.M./P.M. long meridiem: the reference prints WITH
# periods (timestamp-parse-util.cc MERIDIEM_INDICATOR, AM_LONG/PM_LONG);
# Java 'a' prints AM/PM \u2014 resolved via placeholder + CASE on the hour.
_FORMAT_DIR_OVERRIDES = {
    "YYY": _Y3_PH,
    "Y": _Y1_PH,
    "A.M.": _MER_PH,
    "P.M.": _MER_PH,
    # FF defaults to 9 fractional digits in the reference
    # (iso-sql-format-tokenizer.cc {"FF", 9}); keep 6 in the parse
    # direction, where Java S-runs are width-strict and Spark stores \u00b5s.
    "FF": "SSSSSSSSS",
}


def _iso_format_to_java(
    fmt: str, for_format: bool = False, consumed: list | None = None
) -> str:
    out = []
    i = 0
    up = fmt.upper()
    while i < len(fmt):
        if fmt[i] == '"':
            # ISO-SQL double-quoted literal text section
            # (datetime-iso-sql-format-tokenizer.cc ProcessSeparators) →
            # Java single-quoted literal ('' escapes an embedded quote)
            j = fmt.find('"', i + 1)
            if j == -1:
                j = len(fmt)
            text = fmt[i + 1 : j]
            out.append("'" + text.replace("'", "''") + "'")
            i = j + 1
            continue
        if for_format and up.startswith("SSSSS", i):
            # second-of-day: no Java token; placeholder, resolved by
            # _cast_format with hour/minute/second arithmetic
            if consumed is not None:
                consumed.append("SSSSS")
            out.append(_SOD_PH)
            i += 5
            continue
        for iso, java in _ISO_TO_JAVA:
            if up.startswith(iso, i):
                if for_format and iso in _FORMAT_DIR_OVERRIDES:
                    java = _FORMAT_DIR_OVERRIDES[iso]
                if iso == "FM":
                    # fill mode applies to the NEXT token
                    # (iso-sql-format-tokenizer FM): print without zero
                    # padding / parse variable width — Java's
                    # single-letter patterns do exactly that
                    i += 2
                    for iso2, java2 in _ISO_TO_JAVA:
                        if up.startswith(iso2, i):
                            fm = _FM_UNPADDED.get(iso2)
                            if for_format and iso2 in _FORMAT_DIR_OVERRIDES:
                                fm = _FORMAT_DIR_OVERRIDES[iso2]
                            if consumed is not None:
                                consumed.append(iso2)
                            out.append(fm if fm is not None else java2)
                            i += len(iso2)
                            break
                    break
                if consumed is not None:
                    consumed.append(iso)
                out.append(java)
                i += len(iso)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


#: FM (fill mode) variants: Java's single-letter pattern prints the
#: minimum digits and parses variable width — the reference's no-pad
#: contract. Tokens without an entry keep their normal mapping.
_FM_UNPADDED = {
    "YYYY": "y", "DD": "d", "MM": "M", "HH24": "H", "HH12": "h",
    "HH": "h", "MI": "m", "SS": "s", "DDD": "D",
}


_RR_TOKEN = re.compile(r"(?<![Rr])[Rr]{2}(?![Rr])")


def _has_round_year(fmt: str) -> bool:
    """True when the ISO format has a 2-digit round-year RR token (RRRR is
    plain year). Quoted literal sections are excluded."""
    unquoted = re.sub(r'"[^"]*"', "", fmt)
    return bool(_RR_TOKEN.search(unquoted))


_DATETIME_TYPES = {"TIMESTAMP", "DATE"}
_STRING_TYPES = {"STRING", "VARCHAR", "CHAR"}

#: Tokens that may not appear in a DATE-typed FORMAT clause
#: (datetime-iso-sql-format-parser.cc: time-of-day, fraction, meridiem and
#: timezone fields are timestamp-only).
_TIME_TOKENS = frozenset(
    {"HH", "HH12", "HH24", "MI", "SS", "AM", "PM", "A.M.", "P.M.",
     "TZH", "TZH:TZM", "FF"} | {f"FF{d}" for d in "123456789"}
)

#: Tokens that parse a DIGIT run from the input (everything except word
#: fields, meridiem/zone markers and literal designators) — used to locate
#: the year's digit run positionally.
_WORD_TOKENS = frozenset(
    {"DAY", "DY", "MON", "MONTH", "AM", "PM", "A.M.", "P.M.", "T", "Z",
     "FM", "FX", "TZH", "TZH:TZM"}
)

_YEAR_TOKENS = frozenset({"YYYY", "YYY", "YY", "Y", "RRRR", "RR"})

#: The reference's separator set (datetime-iso-sql-format-tokenizer.cc
#: IsSeparator): any RUN of these in the input matches any separator
#: position in the pattern.
_SEP_INPUT_CLASS = "[-/,.;: ']"
_SEP_RE = re.compile(r"[-/,.;: ]+")


def _flexible_parse_sql(
    expr_sql: str, java_fmt: str, consumed: list, fn: str
) -> tuple[bool, str]:
    """Reference-flexible string→date/timestamp parse
    (datetime-iso-sql-format-parser.cc):

    * separator interchangeability — any run of `- / , . ; : space '` in
      the input matches a single separator position in the pattern
      (ParseSeparatorToken); realized by collapsing separator runs to '-'
      on BOTH sides before the Java parse;
    * short year inputs — a year digit run SHORTER than the token fills
      its missing high-order digits from the current year
      (PrefixYearFromCurrentYear:393-400), except a 2-digit run under a
      round-year token, which lands in the half-century nearest the
      current year (RoundYearFromCurrentYear:402-408). Realized by
      rewriting the input's year run to an explicit 4-digit year and
      parsing with 'yyyy'.

    Returns (handled, replacement_sql). Falls back (False) for patterns
    with literal-text sections, timezone fields or meridiem periods, where
    the collapse would corrupt matched text.
    """
    if "'" in java_fmt:
        return False, ""
    if any(c in ("TZH", "TZH:TZM", "A.M.", "P.M.") for c in consumed):
        return False, ""
    norm = bool(_SEP_RE.search(java_fmt))
    year_toks = [c for c in consumed if c in _YEAR_TOKENS]
    digit_toks = [c for c in consumed if c not in _WORD_TOKENS]
    year_pos = None  # "first" | "last" when the year run is locatable
    # The year token must be separator-bounded (or at a pattern edge) —
    # in adjacent (separator-free) positions the field parses by exact
    # token width and the year run is not positionally extractable.
    ym = re.search(r"y+", java_fmt)
    y_bounded = ym is not None and (
        (ym.start() == 0 or _SEP_RE.match(java_fmt[ym.start() - 1]))
        and (ym.end() == len(java_fmt) or _SEP_RE.match(java_fmt[ym.end()]))
    )
    if len(year_toks) == 1 and digit_toks and y_bounded:
        if digit_toks[0] == year_toks[0]:
            year_pos = "first"
        elif digit_toks[-1] == year_toks[0]:
            year_pos = "last"
    if not norm and year_pos is None:
        return False, ""
    if year_pos is None and any(
        t in ("Y", "YYY", "RR", "RRRR") for t in year_toks
    ):
        # A short-year / round-year token we can't positionally rewrite:
        # leave the whole cast to the dedicated fallback paths (which
        # adjust AFTER the Java parse) rather than normalize separators
        # and silently skip the year adjustment.
        return False, ""
    pre = expr_sql
    jf = java_fmt
    if norm:
        jf = _SEP_RE.sub("-", jf)
        pre = f"regexp_replace({pre}, \"{_SEP_INPUT_CLASS}+\", '-')"
    if year_pos is not None:
        is_rr = year_toks[0] in ("RRRR", "RR")
        run = (
            f"regexp_extract({pre}, '^[^0-9]*([0-9]+)', 1)"
            if year_pos == "first"
            else f"regexp_extract({pre}, '([0-9]+)[^0-9]*$', 1)"
        )
        cur = "year(current_date())"
        p10 = f"(CASE length({run}) WHEN 1 THEN 10 WHEN 2 THEN 100 ELSE 1000 END)"
        prefix_fill = (
            f"lpad(CAST(({cur} div {p10}) * {p10} + CAST({run} AS INT) "
            f"AS STRING), 4, '0')"
        )
        if is_rr:
            round_fill = (
                f"lpad(CAST(({cur} div 100 + (CASE "
                f"WHEN CAST({run} AS INT) < 50 AND {cur} % 100 > 49 THEN 1 "
                f"WHEN CAST({run} AS INT) > 49 AND {cur} % 100 < 50 THEN -1 "
                f"ELSE 0 END)) * 100 + CAST({run} AS INT) AS STRING), 4, '0')"
            )
            two_digit = round_fill
        else:
            two_digit = prefix_fill
        filled = (
            f"(CASE WHEN length({run}) >= 4 OR length({run}) = 0 THEN {run} "
            f"WHEN length({run}) = 2 THEN {two_digit} "
            f"ELSE {prefix_fill} END)"
        )
        if year_pos == "first":
            pre = (
                f"regexp_replace({pre}, '^([^0-9]*)[0-9]+', "
                f"concat('$1', {filled}))"
            )
        else:
            pre = (
                f"regexp_replace({pre}, '([0-9]+)([^0-9]*)$', "
                f"concat({filled}, '$2'))"
            )
        jf = re.sub(r"y+", "yyyy", jf, count=1)
    return True, f'{fn}({pre}, "{jf}")'


def _cast_format(toks, i, c, column_types):
    """A FORMAT clause (cast-format-expr.cc): a string parses to DATE or
    TIMESTAMP with to_date/to_timestamp, and a datetime prints to STRING,
    CHAR or VARCHAR with date_format, the ISO-SQL pattern converted to a
    Java one (_iso_format_to_java).  A pattern that is not a literal, and
    any other target type, are left as written."""
    j, as_idx, close = c.open, c.as_, c.close
    s_idx = _next_code(toks, c.fmt + 1)
    if s_idx >= close or toks[s_idx].kind != "str":
        return None
    type_name = toks[c.type_s].upper
    if type_name in _DATETIME_TYPES:
        fn = "to_timestamp" if type_name == "TIMESTAMP" else "to_date"
    elif type_name in _STRING_TYPES:
        fn = "date_format"
    else:
        return None
    expr = toks[j + 1 : as_idx]
    expr_sql = untokenize(expr).strip()
    iso_fmt = toks[s_idx].text[1:-1]
    consumed: list = []
    # double-quoted SQL literal: the Java pattern may itself contain
    # single-quoted literal sections ('T', 'Z', converted "text")
    java_fmt = _iso_format_to_java(
        iso_fmt, for_format=(fn == "date_format"), consumed=consumed
    )
    if fn == "to_date" and any(t in _TIME_TOKENS for t in consumed):
        # Time tokens are rejected for the DATE type at parse time
        # (cast-format-expr.cc / datetime-iso-sql-format-parser.cc).
        raise ValueError("PARSE ERROR: Time tokens provided with date type.")
    if fn in ("to_timestamp", "to_date"):
        done, repl_sql = _flexible_parse_sql(expr_sql, java_fmt, consumed, fn)
        if done:
            _splice(toks, i, close + 1, repl_sql)
            return None
    if fn in ("to_timestamp", "to_date") and (
        "Y" in consumed or "YYY" in consumed
    ):
        # Sub-4-digit year parse: the reference prefixes the missing
        # high-order digits from the CURRENT year
        # (iso-sql-format-parser.cc PrefixYearFromCurrentYear:393-400:
        # year + (current_year / 10^len) * 10^len); Java's y/yyy parse
        # '7'/'026' as literal years 7/26. Add the runtime prefix.
        # (YY needs no wrap: Java's yy pivots into 2000-2099, which IS
        # the prefix rule for current years in that window — the same
        # window contract as the RR adjustment below.)
        k = 10 if "Y" in consumed else 1000
        inner = f'{fn}({expr_sql}, "{java_fmt}")'
        adj = f"(year(current_date()) div {k}) * {k}"
        if fn == "to_date":
            repl_sql = f"add_months({inner}, 12 * ({adj}))"
        else:
            repl_sql = f"({inner} + make_interval({adj}))"
        _splice(toks, i, close + 1, repl_sql)
        return None
    if fn in ("to_timestamp", "to_date") and _has_round_year(iso_fmt):
        # RR round-year (iso-sql-format-parser.cc
        # RoundYearFromCurrentYear:402-408): 2-digit years land in the
        # half-century nearest the session's current year. Java's 'yy'
        # parses to 20yy; adjust ±100 years when the Oracle-rule century
        # differs. Window contract: correct for current years 2000-2099,
        # like the base-2000 the Java pattern anchors on.
        inner = f'{fn}({expr_sql}, "{java_fmt}")'
        repl_sql = (
            f"(CASE WHEN year({inner}) % 100 < 50 "
            f"AND year(current_date()) % 100 > 49 "
            f"THEN {inner} + make_interval(100) "
            f"WHEN year({inner}) % 100 > 49 "
            f"AND year(current_date()) % 100 < 50 "
            f"THEN {inner} - make_interval(100) "
            f"ELSE {inner} END)"
        )
        _splice(toks, i, close + 1, repl_sql)
        return None
    if fn == "date_format" and any(
        ph in java_fmt for ph in (_Y1_PH, _Y3_PH, _MER_PH, _SOD_PH)
    ):
        # Placeholder post-processing: the converter emitted literal
        # (non-letter) chars; swap them for the last 1/3 digits of the
        # full year (Y/YYY) and the period-style meridiem (A.M./P.M.).
        inner = f'date_format({expr_sql}, "{java_fmt}")'
        yr = f"date_format({expr_sql}, 'yyyy')"
        if _Y3_PH in java_fmt:
            inner = f"replace({inner}, '{_Y3_PH}', substr({yr}, -3, 3))"
        if _Y1_PH in java_fmt:
            inner = f"replace({inner}, '{_Y1_PH}', substr({yr}, -1, 1))"
        if _MER_PH in java_fmt:
            mer = (
                f"(CASE WHEN hour({expr_sql}) >= 12 "
                f"THEN 'P.M.' ELSE 'A.M.' END)"
            )
            inner = f"replace({inner}, '{_MER_PH}', {mer})"
        if _SOD_PH in java_fmt:
            sod = (
                f"lpad(CAST(hour({expr_sql}) * 3600 + "
                f"minute({expr_sql}) * 60 + second({expr_sql}) "
                f"AS STRING), 5, '0')"
            )
            inner = f"replace({inner}, '{_SOD_PH}', {sod})"
        _splice(toks, i, close + 1, inner)
        return None
    repl = (
        [Tok("word", fn), Tok("op", "(")]
        + expr
        + tokenize(f', "{java_fmt}")')
    )
    toks[i : close + 1] = repl
    return None


# ---------------------------------------------------------------------------
# Rewrite 2: IREGEXP → case-insensitive RLIKE
# ---------------------------------------------------------------------------


def _rewrite_iregexp(toks: list[Tok]) -> list[Tok]:
    """`a IREGEXP p` → `a RLIKE '(?i)p'` for a literal pattern, and
    `a RLIKE concat('(?i)', p)` for any other pattern primary (a column,
    a call, a parenthesized expression — _primary_end bounds it), so the
    match stays case-insensitive either way."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and t.upper == "IREGEXP":
            toks[i] = Tok("word", "RLIKE")
            j = _next_code(toks, i + 1)
            end = _primary_end(toks, j)
            if end is not None and toks[j].kind == "str":
                toks[j] = Tok("str", _single_quoted("(?i)" + toks[j].text[1:-1]))
            elif end is not None:
                toks.insert(end + 1, Tok("op", ")"))
                _splice(toks, j, j, "concat('(?i)', ")
        i += 1
    return toks


# ---------------------------------------------------------------------------
# Rewrite 3: explicit Impala NULL ordering defaults
# ---------------------------------------------------------------------------

_ORDER_STOPPERS = {
    "LIMIT",
    "OFFSET",
    "UNION",
    "INTERSECT",
    "EXCEPT",
    "MINUS",
    "ROWS",
    "RANGE",
    "WINDOW",
    "HAVING",
    "FROM",
    "WHERE",
    "GROUP",
}


def _rewrite_null_ordering(toks: list[Tok]) -> list[Tok]:
    """After each sort item in ORDER BY that has no NULLS clause, append
    Impala's default: NULLS LAST for ASC (the default direction), NULLS FIRST
    for DESC — fe/.../analysis/OrderByElement.java:115-117 in the reference.
    Applies both to statement-level ORDER BY and to ORDER BY inside OVER()."""
    i = 0
    while i < len(toks):
        if not (toks[i].kind == "word" and toks[i].upper == "ORDER"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].upper != "BY":
            i += 1
            continue

        # Collect sort-item end positions (index of last code token of each
        # item) plus direction/NULLS info, then insert right-to-left.
        k = j + 1
        depth = 0
        last_code = -1
        direction = "ASC"
        has_nulls = False
        pending: list[tuple[int, str]] = []  # (insert_after_idx, ASC|DESC)

        def end_item() -> None:
            nonlocal last_code, direction, has_nulls
            if last_code >= 0 and not has_nulls:
                pending.append((last_code, direction))
            last_code, direction, has_nulls = -1, "ASC", False

        while k < len(toks):
            t = toks[k]
            if not _is_code(t):
                k += 1
                continue
            txt, up = t.text, t.upper
            if txt == "(":
                depth += 1
                last_code = k
            elif txt == ")":
                if depth == 0:
                    break  # end of OVER(...) clause
                depth -= 1
                last_code = k
            elif depth == 0 and txt == ",":
                end_item()
            elif depth == 0 and up in _ORDER_STOPPERS:
                break
            elif depth == 0 and up in ("ASC", "DESC"):
                direction = up
                last_code = k
            elif depth == 0 and up == "NULLS":
                has_nulls = True
                last_code = k
            else:
                last_code = k
            k += 1
        end_item()
        for pos, d in sorted(pending, reverse=True):
            word = "LAST" if d == "ASC" else "FIRST"
            _splice(toks, pos + 1, pos + 1, f" NULLS {word}")
        i = j + 1
    return toks


# ---------------------------------------------------------------------------
# Rewrite 3b: byte string semantics (UTF8_MODE off — the reference default)
# ---------------------------------------------------------------------------

# With utf8_mode=false (Impala's default — query-options.h UTF8_MODE;
# impala_functions.py UTF8-mode variants), string positions and lengths are
# BYTE-oriented: length('héllo') = 6. Spark strings are natively
# char-oriented, so byte mode is emulated: length family → octet_length,
# substr/substring → a binary slice decoded back to UTF-8 (exact on
# character boundaries; a mid-character cut yields replacement chars where
# the reference emits the raw invalid bytes — documented delta). instr/
# locate/lpad/rpad keep char positions (documented delta; their byte forms
# are exact only on ASCII, where byte == char anyway). The *_utf8 /
# utf8_* variants are rewritten to the char-native base functions later in
# _rewrite_functions, i.e. they opt back into character semantics.

_BYTE_LEN_FNS = {"length", "char_length", "character_length"}

_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _rewrite_utf8_base(toks: list[Tok], i: int, j: int, base: str) -> str:
    """Resolve a *_utf8 / utf8_* variant to its char-native Spark name.
    instr's 3/4-arg forms need the pos/occ window kernel (instr4) — the
    plain rename would hit Spark's 2-arg-only builtin."""
    if base == "instr":
        close = _matching_paren(toks, j)
        row = _ARITY_KERNELS.get(("instr", len(_split_args(toks, j, close))))
        if row is not None:
            _splice(toks, close, close, row[1])
            return row[0]
    if base in ("substr", "substring"):
        # character-semantics substr keeps the reference's position
        # contract (pos = 0 / resolved-past-start → empty — Utf8Substring)
        close = _matching_paren(toks, j)
        nargs = len(_split_args(toks, j, close))
        if nargs in (2, 3):
            return "charsubstr" if nargs == 2 else "charsubstr3"
    return _FN_RENAME.get(base, base)


def _rewrite_datetime_type_contracts(toks: list[Tok]) -> list[Tok]:
    """Reference return-type contracts for three datetime functions
    (impala_functions.py:125-126,139): to_date(ts) returns STRING
    'yyyy-MM-dd' (Spark: DATE); next_day/last_day return TIMESTAMP —
    next_day preserving the time of day (NextDay:560-585), last_day at
    midnight (LastDay:587-596) — where Spark's natives demote to DATE.
    Runs FIRST in the pipeline so it only sees user-written calls, never
    the to_date/last_day tokens later rewrites emit internally."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word":
            i += 1
            continue
        name = t.text.lower()
        if name not in ("to_date", "next_day", "last_day"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            i += 1
            continue
        close = _matching_paren(toks, j)
        args = _split_args(toks, j, close)
        nargs = len(args)
        is_date = nargs > 0 and _static_type(toks, *args[0]) == "DATE"
        if name == "to_date" and nargs == 1:
            toks[i] = Tok("word", "date_format")
            _splice(toks, close, close, ", 'yyyy-MM-dd'")
        elif name == "next_day" and nargs == 2 and not is_date:
            toks[i] = Tok("word", "next_day2")
        elif name == "next_day" and nargs == 2:
            # DATE overload: the result can cross 9999-12-31 (NULL in the
            # reference; a silent year-10000 date crashes Python collect).
            # The date_aware range guard dispatches the lower bound on
            # typeof and is recognized by _in_guard_context, keeping
            # translate() idempotent.
            if not _in_guard_context(toks, i):
                inner = untokenize(toks[i : close + 1]).strip()
                repl = tokenize(_ts_range_guard(inner, date_aware=True))
                toks[i : close + 1] = repl
                i += len(repl)
                continue
        elif name == "last_day" and nargs == 1 and not is_date:
            toks[i] = Tok("word", "last_day1")
        i += 1
    return toks


#: RE2/POSIX character classes → Java regex equivalents (the reference's
#: regexes run on RE2, which supports [[:alpha:]] etc.; Java treats the
#: inner [:alpha:] as a literal char set). Replaced only inside literal
#: patterns handed to regexp functions / RLIKE-family operators.
#: values are DOUBLED backslashes: they are spliced into a Spark SQL
#: string literal, whose parser consumes one level of escaping
_POSIX_CLASS_MAP = {
    "alpha": r"\\p{Alpha}", "digit": r"\\p{Digit}", "alnum": r"\\p{Alnum}",
    "upper": r"\\p{Upper}", "lower": r"\\p{Lower}", "space": r"\\s",
    "blank": r"\\p{Blank}", "punct": r"\\p{Punct}", "cntrl": r"\\p{Cntrl}",
    "print": r"\\p{Print}", "graph": r"\\p{Graph}", "xdigit": r"\\p{XDigit}",
    "word": r"\\w",
}

_POSIX_CLASS_RE = re.compile(
    r"\[:(" + "|".join(_POSIX_CLASS_MAP) + r"):\]"
)

_REGEXP_PATTERN_FNS = {
    "regexp_extract", "regexp_extract_all", "regexp_like",
    "regexp_match_count", "regexp_replace", "regexp", "rlike",
}


_LITERAL_ALT_RE = re.compile(r"\(([A-Za-z0-9 ]+(?:\|[A-Za-z0-9 ]+)+)\)")


def _posix_to_java(text: str) -> str:
    out = _POSIX_CLASS_RE.sub(lambda m: _POSIX_CLASS_MAP[m.group(1)], text)
    # RE2 alternation picks the LONGEST matching branch, Java the FIRST
    # listed: for groups of pure literal branches the two coincide after
    # sorting branches longest-first (expr-test pins
    # regexp_extract('abcabcd', '(a|ab|abc|abcd)', 0) = 'abc')
    def _sort_branches(m: "re.Match[str]") -> str:
        parts = m.group(1).split("|")
        return "(" + "|".join(sorted(parts, key=len, reverse=True)) + ")"

    return _LITERAL_ALT_RE.sub(_sort_branches, out)


def _rewrite_builtins_namespace(toks: list[Tok]) -> list[Tok]:
    """Strip the ``_impala_builtins.`` database qualifier from function
    calls — the reference resolves fully-qualified builtins
    (_impala_builtins.upper(...), BuiltinsDb) where Spark has no such
    namespace."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and t.text.lower() == "_impala_builtins":
            dot = _next_code(toks, i + 1)
            if dot < len(toks) and toks[dot].text == ".":
                fn = _next_code(toks, dot + 1)
                if fn < len(toks) and toks[fn].kind == "word":
                    del toks[i:fn]
                    continue
        i += 1
    return toks


def _rewrite_posix_classes(toks: list[Tok]) -> list[Tok]:
    """Translate POSIX character classes in LITERAL regex patterns — the
    2nd argument of the regexp function family and the literal right
    operand of RLIKE/REGEXP/IREGEXP — to their Java equivalents
    (expr-test.cc pins regexp_extract('abxcy1234a', '[[:lower:]]*', 0) =
    'abxcy'; Java would match nothing). Dynamic patterns keep Spark
    semantics (documented delta)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "str" and ("[:" in t.text or "|" in t.text):
            prev = _prev_code(toks, i - 1)
            is_pattern = False
            if prev >= 0 and toks[prev].kind == "word" and toks[prev].upper in (
                "RLIKE", "REGEXP", "IREGEXP",
            ):
                is_pattern = True
            else:
                # 2nd argument of a regexp function: walk back to the
                # call's open paren at depth 0 from this literal
                depth = 0
                k = i - 1
                while k >= 0:
                    txt = toks[k].text
                    if txt == ")":
                        depth += 1
                    elif txt == "(":
                        if depth == 0:
                            fn = _prev_code(toks, k - 1)
                            is_pattern = (
                                fn >= 0
                                and toks[fn].kind == "word"
                                and toks[fn].text.lower()
                                in _REGEXP_PATTERN_FNS
                            )
                            break
                        depth -= 1
                    k -= 1
            if is_pattern:
                toks[i] = Tok("str", _posix_to_java(t.text))
        i += 1
    return toks



def _era_trunc_sql(x: str, unit: str, is_date: bool) -> str:
    """MILLENNIUM/CENTURY/DECADE truncation (udf-builtins.cc TruncUnit):
    millennia/centuries start at year N*1000+1 / N*100+1, decades at
    year - year%10. DATE inputs keep DATE; TIMESTAMP results below the
    TIMESTAMP range floor (year 1400) are NULL."""
    yr = f"year({x})"
    if unit == "DECADE":
        res_year = f"({yr} - pmod({yr}, 10))"
    else:
        span = 1000 if unit == "MILLENNIUM" else 100
        res_year = f"({yr} - pmod({yr} - 1, {span}))"
    d = f"make_date({res_year}, 1, 1)"
    if is_date:
        # DECADE of year [1,9] lands in year 0 — outside the DATE range
        # [0001, 9999], NULL in the reference (date-value.h); Spark's
        # year-0 date crashes the Python collect path
        return f"(CASE WHEN {res_year} >= 1 THEN {d} END)"
    return (
        f"(CASE WHEN {res_year} >= 1400 "
        f"THEN CAST({d} AS TIMESTAMP) END)"
    )


def _rewrite_date_literals(toks: list[Tok]) -> list[Tok]:
    """The reference's DATE literal and IN-list contracts (date.test;
    its CAST contract is _cast_date's row of the cast table):

      * ``DATE '<text>'`` literals are validated at TRANSLATE time (the
        analyzer's "Invalid date literal" AnalysisException);
      * string items of an IN list whose left operand is provably DATE
        become DATE, as the reference compares them."""
    import datetime as _dt

    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word":
            i += 1
            continue
        if t.upper == "VALUES":
            # DATE literals in the rows go unvalidated too
            i = _after_values_rows(toks, i)
            continue
        if t.upper == "DATE":
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].kind == "str":
                text = toks[j].text.strip("'\"")
                m = re.fullmatch(r"(\d{1,4})-(\d{1,2})-(\d{1,2})", text)
                ok = False
                if m:
                    try:
                        y = int(m.group(1))
                        _dt.date(y, int(m.group(2)), int(m.group(3)))
                        ok = 1 <= y <= 9999
                    except ValueError:
                        ok = False
                if not ok:
                    raise ValueError(f"Invalid date literal: '{text}'")
                i = j + 1
                continue
        if t.upper == "IN":
            # DATE-vs-STRING in an IN list compares as DATE in the
            # reference (date.test:539: the Hive 3.1 implicit-conversion
            # contract) while Spark coerces the DATE side to STRING.
            # When the LHS primary is provably DATE (e.g. the
            # to_date_strict call of a DATE cast, or a DATE literal), cast
            # the string items.
            p = _prev_code(toks, i - 1)
            if p >= 0 and toks[p].upper == "NOT":  # x NOT IN (...)
                p = _prev_code(toks, p - 1)
            lstart = _primary_start(toks, p) if p >= 0 else None
            is_date_lhs = (
                lstart is not None
                and _static_type(toks, lstart, p + 1) == "DATE"
            )
            j = _next_code(toks, i + 1)
            if is_date_lhs and j < len(toks) and toks[j].text == "(":
                close = _matching_paren(toks, j)
                for s, e in reversed(_split_args(toks, j, close)):
                    code = [k for k in range(s, e) if _is_code(toks[k])]
                    if len(code) == 1 and toks[code[0]].kind == "str":
                        lit = toks[code[0]].text
                        toks[code[0] : code[0] + 1] = tokenize(
                            f"to_date_strict({lit})"
                        )
        i += 1
    return toks


def _primary_end(toks: list[Tok], q: int) -> int | None:
    """Index of the LAST token of the primary starting at code token q:
    a parenthesized group / call, a dotted identifier chain, or a literal.
    Forward twin of _primary_start."""
    n = len(toks)
    if q >= n:
        return None
    t = toks[q]
    if t.text == "(":
        return _matching_paren(toks, q)
    if t.kind == "word":
        nxt = _next_code(toks, q + 1)
        if nxt < n and toks[nxt].text == "(":
            return _matching_paren(toks, nxt)
        end = q
        while True:
            dot = _next_code(toks, end + 1)
            if dot >= n or toks[dot].text != ".":
                return end
            ident = _next_code(toks, dot + 1)
            if ident >= n or toks[ident].kind not in ("word", "bquote"):
                return end
            end = ident
    if t.kind in ("num", "str", "bquote"):
        return q
    return None


#: integer types by bit width (fe LiteralExpr's smallest-fit order)
_INT_WIDTH_TYPES = {"TINYINT": 8, "SMALLINT": 16, "INT": 32, "BIGINT": 64}

#: written type name -> the name callers compare: INTEGER is INT, bare
#: DECIMAL is the reference's DECIMAL(9,0), and REAL is FLOAT because the
#: CAST reaches Spark as written, where REAL is FloatType
_TYPE_ALIASES = {"INTEGER": "INT", "REAL": "FLOAT", "DECIMAL": "DECIMAL(9,0)"}


def _type_name(toks: list[Tok], s: int, e: int) -> str:
    """Normalized name of the type written at toks[s:e]: upper case, no
    whitespace, aliases resolved, DECIMAL(p) as DECIMAL(p,0)."""
    ty = "".join(t.text for t in toks[s:e] if _is_code(t)).upper()
    ty = _TYPE_ALIASES.get(ty, ty)
    m = re.fullmatch(r"DECIMAL\((\d+)\)", ty)
    return f"DECIMAL({m.group(1)},0)" if m else ty


@dataclass
class CastParts:
    """``CAST ( expr AS type [FORMAT 'fmt'] )`` as token indexes."""

    open: int  # the "(" after CAST
    as_: int  # the depth-1 AS
    type_s: int  # the type's first code token
    type_e: int  # end of the type span: the FORMAT keyword or `close`
    fmt: int | None  # the FORMAT keyword, None without one
    close: int  # the ")" closing `open`
    ty: str  # the normalized type name (see _type_name)


def _parse_cast(toks: list[Tok], i: int) -> CastParts | None:
    """The CAST whose keyword is toks[i]; None when toks[i] is not
    ``CAST (`` or its parens hold no depth-1 AS.  An unbalanced paren
    raises ValueError, as in _matching_paren."""
    if not 0 <= i < len(toks):
        return None
    t = toks[i]
    if t.kind != "word" or len(t.text) != 4 or t.upper != "CAST":
        return None
    o = _next_code(toks, i + 1)
    if o >= len(toks) or toks[o].text != "(":
        return None
    close = _matching_paren(toks, o)
    as_ = fmt = None
    depth = 0
    for k in range(o + 1, close):
        tk = toks[k]
        if tk.text == "(":
            depth += 1
        elif tk.text == ")":
            depth -= 1
        elif depth == 0 and tk.kind == "word":
            if as_ is None and tk.upper == "AS":
                as_ = k
            elif as_ is not None and tk.upper == "FORMAT":
                fmt = k
                break
    if as_ is None:
        return None
    type_e = close if fmt is None else fmt
    return CastParts(
        o, as_, _next_code(toks, as_ + 1), type_e, fmt, close,
        _type_name(toks, as_ + 1, type_e),
    )


#: calls whose result type is fixed: the DATE(...) cast function, the
#: strict DATE cast _cast_date emits, and the TIMESTAMP producers
_CALL_TYPES = {
    "date": "DATE",
    "to_date_strict": "DATE",
    "to_utc_timestamp": "TIMESTAMP",
    "from_utc_timestamp": "TIMESTAMP",
    "unix_micros_to_utc_timestamp": "TIMESTAMP",
}


def _static_type(
    toks: list[Tok],
    s: int,
    e: int,
    column_types: dict[str, str] | None = None,
) -> str | None:
    """Normalized Impala type of the span toks[s:e] when the span proves
    it, else None: one type per expression, as the analyzer gives
    CastExpr, NumericLiteral and SlotRef theirs.

      * a top-level CAST: its target type (_parse_cast);
      * ``DATE '…'`` and ``TIMESTAMP '…'`` literals;
      * a whole call in _CALL_TYPES;
      * a [-]integer literal: the smallest of TINYINT..BIGINT that holds
        it (fe LiteralExpr); None outside the BIGINT range;
      * a [-]decimal literal (a '.', no exponent): DECIMAL(p,s), s the
        digits after the point;
      * a bare or dotted column: its leaf name in ``column_types``."""
    code = [k for k in range(s, e) if _is_code(toks[k])]
    if not code:
        return None
    first = toks[code[0]]
    if first.kind == "word":
        if (
            len(code) == 2
            and first.upper in ("DATE", "TIMESTAMP")
            and toks[code[1]].kind == "str"
        ):
            return first.upper
        if (
            len(code) > 2
            and toks[code[1]].text == "("
            and _matching_paren(toks, code[1]) == code[-1]
        ):
            if first.upper == "CAST":
                c = _parse_cast(toks, code[0])
                return (c.ty or None) if c is not None else None
            return _CALL_TYPES.get(first.text.lower())
        if column_types and all(
            toks[k].kind == "word" or toks[k].text == "." for k in code
        ):
            return column_types.get(toks[code[-1]].text.lower())
        return None
    neg = len(code) == 2 and first.text == "-"
    lit = toks[code[-1]]
    if not (neg or len(code) == 1) or lit.kind != "num":
        return None
    if "e" in lit.text.lower():
        return None
    if "." in lit.text:
        scale = len(lit.text.split(".")[1])
        digits = len(lit.text.replace(".", "").lstrip("0") or "0")
        return f"DECIMAL({max(digits, scale)},{scale})"
    v = -int(lit.text) if neg else int(lit.text)
    for ty, width in _INT_WIDTH_TYPES.items():
        if -(2 ** (width - 1)) <= v < 2 ** (width - 1):
            return ty
    return None


def _decimal_ps(ty: str | None) -> tuple[int, int] | None:
    """(precision, scale) of a normalized DECIMAL type name, else None."""
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", ty or "")
    return (int(m.group(1)), int(m.group(2))) if m else None


def _rewrite_bigint_decimal_arith(
    toks: list[Tok], column_types: dict[str, str] | None
) -> list[Tok]:
    """BIGINT mixed with DECIMAL in +|-|*|/|% : the reference's analyzer
    promotes BIGINT to its min-resolution DECIMAL(19,0)
    (ScalarType.getMinResolutionDecimal; TypesUtil.getArithmeticResultType),
    while Spark widens LongType to DECIMAL(20,0) — one extra integer digit
    that shifts every V2 arithmetic result type (e.g. BIGINT/DECIMAL(2,1)
    is DECIMAL(26,6) in the reference but DECIMAL(27,6) in stock Spark).
    Wrapping the PROVABLE BIGINT operand in CAST(... AS DECIMAL(19,0))
    restores the reference typing; every BIGINT value fits (|x| < 1e19).
    Values are unchanged — only the result TYPE (and typeof) moves.

    The same promotion applies to FLOAT → DECIMAL(38,9) and DOUBLE →
    DECIMAL(38,17) in NON-multiply decimal arithmetic
    (getMinResolutionDecimal:426-427): the reference computes
    ``1.1*1.1 + cast(1.1 as float)`` as DECIMAL (exprs.test "2.31000002"
    row), while stock Spark widens the decimal side to double.  MULTIPLY
    is excluded — there the reference itself goes to DOUBLE
    (TypesUtil.getArithmeticResultType's floating-point multiply rule),
    which is Spark's behavior already.

    An operand counts when _static_type proves it BIGINT, DECIMAL,
    FLOAT or DOUBLE, with three limits: a column only when bare and
    BIGINT (the column map merges FLOAT into DOUBLE, whose promotions
    differ), a literal only when decimal, and FLOAT/DOUBLE only as a
    CAST."""
    _PROMOTIONS = {
        "bigint": "DECIMAL(19,0)",
        "float": "DECIMAL(38,9)",
        "double": "DECIMAL(38,17)",
    }

    def kind(s: int, e: int) -> str | None:
        ty = _static_type(toks, s, e + 1, column_types if s == e else None)
        if ty is None:
            return None
        if toks[s].upper == "CAST":
            if ty.startswith(("DECIMAL", "NUMERIC")):
                return "decimal"
            return {"BIGINT": "bigint", "FLOAT": "float", "DOUBLE": "double"}.get(ty)
        if toks[s].kind == "num":
            return "decimal" if ty.startswith("DECIMAL") else None
        return "bigint" if ty == "BIGINT" and toks[s].kind == "word" else None

    i = 0
    while i < len(toks):
        t = toks[i]
        op = t.text
        if not (t.kind == "op" and op in ("+", "-", "*", "/", "%")):
            i += 1
            continue
        p = _prev_code(toks, i - 1)
        lstart = _primary_start(toks, p) if p >= 0 else None
        q = _next_code(toks, i + 1)
        rend = _primary_end(toks, q) if q < len(toks) else None
        if lstart is None or rend is None:
            i += 1
            continue
        lkind = kind(lstart, p)
        rkind = kind(q, rend)
        kinds = {lkind, rkind}
        if "decimal" not in kinds or len(kinds) != 2:
            i += 1
            continue
        other = next(k for k in kinds if k != "decimal")
        if other not in _PROMOTIONS or (
            other in ("float", "double") and op == "*"
        ):
            i += 1
            continue
        target = _PROMOTIONS[other]
        if lkind == other:
            inner = untokenize(toks[lstart : p + 1]).strip()
            repl = tokenize(f"CAST({inner} AS {target})")
            toks[lstart : p + 1] = repl
            i = lstart + len(repl) + 1
        else:
            inner = untokenize(toks[q : rend + 1]).strip()
            repl = tokenize(f"CAST({inner} AS {target})")
            toks[q : rend + 1] = repl
            i = q + len(repl)
    return toks


# ---------------------------------------------------------------------------
# The cast table: every CAST is settled by its target type, in one walk
# (the reference's CastExpr looks its cast function up by target and
# source type; cast-functions-ir.cc).
# ---------------------------------------------------------------------------

#: the reference's integer parse (util/string-parser.h StringToIntInternal:
#: 295-345): optional sign, digits only, trailing whitespace allowed,
#: leading whitespace allowed via the SkipLeadingWhitespace retry — any
#: other character (including '.') is PARSE_FAILURE -> NULL
_REF_INT_RE = re.compile(r"^\s*[+-]?[0-9]+\s*$")

_CHAR_N_RE = re.compile(r"(CHAR|VARCHAR)\((\d+)\)")

_COMPARISON_OPS = {"=", "==", "!=", "<>", "<", ">", "<=", ">=", "<=>"}


def _cast_number(toks, i, c, column_types):
    """FLOAT/DOUBLE, and the integer row's first check: a DATE literal
    cast to a number is an invalid cast (date.test:213-222 "Invalid type
    cast"); Spark's cast is otherwise the reference's."""
    code = [k for k in range(c.open + 1, c.as_) if _is_code(toks[k])]
    if (
        len(code) == 2
        and toks[code[0]].upper == "DATE"
        and toks[code[1]].kind == "str"
    ):
        raise ValueError(
            f"Invalid type cast of DATE {toks[code[1]].text} from DATE "
            f"to {toks[c.type_s].upper}"
        )
    return None


def _cast_int(toks, i, c, column_types):
    """TINYINT/SMALLINT/INT/BIGINT: the reference parses a string with
    StringToInt (digits + sign + surrounding whitespace ONLY; '3.9' is
    PARSE_FAILURE -> NULL, cast-functions-ir.cc CAST_FROM_STRING:113-127)
    while Spark's non-ANSI cast truncates through the decimal point.
    String LITERALS are folded; bare STRING-typed column operands
    (``column_types``, like the || dispatch) get a digits-only guard."""
    _cast_number(toks, i, c, column_types)
    operand = [toks[k] for k in range(c.open + 1, c.as_) if _is_code(toks[k])]
    if len(operand) == 1 and operand[0].kind == "str":
        if not _REF_INT_RE.match(operand[0].text[1:-1]):
            _splice(toks, i, c.close + 1, f"CAST(NULL AS {c.ty})")
        return None
    words = [p for p in operand if p.kind == "word"]
    if (
        column_types
        and words
        and len(words) <= 2
        and all(p.kind == "word" or p.text == "." for p in operand)
        and column_types.get(words[-1].text.lower()) == "STRING"
    ):
        col = untokenize(operand).strip()
        _splice(toks, i, c.close + 1, (
            f"CAST(CASE WHEN ({col}) rlike "
            f"'^\\\\s*[+-]?[0-9]+\\\\s*$' THEN ({col}) "
            f"ELSE NULL END AS {c.ty})"
        ))
    return None


def _cast_decimal(toks, i, c, column_types):
    """Bare DECIMAL defaults to (9,0) in the reference (ScalarType
    DEFAULT_PRECISION/SCALE; expr-test pins typeof(cast(10 as DECIMAL)) =
    'DECIMAL(9,0)'); Spark's bare DECIMAL is (10,0)."""
    if toks[_next_code(toks, c.type_s + 1)].text != "(":
        _splice(toks, c.type_s, c.type_s + 1, "DECIMAL(9,0)")
    return None


def _cast_string(toks, i, c, column_types):
    """STRING: a provably double/float operand renders with gutil's
    shortest-roundtrip %g — 'inf'/'nan' specials, 'e+09' exponents —
    where Java gives 'Infinity'/'1.29387251E9' (expr-test.cc:5675-5676,
    :7072).  Provable: an operand _static_type types DOUBLE/FLOAT, or a
    depth-0 '/' over non-decimal operands (the reference's `/` is always
    C++ double division).  Routed to the dtos/ftos kernels (TIMESTAMP
    operands to tstos, whose fractions are 9-digit zero-padded —
    expr-test.cc:7080) with an explicit NULL guard (NULL and NaN collapse
    in the Arrow float64 transfer).

    Otherwise a provably boolean operand (a top-level predicate marker)
    goes through INT first: the reference prints a boolean '1'/'0'
    (cast-functions-ir.cc CAST_EXACT_NUMERIC_TO_STRING with
    MAX_BOOLEAN_CHARS=1) where Spark prints true/false."""
    j, as_idx = c.open, c.as_
    kernel = {"DOUBLE": "dtos", "FLOAT": "ftos", "TIMESTAMP": "tstos"}.get(
        _static_type(toks, j + 1, as_idx)
    )
    if kernel is None:
        depth = 0
        has_div = non_double = False
        for k in range(j + 1, as_idx):
            tk = toks[k]
            if tk.text == "(":
                depth += 1
            elif tk.text == ")":
                depth -= 1
            elif depth == 0:
                if tk.text == "/":
                    has_div = True
                elif tk.kind == "num" and "." in tk.text:
                    non_double = True  # decimal literal operand
                elif tk.kind == "word" and tk.upper == "DECIMAL":
                    non_double = True
        if has_div and not non_double:
            kernel = "dtos"
    if kernel is not None:
        inner = untokenize(toks[j + 1 : as_idx]).strip()
        _splice(toks, i, c.close + 1, (
            f"(CASE WHEN ({inner}) IS NOT NULL "
            f"THEN {kernel}(({inner})) END)"
        ))
    elif _span_has_predicate_marker(toks, j + 1, as_idx):
        inner = untokenize(toks[j + 1 : as_idx]).strip()
        _splice(toks, i, c.close + 1, f"CAST(CAST(({inner}) AS INT) AS STRING)")
    return None


def _cast_char(toks, i, c, column_types):
    """CHAR(n)/VARCHAR(n): the reference truncates to n and, for CHAR,
    space-pads to exactly n (chars.test: cast('6a' as CHAR(5)) = '6a   ');
    Spark's cast leaves expression values unmodified.  Rewritten to
    substr/rpad over STRING — the rendering Impala's own HS2 surface uses
    for CHAR results.  A directly enclosing typeof folds to the declared
    type, and a FORMAT clause formats to STRING before the length
    adjustment."""
    m = _CHAR_N_RE.fullmatch(c.ty)
    if m is None:
        return None
    close, n = c.close, m.group(2)
    # typeof(CAST(x AS CHAR/VARCHAR(n))) folds to the DECLARED type —
    # Spark erases both to STRING at runtime, but the analyzer's answer
    # is static (expr-test typeOf CHAR/VARCHAR rows)
    prev_p = _prev_code(toks, i - 1)
    if prev_p >= 0 and toks[prev_p].text == "(":
        fn_i = _prev_code(toks, prev_p - 1)
        after = _next_code(toks, close + 1)
        if (
            fn_i >= 0
            and toks[fn_i].kind == "word"
            and toks[fn_i].text.lower() == "typeof"
            and after < len(toks)
            and toks[after].text == ")"
        ):
            _splice(toks, fn_i, after + 1, f"'{c.ty}'")
            return fn_i + 1
    expr = untokenize(toks[c.open + 1 : c.as_]).strip()
    if c.fmt is not None:
        # the FORMAT clause belongs to the datetime-format path
        # (cast-format-expr.cc): the value is FORMATTED first (the STRING
        # cast this emits is the FORMAT row's), and only then
        # length-adjusted to n
        s_i = _next_code(toks, c.fmt + 1)
        if s_i >= close or toks[s_i].kind != "str":
            return None
        cut = f"substr(CAST(({expr}) AS STRING FORMAT {toks[s_i].text}), 1, {n})"
    else:
        if _span_has_predicate_marker(toks, c.open + 1, c.as_):
            # boolean operand: '1'/'0', the STRING cast's print path
            expr = f"CAST(({expr}) AS INT)"
        cut = f"substr(CAST(({expr}) AS STRING), 1, {n})"
    if m.group(1) == "VARCHAR":
        _splice(toks, i, close + 1, cut)
        return None
    # pad by OCTET length — CHAR(n) is n BYTES (ScalarType CHAR); a
    # char-count rpad would over-pad multibyte values in the default
    # byte mode
    repl = f"concat({cut}, repeat(' ', greatest({n} - octet_length({cut}), 0)))"
    if c.fmt is None:
        # CHAR comparisons are pad-INSENSITIVE (both operands pad to the
        # longer length before comparing — chars.test `cs = cast('6a' as
        # CHAR(2))` matches a CHAR(5) column).  When this cast is a direct
        # comparison operand, compare rtrim'd values on BOTH sides —
        # equivalent to the pad-to-common-length rule, since CHAR values
        # differ only by trailing spaces.
        shift = _wrap_char_comparison(toks, i, close)
        if shift is not None:
            repl = f"rtrim({repl})"
            i += shift
            close += shift
    _splice(toks, i, close + 1, repl)
    return i + 1


def _wrap_char_comparison(toks: list[Tok], i: int, close: int) -> int | None:
    """If toks[i:close+1] (a CHAR cast) is a direct operand of a
    comparison, wrap the OPPOSITE operand in rtrim() when it is one
    primary, and return the index shift the insertions caused for
    positions at/after `i` (the caller rtrims the cast side).  None = not
    a comparison operand."""
    def extends(k: int) -> bool:  # an operator beyond the primary
        return 0 <= k < len(toks) and toks[k].kind == "op" and (
            toks[k].text not in ("(", ")", ",", ";")
        )

    nxt = _next_code(toks, close + 1)
    if nxt < len(toks) and toks[nxt].kind == "op" and toks[nxt].text in _COMPARISON_OPS:
        start = _next_code(toks, nxt + 1)
        end = _primary_end(toks, start)
        if end is not None and not extends(_next_code(toks, end + 1)):
            # insertions are past `close`; no shift for the cast span
            toks.insert(end + 1, Tok("op", ")"))
            _splice(toks, start, start, "rtrim(")
        return 0
    prev = _prev_code(toks, i - 1)
    if prev >= 0 and toks[prev].kind == "op" and toks[prev].text in _COMPARISON_OPS:
        opnd_end = _prev_code(toks, prev - 1)
        opnd_start = _primary_start(toks, opnd_end)
        if opnd_start is not None and not extends(
            _prev_code(toks, opnd_start - 1)
        ):
            # both insertions land BEFORE the cast span
            toks.insert(opnd_end + 1, Tok("op", ")"))
            return 1 + _splice(toks, opnd_start, opnd_start, "rtrim(")
        return 0
    return None


def _cast_boolean(toks, i, c, column_types):
    """BOOLEAN: the reference converts only 'true'/'false'
    (case-insensitive, util/string-parser.h StringToBool); Spark also
    accepts 'yes'/'no'/'y'/'n'/'0'/'1'.  A string LITERAL folds to the
    reference's answer; other operands keep Spark semantics (a
    documented delta: their type is unknown at token level)."""
    s_i = _next_code(toks, c.open + 1)
    if toks[s_i].kind == "str" and _next_code(toks, s_i + 1) == c.as_:
        lit = toks[s_i].text[1:-1].strip().lower()
        repl = {"true": "TRUE", "false": "FALSE"}.get(
            lit, "CAST(NULL AS BOOLEAN)"
        )
        _splice(toks, i, c.close + 1, repl)
    return None


def _in_values_rows(toks: list[Tok], i: int) -> bool:
    """True when toks[i] lies in the row list of a VALUES clause
    (_after_values_rows)."""
    return any(
        toks[v].kind == "word" and toks[v].upper == "VALUES"
        and _after_values_rows(toks, v) > i
        for v in range(i)
    )


def _cast_date(toks, i, c, column_types):
    """DATE (runtime-date.cc; date.test:95-165): an unparseable or
    out-of-range string must ERROR — not NULL — ("UDF ERROR: String to
    Date parse failed"), with the valid range [0001-01-01, 9999-12-31].
    Stock Spark NULLs bad strings and silently produces year-0 /
    year-10000 dates that crash the Python collect path.  Rewritten to
    the session kernel ``to_date_strict`` (functions/registry.py); a
    numeric literal operand is an invalid cast (date.test:213-222).
    VALUES rows are left as written (_after_values_rows)."""
    if _in_values_rows(toks, i):
        return None
    code = [k for k in range(c.open + 1, c.as_) if _is_code(toks[k])]
    if len(code) == 1 and toks[code[0]].kind == "num":
        raise ValueError(f"Invalid type cast of {toks[code[0]].text} to DATE")
    inner = untokenize(toks[c.open + 1 : c.as_]).strip()
    _splice(toks, i, c.close + 1, f"to_date_strict({inner})")
    return None


#: cast row → handler(toks, i, c, column_types) for the CAST whose keyword
#: is toks[i] and whose parts are c (_parse_cast).  A cast's row is its
#: normalized target type without length or precision (``CHAR(5)`` is
#: CHAR), or FORMAT when it has a FORMAT clause — except on CHAR(n) and
#: VARCHAR(n), whose row formats through a STRING cast and then adjusts
#: the length.  The handler returns the index the walk goes on from, or
#: None for the token after the CAST keyword, so the walk re-reads what
#: the handler spliced in.  TIMESTAMP has no row: its range guard
#: (_rewrite_timestamp_range) runs after the function pass, whose
#: rewrites emit TIMESTAMP casts too.
_CASTS: dict[str, Callable[
    [list[Tok], int, CastParts, dict[str, str] | None], int | None
]] = {
    **dict.fromkeys(_INT_WIDTH_TYPES, _cast_int),
    "FLOAT": _cast_number,
    "DOUBLE": _cast_number,
    "DECIMAL": _cast_decimal,
    "NUMERIC": _cast_decimal,
    "STRING": _cast_string,
    "CHAR": _cast_char,
    "VARCHAR": _cast_char,
    "FORMAT": _cast_format,
    "BOOLEAN": _cast_boolean,
    "DATE": _cast_date,
}


def _rewrite_casts(
    toks: list[Tok], column_types: dict[str, str] | None
) -> list[Tok]:
    """Settle every CAST in one walk, outer casts before the casts in
    their operands: each CAST is parsed once (_parse_cast) and handed to
    its row of _CASTS."""
    i = 0
    while i < len(toks):
        c = _parse_cast(toks, i)
        if c is None:
            i += 1
            continue
        if c.fmt is not None and not _CHAR_N_RE.fullmatch(c.ty):
            handler = _CASTS["FORMAT"]
        else:
            handler = _CASTS.get(c.ty.split("(", 1)[0])
        nxt = handler(toks, i, c, column_types) if handler else None
        i = i + 1 if nxt is None else nxt
    return toks


def _rewrite_div_by_zero_literal(toks: list[Tok]) -> list[Tok]:
    """`x / 0` (literal zero divisor): the reference's `/` is C++ DOUBLE
    division (operators-ir.cc:202 BINARY_OP_FN Divide), so division by
    zero follows IEEE — +Inf/−Inf/NaN by the dividend's sign
    (decimal-exprs.test:31-42 pins Infinity for the double column) —
    while Spark's Divide special-cases a zero divisor to NULL.  For a
    LITERAL zero the identity `x / 0 ≡ x * (+Infinity)` reproduces every
    IEEE case exactly (x>0 → Inf, x<0 → −Inf, x=0 or NaN → NaN, NULL →
    NULL).  A zero arriving in a runtime VALUE still NULLs (documented
    delta — rewriting every division would wrap all arithmetic in CASE);
    DECIMAL_V2 decimal-by-zero, which the reference makes a query ERROR,
    here follows the double path to Infinity (documented delta)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "op" and t.text == "/"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j < len(toks) and toks[j].kind == "num" and "." not in toks[j].text:
            try:
                is_zero = float(toks[j].text) == 0.0
            except ValueError:
                is_zero = False
            # DECIMAL dividends take the reference's DECIMAL division
            # (a query ERROR on zero under DECIMAL_V2) — leave those NULL
            # rather than Infinity: fire only when the left operand is an
            # integer literal or a bare identifier (the catalog's columns
            # are int/bigint/double — all double division in the reference)
            p = _prev_code(toks, i - 1)
            left_ok = p >= 0 and (
                (toks[p].kind == "num" and "." not in toks[p].text)
                or toks[p].kind == "word"
            )
            if is_zero and left_ok:
                toks[i] = Tok("op", "*")
                _splice(toks, j, j + 1, "CAST('Infinity' AS DOUBLE)")
        i += 1
    return toks


_CMP_TO_IEEE = {
    "=": "ieee_eq", "!=": "ieee_ne", "<>": "ieee_ne",
    "<": "ieee_lt", "<=": "ieee_le", ">": "ieee_gt", ">=": "ieee_ge",
    # null-safe equal: NaN <=> NaN is FALSE in the reference (IMPALA-6661,
    # exprs.test:3072), while Spark's <=> treats NaN equal to itself
    "<=>": "ieee_eqns",
}

#: words that terminate a comparison operand scan (clause heads, logical
#: connectives, predicate keywords) — anything else is part of the operand
_CMP_BOUNDARY_WORDS = frozenset({
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "UNION", "INTERSECT", "EXCEPT", "AND", "OR", "NOT", "CASE",
    "WHEN", "THEN", "ELSE", "END", "ON", "JOIN", "IN", "IS", "LIKE",
    "ILIKE", "RLIKE", "IREGEXP", "BETWEEN", "AS", "BY", "DISTINCT", "ALL",
    "VALUES", "SET", "INTERVAL", "OVER", "PARTITION", "ROWS", "RANGE",
    "QUALIFY", "WINDOW", "EXISTS",
})


def _cmp_operand_left(toks: list[Tok], i: int) -> int | None:
    """Start index of the comparison operand whose last code token is i,
    scanning left across balanced paren groups; None when the shape is not
    a plain expression (e.g. starts at a bracket subscript)."""
    start: int | None = None
    j = i
    while j >= 0:
        t = toks[j]
        if not _is_code(t):
            j -= 1
            continue
        if t.text == ")":
            try:
                j = _matching_paren_rev(toks, j)
            except ValueError:
                return start
            start = j
            j -= 1
            continue
        if t.text in ("(", ",", ";", "[", "]", "{", "}"):
            return start
        if t.kind == "op" and (t.text in _CMP_TO_IEEE or t.text == "<=>"):
            return start
        if t.kind == "word" and t.upper in _CMP_BOUNDARY_WORDS:
            return start
        start = j
        j -= 1
    return start


def _cmp_operand_right(toks: list[Tok], i: int) -> int | None:
    """End index (inclusive) of the comparison operand whose first code
    token is i, scanning right across balanced paren groups.  Tracks
    whether a complete operand atom has been consumed so a bare identifier
    FOLLOWING a complete expression (a select-item alias: ``expr = expr c``)
    is not swallowed into the operand."""
    end: int | None = None
    j = i
    have_atom = False
    while j < len(toks):
        t = toks[j]
        if not _is_code(t):
            j += 1
            continue
        if t.text == "(":
            try:
                j = _matching_paren(toks, j)
            except ValueError:
                return end
            end = j
            have_atom = True
            j += 1
            continue
        if t.text in (")", ",", ";", "[", "]", "{", "}"):
            return end
        if t.kind == "op" and (t.text in _CMP_TO_IEEE or t.text == "<=>"):
            return end
        if t.kind == "word":
            if t.upper in _CMP_BOUNDARY_WORDS:
                return end
            if have_atom:
                return end  # bare alias after a complete expression
            end = j
            nx = _next_code(toks, j + 1)
            if nx < len(toks) and toks[nx].text == "(":
                j = nx  # function call: let the paren branch consume it
                continue
            have_atom = True
            j += 1
            continue
        if t.kind in ("num", "str", "bquote"):
            if have_atom:
                return end  # adjacent literal after a complete expression
            end = j
            have_atom = True
            j += 1
            continue
        # any other operator (+ - * / % . etc.): operand continues
        end = j
        have_atom = False
        j += 1
    return end


def _rewrite_nan_comparisons(toks: list[Tok]) -> list[Tok]:
    """Comparisons whose operand provably carries an IEEE special this
    translator itself produced — the ``CAST('Infinity'/'NaN' AS DOUBLE)``
    markers from the div-by-zero / log / fmod rewrites, or a user-written
    NaN/Infinity double literal — take the reference's C++ comparison
    semantics (operators-ir.cc BINARY_OP comparisons are plain float
    compares: every ordered comparison against NaN is false, ``!=`` is
    true; expr-test.cc:760-770 pins ``0/0 = 0/0`` → false and
    ``1/0 < 0/0`` → false), while Spark orders NaN greatest and equal to
    itself.  Routed to the ``ieee_*`` registry macros, so re-translation
    is idempotent (the comparison operator itself is gone).  Comparisons
    over NaN-capable COLUMN data (a parquet double column holding NaN)
    keep Spark semantics — documented delta."""

    def _has_marker(a: int, b: int) -> bool:
        # match the full CAST(<special> AS DOUBLE/FLOAT) form the
        # div-by-zero, log and fmod rewrites emit on normalized text, NOT a
        # bare string literal (``WHERE c = 'NaN'`` on a STRING column is a
        # plain string compare and must stay one)
        txt = " ".join(untokenize(toks[a : b + 1]).upper().split())
        return any(
            f"CAST({lit} AS {ty})" in txt
            for lit in ("'INFINITY'", "'-INFINITY'", "'NAN'", "'INF'", "'-INF'")
            for ty in ("DOUBLE", "FLOAT")
        )

    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "op" and t.text in _CMP_TO_IEEE):
            i += 1
            continue
        p = _prev_code(toks, i - 1)
        q = _next_code(toks, i + 1)
        lstart = _cmp_operand_left(toks, p) if p >= 0 else None
        rend = _cmp_operand_right(toks, q) if q < len(toks) else None
        if lstart is None or rend is None:
            i += 1
            continue
        if not (_has_marker(lstart, p) or _has_marker(q, rend)):
            i += 1
            continue
        lhs = untokenize(toks[lstart : p + 1]).strip()
        rhs = untokenize(toks[q : rend + 1]).strip()
        fn = _CMP_TO_IEEE[t.text]
        repl = tokenize(
            f"{fn}(CAST(({lhs}) AS DOUBLE), CAST(({rhs}) AS DOUBLE))"
        )
        toks[lstart : rend + 1] = repl
        i = lstart + len(repl)
    return toks


# ---------------------------------------------------------------------------
# Nanosecond constant folding for literal TIMESTAMP arithmetic
#
# The reference's TIMESTAMP carries nanoseconds (timestamp-value.h: boost
# ptime, 1400-01-01..9999-12-31 at ns resolution); Spark's TimestampType is
# microseconds.  For expressions built ENTIRELY from literals the dialect
# layer does what the reference FE itself does — constant-fold in the
# frontend — but at full ns precision, so `cast(date_add(cast('2012-01-01
# 00:00:00.000000001' as timestamp), interval 1033 nanoseconds) as string)`
# renders '...00:00:00.000001034' exactly (expr-test.cc:6548-6742).
# Column-bearing expressions are untouched: stored data is µs — documented
# delta.  Folding fires ONLY where runtime µs math would visibly diverge
# (a sub-µs fraction in the result or a comparison operand, or an exact-ns
# range underflow), so already-correct plans are never rewritten.
#
# Semantics mirrored from be/src/exprs/timestamp-functions-ir.cc:
#   * AddMonths (:619-647): year/month normalization, day clamped to the
#     result month's last day; keep_max_day (the ADD_MONTHS builtin, :762)
#     additionally maps source-month-last-day -> result-month-last-day
#   * AddInterval<Years> (:428-441): Feb 29 -> Feb 28 on non-leap targets
#   * AddSub (:744-781): out-of-range results -> NULL (boost throw path);
#     MIN_YEAR 1400 / MAX_YEAR 9999
# ---------------------------------------------------------------------------

_NSF_TS_LIT_RE = re.compile(
    r"^\s*(\d{4})-(\d{1,2})-(\d{1,2})"
    r"(?:[T ]\s*(\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d+))?"
    r"\s*(?:Z|[+-]\d{1,2}(?::?\d{2})?)?)?\s*$"
)

_NSF_UNIT_MULT = {
    "HOUR": 3_600_000_000_000, "MINUTE": 60_000_000_000,
    "SECOND": 1_000_000_000, "MILLISECOND": 1_000_000,
    "MICROSECOND": 1_000, "NANOSECOND": 1,
}
_NSF_UNITS = frozenset(_NSF_UNIT_MULT) | {"YEAR", "MONTH", "WEEK", "DAY"}

#: <unit>s_add/<unit>s_sub function family -> (unit, sign)
_NSF_UNIT_FUNCS = {
    f"{u.lower()}s_{sfx}": (u.upper(), 1 if sfx == "add" else -1)
    for u in ("year", "month", "week", "day", "hour", "minute", "second",
              "millisecond", "microsecond", "nanosecond")
    for sfx in ("add", "sub")
}

_NSF_HEADS = frozenset(
    {"CAST", "DATE_ADD", "DATE_SUB", "ADDDATE", "SUBDATE", "ADD_MONTHS"}
    | {k.upper() for k in _NSF_UNIT_FUNCS}
)

_NSF_NS_PER_DAY = 86_400_000_000_000


def _nsf_min_ord() -> int:
    import datetime as _dt

    return _dt.date(1400, 1, 1).toordinal()


def _nsf_max_ord() -> int:
    import datetime as _dt

    return _dt.date(9999, 12, 31).toordinal()


def _nsf_parse_literal(s: str):
    """Default-format timestamp literal -> ('ok', ordinal, ns_of_day), or
    None when not confidently parseable (no fold).  A trailing timezone
    offset is parsed and IGNORED like the reference's string->TIMESTAMP
    cast (expr-test.cc:7615-7625 pins the wall-clock unchanged)."""
    import datetime as _dt

    m = _NSF_TS_LIT_RE.match(s)
    if not m:
        return None
    y, mo, dd = int(m.group(1)), int(m.group(2)), int(m.group(3))
    try:
        d = _dt.date(y, mo, dd)
    except ValueError:
        return None
    if y < 1400:
        return None
    h = int(m.group(4) or 0)
    mi = int(m.group(5) or 0)
    sec = int(m.group(6) or 0)
    if h > 23 or mi > 59 or sec > 59:
        return None
    frac = (m.group(7) or "")[:9].ljust(9, "0")
    ns = (h * 3600 + mi * 60 + sec) * 1_000_000_000 + int(frac)
    return ("ok", d.toordinal(), ns)


def _nsf_add(v, unit: str, n: int, keep_max_day: bool = False):
    import calendar
    import datetime as _dt

    if v[0] == "null":
        return v
    _, o, ns = v
    d = _dt.date.fromordinal(o)
    if unit == "YEAR":
        y = d.year + n
        if y < 1400 or y > 9999:
            return ("null",)
        day = d.day
        if d.month == 2 and day == 29 and not calendar.isleap(y):
            day = 28
        return ("ok", _dt.date(y, d.month, day).toordinal(), ns)
    if unit == "MONTH":
        years = int(n / 12)  # C++ truncating division
        months = n - years * 12
        y = d.year + years
        m = d.month + months
        if m <= 0:
            y -= 1
            m += 12
        elif m > 12:
            y += 1
            m -= 12
        if y < 1400 or y > 9999:
            return ("null",)
        last_src = calendar.monthrange(d.year, d.month)[1]
        last_dst = calendar.monthrange(y, m)[1]
        if keep_max_day and d.day == last_src:
            day = last_dst
        else:
            day = min(d.day, last_dst)
        return ("ok", _dt.date(y, m, day).toordinal(), ns)
    if unit == "WEEK":
        unit, n = "DAY", n * 7
    if unit == "DAY":
        o2 = o + n
        if o2 < _nsf_min_ord() or o2 > _nsf_max_ord():
            return ("null",)
        return ("ok", o2, ns)
    total = ns + n * _NSF_UNIT_MULT[unit]
    days, ns2 = divmod(total, _NSF_NS_PER_DAY)
    o2 = o + days
    if o2 < _nsf_min_ord() or o2 > _nsf_max_ord():
        return ("null",)
    return ("ok", o2, ns2)


def _nsf_render(v) -> str:
    """TimestampValue::ToString: 'YYYY-MM-DD HH:MM:SS[.fffffffff]' with the
    fraction 9-digit zero-padded when nonzero (boost posix_time)."""
    import datetime as _dt

    _, o, ns = v
    d = _dt.date.fromordinal(o)
    h, rem = divmod(ns, 3_600_000_000_000)
    mi, rem = divmod(rem, 60_000_000_000)
    sec, frac = divmod(rem, 1_000_000_000)
    out = f"{d.year:04d}-{d.month:02d}-{d.day:02d} {h:02d}:{mi:02d}:{sec:02d}"
    if frac:
        out += f".{frac:09d}"
    return out


def _nsf_const_int(toks: list[Tok], i: int):
    """[+-]?<intlit> or CAST([+-]?<intlit> AS <int type>) ->
    (last_idx, int) or None."""
    sign = 1
    j = i
    if j < len(toks) and toks[j].kind == "op" and toks[j].text in "+-":
        if toks[j].text == "-":
            sign = -1
        j = _next_code(toks, j + 1)
    if j < len(toks) and toks[j].kind == "num" and re.fullmatch(
        r"\d+", toks[j].text
    ):
        return j, sign * int(toks[j].text)
    try:
        c = _parse_cast(toks, j)
    except ValueError:
        return None
    if c is not None and c.fmt is None and c.ty in _INT_WIDTH_TYPES:
        r = _nsf_const_int(toks, _next_code(toks, c.open + 1))
        if (
            r is not None
            and toks[r[0]].kind == "num"
            and _next_code(toks, r[0] + 1) == c.as_
        ):
            return c.close, sign * r[1]
    return None


def _nsf_interval_arg(toks: list[Tok], i: int, end_excl: int):
    """INTERVAL <const-int> <unit>  or  <const-int> (days, the ADD_DATE
    2nd-arg shorthand) -> (unit, n) or None.  Must consume the whole span
    [i, end_excl)."""
    a1 = i
    if a1 < len(toks) and toks[a1].kind == "word" and toks[a1].upper == "INTERVAL":
        qi = _next_code(toks, a1 + 1)
        q = _nsf_const_int(toks, qi)
        if q is None:
            return None
        qend, n = q
        ui = _next_code(toks, qend + 1)
        if ui >= end_excl or toks[ui].kind != "word":
            return None
        unit = toks[ui].upper
        unit = unit[:-1] if unit.endswith("S") else unit
        if unit not in _NSF_UNITS:
            return None
        if _next_code(toks, ui + 1) < end_excl:
            return None
        return unit, n
    q = _nsf_const_int(toks, a1)
    if q is None:
        return None
    qend, n = q
    if _next_code(toks, qend + 1) < end_excl:
        return None
    return "DAY", n


def _nsf_epoch_numeric(toks: list[Tok], first: int, as_idx: int):
    """Numeric seconds-since-epoch inside CAST(... AS TIMESTAMP):
    a bare float literal or CAST(<float literal> AS DOUBLE).  Mirrors the
    reference's double->TimestampValue (timestamp-value.inline.h
    FromSubsecondUnixTime: C++ double split, ns truncated) — the source
    of expr-test.cc:3484's .032999992.  Returns ('ok', ordinal, ns_of_day)
    or None."""
    import datetime as _dt

    j = first
    if j < len(toks) and toks[j].upper == "CAST":
        try:
            c = _parse_cast(toks, j)
        except ValueError:
            return None
        if (
            c is None
            or c.fmt is not None
            or c.ty != "DOUBLE"
            or _next_code(toks, c.close + 1) != as_idx
        ):
            return None
        inner = _next_code(toks, c.open + 1)
        if (
            inner >= c.close
            or toks[inner].kind != "num"
            or _next_code(toks, inner + 1) != c.as_
        ):
            return None
        txt = toks[inner].text
    elif j < len(toks) and toks[j].kind == "num":
        if _next_code(toks, j + 1) != as_idx:
            return None
        txt = toks[j].text
    else:
        return None
    if "." not in txt:
        return None  # integer seconds are µs-exact; no fold needed
    try:
        v = float(txt)
    except ValueError:
        return None
    if v < 0:
        return None
    secs = int(v)
    ns = int((v - secs) * 1e9)  # C++ truncating cast
    if ns >= 1_000_000_000:
        secs, ns = secs + 1, 0
    ordinal = _dt.date(1970, 1, 1).toordinal() + secs // 86400
    if ordinal < _nsf_min_ord() or ordinal > _nsf_max_ord():
        return None
    return ("ok", ordinal, (secs % 86400) * 1_000_000_000 + ns)


def _nsf_display_pos(toks: list[Tok], i: int, end: int) -> bool:
    """True when toks[i..end] is a WHOLE top-level select item — the
    display context where the reference renders a bare timestamp with its
    ns digits.  Any surrounding expression (outer cast, typeof, function,
    arithmetic, comparison) keeps the µs TimestampType so typing
    contracts don't shift."""
    depth = 0
    for t in toks[:i]:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
    if depth != 0:
        return False
    p = _prev_code(toks, i - 1)
    if p >= 0 and not (
        toks[p].text == ","
        or (toks[p].kind == "word"
            and toks[p].upper in ("SELECT", "DISTINCT", "ALL"))
    ):
        return False
    n = _next_code(toks, end + 1)
    if n >= len(toks):
        return True
    t = toks[n]
    if t.text == ",":
        return True
    # only end-of-item words qualify (FROM / alias); a continuation
    # keyword (BETWEEN, IS, IN, AND, …) means the constant sits inside a
    # larger expression, which must keep TimestampType
    return t.kind == "word" and t.upper not in (
        "BETWEEN", "IS", "IN", "AND", "OR", "NOT", "LIKE", "RLIKE",
        "REGEXP", "IREGEXP", "ILIKE", "DIV",
    )


def _nsf_parse(toks: list[Tok], i: int):
    """Constant TIMESTAMP expression at code index i -> (last_idx, value,
    has_arith) or None.  value: ('ok', ordinal, ns) | ('null',)."""
    if i >= len(toks) or toks[i].kind != "word":
        return None
    up = toks[i].upper
    node = None
    if up == "CAST":
        try:
            c = _parse_cast(toks, i)
        except ValueError:
            return None
        if c is None or c.fmt is not None or c.ty != "TIMESTAMP":
            return None
        as_idx, close = c.as_, c.close
        first = _next_code(toks, c.open + 1)
        if first < close and toks[first].kind == "str":
            if _next_code(toks, first + 1) != as_idx:
                return None
            v = _nsf_parse_literal(toks[first].text[1:-1])
            if v is None:
                return None
            node = (close, v, False)
        else:
            vnum = _nsf_epoch_numeric(toks, first, as_idx)
            if vnum is not None:
                node = (close, vnum, False)
            else:
                r = _nsf_parse(toks, first)
                if r is None:
                    return None
                end_in, v, ha = r
                if _next_code(toks, end_in + 1) != as_idx:
                    return None
                node = (close, v, ha)
    elif up in ("DATE_ADD", "DATE_SUB", "ADDDATE", "SUBDATE", "ADD_MONTHS") \
            or toks[i].text.lower() in _NSF_UNIT_FUNCS:
        o = _next_code(toks, i + 1)
        if o >= len(toks) or toks[o].text != "(":
            return None
        try:
            close = _matching_paren(toks, o)
        except ValueError:
            return None
        args = _split_args(toks, o, close)
        if len(args) != 2:
            return None
        r = _nsf_parse(toks, _next_code(toks, args[0][0]))
        if r is None:
            return None
        end1, v, _ha = r
        if _next_code(toks, end1 + 1) < args[0][1]:
            return None  # first arg not fully consumed
        if up == "ADD_MONTHS":
            q = _nsf_const_int(toks, _next_code(toks, args[1][0]))
            if q is None or _next_code(toks, q[0] + 1) < args[1][1]:
                return None
            v2 = _nsf_add(v, "MONTH", q[1], keep_max_day=True)
        elif toks[i].text.lower() in _NSF_UNIT_FUNCS:
            unit, sgn = _NSF_UNIT_FUNCS[toks[i].text.lower()]
            q = _nsf_const_int(toks, _next_code(toks, args[1][0]))
            if q is None or _next_code(toks, q[0] + 1) < args[1][1]:
                return None
            v2 = _nsf_add(v, unit, sgn * q[1])
        else:
            sgn = -1 if up in ("DATE_SUB", "SUBDATE") else 1
            iv = _nsf_interval_arg(
                toks, _next_code(toks, args[1][0]), args[1][1]
            )
            if iv is None:
                return None
            unit, n = iv
            v2 = _nsf_add(v, unit, sgn * n)
        node = (close, v2, True)
    if node is None:
        return None
    # postfix: <ts-expr> ± INTERVAL <n> <unit>, repeatable
    end, v, ha = node
    while True:
        opi = _next_code(toks, end + 1)
        if not (
            opi < len(toks)
            and toks[opi].kind == "op"
            and toks[opi].text in "+-"
        ):
            break
        ii = _next_code(toks, opi + 1)
        if not (
            ii < len(toks)
            and toks[ii].kind == "word"
            and toks[ii].upper == "INTERVAL"
        ):
            break
        qi = _next_code(toks, ii + 1)
        q = _nsf_const_int(toks, qi)
        if q is None:
            break
        qend, n = q
        ui = _next_code(toks, qend + 1)
        if ui >= len(toks) or toks[ui].kind != "word":
            break
        unit = toks[ui].upper
        unit = unit[:-1] if unit.endswith("S") else unit
        if unit not in _NSF_UNITS:
            break
        v = _nsf_add(v, unit, (-n if toks[opi].text == "-" else n))
        end, ha = ui, True
    return end, v, ha


def _fold_ns_literal_timestamps(toks: list[Tok]) -> list[Tok]:
    """Fold all-literal TIMESTAMP expressions where µs runtime math would
    visibly diverge from the reference's ns semantics (module comment
    above).  Three shapes:
      (a) CAST(<ts-expr> AS STRING) with a sub-µs fraction in the exact
          result -> the rendered string literal; exact-NULL -> NULL
      (b) <ts-expr> <cmp> <ts-expr> with sub-µs digits on either side ->
          TRUE/FALSE (µs truncation would collapse the comparison)
      (c) a ts-expr with arithmetic whose EXACT result is out of the
          [1400-01-01, 9999-12-31] range -> CAST(NULL AS TIMESTAMP)
          (a -1ns step below the floor truncates to in-range at µs)"""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word" or (
            t.upper not in _NSF_HEADS
            and t.text.lower() not in _NSF_UNIT_FUNCS
        ):
            i += 1
            continue
        if t.upper == "CAST":
            try:
                c = _parse_cast(toks, i)
            except ValueError:
                i += 1
                continue
            if c is not None and c.fmt is None:
                as_idx, close = c.as_, c.close
                if c.ty == "STRING":
                    r = _nsf_parse(toks, _next_code(toks, c.open + 1))
                    if r is not None:
                        end, v, ha = r
                        if _next_code(toks, end + 1) == as_idx:
                            if v[0] == "null" and ha:
                                repl = tokenize("CAST(NULL AS STRING)")
                                toks[i : close + 1] = repl
                                i += len(repl)
                                continue
                            if v[0] == "ok" and v[2] % 1000 != 0:
                                toks[i : close + 1] = [
                                    Tok("str", "'" + _nsf_render(v) + "'")
                                ]
                                i += 1
                                continue
                elif c.ty == "TIMESTAMP":
                    # bare sub-µs literal in a DISPLAY context: the
                    # reference renders the stored ns digits
                    # (expr-test.cc:3276-3484); Spark's TimestampType
                    # would truncate to µs.  Fold the whole select item
                    # (incl. postfix INTERVAL arithmetic) to the rendered
                    # string — guarded to top-level items only so
                    # typeof/outer casts/expressions keep TimestampType.
                    r = _nsf_parse(toks, i)
                    if r is not None:
                        end, v, _ha = r
                        if (
                            v[0] == "ok"
                            and v[2] % 1000 != 0
                            and _nsf_display_pos(toks, i, end)
                        ):
                            toks[i : end + 1] = [
                                Tok("str", "'" + _nsf_render(v) + "'")
                            ]
                            i += 1
                            continue
        r = _nsf_parse(toks, i)
        if r is None:
            i += 1
            continue
        end, v, ha = r
        q = _next_code(toks, end + 1)
        if (
            q < len(toks)
            and toks[q].kind == "op"
            and toks[q].text in _CMP_TO_IEEE
        ):
            r2 = _nsf_parse(toks, _next_code(toks, q + 1))
            if r2 is not None:
                end2, v2, ha2 = r2
                if v[0] == "ok" and v2[0] == "ok" and (
                    v[2] % 1000 or v2[2] % 1000
                ):
                    a = (v[1], v[2])
                    b = (v2[1], v2[2])
                    res = {
                        "=": a == b, "!=": a != b, "<>": a != b,
                        "<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b,
                        "<=>": a == b,
                    }[toks[q].text]
                    repl = tokenize("TRUE" if res else "FALSE")
                    toks[i : end2 + 1] = repl
                    i += len(repl)
                    continue
                if (v[0] == "null" or v2[0] == "null") and (ha or ha2):
                    if toks[q].text == "<=>":
                        both = v[0] == "null" and v2[0] == "null"
                        repl = tokenize("TRUE" if both else "FALSE")
                    else:
                        repl = tokenize("CAST(NULL AS BOOLEAN)")
                    toks[i : end2 + 1] = repl
                    i += len(repl)
                    continue
        if v[0] == "null" and ha:
            repl = tokenize("CAST(NULL AS TIMESTAMP)")
            toks[i : end + 1] = repl
            i += len(repl)
            continue
        i += 1
    return toks


def _enclosing_cast_target(toks: list[Tok], i: int) -> str | None:
    """Normalized (upper, space-free) target type of a CAST that DIRECTLY
    encloses the expression starting at token i — i.e. i sits right after
    ``CAST (``.  Used by the DECIMAL rules of _rewrite_result_types to make
    the idempotency skip exact: only a CAST to the exact type the pass would
    emit is recognized as the pass's own output (round-7 advice, low) —
    a user-written ``CAST(avg(...) AS STRING)`` no longer suppresses the
    DECIMAL_V2 result-type rewrite."""
    prev_p = _prev_code(toks, i - 1)
    if prev_p < 0 or toks[prev_p].text != "(":
        return None
    c = _parse_cast(toks, _prev_code(toks, prev_p - 1))
    return c.ty if c is not None else None


#: (function, argument type) -> the reference's result type for the
#: one-argument calls Spark types differently (_rewrite_result_types);
#: "DECIMAL" stands for any DECIMAL(p,s)
_RESULT_TYPES = {
    # BuiltinsDb.java:1359, aggregate-functions-ir.cc TimestampAvg* —
    # Spark's non-ANSI mode implicit-casts to DOUBLE epoch seconds
    ("avg", "TIMESTAMP"): "TIMESTAMP",
    # FunctionCallExpr.java:442-444 → ScalarType.getMaxResolutionType:
    # DECIMAL(38,s); Spark widens only to DECIMAL(p+10,s)
    ("sum", "DECIMAL"): "DECIMAL",
    # DECIMAL_V2 FunctionCallExpr.java:448-461; Spark's DECIMAL(p+4,s+4)
    ("avg", "DECIMAL"): "DECIMAL",
    # impala_functions.py:348-349 DOUBLE→DOUBLE; Spark's is BIGINT
    **{
        (fn, ty): "DOUBLE"
        for fn in ("ceil", "ceiling", "dceil", "floor", "dfloor")
        for ty in ("DOUBLE", "FLOAT")
    },
}


def _rewrite_result_types(
    toks: list[Tok], column_types: dict[str, str] | None
) -> list[Tok]:
    """Give each one-argument call in _RESULT_TYPES the reference's
    result type, wrapping the call (and its OVER (…) window, if any):

      * avg(TIMESTAMP) → timestamp_micros(CAST(avg(unix_micros(x)) AS
        BIGINT));
      * sum(DECIMAL(p,s)) → CAST(… AS DECIMAL(38, s));
      * avg(DECIMAL(p,s)) → CAST(… AS DECIMAL((p-s) + max(6,s),
        max(6,s))), with the adjusted 38-cap (the scale gets at least
        MIN_ADJUSTED_SCALE for the implicit divide; the CAST back rounds
        half-up at the result scale like the reference's divide);
      * ceil/floor(DOUBLE or FLOAT) → CAST(… AS DOUBLE).

    The argument's type is _static_type's; a column is typed through
    ``column_types`` except for the DECIMAL rules, which take only a
    provable CAST or literal.  Values are identical either way: this pins
    the result TYPE and the typing of enclosing expressions.  The walk
    runs right to left, so a call is typed after its argument's rewrite.
    A DECIMAL wrap is skipped when the directly enclosing CAST targets the
    exact type it would emit (_enclosing_cast_target), so a user CAST to
    any other type does not suppress it."""
    cols = {
        name: ty for name, ty in (column_types or {}).items()
        if not ty.startswith("DECIMAL")
    }
    fns = {fn for fn, _ in _RESULT_TYPES}
    for i in range(len(toks) - 1, -1, -1):
        fn = toks[i].text.lower()
        if toks[i].kind != "word" or fn not in fns:
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            continue
        close = _matching_paren(toks, j)
        args = _split_args(toks, j, close)
        if len(args) != 1:
            continue
        ty = _static_type(toks, *args[0], cols)
        ps = _decimal_ps(ty)
        target = _RESULT_TYPES.get((fn, "DECIMAL" if ps else ty))
        if target is None:
            continue
        if ps is not None:
            p, s = ps
            if fn == "sum":
                p = 38
            else:
                p, s = (p - s) + max(6, s), max(6, s)
                if p > 38:  # ScalarType.createAdjustedDecimalType
                    p, s = 38, max(38 - (p - s), min(s, 6))
            if _enclosing_cast_target(toks, i) == f"DECIMAL({p},{s})":
                continue
            target = f"DECIMAL({p}, {s})"
        wrap_end = close
        after = _next_code(toks, close + 1)
        if after < len(toks) and toks[after].upper == "OVER":
            op = _next_code(toks, after + 1)
            if op < len(toks) and toks[op].text == "(":
                wrap_end = _matching_paren(toks, op)
        if target == "TIMESTAMP":
            x = untokenize(toks[args[0][0] : args[0][1]]).strip()
            over = untokenize(toks[close + 1 : wrap_end + 1])
            _splice(
                toks, i, wrap_end + 1,
                f"timestamp_micros(CAST(avg(unix_micros({x})){over} "
                f"AS BIGINT))",
            )
        else:
            _splice(toks, wrap_end + 1, wrap_end + 1, f" AS {target})")
            _splice(toks, i, i, "CAST(")
    return toks


def _int_literal_value(toks: list[Tok], arg: tuple[int, int]) -> int | None:
    """Value of an (optionally negated) integer-literal argument."""
    code = [k for k in range(arg[0], arg[1]) if _is_code(toks[k])]
    if len(code) == 1 and toks[code[0]].kind == "num" and "." not in toks[code[0]].text:
        return int(toks[code[0]].text)
    if (
        len(code) == 2
        and toks[code[0]].text == "-"
        and toks[code[1]].kind == "num"
        and "." not in toks[code[1]].text
    ):
        return -int(toks[code[1]].text)
    return None


def _count_capture_groups(pattern: str) -> int:
    """Capturing groups in an RE2/Java-regex pattern literal: unescaped
    '(' not starting a (?...) construct and not inside a character class."""
    n = 0
    in_class = False
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            if i + 1 >= len(pattern) or pattern[i + 1] != "?":
                n += 1
        i += 1
    return n


def _rewrite_char_mode_substr(toks: list[Tok]) -> list[Tok]:
    """UTF8_MODE=true: substr/substring keep character semantics but still
    follow the reference's position contract (pos = 0 or a negative pos
    resolving past the string start → empty — Utf8Substring:98-101, which
    Spark's clamp-to-start substring violates)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and t.text.lower() in ("substr", "substring"):
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].text == "(":
                close = _matching_paren(toks, j)
                nargs = len(_split_args(toks, j, close))
                if nargs in (2, 3):
                    toks[i] = Tok(
                        "word",
                        "charsubstr" if nargs == 2 else "charsubstr3",
                    )
        elif t.kind == "word" and t.text.lower() == "locate":
            # locate(sub, s, pos): Spark returns 0 for a NULL pos where
            # the reference NULL-propagates (LocatePos; the utf8-mode
            # expr-test row locate('SQL', ..., NULL) pins NULL)
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].text == "(":
                close = _matching_paren(toks, j)
                if len(_split_args(toks, j, close)) == 3:
                    toks[i] = Tok("word", "charlocate3")
        i += 1
    return toks


def _rewrite_byte_semantics(toks: list[Tok]) -> list[Tok]:
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word":
            i += 1
            continue
        name = t.text.lower()
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            i += 1
            continue
        if name in _BYTE_LEN_FNS:
            close = _matching_paren(toks, j)
            if len(_split_args(toks, j, close)) == 1:
                toks[i] = Tok("word", "octet_length")
        elif name in ("instr", "locate"):
            close = _matching_paren(toks, j)
            args = _split_args(toks, j, close)
            if len(args) == 2:
                # Byte position of the first match: find the char position
                # natively, then measure the byte length of the prefix.
                # instr(s, sub)  → byteinstr(s, sub)
                # locate(sub, s) → byteinstr(s, sub)   (arg order swap)
                # byteinstr(s, sub) ≡ IF(instr(s, sub) = 0, 0,
                #    octet_length(left(s, instr(s, sub) - 1)) + 1)
                # registered as a SQL macro in functions/registry.py so the
                # rewrite stays a plain rename (+ arg swap for locate).
                if name == "locate":
                    a0s, a0e = args[0]
                    a1s, a1e = args[1]
                    sub_toks = toks[a0s:a0e]
                    s_toks = toks[a1s:a1e]
                    toks[a0s:a1e] = (
                        s_toks + tokenize(", ") + sub_toks
                    )
                toks[i] = Tok("word", "byteinstr")
            elif name == "instr" and len(args) in (3, 4):
                # byte-exact pos/occ window over the UTF-8 byte buffer
                # (string-functions-ir.cc Instr:788-846)
                toks[i] = Tok("word", "byteinstr4")
                if len(args) == 3:
                    _splice(toks, close, close, ", 1")
            elif name == "locate" and len(args) == 3:
                # LocatePos byte guard + forward search
                # (string-functions-ir.cc:863-871); arg order matches
                toks[i] = Tok("word", "bytelocate3")
        elif name in ("substr", "substring"):
            close = _matching_paren(toks, j)
            args = _split_args(toks, j, close)
            if len(args) in (2, 3):
                # substr(s, p[, l]) → bytesubstr[3](s, p[, l]): a binary
                # slice decoded back to UTF-8, with the reference's
                # position contract (pos = 0 or a negative pos resolving
                # past the string start → empty string — Substring:56-71;
                # Spark's substring clamps both to the whole prefix). The
                # binary→string cast inside the kernel reinterprets the
                # sliced bytes without validation — matching the
                # reference, which emits raw bytes even when a cut lands
                # mid-character.
                toks[i] = Tok(
                    "word", "bytesubstr" if len(args) == 2 else "bytesubstr3"
                )
        elif name in ("upper", "ucase", "lower", "lcase"):
            # Byte-mode case mapping is ASCII-only (toupper/tolower over
            # raw bytes; multibyte UTF-8 bytes are >= 0x80 and untouched —
            # string-functions-ir.cc Upper/Lower). translate() maps exactly
            # the 26 ASCII letters, leaving everything else verbatim.
            close = _matching_paren(toks, j)
            # upper(typeof(...)) is the typeof-uppercase contract's own
            # output (type names are pure ASCII, so native upper IS the
            # byte-mode mapping) — leave it, keeping translate() idempotent
            # over ts-range-guard output
            arg0 = _next_code(toks, j + 1)
            if toks[arg0].text.lower() == "typeof":
                i = arg0
                continue
            if len(_split_args(toks, j, close)) == 1:
                src, dst = _ASCII_LOWER, _ASCII_UPPER
                if name in ("lower", "lcase"):
                    src, dst = _ASCII_UPPER, _ASCII_LOWER
                _splice(toks, close, close, f", '{src}', '{dst}'")
                toks[i] = Tok("word", "translate")
        elif name == "initcap":
            # Byte-mode initcap: ASCII word-start byte after whitespace →
            # toupper, other ASCII bytes → tolower, non-ASCII untouched
            # (string-functions-ir.cc InitCap) — the byteinitcap kernel.
            close = _matching_paren(toks, j)
            if len(_split_args(toks, j, close)) == 1:
                toks[i] = Tok("word", "byteinitcap")
        elif name in ("strleft", "left", "strright", "right"):
            # strleft/strright (and their left/right aliases) take BYTE
            # counts under UTF8_MODE=false (string-functions-ir.cc Left/
            # Right over the raw byte buffer) — slice the encoded bytes
            # like the substr form above. n <= 0 yields the empty string.
            close = _matching_paren(toks, j)
            args = _split_args(toks, j, close)
            if len(args) == 2:
                s = untokenize(toks[args[0][0] : args[0][1]]).strip()
                n = untokenize(toks[args[1][0] : args[1][1]]).strip()
                if name in ("strleft", "left"):
                    new_sql = (
                        f"CAST(substring(encode({s}, 'utf-8'), 1, {n}) "
                        "AS STRING)"
                    )
                else:
                    new_sql = (
                        f"CAST(IF(({n}) <= 0, encode('', 'utf-8'), "
                        f"substring(encode({s}, 'utf-8'), -({n}))) AS STRING)"
                    )
                new_toks = tokenize(new_sql)
                toks[i : close + 1] = new_toks
                # skip past the splice: this pass must not re-rewrite the
                # substring() it just emitted (double-encode)
                i += len(new_toks)
                continue
        i += 1
    return toks


# ---------------------------------------------------------------------------
# Rewrite: RIGHT SEMI / RIGHT ANTI JOIN → operand-swapped LEFT form
# ---------------------------------------------------------------------------
#
# The reference's planner supports all TJoinOp modes including
# RIGHT_SEMI_JOIN / RIGHT_ANTI_JOIN (fe HashJoinNode; exercised by
# QueryTest/semi-joins.test rows 17-21); Spark SQL parses only the LEFT
# forms.  `A right semi join B ON c` returns B's rows with a match in A,
# so the rewrite swaps the operands: `B LEFT SEMI JOIN A ON c`.  When the
# left operand is itself a join tree (everything since FROM / the last
# top-level comma), it is wrapped in parentheses — Spark accepts a
# parenthesized joined relation and alias qualifiers survive.

def _rewrite_right_semi_anti(toks: list[Tok]) -> list[Tok]:
    if not any(t.kind == "word" and t.upper in ("SEMI", "ANTI") for t in toks):
        return toks
    changed = True
    while changed:
        changed = False
        for i, t in enumerate(toks):
            if t.kind != "word" or t.upper != "RIGHT":
                continue
            j = _next_code(toks, i + 1)
            if j >= len(toks) or toks[j].upper not in ("SEMI", "ANTI"):
                continue
            kind = toks[j].upper
            k = _next_code(toks, j + 1)
            if k >= len(toks) or toks[k].upper != "JOIN":
                continue
            qb = _query_blocks(toks)
            items = _from_items(toks, qb)
            it = next((x for x in items if x.trigger == k), None)
            if it is None:
                continue
            sibs = [
                x for x in items
                if x.clause == it.clause and x.block == it.block
            ]
            # ---- left operand: since the FROM, the last comma of the
            # clause or the paren that opens the join ----------------
            ls = max((
                x.trigger for x in sibs
                if x.trigger < i and toks[x.trigger].upper != "JOIN"
            ), default=it.block) + 1
            # ---- ON condition (_join_condition_end) -----------------
            on_i = _next_code(toks, it.stop + 1)
            if on_i >= len(toks) or toks[on_i].upper != "ON":
                continue
            ce = _join_condition_end(toks, qb, items, it)
            left = toks[ls:i]
            right = toks[it.start : it.stop + 1]
            cond = toks[on_i:ce]
            has_join = any(
                tt.kind == "word" and tt.upper == "JOIN" for tt in left
            )
            wrap_l = ([Tok("op", "(")] + left + [Tok("op", ")")]
                      if has_join else left)
            new = (
                [Tok("ws", " ")]
                + right + [Tok("ws", " "), Tok("word", "LEFT"),
                         Tok("ws", " "), Tok("word", kind),
                         Tok("ws", " "), Tok("word", "JOIN"),
                         Tok("ws", " ")]
                + wrap_l + [Tok("ws", " ")] + cond + [Tok("ws", " ")]
            )
            toks = toks[:ls] + new + toks[ce:]
            changed = True
            break
    return toks


# ---------------------------------------------------------------------------
# Rewrite 4: Impala plan hints → Spark hints
# ---------------------------------------------------------------------------

_HINT_WORDS = {"broadcast", "shuffle", "noshuffle", "straight_join"}


def _rewrite_hints(toks: list[Tok]) -> list[Tok]:
    # Impala's bracket hints attach to the join/insert site; Spark expresses
    # the same intent with /*+ ... */ after SELECT. We translate the common
    # `JOIN [broadcast] t` form into a comment hint; shuffle/noshuffle/
    # straight_join are dropped (AQE + CBO decide). Token-level so bracket-
    # hint-looking text inside string literals or comments stays verbatim.
    #
    # Impala also accepts the BARE keyword form `SELECT STRAIGHT_JOIN ...`
    # (sql-parser.cup select_clause) — dropped under the same policy;
    # without this it reaches Spark as an unresolved select-list column.
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.upper == "STRAIGHT_JOIN"
            and (p := _prev_code(toks, i - 1)) >= 0
            and toks[p].kind == "word"
            and toks[p].upper == "SELECT"
        ):
            del toks[i]
            continue
        i += 1
    hinted: list[Tok] = []  # the first token of each broadcast operand
    i = 0
    while i < len(toks):
        if toks[i].text != "[" or toks[i].kind != "op":
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].kind != "word" or toks[j].text.lower() not in _HINT_WORDS:
            i += 1
            continue
        k = _next_code(toks, j + 1)
        if k >= len(toks) or toks[k].text != "]":
            i += 1
            continue
        if toks[j].text.lower() == "broadcast":
            r0 = _next_code(toks, k + 1)
            if r0 < len(toks):
                hinted.append(toks[r0])
        toks[i : k + 1] = []
        i += 1
    if not hinted:
        return toks
    # Spark only parses /*+ ... */ directly after SELECT — hang
    # BROADCAST(alias) of each hinted join operand off the owning block's
    # SELECT (a bare comment after JOIN is a parse error: joins.test#23).
    qb = _query_blocks(toks)
    spots: list[tuple[int, str]] = []
    for it in _from_items(toks, qb):
        owner = qb.clause(it.trigger)
        if owner and it.alias and any(toks[it.start] is h for h in hinted):
            spots.append((owner[0].select, it.alias))
    # back to front; one block's hints in their order, each at SELECT + 1
    for sel, alias in sorted(spots, key=lambda x: -x[0]):
        _splice(toks, sel + 1, sel + 1, f" /*+ BROADCAST({alias}) */")
    return toks


# ---------------------------------------------------------------------------
# Rewrite 4b: zipping UNNEST — `FROM t, UNNEST(t.a1, t.a2)` with items
# referenced as `a1.item` / `a1.pos` (reference grammar sql-parser.cup:315
# KW_UNNEST; zip semantics be/src/exec/unnest-node.h:54-94: arrays align by
# position, shorter ones null-pad). Spark form: LATERAL VIEW posexplode_outer
# (arrays_zip(...)) with item references rewritten to the zip struct fields.
# ---------------------------------------------------------------------------


def _has_unnest(toks: list[Tok]) -> bool:
    return any(t.kind == "word" and t.text.upper() == "UNNEST" for t in toks)


def _rewrite_unnest(toks: list[Tok]) -> list[Tok]:
    if not _has_unnest(toks):
        return toks
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "word" and t.upper == "UNNEST"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        prev = _prev_code(toks, i - 1)
        if j >= len(toks) or toks[j].text != "(" or prev < 0 or toks[prev].text != ",":
            i += 1
            continue
        owner = _query_blocks(toks).clause(i)
        if owner is None or owner[1] != "FROM":
            # a comma-preceded unnest in a SELECT list is the zipping
            # select-list form — handled by _rewrite_select_unnest
            i += 1
            continue
        close = _matching_paren(toks, j)
        args = _split_args(toks, j, close)
        arg_sql = [untokenize(toks[a:b]).strip() for a, b in args]
        leafs = [a.split(".")[-1] for a in arg_sql]
        # non-outer: the reference's zipping unnest drops rows whose
        # arrays are ALL empty/NULL (zipping-unnest-in-select-list.test
        # "Unnest a single array that is empty" → zero rows); padding
        # applies only BETWEEN unequal-length arrays, which arrays_zip
        # already does.
        lateral = (
            " LATERAL VIEW posexplode(arrays_zip("
            + ", ".join(arg_sql)
            + ")) _unnest AS pos, _z "
        )
        # Spark's grammar puts lateral views after all relations: when FROM
        # items follow, the lateral view goes at the clause end
        ins = owner[0].clause_end(owner[0].clauses["FROM"])
        if _next_code(toks, close + 1) < ins:
            _splice(toks, ins, ins, lateral)
            lateral = ""
        _splice(toks, prev, close + 1, lateral)
        # rewrite `leaf.item` → `_z.leaf` (one token for one: the parse
        # stays valid) and `leaf.pos` → `pos` (spliced back to front
        # after the scan) everywhere
        qb = _query_blocks(toks)
        pos_refs: list[tuple[int, int, str]] = []
        k = 0
        while k < len(toks) - 2:
            a = toks[k]
            if a.kind == "word" and a.text in leafs:
                d = _next_code(toks, k + 1)
                if d < len(toks) and toks[d].text == ".":
                    m = _next_code(toks, d + 1)
                    if m < len(toks) and toks[m].kind == "word":
                        if toks[m].text.lower() == "item":
                            toks[k] = Tok("word", "_z")
                            toks[m] = Tok("word", a.text)
                        elif toks[m].text.lower() == "pos":
                            # the reference types `pos` BIGINT
                            # (CollectionTableRef posItemType); Spark's
                            # posexplode emits INT — cast, and alias when
                            # the reference is a bare select item so the
                            # output column keeps the name `pos`
                            nxt2 = _next_code(toks, m + 1)
                            prv2 = _prev_code(toks, k - 1)
                            bare_item = (
                                qb.clause_is(k, "SELECT")
                                and (
                                    prv2 < 0
                                    or toks[prv2].text == ","
                                    or toks[prv2].upper
                                    in ("SELECT", "DISTINCT")
                                )
                                and (
                                    nxt2 >= len(toks)
                                    or toks[nxt2].text == ","
                                    or toks[nxt2].upper == "FROM"
                                )
                            )
                            repl_sql = "CAST(pos AS BIGINT)"
                            if bare_item:
                                repl_sql += " AS pos"
                            pos_refs.append((k, m, repl_sql))
            k += 1
        for k, m, repl_sql in reversed(pos_refs):
            _splice(toks, k, m + 1, repl_sql)
        i = 0  # edits on both sides of token i moved it: scan again
    return toks


# ---------------------------------------------------------------------------
# Rewrite 5 (opt-in): COUNT(DISTINCT x) → approx ndv — the reference's
# CountDistinctToNdvRule (fe/.../rewrite/CountDistinctToNdvRule.java),
# enabled by the APPX_COUNT_DISTINCT query option.
# ---------------------------------------------------------------------------


def _rewrite_count_distinct_to_ndv(toks: list[Tok]) -> list[Tok]:
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "word" and t.upper == "COUNT"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            i += 1
            continue
        k = _next_code(toks, j + 1)
        if k < len(toks) and toks[k].upper == "DISTINCT":
            toks[i] = Tok("word", "approx_count_distinct")
            del toks[k]
        i += 1
    return toks


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


#: the one-row source of a FROM-less query block.  Catalyst folds a
#: projection, filter or limit over it into a LocalRelation, which
#: collect() returns from the driver; the bare SELECT's OneRowRelation
#: scan runs a Spark job.  The names are ones no statement uses: Spark
#: resolves a name against the source before a lateral alias.
_CONSTANT_SOURCE = " FROM (VALUES (0)) AS _hs_one_row(_hs_one_row_c)"

def _add_constant_sources(toks: list[Tok]) -> list[Tok]:
    """Give each FROM-less query block at statement level (the main
    query, after any WITH clause, and each set-operation branch) the
    one-row source ``_CONSTANT_SOURCE``, inserted right after its select
    list, the way the reference runs such a block as constant rows in the
    coordinator with no scan (union-node.h).  A block whose select list
    has a ``*`` or ``q.*`` item keeps its bare form (``select *`` is zero
    columns and one row); nested blocks are left alone."""
    qb = _query_blocks(toks)
    spots: list[int] = []
    for b in qb.blocks:
        if b.open != -1 or "FROM" in b.clauses:
            continue
        end = min(b.clauses.values(), default=b.end)
        if not any(
            toks[i].text == "*" and qb.opens[i] == -1
            and toks[_prev_code(toks, i - 1)].upper
            in ("SELECT", "DISTINCT", "ALL", ",", ".")
            for i in range(b.select + 1, end)
        ):
            spots.append(_prev_code(toks, end - 1) + 1)
    for spot in reversed(spots):
        toks[spot:spot] = tokenize(_CONSTANT_SOURCE)
    return toks


def _rewrite_utf8_case_mapping(toks: list[Tok]) -> list[Tok]:
    """UTF8_MODE=true: masking takes the locale path (MaskTransform with
    a locale: non-ASCII letters/digits ARE masked), so the ASCII-class
    kernels the function pass emitted become their Unicode ``_u`` forms;
    and lower/lcase/initcap get the reference's simple (locale) mapping
    for U+0130 İ — ``lower(translate(x, 'İ', 'I'))`` — where Java/ICU
    give i + combining dot.  A call whose argument already starts with
    that translate is left alone."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and t.text in (
            "maskchars", "mask_first_n6", "mask_last_n6",
            "mask_show_first_n6", "mask_show_last_n6",
        ):
            toks[i] = Tok("word", t.text + "_u")
        elif t.kind == "word" and t.text.lower() in (
            "lower", "lcase", "initcap"
        ):
            j = _next_code(toks, i + 1)
            if j < len(toks) and toks[j].text == "(":
                close = _matching_paren(toks, j)
                first = _next_code(toks, j + 1)
                if not (
                    first < close
                    and toks[first].text == "translate"
                    and any(
                        toks[q].kind == "str" and "İ" in toks[q].text
                        for q in range(first, close)
                    )
                ):
                    fn = "lower" if t.upper != "INITCAP" else "initcap"
                    _splice(toks, close, close, ", 'İ', 'I')")
                    i += _splice(toks, i, i + 1, f"{fn}(translate")
                    continue
        i += 1
    return toks


def translate(
    sql: str | list[Tok],
    options: dict[str, bool] | None = None,
    column_types: dict[str, str] | None = None,
) -> str:
    """Rewrite an Impala-dialect statement into Spark SQL text.  ``sql``
    is the statement's text or its token list (tokenize), which the
    passes then edit in place; every pass keeps each token exactly one
    lexical token.

    `options` mirrors the reference's query options (query-options.h);
    supported: appx_count_distinct (CountDistinctToNdvRule), utf8_mode
    (UTF8_MODE — default false, i.e. byte-oriented string semantics like
    the reference).  `column_types` is the caller's knowledge of the
    columns the statement reads: lower-case column name → Impala type
    name (BOOLEAN, STRING, TIMESTAMP, DOUBLE, BIGINT, ...) for the names
    whose type is unambiguous.  _static_type reads it to type bare and
    dotted column operands the way the reference's analyzer does: ``||``
    on BOOLEAN columns is OR, STRING columns get the string→int cast
    guard, and TIMESTAMP, DOUBLE and FLOAT columns drive the avg and
    ceil/floor result types and the DECIMAL promotion rewrites.

    Last, each FROM-less query block at statement level (the main query
    and each set-operation branch, but not one with a ``*`` item) gets the
    one-row source ``FROM (VALUES (0)) AS _hs_one_row(_hs_one_row_c)``
    right after its select list (_add_constant_sources).  Catalyst folds
    a projection, filter or limit over it into a LocalRelation, so the
    statement returns from the driver without a Spark job."""
    utf8 = bool(options and options.get("utf8_mode"))
    toks = tokenize(sql) if isinstance(sql, str) else sql
    toks = _rewrite_create_table_ddl(toks)
    toks = _rewrite_escape_residue(toks)
    toks = _rewrite_builtins_namespace(toks)
    # ns constant folding FIRST — it reads pristine Impala-dialect shapes
    toks = _fold_ns_literal_timestamps(toks)
    toks = _rewrite_values_rows(toks)
    toks = _rewrite_values_aliases(toks)
    toks = _rewrite_null_lhs_not_in(toks)
    toks = _rewrite_logical_ops(toks, column_types)
    toks = _rewrite_postfix_factorial(toks)
    toks = _rewrite_datetime_type_contracts(toks)
    # result types BEFORE the DECIMAL promotion and the cast table, which
    # read the types they pin
    toks = _rewrite_result_types(toks, column_types)
    toks = _rewrite_bigint_decimal_arith(toks, column_types)
    toks = _rewrite_casts(toks, column_types)
    toks = _rewrite_div_by_zero_literal(toks)
    toks = _rewrite_tablesample(toks)
    toks = _rewrite_right_semi_anti(toks)
    toks = _rewrite_hints(toks)
    toks = _rewrite_unnest(toks)
    toks = _rewrite_select_unnest(toks)
    toks = _rewrite_collection_join(toks)
    if utf8:
        toks = _rewrite_char_mode_substr(toks)
    else:
        toks = _rewrite_byte_semantics(toks)
    toks = _rewrite_posix_classes(toks)
    toks = _rewrite_functions(toks)
    if utf8:
        toks = _rewrite_utf8_case_mapping(toks)
    if options and options.get("appx_count_distinct"):
        toks = _rewrite_count_distinct_to_ndv(toks)
    # AFTER the div-by-zero and function-kernel passes (their IEEE-special
    # markers are what this pass keys on)
    toks = _rewrite_nan_comparisons(toks)
    # range contract AFTER the type-dispatch passes (they detect bare
    # `CAST(... AS TIMESTAMP)` shapes the guard would hide) and BEFORE
    # the interval rewrite (non-literal quantities inside the guard still
    # need their make_interval form)
    toks = _rewrite_timestamp_range(toks)
    toks = _rewrite_date_literals(toks)
    toks = _rewrite_interval_exprs(toks)
    toks = _rewrite_iregexp(toks)
    toks = _rewrite_null_ordering(toks)
    toks = _rewrite_null_predicates(toks)
    toks = _add_constant_sources(toks)
    return untokenize(toks)


#: Impala STORED AS file format → Spark data-source provider
#: (grammar sql-parser.cup file_format_val; HdfsFileFormat.java)
_STORED_AS_MAP = {
    "parquet": "parquet",
    "parquetfile": "parquet",
    "orc": "orc",
    "avro": "avro",
    "avrofile": "avro",
    "textfile": "csv",
    "jsonfile": "json",
}

_CREATE_TABLE_HEAD_RE = re.compile(
    r"^(\s*CREATE\s+)(EXTERNAL\s+)?(TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+)",
    re.I,
)
_STORED_AS_RE = re.compile(r"\bSTORED\s+AS\s+(\w+)", re.I)
_ROW_FORMAT_RE = re.compile(
    r"\bROW\s+FORMAT\s+DELIMITED"
    r"(?:\s+FIELDS\s+TERMINATED\s+BY\s+'(?P<sep>(?:[^']|'')*)')?"
    r"(?:\s+ESCAPED\s+BY\s+'(?P<esc>(?:[^']|'')*)')?"
    r"(?:\s+LINES\s+TERMINATED\s+BY\s+'(?P<line>(?:[^']|'')*)')?",
    re.I,
)
_CACHED_RE = re.compile(r"\b(?:CACHED\s+IN\s+'[^']*'(?:\s+WITH\s+REPLICATION\s*=\s*\d+)?|UNCACHED)\b", re.I)


def _rewrite_create_table_ddl(toks: list[Tok]) -> list[Tok]:
    """Impala CREATE TABLE storage clauses → Spark data-source DDL
    (SURVEY §3 entry point C; reference grammar sql-parser.cup
    create_tbl_stmt, HdfsFileFormat.java): ``CREATE EXTERNAL TABLE`` drops
    the keyword (Spark infers external from LOCATION), ``STORED AS <fmt>``
    becomes ``USING <provider>`` placed directly after the column list /
    table name (Spark requires the provider before other clauses), and
    ``ROW FORMAT DELIMITED ...`` folds into csv OPTIONS. Text tables keep
    the reference's default ctrl-A field separator. Statements without any
    of these clauses pass through untouched (Spark-native DDL stays
    Spark-native).  The clauses are matched on the statement's text."""
    k = _next_code(toks, 0)
    if k >= len(toks) or toks[k].upper != "CREATE":
        return toks
    sql = untokenize(toks)
    head = _CREATE_TABLE_HEAD_RE.match(sql)
    if not head:
        return toks
    m_stored = _STORED_AS_RE.search(sql)
    m_rowfmt = _ROW_FORMAT_RE.search(sql)
    if not (head.group(2) or m_stored or m_rowfmt):
        return toks
    fmt = (m_stored.group(1).lower() if m_stored else "textfile")
    if fmt in ("sequencefile", "rcfile", "kudu", "iceberg"):
        # Python-DataSource formats (rcfile) can't back catalog-table DDL;
        # their read/write path is the hopspark.sources API
        hint = {
            "sequencefile": "hopspark.sources.io read/write helpers",
            "rcfile": "spark.read.format('hopspark_rcfile') / sources.rcfile",
            "kudu": "out of scope (SURVEY §2.1)",
            "iceberg": "hopspark.sources.iceberg",
        }[fmt]
        raise ValueError(
            f"STORED AS {fmt.upper()} is not available through SQL DDL "
            f"({hint})"
        )
    provider = _STORED_AS_MAP.get(fmt)
    if provider is None:
        raise ValueError(f"unsupported file format: {fmt}")
    opts: list[tuple[str, str]] = []
    if provider == "csv":
        sep = esc = line = None
        if m_rowfmt:
            sep, esc, line = (
                m_rowfmt.group("sep"),
                m_rowfmt.group("esc"),
                m_rowfmt.group("line"),
            )
        opts.append(("sep", sep if sep is not None else "\\u0001"))
        if esc:
            opts.append(("escape", esc))
        if line:
            opts.append(("lineSep", line))
    body = sql
    if m_rowfmt:
        body = body[: m_rowfmt.start()] + body[m_rowfmt.end():]
    m_stored2 = _STORED_AS_RE.search(body)
    if m_stored2:
        body = body[: m_stored2.start()] + body[m_stored2.end():]
    body = _CACHED_RE.sub("", body)
    # insertion point: after the column list's matching close paren when
    # the header is followed by one, else right after the table name
    head2 = _CREATE_TABLE_HEAD_RE.match(body)
    i = head2.end()
    j = i
    while j < len(body) and body[j].isspace():
        j += 1
    if j < len(body) and body[j] == "(" and not re.match(
        r"\(\s*SELECT\b", body[j:], re.I
    ):
        depth, k = 0, j
        while k < len(body):
            if body[k] == "(":
                depth += 1
            elif body[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        i = k + 1
    using = f" USING {provider}"
    if opts:
        rendered = ", ".join(f"{k} '{v}'" for k, v in opts)
        using += f" OPTIONS ({rendered})"
    out = body[:i] + using + body[i:]
    if head.group(2):
        out = _CREATE_TABLE_HEAD_RE.sub(r"\1\3", out, count=1)
    return tokenize(out)


def _rewrite_null_lhs_not_in(toks: list[Tok]) -> list[Tok]:
    """``NULL NOT IN (<subquery>)`` → ``NOT EXISTS (<subquery>)``.

    The reference plans NOT-IN subqueries as a null-aware anti join
    (be/src/exec/partitioned-hash-join-node.h NAAJ; planner
    SubqueryRewriter.java), which returns every probe row when the build
    side is empty — so ``NULL NOT IN (empty set)`` is TRUE, per the SQL
    standard.  Catalyst's NullPropagation constant-folds
    ``In(null, subquery)`` to NULL *before* planning the anti join, so
    vanilla Spark silently filters every row even when the subquery is
    empty.  For a literal-NULL LHS the predicate is exactly
    ``NOT EXISTS (subquery)`` in filter context (TRUE iff the subquery
    is empty, else NULL≡FALSE under a WHERE/HAVING filter — the only
    contexts the reference admits IN-subqueries in).  LHS forms
    recognized: the bare ``NULL`` literal and ``CAST(NULL AS <type>)``.
    Runtime-null column values are unaffected (Spark's NAAJ handles
    those correctly, SPARK-32290)."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind != "word" or t.upper != "NOT":
            i += 1
            continue
        in_i = _next_code(toks, i + 1)
        if in_i >= len(toks) or toks[in_i].upper != "IN":
            i += 1
            continue
        open_i = _next_code(toks, in_i + 1)
        if open_i >= len(toks) or toks[open_i].text != "(":
            i += 1
            continue
        head = _next_code(toks, open_i + 1)
        if head >= len(toks) or toks[head].upper not in ("SELECT", "WITH"):
            i += 1
            continue
        # LHS term: bare NULL, or CAST(NULL AS <type>) closing paren
        p = _prev_code(toks, i - 1)
        lhs_lo = None
        if p >= 0 and toks[p].kind == "word" and toks[p].upper == "NULL":
            # reject IS NULL / dotted paths (x.null impossible, but cheap)
            pp = _prev_code(toks, p - 1)
            if pp < 0 or toks[pp].upper not in ("IS", "."):
                lhs_lo = p
        elif p >= 0 and toks[p].text == ")":
            o = _matching_paren_rev(toks, p)
            if o is not None:
                c_i = _prev_code(toks, o - 1)
                c = _parse_cast(toks, c_i)
                arg = _next_code(toks, o + 1)
                if (
                    c is not None
                    and toks[arg].upper == "NULL"
                    and _next_code(toks, arg + 1) == c.as_
                ):
                    lhs_lo = c_i
        if lhs_lo is None:
            i += 1
            continue
        toks[lhs_lo:in_i + 1] = tokenize("NOT EXISTS")
        i = lhs_lo + 1
    return toks


def _rewrite_null_predicates(toks: list[Tok]) -> list[Tok]:
    """``CASE WHEN NULL THEN`` / ``IF(NULL, ...)`` — the reference types a
    bare NULL predicate as BOOLEAN (fe analysis NullLiteral
    type-coercion); Spark 4's analyzer rejects VOID in a condition.
    Rewrite the bare literal to ``CAST(NULL AS BOOLEAN)``."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and t.upper == "NULL":
            p = _prev_code(toks, i - 1)
            n = _next_code(toks, i + 1)
            prev_u = toks[p].upper if p >= 0 else ""
            next_u = toks[n].upper if n < len(toks) else ""
            if (prev_u == "WHEN" and next_u == "THEN") or (
                prev_u in ("IF", "(")
                and p >= 1
                and toks[_prev_code(toks, p - 1)].upper == "IF"
                and next_u == ","
            ):
                toks[i : i + 1] = tokenize("CAST(NULL AS BOOLEAN)")
        i += 1
    return toks


def _rewrite_values_rows(toks: list[Tok]) -> list[Tok]:
    """Impala's multi-row VALUES wraps the row tuples in ONE outer paren
    pair — ``values((1, 'a'), (2, 'b'))`` is two rows (grammar
    sql-parser.cup values_stmt) — while Spark parses that outer pair as a
    single row of structs.  When every top-level operand of the VALUES
    paren group is itself a full parenthesized tuple (and not a scalar
    subquery), drop the outer parens so Spark sees ``VALUES (1,'a'),
    (2,'b')``.  Single-row ``values(1, 'a')`` and the standard
    ``VALUES (...), (...)`` spelling parse identically in both dialects
    and are left untouched."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "word" and t.upper == "VALUES"):
            out.append(t)
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or toks[j].text != "(":
            out.append(t)
            i += 1
            continue
        close = _matching_paren(toks, j)
        args = _split_args(toks, j, close)
        def _is_row_tuple(a: int, b: int) -> bool:
            s, e = _next_code(toks, a), _prev_code(toks, b - 1)
            if s > e or toks[s].text != "(" or _matching_paren(toks, s) != e:
                return False
            head = _next_code(toks, s + 1)
            # a parenthesized subquery is a scalar operand, not a row
            return not (
                head < e
                and toks[head].kind == "word"
                and toks[head].upper in ("SELECT", "WITH", "VALUES")
            )
        if args and all(_is_row_tuple(a, b) for a, b in args):
            out.append(t)
            out.append(Tok("ws", " "))
            # splice the group's interior, dropping the outer parens
            out.extend(toks[j + 1 : close])
            i = close + 1
        else:
            out.append(t)
            i += 1
    return out


#: words that end a VALUES row-tuple list
_VALUES_STOP = frozenset({"ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"})


def _rewrite_values_aliases(toks: list[Tok]) -> list[Tok]:
    """Impala names VALUES columns with select-list aliases in the first
    row — ``values(2 x, 20 y), (3, 30)`` yields columns x, y (grammar
    sql-parser.cup values_stmt → select_list; ValuesStmt labels from the
    first row).  Spark has no per-item aliases in VALUES; rewrite the
    aliased form to ``SELECT * FROM VALUES (2, 20), (3, 30) AS _v(x, y)``
    (works standalone, as an inline view, and with trailing ORDER
    BY/LIMIT binding to the wrapping select).  Runs after
    _rewrite_values_rows, so Impala's one-outer-paren multi-row form is
    already flattened to ``VALUES (..), (..)``.  VALUES without aliases
    is untouched."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "word" and t.upper == "VALUES"):
            i += 1
            continue
        # collect the row tuples
        rows: list[tuple[int, int]] = []
        j = _next_code(toks, i + 1)
        while j < len(toks) and toks[j].text == "(":
            close = _matching_paren(toks, j)
            head = _next_code(toks, j + 1)
            if head < close and toks[head].upper in ("SELECT", "WITH", "VALUES"):
                break  # scalar subquery, not a row tuple
            rows.append((j, close))
            nxt = _next_code(toks, close + 1)
            if nxt < len(toks) and toks[nxt].text == ",":
                j = _next_code(toks, nxt + 1)
            else:
                break
        if not rows:
            i += 1
            continue
        end = rows[-1][1]

        def _item_alias(a: int, b: int) -> tuple[int, str] | None:
            """(expr_end_tok, alias_text) if the item ends in an alias."""
            last = _prev_code(toks, b - 1)
            first = _next_code(toks, a)
            if last <= first or toks[last].kind not in ("word", "bquote"):
                return None
            if toks[last].kind == "word" and toks[last].upper in _VALUES_STOP:
                return None
            pa = _prev_code(toks, last - 1)
            if toks[pa].kind == "word" and toks[pa].upper == "AS":
                return (_prev_code(toks, pa - 1), toks[last].text)
            # `expr alias` — the expression must end in a value-like token
            if toks[pa].kind in ("num", "str") or toks[pa].text == ")" or (
                toks[pa].kind in ("word", "bquote")
                and toks[pa].upper not in ("AND", "OR", "NOT", "IS", "LIKE", "IN")
            ):
                return (pa, toks[last].text)
            return None

        first_items = _split_args(toks, rows[0][0], rows[0][1])
        aliases = [_item_alias(a, b) for a, b in first_items]
        if not any(aliases):
            i = end + 1
            continue
        names = [
            (al[1] if al else f"col{k + 1}") for k, al in enumerate(aliases)
        ]
        # rebuild each row with aliases stripped (any row may carry them)
        row_texts = []
        for open_i, close_i in rows:
            parts = []
            for a, b in _split_args(toks, open_i, close_i):
                al = _item_alias(a, b)
                e = al[0] if al else _prev_code(toks, b - 1)
                parts.append(untokenize(toks[_next_code(toks, a) : e + 1]))
            row_texts.append("(" + ", ".join(parts) + ")")
        repl = (
            "SELECT * FROM VALUES "
            + ", ".join(row_texts)
            + " AS _v("
            + ", ".join(names)
            + ")"
        )
        toks[i : end + 1] = tokenize(repl)
        i += 1
    return toks


def _rewrite_tablesample(toks: list[Tok]) -> list[Tok]:
    """Impala ``TABLESAMPLE SYSTEM(p) [REPEATABLE(seed)]`` (grammar
    sql-parser.cup opt_tablesample) → Spark ``TABLESAMPLE (p PERCENT)
    [REPEATABLE (seed)]``.  Documented delta: the reference samples whole
    FILES until ~p% of bytes are reached
    (HdfsScanNode.getFilesSample), Spark samples row-wise — both are
    "approximately p% of the table, seeded-deterministic", but the
    selected subsets differ, so results are rows-only evidence (as with
    the DataFrame-level tablesample_system operator)."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        out.append(t)
        if not (t.kind == "word" and t.upper == "TABLESAMPLE"):
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if (
            j >= len(toks)
            or toks[j].kind != "word"
            or toks[j].upper != "SYSTEM"
        ):
            i += 1
            continue
        k = _next_code(toks, j + 1)
        if k >= len(toks) or toks[k].text != "(":
            i += 1
            continue
        close = _matching_paren(toks, k)
        # splice: ( <pct tokens> PERCENT )
        out.append(Tok("ws", " "))
        out.extend(toks[k : close])
        out.append(Tok("ws", " "))
        out.append(Tok("word", "PERCENT"))
        out.append(toks[close])
        i = close + 1
    return out


def _extract_sql(field: str, src: str) -> str:
    """Spark SQL for Impala extract/date_part(field, src) → BIGINT.

    Spark's extract shares year..second with the reference but lacks two
    of its units (udf-builtins.cc ExtractUnit):
      * millisecond — the reference returns seconds*1000 + millis
        (ExtractMillisecond), i.e. the whole sub-minute remainder in ms;
        Spark's fractional-second DECIMAL second field scaled by 1000
        reproduces it exactly.
      * epoch — unix seconds; the session runs UTC with TIMESTAMP as
        NTZ, so to_unix_timestamp matches the reference's
        timezone-less ToUnixTime.
    """
    f = field.strip().strip("'\"").lower()
    if f == "millisecond":
        # date_format (not date_part/extract — those would be re-matched
        # by this same rewrite pass and BIGINT-truncated before scaling)
        return (
            f"CAST(CAST(date_format({src}, 'ss') AS BIGINT) * 1000"
            f" + CAST(date_format({src}, 'SSS') AS BIGINT) AS BIGINT)"
        )
    if f == "epoch":
        return f"CAST(to_unix_timestamp({src}) AS BIGINT)"
    return f"CAST(extract({field}, {src}) AS BIGINT)"


#: TimestampArithmeticExpr.TimeUnit (+ plural S forms) → make_interval
#: argument position (years, months, weeks, days, hours, mins, secs).
_INTERVAL_UNIT_POS = {
    "year": 0, "month": 1, "week": 2, "day": 3,
    "hour": 4, "minute": 5, "second": 6,
}
#: Sub-second units → divisor into the make_interval secs argument.
#: NANOSECOND is truncated to microseconds (the documented TIMESTAMP
#: ns→us delta, SURVEY §1.3).
_INTERVAL_SUBSEC_DIV = {
    "millisecond": "1000", "microsecond": "1000000",
    "nanosecond": "1000000000",
}
_INTERVAL_STOP_WORDS = {
    "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "SELECT", "JOIN", "ON",
    "UNION", "INTERSECT", "EXCEPT", "LIMIT", "AND", "OR", "WHEN", "THEN",
    "ELSE", "END", "AS", "BETWEEN", "IN", "LIKE", "CASE",
}


def _rewrite_interval_exprs(toks: list[Tok]) -> list[Tok]:
    """Impala allows an arbitrary expression as the INTERVAL quantity —
    ``ts + INTERVAL smallint_col DAYS`` (TimestampArithmeticExpr; the
    grammar routes it through IDENT resolution, so any scalar expr
    works) — while Spark's INTERVAL literal requires a constant.  Rewrite
    the non-literal clause to ``make_interval(...)``, which accepts
    expressions and keeps DATE→DATE / TIMESTAMP→TIMESTAMP arithmetic;
    literal quantities stay as native Spark INTERVAL syntax.  Works in
    both operand orders (``interval b year + a`` is also valid in the
    reference)."""
    out: list[Tok] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if not (t.kind == "word" and t.upper == "INTERVAL"):
            out.append(t)
            i += 1
            continue
        # scan for the unit word at paren depth 0
        expr_start = _next_code(toks, i + 1)
        depth = 0
        unit_idx = None
        k = expr_start
        bail = False
        while k < n:
            tk = toks[k]
            if not _is_code(tk):
                k += 1
                continue
            if tk.text == "(":
                depth += 1
            elif tk.text == ")":
                if depth == 0:
                    bail = True
                    break
                depth -= 1
            elif depth == 0:
                if tk.text in (",", ";"):
                    bail = True
                    break
                if tk.kind == "word":
                    low = tk.text.lower().rstrip("s") if tk.text.lower().endswith("s") else tk.text.lower()
                    base = tk.text.lower()[:-1] if tk.text.lower().endswith("s") else tk.text.lower()
                    if (
                        base in _INTERVAL_UNIT_POS
                        or base in _INTERVAL_SUBSEC_DIV
                    ) and k > expr_start:
                        nxt = _next_code(toks, k + 1)
                        prv = _prev_code(toks, k - 1)
                        # `t.day` is a column path, not the INTERVAL unit
                        # (quantity columns named day/month/... are common
                        # identifiers) — skip dotted path components
                        if prv >= 0 and toks[prv].text == ".":
                            k += 1
                            continue
                        if nxt >= n or toks[nxt].text != "(":
                            unit_idx = k
                            break
                    elif tk.upper in _INTERVAL_STOP_WORDS:
                        bail = True
                        break
            k += 1
        if unit_idx is None or bail:
            out.append(t)
            i += 1
            continue
        expr_toks = toks[expr_start:unit_idx]
        code = [x for x in expr_toks if _is_code(x)]
        literal = (
            (len(code) == 1 and code[0].kind in ("num", "str"))
            or (
                len(code) == 2
                and code[0].text in ("+", "-")
                and code[1].kind == "num"
            )
        )
        base0 = toks[unit_idx].text.lower()
        if base0.endswith("s"):
            base0 = base0[:-1]
        # literal quantities keep native Spark INTERVAL syntax — except
        # NANOSECOND, which Spark's literal grammar lacks (the reference
        # truncates ns→us, SURVEY §1.3); that one takes the make_interval
        # path like non-literal quantities
        if literal and base0 != "nanosecond":
            out.append(t)
            i += 1
            continue
        expr = untokenize(expr_toks).strip()
        base = base0
        if base in _INTERVAL_UNIT_POS:
            args = ["0"] * 7
            args[_INTERVAL_UNIT_POS[base]] = f"({expr})"
            repl = f"make_interval({', '.join(args)})"
        else:
            div = _INTERVAL_SUBSEC_DIV[base]
            repl = (
                "make_interval(0, 0, 0, 0, 0, 0, "
                f"CAST(({expr}) AS DECIMAL(30,9)) / {div})"
            )
        out.extend(tokenize(repl))
        i = unit_idx + 1
    return out


def _rewrite_select_unnest(toks: list[Tok]) -> list[Tok]:
    """Select-list zipping UNNEST (IMPALA-10920; grammar
    sql-parser.cup UNNEST in the select list): ``SELECT unnest(arr1),
    unnest(arr2) FROM t`` explodes the arrays in lockstep, padding the
    shorter with NULLs.  Rewritten to one ``LATERAL VIEW
    posexplode_outer(arrays_zip(arr1, arr2))`` appended to the FROM
    clause, with each ``unnest(path)`` select item replaced by the zip
    struct's corresponding field — exactly the plan the FROM-clause
    UNNEST rewrite above produces, so the two spellings share
    semantics."""
    if not _has_unnest(toks):
        return toks
    while True:
        # a block whose select list has top-level unnest() calls;
        # re-parse after each rewrite because indices shift
        found = None
        for b in _query_blocks(toks).blocks:
            if "FROM" in b.clauses:
                calls = _unnest_calls(toks, b.select, b.clauses["FROM"])
                if calls:
                    found = (b.select, calls)
                    break
        if found is None:
            return toks
        s, calls = found
        # paths, in select-list order, deduped (same array unnested twice
        # shares one zip field)
        paths: list[str] = []
        for _ci, _cc, path in calls:
            if path not in paths:
                paths.append(path)
        leafs = [p.split(".")[-1] for p in paths]
        # leaf-name collisions (a.arr and b.arr) would collide in the zip
        # struct; qualify by position instead when that happens.
        use_pos = len(set(leafs)) != len(leafs)
        # non-outer for the same drop-empty-rows reference semantics as
        # the FROM-clause form above
        lateral = (
            " LATERAL VIEW posexplode(arrays_zip("
            + ", ".join(paths)
            + ")) _sunnest AS _supos, _suz "
        )
        # rewrite back-to-front so indices stay valid
        for ci, cc, path in reversed(calls):
            if use_pos:
                fieldref = f"_suz.`{paths.index(path)}`"
            else:
                fieldref = f"_suz.{path.split('.')[-1]}"
            toks[ci : cc + 1] = tokenize(fieldref)
        # the block still starts at s; its FROM clause ends at the next
        # clause keyword or the block's end
        b = _query_blocks(toks).at(s)
        end = b.clause_end(b.clauses["FROM"])
        _splice(toks, end, end, lateral)


def _unnest_calls(
    toks: list[Tok], s: int, f: int
) -> list[tuple[int, int, str]]:
    """unnest(<dotted path>) calls between s and f whose call token sits
    at the top level of the select list.  Returns (name_idx, close_idx,
    path)."""
    out = []
    depth = 0
    k = s
    while k < f:
        tk = toks[k]
        if _is_code(tk):
            if tk.text == "(":
                depth += 1
            elif tk.text == ")":
                depth -= 1
            elif (
                depth == 0
                and tk.kind == "word"
                and tk.upper == "UNNEST"
            ):
                j = _next_code(toks, k + 1)
                if j < f and toks[j].text == "(":
                    close = _matching_paren(toks, j)
                    inner = [
                        x for x in toks[j + 1 : close] if _is_code(x)
                    ]
                    # simple dotted path only (the reference restricts
                    # unnest operands to array column paths)
                    if inner and all(
                        x.kind in ("word", "bquote") or x.text == "."
                        for x in inner
                    ):
                        path = "".join(x.text for x in inner)
                        out.append((k, close, path))
                        k = close
        k += 1
    return out


#: depth-0 words that open a query block's clauses; the _BY_CLAUSE_WORDS
#: only when BY follows.  The block parse and the FROM-item parse both
#: read these, so they agree on where a FROM clause ends.
_CLAUSE_WORDS = frozenset({
    "FROM", "WHERE", "HAVING", "WINDOW", "QUALIFY", "LIMIT", "OFFSET",
})
_BY_CLAUSE_WORDS = frozenset({
    "GROUP", "ORDER", "SORT", "CLUSTER", "DISTRIBUTE",
})
_SET_OPERATORS = frozenset({"UNION", "INTERSECT", "EXCEPT", "MINUS"})
_CLAUSE_KEYS = _CLAUSE_WORDS | _BY_CLAUSE_WORDS


@dataclass
class QueryBlock:
    """One SELECT block of a statement."""

    select: int  # the SELECT token
    end: int  # the unmatched ")", set operator or ";" after it, or len(toks)
    open: int  # the "(" enclosing the block, -1 at statement level
    clauses: dict[str, int]  # depth-0 clause keyword -> its token

    def clause_end(self, k: int) -> int:
        """The token that ends the clause whose keyword is token k: the
        block's next clause keyword, else the block's end."""
        return min(
            (c for c in self.clauses.values() if c > k), default=self.end
        )


@dataclass
class QueryBlocks:
    """The query blocks of one token list, in SELECT order (see
    _query_blocks)."""

    blocks: list[QueryBlock]
    opens: list[int]  # per token: the "(" enclosing it, -1 at statement level

    def at(self, i: int) -> QueryBlock | None:
        """The innermost block that holds token i."""
        return next(
            (b for b in reversed(self.blocks) if b.select <= i < b.end), None
        )

    def span(self, i: int) -> tuple[int, int]:
        """[start, end) of the innermost block that holds token i, the
        whole statement when none does."""
        b = self.at(i)
        return (b.select, b.end) if b else (0, len(self.opens))

    def clause(self, i: int) -> tuple[QueryBlock, str] | None:
        """The block, and the clause keyword ("SELECT" for the select
        list), that own token i at the block's own paren level; None
        inside a nested paren or outside every block."""
        b = next((
            b for b in self.blocks
            if b.open == self.opens[i] and b.select <= i < b.end
        ), None)
        if b is None:
            return None
        return b, max(
            ((c, u) for u, c in b.clauses.items() if c <= i),
            default=(b.select, "SELECT"),
        )[1]

    def clause_is(self, i: int, word: str) -> bool:
        """True when token i sits in clause ``word`` of its block, at the
        block's own paren level."""
        c = self.clause(i)
        return c is not None and c[1] == word


def _query_blocks(toks: list[Tok]) -> QueryBlocks:
    """One forward walk over ``toks``: each SELECT block's span, its
    enclosing "(" and the position of each depth-0 clause keyword
    (_CLAUSE_WORDS, _BY_CLAUSE_WORDS before BY).  A block runs from its
    SELECT to the unmatched ")", a same-level set operator, ";" or a
    same-level SELECT.  The FROM of ``IS [NOT] DISTINCT FROM`` opens no
    clause; the FROM of a function's arguments (``extract(year from
    x)``) and the ORDER BY of ``OVER (…)`` or ``WITHIN GROUP (…)`` sit in
    a nested paren, so no block owns them."""
    blocks: list[QueryBlock] = []
    opens: list[int] = []
    # per paren level: its "(" and the block open at that level
    parens: list[int] = [-1]
    open_blocks: list[QueryBlock | None] = [None]
    for i, t in enumerate(toks):
        opens.append(parens[-1])
        text = t.text
        if text == "(":
            parens.append(i)
            open_blocks.append(None)
            continue
        if text == ")" or text == ";":
            u = text
        elif t.kind == "word":
            u = text.upper()
        else:
            continue
        cur = open_blocks[-1]
        if u in (")", ";", "SELECT") or u in _SET_OPERATORS:
            if cur is not None:
                cur.end = i
                open_blocks[-1] = None
            if u == ")" and len(parens) > 1:
                parens.pop()
                open_blocks.pop()
            elif u == "SELECT":
                open_blocks[-1] = QueryBlock(i, len(toks), parens[-1], {})
                blocks.append(open_blocks[-1])
        elif cur is not None and u in _CLAUSE_KEYS and _opens_clause(toks, i):
            cur.clauses.setdefault(u, i)
    return QueryBlocks(blocks, opens)


def _opens_clause(toks: list[Tok], i: int) -> bool:
    """True when word token i is a clause keyword (see _CLAUSE_WORDS)."""
    u = toks[i].upper
    if u in _BY_CLAUSE_WORDS:
        n = _next_code(toks, i + 1)
        return n < len(toks) and toks[n].upper == "BY"
    return u in _CLAUSE_WORDS and not (u == "FROM" and _distinct_from(toks, i))


#: words that may follow a FROM item and are therefore not its alias
_FROM_TAIL_WORDS = _CLAUSE_WORDS | _BY_CLAUSE_WORDS | _SET_OPERATORS | {
    "JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "OUTER",
    "SEMI", "ANTI", "LATERAL", "USING", "TABLESAMPLE", "WHEN", "AND", "OR",
}


@dataclass
class FromItem:
    """One FROM-clause item: a dotted path ``a.b.c [AS] x`` or a derived
    table ``( … ) [AS] x``."""

    trigger: int  # the FROM / JOIN / comma token that opens the item
    start: int  # the path's first token, or the derived item's "("
    end: int  # the path's last token, or the derived item's ")"
    segs: list[str]  # path segments as written; [] when derived
    alias: str | None  # explicit alias, else the path's last segment
    explicit: bool
    stop: int  # the item's last token, alias included
    block: int  # the "(" enclosing the item, -1 at statement level
    clause: int  # the FROM token that owns the item


def _distinct_from(toks: list[Tok], i: int) -> bool:
    """True when the FROM at token i is the one of ``IS [NOT] DISTINCT
    FROM``, a comparison operator and not a FROM clause."""
    p = _prev_code(toks, i - 1)
    if p < 0 or toks[p].upper != "DISTINCT":
        return False
    q = _prev_code(toks, p - 1)
    return q >= 0 and toks[q].upper in ("IS", "NOT")


def _lateral_view_end(toks: list[Tok], i: int) -> int | None:
    """The last token of the ``LATERAL VIEW [OUTER] gen(…) tbl [[AS] c1
    [, c2 …]]`` tail whose LATERAL is token i (Spark's lateralView
    grammar), None when token i opens no such tail."""
    if toks[i].kind != "word" or toks[i].upper != "LATERAL":
        return None
    k = _next_code(toks, i + 1)
    if k >= len(toks) or toks[k].upper != "VIEW":
        return None
    k = _next_code(toks, k + 1)
    if k < len(toks) and toks[k].upper == "OUTER":
        k = _next_code(toks, k + 1)
    while k < len(toks) and toks[k].kind in ("word", "bquote"):
        k = _next_code(toks, k + 1)  # the generator's (qualified) name
        if k >= len(toks) or toks[k].text != ".":
            break
        k = _next_code(toks, k + 1)
    if k >= len(toks) or toks[k].text != "(":
        return None
    try:
        end = _matching_paren(toks, k)
    except ValueError:
        return None

    def name(k: int) -> bool:
        return (
            k < len(toks) and toks[k].kind in ("word", "bquote")
            and toks[k].upper != "AS"
            and toks[k].upper not in _FROM_TAIL_WORDS
        )

    k = _next_code(toks, end + 1)
    if name(k):  # the table alias
        end, k = k, _next_code(toks, k + 1)
    if k < len(toks) and toks[k].upper == "AS":
        k = _next_code(toks, k + 1)
    while name(k):  # the column aliases
        end, k = k, _next_code(toks, k + 1)
        if k >= len(toks) or toks[k].text != ",":
            break
        k = _next_code(toks, k + 1)
    return end


def _from_items(
    toks: list[Tok], qb: QueryBlocks | None = None
) -> list[FromItem]:
    """Every FROM item of the statement, in token order, at any depth.
    An item starts after a query block's FROM clause keyword (see
    _query_blocks; ``qb`` is its parse of ``toks`` when the caller has
    one), after a comma of that FROM clause, or after JOIN.  A table
    function (``range(3)``) is a one-segment path followed by "(".  A
    LATERAL VIEW tail belongs to the item before it: its commas open no
    item."""
    qb = qb or _query_blocks(toks)
    froms = {b.clauses["FROM"] for b in qb.blocks if "FROM" in b.clauses}
    items: list[FromItem] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (lv_end := _lateral_view_end(toks, i)) is not None:
            i = lv_end + 1
            continue
        if i in froms:
            clause = i
        elif t.text == "," or t.kind == "word" and t.upper == "JOIN":
            owner = qb.clause(i)
            if owner is not None and owner[1] == "FROM":
                clause = owner[0].clauses["FROM"]
            elif t.text == ",":
                i += 1
                continue
            else:
                clause = -1
        else:
            i += 1
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks):
            break
        segs: list[str] = []
        if toks[j].text == "(":
            try:
                end = _matching_paren(toks, j)
            except ValueError:
                break
        elif toks[j].kind in ("word", "bquote"):
            segs.append(toks[j].text)
            end = j
            k = _next_code(toks, j + 1)
            while k < len(toks) and toks[k].text == ".":
                nx = _next_code(toks, k + 1)
                if nx >= len(toks) or toks[nx].kind not in ("word", "bquote"):
                    break
                segs.append(toks[nx].text)
                end = nx
                k = _next_code(toks, nx + 1)
        else:
            i += 1
            continue
        alias, explicit, stop = (segs[-1] if segs else None), False, end
        a = _next_code(toks, end + 1)
        if a < len(toks) and toks[a].kind == "word":
            if toks[a].upper == "AS":
                b = _next_code(toks, a + 1)
                if b < len(toks) and toks[b].kind == "word":
                    alias, explicit, stop = toks[b].text, True, b
            elif toks[a].upper not in _FROM_TAIL_WORDS:
                n = _next_code(toks, a + 1)
                if not (n < len(toks) and toks[n].text in (".", "(")):
                    alias, explicit, stop = toks[a].text, True, a
        items.append(FromItem(
            i, j, end, segs, alias, explicit, stop, qb.opens[i], clause,
        ))
        # a derived item's body holds items of its own
        i = j if not segs else stop + 1
    return items


#: words that may stand before JOIN in a join operator
_JOIN_MODIFIERS = frozenset({
    "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "OUTER", "SEMI", "ANTI",
})


def _from_clause_end(toks: list[Tok], qb: QueryBlocks, it: FromItem) -> int:
    """The token that ends the FROM clause (or the parenthesized join)
    that holds item it; ``qb`` is the block parse of ``toks``."""
    if it.clause >= 0:
        return qb.at(it.clause).clause_end(it.clause)
    return _matching_paren(toks, it.block) if it.block >= 0 else len(toks)


def _join_condition_end(
    toks: list[Tok], qb: QueryBlocks, items: list[FromItem], it: FromItem
) -> int:
    """The token that ends the ON condition of join item ``it``: the
    next item's comma or join operator, a LATERAL VIEW tail at the
    item's level, or the end of the clause."""
    nxt = next((
        x for x in items if x.trigger > it.stop
        and x.clause == it.clause and x.block == it.block
    ), None)
    end = (
        _from_clause_end(toks, qb, it) if nxt is None
        else nxt.trigger if toks[nxt.trigger].text == ","
        else _join_operator(toks, nxt.trigger)[0]
    )
    return next((
        k for k in range(it.stop + 1, end)
        if qb.opens[k] == it.block and _lateral_view_end(toks, k) is not None
    ), end)


def _join_operator(toks: list[Tok], j: int) -> tuple[int, set[str]]:
    """The first token of the join operator whose JOIN is token j, and
    the modifier words (_JOIN_MODIFIERS) before that JOIN."""
    start, mods = j, set()
    p = _prev_code(toks, j - 1)
    while (
        p >= 0 and toks[p].kind == "word" and toks[p].upper in _JOIN_MODIFIERS
    ):
        start = p
        mods.add(toks[p].upper)
        p = _prev_code(toks, p - 1)
    return start, mods


def _rewrite_collection_join(toks: list[Tok]) -> list[Tok]:
    """Impala's implicit collection join — ``FROM tbl t, t.arr a`` joins
    each row with its own unnested collection (HdfsScanNode collection
    scans; the reference's primary nested-array idiom).  Rewritten to
    ``LATERAL VIEW posexplode_outer(t.arr) <lv> AS a__pos, a``: the
    exploded value column keeps the collection alias, so struct-element
    access ``a.field`` works unchanged, and the scalar-array accessors
    ``a.item`` / ``a.pos`` are mapped to ``a`` / ``a__pos``.  Only fires
    when the path's qualifier matches an alias already bound in the same
    FROM clause — ``FROM db.tbl x`` never matches.

    Chained refs (r10): a path may be rooted at a COLLECTION alias bound
    by an earlier item of the same clause — ``t.int_array_array a1,
    a1.item a2`` (array-of-array elements), ``t.int_map_array a, a.item
    m`` (map elements), ``t.nested_struct.g g, g.value.h.i`` (map-value
    navigation) — the reference's multi-level collection joins
    (nested-types-scanner-position.test / -maps.test).  Each rewritten
    item registers its element expression so later items resolve through
    it."""
    #: alias -> exploded-element SQL for array collection aliases
    cj_elems: dict[str, str] = {}
    #: alias -> (key expr, value expr) for map collection aliases
    cj_maps: dict[str, tuple[str, str]] = {}

    def _owns(alias_low: str, blk: tuple[int, int], m2: int,
              binds: list) -> bool:
        """Token m2 belongs to the binding of alias_low at block blk —
        inside blk and not inside an inner block that rebinds the name."""
        if not (blk[0] <= m2 < blk[1]):
            return False
        for a2, b2 in binds:
            if (
                a2 == alias_low and b2 != blk
                and b2[0] >= blk[0] and b2[1] <= blk[1]
                and b2[0] <= m2 < b2[1]
            ):
                return False
        return True

    def _binds(items: list[FromItem], qb: QueryBlocks) -> list:
        """(alias_lower, block span) for every FROM-item alias — used to
        keep one item's reference rewrites out of inner scopes that
        REBIND the same alias (nested TPC-H q2/q11: the correlated
        min-cost subquery reuses s/ps)."""
        return [(x.alias.lower(), qb.span(x.start)) for x in items if x.alias]

    qb = _query_blocks(toks)
    items = _from_items(toks, qb)
    resume = 0  # the items triggered before it are done
    while True:
        it = next((
            x for x in items
            if x.trigger >= resume and len(x.segs) >= 2
            and toks[x.trigger].upper in (",", "JOIN")
            and toks[x.start].kind == "word"
        ), None)
        if it is None:
            return toks
        i, resume = it.trigger, it.trigger + 1
        path, alias, end = it.segs, it.alias, it.stop
        join_form = toks[i].upper == "JOIN"
        outer = full = False
        join_mode = None
        if join_form:
            # JOIN-form collection join, optionally LEFT OUTER and with
            # an ON filter (tpch_nested-q13.test: `customer c left outer
            # join c.c_orders on (o_comment not like ...)`) — lowers to
            # explode[_outer](filter(coll, alias -> pred))
            del_start, mods = _join_operator(toks, i)
            if {"RIGHT", "CROSS"} & mods:
                continue
            # FULL OUTER against one's own collection
            # (outer-to-inner-joins.test#19-20): with no ON every item
            # matches its parent, so it degenerates to LEFT OUTER
            # (explode_outer); with an ON it needs the match-tagged
            # lowering below (unmatched items surface with NULLed
            # parent slots).
            full = "FULL" in mods
            outer = ("LEFT" in mods or full) and not (
                {"SEMI", "ANTI"} & mods
            )
            join_mode = (
                "semi" if "SEMI" in mods
                else "anti" if "ANTI" in mods else None
            )
        # the path's root is an alias bound by an earlier item of the
        # same FROM clause, or a collection alias rewritten before
        root_low = path[0].lower()
        if root_low not in cj_elems and root_low not in cj_maps and not any(
            x.clause == it.clause and x.block == it.block and x.trigger < i
            and (x.alias or "").lower() == root_low
            for x in items
        ):
            continue
        on_pred = None
        if join_form:
            oi = _next_code(toks, end + 1)
            if (
                oi < len(toks) and toks[oi].kind == "word"
                and toks[oi].upper == "ON"
            ):
                pe = _join_condition_end(toks, qb, items, it)
                on_pred = untokenize(toks[oi + 1 : pe]).strip()
                end = pe - 1
            i = del_start  # the splice consumes the join modifiers too
        # a path rooted at a COLLECTION alias resolves through its
        # element expression (chained refs); a map alias navigates
        # through its value
        root_expr = path[0]
        rest = path[1:]
        if root_low in cj_elems:
            root_expr = cj_elems[root_low]
            if rest and rest[0].lower() == "item":
                # the element IS the collection to explode next
                rest = rest[1:]
        elif root_low in cj_maps:
            if not rest or rest[0].lower() != "value":
                continue  # only value-side navigation can continue
            root_expr = cj_maps[root_low][1]
            rest = rest[1:]
        dotted = root_expr + ("." + ".".join(rest) if rest else "")
        # interior/trailing `item` segments hop INTO an array-of-array
        # (reference path grammar: `t.int_array_array.item a` binds a to
        # the inner arrays' elements).  Purely syntactic: each `item`
        # splits the path; every split boundary is one more explode, the
        # final explode target is the last hop's element (plus any struct
        # navigation after it).  INNER (non-outer) semantics throughout,
        # like the single-hop form.
        hops: list[str] = []
        if any(p.lower() == "item" for p in rest):
            groups: list[list[str]] = [[]]
            for p in rest:
                if p.lower() == "item":
                    groups.append([])
                else:
                    groups[-1].append(p)
            # for an unregistered root, a LEADING `item` segment is a
            # plain column named item (e.g. the engine's rootless-scan
            # subqueries expose the element as `item`) — don't split
            if groups[0] or root_low in cj_elems or root_low in cj_maps:
                cur = root_expr + (
                    "." + ".".join(groups[0]) if groups[0] else ""
                )
                for gi, g in enumerate(groups[1:], 1):
                    hops.append(cur)
                    cur = f"{alias}__h{gi}" + (
                        "." + ".".join(g) if g else ""
                    )
                dotted = cur
        hop_sql = "".join(
            f" LATERAL VIEW explode({src}) _cjh_{alias}{n} AS {alias}__h{n} "
            for n, src in enumerate(hops, 1)
        )
        if join_form and full and on_pred is not None and not hops:
            # FULL OUTER collection join WITH an ON filter
            # (outer-to-inner-joins.test#20): per parent row, matched
            # items pair with the parent; UNMATCHED items still surface
            # with the parent's slots NULLed; a parent with no matching
            # item surfaces once with a NULL item (reference
            # SubplanNode/UnnestNode full-outer contract).  Lowered to
            # one explode over a match-tagged pair array; parent refs in
            # the block are guarded with IF(tag, ref, NULL).
            blk0, blk1 = qb.span(del_start)
            root_al = path[0].lower()
            ec = f"__cjf_{alias}"
            # alias.pos needs a tagged posexplode — not supported
            pos_used = False
            for m2 in range(blk0, blk1):
                if (toks[m2].kind == "word"
                        and toks[m2].text.lower() == alias.lower()):
                    d2 = _next_code(toks, m2 + 1)
                    if d2 < len(toks) and toks[d2].text == ".":
                        w2 = _next_code(toks, d2 + 1)
                        if (w2 < len(toks)
                                and toks[w2].text.lower() == "pos"):
                            pos_used = True
            if pos_used:
                continue
            arr = dotted
            # inside the lambda, `alias.item` denotes the element value
            # itself (reference path semantics) — the lambda var
            on_lam = re.sub(
                rf"\b{re.escape(alias)}\s*\.\s*item\b", alias,
                on_pred, flags=re.I,
            )
            tagged = (
                f"transform({arr}, {alias} -> named_struct("
                f"'__m', coalesce(({on_lam}), false), '__v', {alias}))"
            )
            matched = f"filter({tagged}, __x -> __x.__m)"
            unmatched = f"filter({tagged}, __x -> NOT __x.__m)"
            rows_sql = (
                f"IF({arr} IS NULL OR size({arr}) = 0, "
                f"array(named_struct('__m', true, '__v', {arr}[0])), "
                f"concat(IF(size({matched}) = 0, "
                f"array(named_struct('__m', true, '__v', "
                f"{arr}[cardinality({arr}) + 1])), {matched}), "
                f"{unmatched}))"
            )
            edits = [(
                del_start, end + 1,
                f" LATERAL VIEW explode({rows_sql}) _cjf_{alias} AS {ec} ",
            )]
            # rewrite refs outside the item: alias[.item|.f] -> tagged
            # element; parent root.y -> NULL-guarded
            m2 = blk0
            while m2 < blk1:
                tk = toks[m2]
                if del_start <= m2 <= end:
                    m2 = end + 1
                    continue
                if tk.kind != "word":
                    m2 += 1
                    continue
                p2 = _prev_code(toks, m2 - 1)
                if p2 >= 0 and toks[p2].text == ".":
                    m2 += 1
                    continue
                low2 = tk.text.lower()
                d2 = _next_code(toks, m2 + 1)
                has_dot = d2 < len(toks) and toks[d2].text == "."
                if low2 == alias.lower():
                    if has_dot:
                        w2 = _next_code(toks, d2 + 1)
                        if w2 < len(toks) and toks[w2].kind in (
                            "word", "bquote",
                        ):
                            f2 = toks[w2].text
                            repl = (
                                f"{ec}.__v" if f2.lower() == "item"
                                else f"{ec}.__v.{f2}"
                            )
                            edits.append((m2, w2 + 1, repl))
                            m2 = w2 + 1
                            continue
                    elif not (d2 < len(toks) and toks[d2].text == "("):
                        edits.append((m2, m2 + 1, f"{ec}.__v"))
                        m2 += 1
                        continue
                elif low2 == root_al and has_dot:
                    w2 = _next_code(toks, d2 + 1)
                    if w2 < len(toks) and toks[w2].kind in (
                        "word", "bquote",
                    ):
                        y2 = toks[w2].text
                        # a bare select-list item keeps its output name
                        nn = _next_code(toks, w2 + 1)
                        bare_item = (
                            (nn >= len(toks)
                             or toks[nn].text == ","
                             or (toks[nn].kind == "word"
                                 and toks[nn].upper == "FROM"))
                            and p2 >= 0
                            and (toks[p2].text == ","
                                 or (toks[p2].kind == "word"
                                     and toks[p2].upper == "SELECT"))
                        )
                        repl2 = f"IF({ec}.__m, {path[0]}.{y2}, NULL)"
                        if bare_item:
                            repl2 += f" AS {y2}"
                        edits.append((m2, w2 + 1, repl2))
                        m2 = w2 + 1
                        continue
                m2 += 1
            for lo, hi, text in sorted(edits, reverse=True):
                _splice(toks, lo, hi, text)
            qb = _query_blocks(toks)
            items, resume = _from_items(toks, qb), del_start
            continue
        if on_pred is not None:
            # the ON filter applies per element BEFORE the explode; the
            # lambda variable carries the collection alias so the pred's
            # alias-qualified refs bind to it verbatim
            dotted = f"filter({dotted}, {alias} -> ({on_pred}))"
        if join_mode is not None:
            # LEFT SEMI/ANTI collection join = EXISTS / NOT EXISTS on the
            # collection (nested-types-subplan.test): no element columns
            # are exposed, so lower to a WHERE predicate on the parent —
            # no explode, no join, per-row size() check
            if hops:
                continue  # multi-hop semi/anti: general path
            # size(NULL) is -1 under legacy sizeOfNull and NULL otherwise:
            # `<= 0` treats both (and empty) as no-elements
            cmp = "> 0" if join_mode == "semi" else "<= 0"
            pred_txt = f" coalesce(size({dotted}), 0) {cmp} "
            # AND into an existing WHERE, else synthesize one at the
            # FROM clause's end
            n_del = end + 1 - del_start
            where_at = qb.at(it.clause).clauses.get("WHERE", -1) if (
                it.clause >= 0
            ) else -1
            ins2 = _from_clause_end(toks, qb, it) - n_del
            del toks[del_start : end + 1]
            if where_at >= 0:
                at = where_at - n_del + 1
                _splice(toks, at, at, f"{pred_txt} AND ")
            else:
                _splice(toks, ins2, ins2, f" WHERE {pred_txt} ")
            qb = _query_blocks(toks)
            items, resume = _from_items(toks, qb), del_start
            continue
        gfn = "explode_outer" if outer else "explode"
        pgfn = "posexplode_outer" if outer else "posexplode"
        # array vs map collection: the column's type is unknowable at
        # translate time, but the reference's resolution rules make the
        # REFERENCES unambiguous — a map join exposes exactly key/value
        # (MapType.java), an array join item/pos or struct fields.  Treat
        # the alias as a map iff the query touches alias.key/alias.value
        # and never alias.item/alias.pos.
        item_blk = qb.span(i)
        binds = _binds(items, qb)
        alias_low0 = alias.lower()
        suffixes = set()
        m = 0
        while m < len(toks) - 2:
            a = toks[m]
            p = _prev_code(toks, m - 1)
            if (
                a.kind == "word"
                and a.text.lower() == alias.lower()
                and (p < 0 or toks[p].text != ".")
                and _owns(alias_low0, item_blk, m, binds)
            ):
                d = _next_code(toks, m + 1)
                if d < len(toks) and toks[d].text == ".":
                    w = _next_code(toks, d + 1)
                    if w < len(toks) and toks[w].kind == "word":
                        suffixes.add(toks[w].text.lower())
            m += 1
        is_map = bool(
            {"key", "value"} & suffixes and not {"item", "pos"} & suffixes
        )
        # bare (unqualified) item/pos refs bind to an UNALIASED collection
        # scan — `FROM t.g g, g.value.h.i` then `select item, pos`
        # (reference resolution: innermost collection).  Only when the
        # path had no explicit alias and no qualified refs exist, so an
        # aliased join never hijacks bare names.
        def _bare_words(names: tuple[str, ...]) -> set[str]:
            found: set[str] = set()
            for m in range(len(toks)):
                tk = toks[m]
                if tk.kind != "word" or tk.text.lower() not in names:
                    continue
                if not (item_blk[0] <= m < item_blk[1]):
                    continue
                p = _prev_code(toks, m - 1)
                if p >= 0 and toks[p].text == ".":
                    continue
                d = _next_code(toks, m + 1)
                if d < len(toks) and toks[d].text in (".", "("):
                    continue
                found.add(tk.text.lower())
            return found

        bare_refs: set[str] = set()
        if not suffixes and alias == path[-1]:
            bare_refs = _bare_words(("item", "pos"))
            suffixes |= bare_refs
        # a BARE alias word outside this FROM item denotes the element
        # value itself (the engine's aggregate-subplan lowering emits
        # size(alias)/filter(alias, ...) expressions) — the exploded
        # column must then carry the alias name
        if not suffixes:
            for m in range(len(toks)):
                tk = toks[m]
                if (
                    tk.kind != "word"
                    or tk.text.lower() != alias.lower()
                    or i <= m <= end
                    or not _owns(alias_low0, item_blk, m, binds)
                ):
                    continue
                pb = _prev_code(toks, m - 1)
                if pb >= 0 and toks[pb].text == ".":
                    continue
                db = _next_code(toks, m + 1)
                if db < len(toks) and toks[db].text in (".", "("):
                    continue
                suffixes.add("item")  # forces the AS-alias explode form
                break
        #: bare key/value bind to an unaliased MAP join the same way
        bare_map_refs: set[str] = set()
        if alias == path[-1] and not ({"item", "pos"} & suffixes):
            bare_map_refs = _bare_words(("key", "value"))
            if bare_map_refs:
                is_map = True
                suffixes |= bare_map_refs
        # INNER collection semantics: the reference's implicit join omits
        # rows whose collection is empty or NULL (nested-types-scanner-
        # basic.test: 8-row table, 10 items — no padding rows), while
        # NULL *elements* inside an array do surface.  explode/posexplode
        # (non-outer) is exactly that contract.
        if not suffixes:
            # no element references at all (e.g. bare COUNT(*)): the AS
            # arity would have to match the unknown array-vs-map column
            # count, so omit it — Spark's default generator output names
            # are never referenced, and explode() multiplies cardinality
            # identically for both types.
            lateral = f" LATERAL VIEW {gfn}({dotted}) _cj_{alias} "
        elif is_map:
            lateral = (
                f" LATERAL VIEW {gfn}({dotted}) _cj_{alias} "
                f"AS {alias}__key, {alias}__value "
            )
        elif "pos" in suffixes:
            lateral = (
                f" LATERAL VIEW {pgfn}({dotted}) _cj_{alias} "
                f"AS {alias}__pos, {alias} "
            )
        else:
            # plain explode unless .pos is referenced: nested-column
            # aliasing through posexplode is plan-shape-sensitive (the
            # DataFrame posexplode chain reads the full struct where
            # explode prunes to the accessed fields), so prefer the
            # reliably-pruned generator — on a wide array<struct> at
            # 100 TB that is the difference between scanning one field
            # and the whole struct.
            lateral = (
                f" LATERAL VIEW {gfn}({dotted}) _cj_{alias} "
                f"AS {alias} "
            )
        # rewrite the refs outside the item (its tokens i..end go) as
        # edits of the token list as it stands, then apply them back to
        # front with the item's removal and its lateral view.  Spark's
        # grammar puts lateral views AFTER all join relations: splice at
        # the clause end — identical to in-place when this is the last
        # item, and loop order keeps chained LVs (an LV whose explode
        # target references an earlier _cj_ column) correctly sequenced
        # when relations follow.
        ins = _from_clause_end(toks, qb, it)
        edits = [(i, end + 1, ""), (ins, ins, hop_sql + lateral)]
        # a ref that IS the root of a later FROM item must survive for
        # that item's own chained rewrite (registry-resolved)
        item_roots = {x.start for x in items if toks[x.trigger].text == ","}

        def _ref(m: int) -> bool:
            """Word m is a reference outside the item to rewrite."""
            return not i <= m <= end and toks[m].kind == "word"

        def _bare_select_item(m: int, p: int, d: int) -> bool:
            """The ref spanning tokens m..d-1 (p the code token before,
            d the one after) is a whole select item: alias it so the
            output column keeps its reference name."""
            return (
                qb.clause_is(m, "SELECT")
                and (p < 0 or toks[p].text == ","
                     or toks[p].upper in ("SELECT", "DISTINCT"))
                and (d >= len(toks) or toks[d].text == ","
                     or toks[d].upper == "FROM")
            )

        if is_map:
            cj_maps[alias.lower()] = (
                f"_cj_{alias}.{alias}__key",
                f"_cj_{alias}.{alias}__value",
            )
            for m in range(len(toks) - 2):
                p = _prev_code(toks, m - 1)
                if (
                    _ref(m)
                    and toks[m].text.lower() == alias.lower()
                    and (p < 0 or toks[p].text != ".")
                    and m not in item_roots
                    and _owns(alias_low0, item_blk, m, binds)
                ):
                    d = _next_code(toks, m + 1)
                    if d < len(toks) and toks[d].text == ".":
                        w = _next_code(toks, d + 1)
                        if w < len(toks) and toks[w].kind == "word" and \
                                toks[w].text.lower() in ("key", "value"):
                            suf = toks[w].text.lower()
                            edits.append(
                                (m, w + 1, f"_cj_{alias}.{alias}__{suf}")
                            )
            for m in range(*item_blk):
                if _ref(m) and toks[m].text.lower() in bare_map_refs:
                    p = _prev_code(toks, m - 1)
                    d = _next_code(toks, m + 1)
                    if (p < 0 or toks[p].text != ".") and (
                        d >= len(toks)
                        or toks[d].text not in (".", "(")
                    ):
                        suf = toks[m].text.lower()
                        repl_sql = f"_cj_{alias}.{alias}__{suf}"
                        if _bare_select_item(m, p, d):
                            repl_sql += f" AS {suf}"
                        edits.append((m, m + 1, repl_sql))
        else:
            cj_elems[alias.lower()] = (
                f"_cj_{alias}.{alias}" if suffixes else f"_cj_{alias}.col"
            )
        # rewrite the collection refs, fully qualified through the lateral
        # view alias so a no-alias join (`FROM t, t.arr` → exploded column
        # also named `arr`) cannot be ambiguous against the source column:
        #   alias.item  → _cj_alias.alias
        #   alias.pos   → _cj_alias.alias__pos
        #   alias.field → _cj_alias.alias.field   (struct elements)
        if not is_map and bare_refs:
            # bare item/pos bind to this collection (no alias, no
            # qualified refs anywhere)
            for m in range(*item_blk):
                if _ref(m) and toks[m].text.lower() in bare_refs:
                    p = _prev_code(toks, m - 1)
                    d = _next_code(toks, m + 1)
                    if (p < 0 or toks[p].text != ".") and (
                        d >= len(toks) or toks[d].text not in (".", "(")
                    ):
                        if toks[m].text.lower() == "item":
                            repl_sql = f"_cj_{alias}.{alias}"
                        else:
                            repl_sql = (
                                f"CAST(_cj_{alias}.{alias}__pos AS BIGINT)"
                            )
                            if _bare_select_item(m, p, d):
                                repl_sql += " AS pos"
                        edits.append((m, m + 1, repl_sql))
        elif not is_map:
            for m in range(len(toks) - 2):
                p = _prev_code(toks, m - 1)
                if not (
                    _ref(m)
                    and toks[m].text.lower() == alias.lower()
                    and (p < 0 or toks[p].text != ".")
                    and m not in item_roots
                    and _owns(alias_low0, item_blk, m, binds)
                ):
                    continue
                d = _next_code(toks, m + 1)
                if d >= len(toks) or toks[d].text != ".":
                    continue
                w = _next_code(toks, d + 1)
                if w >= len(toks) or toks[w].kind != "word":
                    continue
                if toks[w].text.lower() == "item":
                    edits.append((m, w + 1, f"_cj_{alias}.{alias}"))
                elif toks[w].text.lower() == "pos":
                    # BIGINT like the reference's pos item type;
                    # alias bare select items so the output
                    # column keeps the name `pos`
                    repl_sql = f"CAST(_cj_{alias}.{alias}__pos AS BIGINT)"
                    if _bare_select_item(m, p, _next_code(toks, w + 1)):
                        repl_sql += " AS pos"
                    edits.append((m, w + 1, repl_sql))
                else:
                    edits.append((m, m + 1, f"_cj_{alias}.{alias}"))
        for lo, hi, text in sorted(edits, reverse=True):
            _splice(toks, lo, hi, text)
        # indices shifted: re-parse for the next item
        qb = _query_blocks(toks)
        items, resume = _from_items(toks, qb), i


_BOOL_INDICATOR_OPS = {"=", "<", ">", "<=", ">=", "!=", "<>", "<=>"}
_BOOL_INDICATOR_KWS = {
    "IS", "LIKE", "ILIKE", "RLIKE", "IREGEXP", "REGEXP", "IN", "BETWEEN",
    "EXISTS", "NOT", "TRUE", "FALSE", "AND", "OR",
}
_OPERAND_BOUNDARY_KWS = {
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "BY", "ON",
    "WHEN", "THEN", "ELSE", "END", "CASE", "AND", "OR", "JOIN", "AS",
    "LIMIT", "UNION", "INTERSECT", "EXCEPT", "VALUES", "SET", "DISTINCT",
}


def _rewrite_logical_ops(
    toks: list[Tok], column_types: dict[str, str] | None = None
) -> list[Tok]:
    """Impala's C-style logical operators (sql-scanner.flex): ``&&`` is
    AND, ``!`` is NOT, and ``||`` is CompoundVerticalBarExpr — boolean
    operands mean OR, string operands mean concat (the same token, type-
    dispatched at analysis).  ``&&`` maps unconditionally.  For ``||``,
    the reference parses it at OR precedence, so any comparison operator
    or predicate keyword in an operand span means the operands are
    boolean — in that case emit OR; otherwise leave ``||`` for Spark,
    whose concat matches the string branch.  A bare COLUMN operand with
    no predicate marker is resolved through ``column_types`` — the
    caller's knowledge of the statement's columns (Engine passes the
    types of the relations the statement reads), the same type dispatch
    the reference's analyzer does.  Without that knowledge the corner
    stays on the concat path — documented."""
    i = 0
    while i < len(toks):
        if toks[i].kind == "op" and toks[i].text == "&&":
            # clean word token (padded " AND " text would defeat the
            # keyword checks downstream passes run over these tokens)
            toks[i : i + 1] = [Tok("ws", " "), Tok("word", "AND"), Tok("ws", " ")]
        i += 1
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "op" and t.text == "||"):
            i += 1
            continue
        if (
            _bars_operand_boolish(toks, i, -1)
            or _bars_operand_boolish(toks, i, +1)
            or _bars_operand_bool_column(toks, i, -1, column_types)
            or _bars_operand_bool_column(toks, i, +1, column_types)
        ):
            toks[i : i + 1] = [Tok("ws", " "), Tok("word", "OR"), Tok("ws", " ")]
            i += 2
        i += 1
    return toks


def _bars_operand_bool_column(
    toks: list[Tok], i: int, step: int, column_types: dict[str, str] | None
) -> bool:
    """Catalog-informed type dispatch for the one ``||`` shape the token
    scan cannot decide: a BARE column operand (identifier or dotted path,
    no comparison/predicate marker anywhere in the span).  True iff the
    operand is exactly such a path and its leaf column name is BOOLEAN
    in ``column_types``."""
    if not column_types:
        return False
    rng = range(i - 1, -1, -1) if step < 0 else range(i + 1, len(toks))
    path: list[Tok] = []
    bound: Tok | None = None
    for k in rng:
        tk = toks[k]
        if not _is_code(tk):
            continue
        if (
            tk.kind == "word"
            and tk.upper not in _OPERAND_BOUNDARY_KWS
            and tk.upper not in _BOOL_INDICATOR_KWS
        ):
            if path and path[-1].kind == "word":
                return False  # two adjacent words: not a bare path
            path.append(tk)
        elif tk.text == "." and path and path[-1].kind == "word":
            path.append(tk)
        else:
            bound = tk
            break
    if not path or path[-1].text == ".":
        return False
    # the operand must END at a clean boundary on the far side (start/end
    # of statement, comma, paren, or clause keyword) — an arithmetic or
    # concat operator chaining onward means this is a larger expression,
    # not a bare column
    if bound is not None:
        if step > 0 and bound.text == "(":
            return False  # word followed by '(' is a function call
        # another || is a valid boundary: the reference parses || chains
        # at OR precedence, so one boolean operand makes the whole chain
        # boolean (each || in the chain gets its own dispatch pass)
        ok_boundary = bound.text in ("(", ")", ",", "||") or (
            bound.kind == "word" and bound.upper in _OPERAND_BOUNDARY_KWS
        )
        if not ok_boundary:
            return False
    # the leaf (column) component is the one in source order closest to
    # the || on the left walk, farthest on the right walk
    words = [p for p in path if p.kind == "word"]
    leaf = words[0] if step < 0 else words[-1]
    return column_types.get(leaf.text.lower()) == "BOOLEAN"


#: Boundary keywords that can only introduce a PREDICATE — meeting one at
#: the end of the left-walk (or AND/OR/THEN on the right) proves the ||
#: sits in boolean context even when the operand itself carries no
#: comparison (fuzzer-found: `x BETWEEN a AND b || p`, `WHERE p1 || p2`).
_LEFT_BOOL_BOUNDARIES = {"WHERE", "HAVING", "ON", "WHEN", "AND", "OR"}
#: Functions that always return BOOLEAN — an operand that is a call to
#: one of these proves boolean || even with no comparison in sight.
_BOOL_FUNCTIONS = {
    "istrue", "isfalse", "isnottrue", "isnotfalse", "regexp_like",
    "starts_with", "ends_with", "contains", "array_contains", "is_inf",
    "is_nan", "isnull_pred", "exists",
}
_RIGHT_BOOL_BOUNDARIES = {"AND", "OR", "THEN"}


def _bars_operand_boolish(toks: list[Tok], i: int, step: int) -> bool:
    """Walk one operand span of the ``||`` at index i (step=-1 left,
    +1 right) looking for predicate markers.  A BARE parenthesized group
    adjacent to the operator (not a function call) is grouping — descend
    into it (fuzzer-found: `(a > 1 || b > 2) || (c > 3 AND d > 4)`);
    function-call parens stay opaque so comparisons inside unrelated call
    arguments cannot false-positive a string concat into an OR."""
    bal = 0
    first = True
    rng = range(i - 1, -1, -1) if step < 0 else range(i + 1, len(toks))
    for k in rng:
        tk = toks[k]
        if not _is_code(tk):
            continue
        closing = ")" if step < 0 else "("
        opening = "(" if step < 0 else ")"
        if tk.text == closing:
            # entering a paren group from the operator side
            if bal == 0 and first:
                inner_open = (
                    _matching_paren_rev(toks, k)
                    if step < 0
                    else _matching_paren(toks, k)
                )
                head = (
                    _prev_code(toks, inner_open - 1)
                    if step < 0
                    else _prev_code(toks, k - 1)
                )
                is_call = (
                    head >= 0
                    and toks[head].kind == "word"
                    and toks[head].upper not in _OPERAND_BOUNDARY_KWS
                )
                if is_call and toks[head].text.lower() in _BOOL_FUNCTIONS:
                    return True
                if not is_call:
                    lo, hi = (
                        (inner_open, k) if step < 0 else (k, inner_open)
                    )
                    if _span_has_predicate_marker(toks, lo + 1, hi):
                        return True
            bal += 1
        elif tk.text == opening:
            if bal == 0:
                return False
            bal -= 1
        elif bal == 0:
            if tk.text == ",":
                return False
            if tk.kind == "word" and tk.upper in _OPERAND_BOUNDARY_KWS:
                bounds = (
                    _LEFT_BOOL_BOUNDARIES
                    if step < 0
                    else _RIGHT_BOOL_BOUNDARIES
                )
                return tk.upper in bounds
            if tk.text in _BOOL_INDICATOR_OPS or (
                tk.kind == "word" and tk.upper in _BOOL_INDICATOR_KWS
            ):
                return True
        first = False
    return False


def _matching_paren_rev(toks: list[Tok], close_i: int) -> int:
    """Given index of ')', return index of its '('."""
    depth = 0
    for j in range(close_i, -1, -1):
        if toks[j].text == ")":
            depth += 1
        elif toks[j].text == "(":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses in SQL")


def _span_has_predicate_marker(toks: list[Tok], lo: int, hi: int) -> bool:
    """Any comparison op or predicate keyword at the TOP level of
    toks[lo:hi] (nested call parens stay opaque)."""
    depth = 0
    for k in range(lo, hi):
        tk = toks[k]
        if not _is_code(tk):
            continue
        if tk.text == "(":
            depth += 1
        elif tk.text == ")":
            depth -= 1
        elif depth == 0:
            if tk.text in _BOOL_INDICATOR_OPS or (
                tk.kind == "word" and tk.upper in _BOOL_INDICATOR_KWS
            ):
                return True
            if tk.kind == "op" and tk.text == "||":
                # nested || inside a bare group: recurse one level via
                # the same marker scan (its operands are in this span)
                continue
    return False


def _rewrite_postfix_factorial(toks: list[Tok]) -> list[Tok]:
    """Impala's postfix factorial — ``5!`` (ArithmeticExpr FACTORIAL,
    sql-parser.cup:3635).  A bare ``!`` whose previous code token ends an
    operand (number, identifier, or close paren) is postfix; wrap the
    operand in factorial().  A ``!`` before an operand is prefix NOT,
    which Spark already accepts."""
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (t.kind == "op" and t.text == "!"):
            i += 1
            continue
        p = _prev_code(toks, i - 1)
        if p < 0:
            i += 1
            continue
        pt = toks[p]
        start = None
        if pt.kind == "num":
            start = p
        elif pt.kind in ("word", "bquote") and pt.upper not in (
            _OPERAND_BOUNDARY_KWS | _BOOL_INDICATOR_KWS
        ):
            start = p
        elif pt.text == ")":
            start = _primary_start(toks, p)
        if start is None:
            i += 1
            continue
        # prefix unary minus takes precedence over postfix factorial in the
        # reference's grammar (expr-test.cc "-1! = 1 // Prefix takes
        # precedence"): include it in the operand when it is UNARY (start
        # of expression / after an operator, '(' or ',')
        m = _prev_code(toks, start - 1)
        if m >= 0 and toks[m].text == "-":
            before = _prev_code(toks, m - 1)
            if (
                before < 0
                or toks[before].text in ("(", ",")
                or toks[before].kind == "op"
                or (
                    toks[before].kind == "word"
                    and toks[before].upper in _OPERAND_BOUNDARY_KWS
                )
            ):
                start = m
        operand = untokenize(toks[start:i]).strip()
        toks[start : i + 1] = tokenize(f"factorial_k({operand})")
        i = start + 1
    return toks
