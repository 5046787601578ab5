"""Property tests for the dialect translator: Spark-compatible SQL must
pass through byte-for-byte, and translation must be idempotent (the
reference's analyzer re-analyzes after rewrites — AnalysisContext.java —
so rewrites must be stable under re-application)."""

from __future__ import annotations

import contextlib
import glob
import importlib
import inspect
import os
import re
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st

from hopspark.dialect import translate
from hopspark.dialect.translate import (
    _CONSTANT_SOURCE, _from_items, _prev_code, _query_blocks, tokenize,
    untokenize,
)
from hopspark.golden import parse_test_file

# Identifiers that never collide with rewrite triggers.
_IDENT = st.text(alphabet="abcxyz_", min_size=1, max_size=8).filter(
    lambda s: s
    not in {
        "isnull",
        "zeroifnull",
        "aggif",
        "cast",
        "unnest",
        "week",
        "user",
        "regexp",
        "fmod",
        "ndv",
        "chr",
    }
)
_LITERAL = st.one_of(
    st.integers(0, 10_000).map(str),
    st.floats(0, 1e6, allow_nan=False).map(lambda f: f"{f:.3f}"),
    _IDENT.map(lambda s: f"'{s}'"),
)
_TERM = st.one_of(_IDENT, _LITERAL)


@given(
    cols=st.lists(_TERM, min_size=1, max_size=5),
    tbl=_IDENT,
    cond_l=_TERM,
    cond_r=_TERM,
)
@settings(max_examples=200, deadline=None)
def test_neutral_sql_passes_through(cols, tbl, cond_l, cond_r):
    sql = f"SELECT {', '.join(cols)} FROM {tbl} WHERE {cond_l} = {cond_r}"
    assert translate(sql) == sql


@given(s=st.text(min_size=0, max_size=60))
@settings(max_examples=200, deadline=None)
def test_tokenizer_roundtrip_lossless(s):
    assert untokenize(tokenize(s)) == s


DIALECT_SAMPLES = [
    "SELECT a FROM t ORDER BY a DESC, b",
    "SELECT isnull(a, b), zeroifnull(c) FROM t",
    "SELECT aggif(x = 1, y) FROM t",
    "SELECT CAST(s AS TIMESTAMP FORMAT 'YYYY-MM-DD') FROM t",
    "SELECT date_add(d, INTERVAL 3 days) FROM t",
    "SELECT a IREGEXP 'x.*' FROM t",
    "SELECT arr.item FROM t, UNNEST(arr)",
    "SELECT ndv(x), appx_median(y) FROM t",
    # round-8 advice: DATE-overload date_trunc/trunc wrap + guard must not
    # re-fire on their own output; to_date_strict must be recognized as
    # DATE-typed so next_day/last_day keep the native DATE form
    "SELECT date_trunc('YEAR', DATE '1200-06-15')",
    "SELECT trunc(DATE '1200-06-15', 'YEAR')",
    "SELECT date_trunc('WEEK', DATE '1400-01-01')",
    "SELECT next_day(CAST(c AS DATE), 'MO') FROM t",
    "SELECT last_day(CAST(c AS DATE)) FROM t",
    # round-9: ns constant folding, IEEE NaN comparison routing, and the
    # unix_timestamp trailing-input truncation must not re-fire on their
    # own output
    "SELECT cast(date_add(cast('2012-01-01 00:00:00.000000001' as"
    " timestamp), interval 1033 nanoseconds) as string)",
    "SELECT CAST('1400-01-01 00:00:00' AS TIMESTAMP) - INTERVAL 1"
    " NANOSECONDS",
    "SELECT 0/0 = 0/0",
    "SELECT cast('nan' as double) <=> cast('nan' as double) d",
    "SELECT unix_timestamp('2038/01/19T03:14:08+01:00',"
    " 'yyyy/MM/ddTHH:mm:ss')",
]


def test_translation_idempotent():
    for sql in DIALECT_SAMPLES:
        once = translate(sql)
        assert translate(once) == once, sql


def test_strings_and_comments_untouched():
    sql = (
        "SELECT 'isnull(a,b) ORDER BY x' AS s, c -- ORDER BY comment\n"
        "FROM t /* aggif(p, x) in comment */"
    )
    out = translate(sql)
    assert "'isnull(a,b) ORDER BY x'" in out
    assert "-- ORDER BY comment" in out
    assert "/* aggif(p, x) in comment */" in out


# --- one static type per operand (_parse_cast / _static_type) -----------

_WS = st.sampled_from(["", " ", "  ", "\n", "\t "])


@st.composite
def _mixed_case(draw, word: str) -> str:
    flips = draw(st.lists(st.booleans(), min_size=len(word), max_size=len(word)))
    return "".join(c.upper() if f else c.lower() for c, f in zip(word, flips))


@st.composite
def _cast_type(draw) -> tuple[str, str]:
    """(the type as written, its normalized name)."""
    ws = draw(_WS)
    name = draw(st.sampled_from([
        "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "BOOLEAN",
        "FLOAT", "REAL", "DOUBLE", "STRING", "DATE", "TIMESTAMP",
        "DECIMAL", "CHAR", "VARCHAR",
    ]))
    written = draw(_mixed_case(name))
    norm = {"INTEGER": "INT", "REAL": "FLOAT"}.get(name, name)
    if name in ("DECIMAL", "CHAR", "VARCHAR"):
        p = draw(st.integers(1, 38))
        s = draw(st.integers(0, p))
        shape = draw(st.sampled_from(
            ["bare", "p", "ps"] if name == "DECIMAL" else ["p"]
        ))
        if shape == "bare":
            norm = "DECIMAL(9,0)"
        elif shape == "p":
            written += f"{ws}({ws}{p}{ws})"
            norm = f"{name}({p},0)" if name == "DECIMAL" else f"{name}({p})"
        else:
            written += f"{ws}({ws}{p}{ws},{ws}{s}{ws})"
            norm = f"DECIMAL({p},{s})"
    return written, norm


_OPERAND_LEAF = st.one_of(
    _IDENT,
    st.integers(-1000, 1000).map(str),
    st.sampled_from(["'a b'", "'(as)'", "NULL", "1.5"]),
)


@st.composite
def _operand(draw, depth: int = 0) -> str:
    """An expression with nested parens, calls and inner CASTs, so the
    parser must find the AS at depth 1 only."""
    if depth >= 3 or draw(st.booleans()):
        return draw(_OPERAND_LEAF)
    inner = draw(_operand(depth + 1))
    ws = draw(_WS)
    form = draw(st.sampled_from(["paren", "call", "cast", "arith"]))
    if form == "paren":
        return f"({ws}{inner}{ws})"
    if form == "call":
        return f"f({inner},{ws}({draw(_OPERAND_LEAF)}))"
    if form == "cast":
        written, _ = draw(_cast_type())
        return f"{draw(_mixed_case('cast'))}({inner} AS {written})"
    return f"{inner} + ({draw(_operand(depth + 1))})"


@given(
    operand=_operand(),
    ty=_cast_type(),
    fmt=st.booleans(),
    cast_kw=_mixed_case("cast"),
    as_kw=_mixed_case("as"),
    fmt_kw=_mixed_case("format"),
    ws=_WS,
)
@settings(max_examples=300, deadline=None)
def test_static_type_of_a_cast_is_its_target(
    operand, ty, fmt, cast_kw, as_kw, fmt_kw, ws
):
    from hopspark.dialect.translate import (
        _is_code, _parse_cast, _static_type,
    )

    written, norm = ty
    tail = f" {fmt_kw}{ws}'YYYY-MM-DD'" if fmt else ""
    sql = f"{ws}{cast_kw}{ws}({ws}{operand} {as_kw} {written}{tail}{ws}){ws}"
    toks = tokenize(sql)
    code = [k for k, t in enumerate(toks) if _is_code(t)]
    c = _parse_cast(toks, code[0])
    assert c is not None and c.close == code[-1], sql
    assert toks[c.as_].upper == "AS" and c.ty == norm, sql
    assert untokenize(toks[c.type_s : c.type_e]).strip() == written.strip()
    assert (c.fmt is not None) == fmt, sql
    assert untokenize(toks[c.open + 1 : c.as_]).strip() == operand.strip()
    assert _static_type(toks, 0, len(toks)) == norm


@given(v=st.one_of(
    st.integers(-(2**63), 2**63 - 1),
    st.sampled_from([
        b + d for b in (2**7, 2**15, 2**31, 2**63) for d in (-1, 0)
    ] + [-b + d for b in (2**7, 2**15, 2**31, 2**63) for d in (-1, 0)]),
).filter(lambda v: -(2**63) <= v < 2**63))
@settings(max_examples=300, deadline=None)
def test_static_type_of_an_int_literal_is_the_folded_typeof(v):
    from hopspark.dialect.translate import _static_type

    toks = tokenize(str(v))
    ty = _static_type(toks, 0, len(toks))
    assert ty in ("TINYINT", "SMALLINT", "INT", "BIGINT")
    assert translate(f"SELECT typeof({v})") == f"SELECT '{ty}'" + _CONSTANT_SOURCE


# --- one-row source for FROM-less query blocks (_add_constant_sources) ---

_SP = st.sampled_from([" ", "  ", "\n", "\t ", " \n "])


@st.composite
def _select_item(draw) -> tuple[str, bool]:
    """(a select-list item, whether it is a star item)."""
    sp = draw(_SP)
    kw = lambda w: draw(_mixed_case(w))  # noqa: E731
    form = draw(st.sampled_from(
        ["term", "distinct", "subquery", "call", "star"]
    ))
    if form == "star":
        return draw(st.sampled_from(["*", "q.*", "q .*"])), True
    if form == "distinct":
        nt = f"{kw('not')}{sp}" if draw(st.booleans()) else ""
        return (
            f"{draw(_TERM)}{sp}{kw('is')}{sp}{nt}{kw('distinct')}{sp}"
            f"{kw('from')}{sp}{draw(_TERM)}"
        ), False
    if form == "subquery":
        src = f"{sp}{kw('from')}{sp}{draw(_IDENT)}" if draw(st.booleans()) else ""
        return f"({kw('select')}{sp}{draw(_TERM)}{src})", False
    if form == "call":
        return draw(st.sampled_from([
            f"coalesce({draw(_TERM)},{sp}{draw(_TERM)})",
            f"trim({kw('both')}{sp}'x'{sp}{kw('from')}{sp}{draw(_IDENT)})",
            f"count(*){sp}{draw(_IDENT)}",
        ])), False
    return draw(_TERM), False


@st.composite
def _query_block(draw) -> tuple[str, int]:
    """(a query block, the number of sources it should get)."""
    sp = draw(_SP)
    kw = lambda w: draw(_mixed_case(w))  # noqa: E731
    items = draw(st.lists(_select_item(), min_size=1, max_size=4))
    sql = f"{kw('select')}{sp}" + f",{draw(_SP)}".join(t for t, _ in items)
    has_from = draw(st.booleans())
    if has_from:
        sql += f"{sp}{kw('from')}{sp}{draw(_IDENT)} q"
    if draw(st.booleans()):
        nt = f"{kw('not')}{sp}" if draw(st.booleans()) else ""
        sql += (
            f"{sp}{kw('where')}{sp}{draw(_TERM)}{sp}{kw('is')}{sp}{nt}"
            f"{kw('distinct')}{sp}{kw('from')}{sp}{draw(_TERM)}"
        )
    star = any(s for _, s in items)
    return sql, int(not (has_from or star))


_SET_OP = st.sampled_from(["union all", "union", "intersect", "except"])


@given(
    blocks=st.lists(_query_block(), min_size=1, max_size=3),
    ops=st.lists(_SET_OP.flatmap(_mixed_case), min_size=2, max_size=2),
    order=st.booleans(),
    limit=st.booleans(),
    sp=_SP,
)
@settings(max_examples=300, deadline=None)
def test_each_from_less_block_gets_one_source(blocks, ops, order, limit, sp):
    """Exactly one source per statement-level FROM-less block without a
    star item, right after its select list; none in nested blocks;
    translating the output adds none."""
    sql = blocks[0][0]
    for (block, _), op in zip(blocks[1:], ops):
        sql += f"{sp}{op}{sp}{block}"
    if order:
        sql += f"{sp}ORDER BY 1"
    if limit:
        sql += f"{sp}limit 3"
    out = translate(sql)
    branches = re.split(r"\b(?:union|intersect|except)\b", out, flags=re.I)
    assert len(branches) == len(blocks), out
    for branch, (_, want) in zip(branches, blocks):
        assert branch.count(_CONSTANT_SOURCE) == want, (sql, out)
        if want:
            at = branch.index(_CONSTANT_SOURCE)
            head, rest = branch[:at], branch[at + len(_CONSTANT_SOURCE):]
            assert head.count("(") == head.count(")"), out
            assert not head[-1:].isspace(), out
            words = rest.split()
            assert not words or words[0].upper() in ("WHERE", "ORDER", "LIMIT")
    assert translate(out).count(_CONSTANT_SOURCE) == out.count(_CONSTANT_SOURCE)


# --- one block parse: spans nest, FROM items and window ORDER BYs -------


@st.composite
def _nested_block(draw, depth: int = 0) -> tuple[str, int]:
    """(a query block with nested subqueries, the number of blocks in it
    that have a FROM clause)."""
    sp = draw(_SP)
    kw = lambda w: draw(_mixed_case(w))  # noqa: E731
    n_from = 0

    def sub() -> str:
        nonlocal n_from
        if depth >= 2:
            return f"{kw('select')}{sp}{draw(_TERM)}"
        body, n = draw(_nested_block(depth + 1))
        n_from += n
        return body

    def term() -> str:
        form = draw(st.sampled_from([
            "term", "distinct", "extract", "window", "within", "subquery",
        ]))
        if form == "distinct":
            nt = f"{kw('not')}{sp}" if draw(st.booleans()) else ""
            return (
                f"{draw(_TERM)}{sp}{kw('is')}{sp}{nt}{kw('distinct')}{sp}"
                f"{kw('from')}{sp}{draw(_TERM)}"
            )
        if form == "extract":
            return f"extract({kw('year')}{sp}{kw('from')}{sp}{draw(_IDENT)})"
        if form == "window":
            part = (
                f"{kw('partition')}{sp}{kw('by')}{sp}{draw(_IDENT)}{sp}"
                if draw(st.booleans()) else ""
            )
            return (
                f"sum({draw(_IDENT)}){sp}{kw('over')}{sp}({part}"
                f"{kw('order')}{sp}{kw('by')}{sp}{draw(_IDENT)})"
            )
        if form == "within":
            return (
                f"percentile_cont(0.5){sp}{kw('within')}{sp}{kw('group')}"
                f"{sp}({kw('order')}{sp}{kw('by')}{sp}{draw(_IDENT)})"
            )
        if form == "subquery":
            return f"({sub()})"
        return draw(_TERM)

    items = draw(st.lists(st.just(0), min_size=1, max_size=3))
    sql = f"{kw('select')}{sp}" + f",{sp}".join(term() for _ in items)
    if draw(st.booleans()):
        n_from += 1
        sql += f"{sp}{kw('from')}{sp}{draw(_IDENT)}{sp}q"
        for _ in range(draw(st.integers(0, 2))):
            form = draw(st.sampled_from(["comma", "join", "derived", "lv"]))
            if form == "comma":
                sql += f",{sp}q.{draw(_IDENT)}{sp}{draw(_IDENT)}"
            elif form == "join":
                sql += (
                    f"{sp}{kw('left')}{sp}{kw('join')}{sp}{draw(_IDENT)}{sp}r"
                    f"{sp}{kw('on')}{sp}{term()}{sp}={sp}{term()}"
                )
            elif form == "derived":
                sql += f",{sp}({sub()}){sp}d"
            else:
                sql += (
                    f"{sp}{kw('lateral')}{sp}{kw('view')}{sp}"
                    f"explode({draw(_IDENT)}){sp}lv{sp}{kw('as')}{sp}e"
                )
    if draw(st.booleans()):
        cond = draw(st.sampled_from(["cmp", "exists", "in"]))
        sql += f"{sp}{kw('where')}{sp}"
        if cond == "exists":
            sql += f"{kw('exists')}{sp}({sub()})"
        elif cond == "in":
            sql += f"{draw(_IDENT)}{sp}{kw('in')}{sp}({sub()})"
        else:
            sql += f"{term()}{sp}={sp}{term()}"
    if draw(st.booleans()):
        sql += (
            f"{sp}{kw('group')}{sp}{kw('by')}{sp}{draw(_IDENT)},{sp}"
            f"{draw(_IDENT)}"
        )
        if draw(st.booleans()):
            sql += f"{sp}{kw('having')}{sp}{term()}{sp}>{sp}0"
    if draw(st.booleans()):
        sql += f"{sp}{kw('order')}{sp}{kw('by')}{sp}{term()},{sp}1"
    if draw(st.booleans()):
        sql += f"{sp}{kw('limit')}{sp}3"
    return sql, n_from


@st.composite
def _statement(draw) -> tuple[str, int]:
    """(a statement of WITH bodies and set-operation branches, the number
    of its blocks that have a FROM clause)."""
    sp = draw(_SP)
    n_from = 0
    parts = []
    for _ in range(draw(st.integers(0, 2))):
        body, n = draw(_nested_block())
        n_from += n
        parts.append(f"w{len(parts)} AS ({body})")
    sql = f"WITH {', '.join(parts)}{sp}" if parts else ""
    body, n = draw(_nested_block())
    n_from += n
    sql += body
    for _ in range(draw(st.integers(0, 2))):
        body, n = draw(_nested_block())
        n_from += n
        sql += f"{sp}{draw(_SET_OP.flatmap(_mixed_case))}{sp}{body}"
    return sql, n_from


@given(stmt=_statement())
@settings(max_examples=150, deadline=None)
def test_block_parse_nests_and_owns_from_items(stmt):
    """Block spans nest and do not otherwise overlap; each FROM item's
    clause is the FROM of the block that holds it; the FROM of ``IS
    DISTINCT FROM`` and ``extract(… from …)`` and the ORDER BY of ``OVER
    (…)`` and ``WITHIN GROUP (…)`` are no block's clause."""
    sql, n_from = stmt
    toks = tokenize(sql)
    qb = _query_blocks(toks)
    blocks = qb.blocks
    assert len(blocks) == sum(t.upper == "SELECT" for t in toks), sql
    for a in blocks:
        for b in blocks:
            if a is not b and a.select < b.select < a.end:
                assert b.end <= a.end, sql
    assert sum("FROM" in b.clauses for b in blocks) == n_from, sql
    for it in _from_items(toks):
        assert qb.at(it.trigger).clauses["FROM"] == it.clause, sql
    owned = {c for b in blocks for c in b.clauses.values()}
    for i, t in enumerate(toks):
        if t.upper not in ("ORDER", "FROM"):
            continue
        opener = qb.opens[i]
        in_call = opener >= 0 and toks[_prev_code(toks, opener - 1)].upper in (
            "OVER", "GROUP", "EXTRACT",
        )
        if in_call or toks[_prev_code(toks, i - 1)].upper == "DISTINCT":
            assert i not in owned, sql


# --- one token list: every pass emits real tokens -----------------------

_T = importlib.import_module("hopspark.dialect.translate")
#: the passes translate() runs, in its order
_PASSES = re.findall(r"toks = (_\w+)\(toks", inspect.getsource(translate))
_GOLDEN_QUERIES = [
    case.query
    for path in sorted(glob.glob(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "golden", "*.test"
    )))
    for case in parse_test_file(path)
]
_OPTIONS = (None, {"utf8_mode": True}, {"appx_count_distinct": True})


@contextlib.contextmanager
def _pass_outputs_checked():
    """Wrap every translator pass; yields the list of (pass, token) for
    each returned token that is not exactly one lexical token."""
    bad: list[tuple[str, object]] = []
    real: dict[tuple[str, str], bool] = {}  # (kind, text) -> one token

    def checked(name, fn):
        def run(*args, **kwargs):
            out = fn(*args, **kwargs)
            for t in out:
                key = (t.kind, t.text)
                if key not in real:
                    real[key] = tokenize(t.text) == [t]
                if not real[key]:
                    bad.append((name, t))
            return out
        return run

    with contextlib.ExitStack() as stack:
        for name in set(_PASSES):
            stack.enter_context(mock.patch.object(
                _T, name, checked(name, getattr(_T, name))
            ))
        yield bad


def _translated(sql, options):
    try:
        return translate(sql, options=options)
    except Exception as exc:  # noqa: BLE001 - compared, not hidden
        return f"{type(exc).__name__}: {exc}"


def _assert_one_token_list(statements) -> None:
    with _pass_outputs_checked() as bad:
        for sql in statements:
            for options in _OPTIONS:
                out = _translated(sql, options)
                assert not bad, (sql, options, bad[:3])
                assert _translated(tokenize(sql), options) == out, (
                    sql, options,
                )


def test_passes_cover_the_translator():
    assert len(_PASSES) > 30 and "_rewrite_functions" in _PASSES


_DIALECT_TERMS = [
    "aggif(x = 1, y)", "isnull(a, b)", "zeroifnull(c)", "histogram(c)",
    "date_add(d, INTERVAL 3 days)", "distinctfrom(a, b)", "lower(s)",
    "ds_kll_quantile(ds_kll_sketch(x), 0.5)", "count(distinct x)",
    "ds_kll_rank(ds_kll_sketch(x), 3)", "precision(CAST(x AS DECIMAL))",
    "ceil(CAST(x AS DOUBLE))", "sum(CAST(x AS DECIMAL(5,2)))",
    "avg(CAST(x AS TIMESTAMP))", "x / 0", "s IREGEXP 'a.*'",
    "regexp_like(s, 'a', 'i')", "mask(s)", "dayname(d)",
]


@given(stmt=_statement(), terms=st.lists(
    st.sampled_from(_DIALECT_TERMS), min_size=0, max_size=3,
))
@settings(max_examples=100, deadline=None)
def test_every_pass_emits_real_tokens(stmt, terms):
    """Each token a translator pass returns is exactly one lexical token,
    and translating a statement's token list gives what translating its
    text gives."""
    sql = stmt[0]
    if terms:
        sql = f"SELECT {', '.join(terms)} FROM t q ORDER BY 1 UNION ALL {sql}"
    _assert_one_token_list([sql])


def test_every_pass_emits_real_tokens_on_the_golden_corpus():
    _assert_one_token_list(_GOLDEN_QUERIES)
