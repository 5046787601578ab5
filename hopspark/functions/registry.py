"""Registration of Impala-only scalar functions missing from Spark.

Kernel parity targets (reference files):
  * fnv_hash        — be/src/exprs/utility-functions-ir.cc (FNV-1a 64-bit)
  * rotate/set/get/countset bits — be/src/exprs/bit-byte-functions-ir.cc
  * jaro/damerau string distances — be/src/exprs/string-functions-ir.cc
  * istrue/isfalse family — be/src/exprs/conditional-functions.cc

Everything here is either a pure-SQL expression registered via
`CREATE TEMPORARY FUNCTION` (fast path, JVM-side; `register_sql_functions`)
or an Arrow-vectorized pandas UDF (slow path, only where SQL can't express
it; `register_all`). Row-at-a-time Python UDFs are deliberately absent.
"""

from __future__ import annotations

import os
import re
import socket

import pandas as pd
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hopspark.session import SQL_LIBRARY_MARKER

_FNV64_PRIME = 0x100000001B3
_FNV64_SEED = 0xCBF29CE484222325
_MASK64 = (1 << 64) - 1


def _fnv1a_64(data: bytes) -> int:
    """FNV-1a 64-bit, signed-int64 result like the reference
    (be/src/exprs/utility-functions-ir.cc FnvHash)."""
    h = _FNV64_SEED
    for b in data:
        h = ((h ^ b) * _FNV64_PRIME) & _MASK64
    return h - (1 << 64) if h >= (1 << 63) else h


@F.pandas_udf(T.LongType())
def _fnv_hash_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _fnv1a_64(str(v).encode("utf-8")))


_MURMUR_PRIME = 0xC6A4A7935BD1E995
_MURMUR_R = 47


def _murmur2_64(data: bytes, seed: int = 0) -> int:
    """MurmurHash2 64-bit (MurmurHash64A), exactly the reference kernel
    (be/src/util/hash-util.h:122-158 MurmurHash2_64, MURMUR_DEFAULT_SEED=0):
    8-byte little-endian blocks mixed with the 0xc6a4a7935bd1e995 prime and
    r=47 shifts, byte-cascade tail, triple finalization. Signed-int64 result
    like BigIntVal."""
    n = len(data)
    h = (seed ^ ((n * _MURMUR_PRIME) & _MASK64)) & _MASK64
    nblocks = n >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k = (k * _MURMUR_PRIME) & _MASK64
        k ^= k >> _MURMUR_R
        k = (k * _MURMUR_PRIME) & _MASK64
        h ^= k
        h = (h * _MURMUR_PRIME) & _MASK64
    tail = data[nblocks * 8 :]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * _MURMUR_PRIME) & _MASK64
    h ^= h >> _MURMUR_R
    h = (h * _MURMUR_PRIME) & _MASK64
    h ^= h >> _MURMUR_R
    return h - (1 << 64) if h >= (1 << 63) else h


@F.pandas_udf(T.LongType())
def _murmur_hash_udf(s: pd.Series) -> pd.Series:
    """murmur_hash — STRING overload faithful to the reference
    (utility-functions-ir.cc MurmurHashString: murmur2_64 over the UTF-8
    bytes, seed 0). Non-string inputs hash their string rendering (the
    reference's numeric overloads hash raw fixed-width bytes instead —
    documented delta, same convention as fnv_hash here)."""
    return s.map(lambda v: None if v is None else _murmur2_64(str(v).encode("utf-8")))


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_range = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_range)
        hi = min(len2, i + match_range + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def _jaro_winkler(s1: str, s2: str, scaling: float = 0.1) -> float:
    j = _jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix == 4:
            break
        prefix += 1
    return j + prefix * scaling * (1 - j)


@F.pandas_udf(T.DoubleType())
def _jaro_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x: object, y: object) -> float | None:
        if x is None or y is None:
            return None
        return 1.0 - _jaro(str(x), str(y))

    return pd.Series([f(x, y) for x, y in zip(a, b)])


@F.pandas_udf(T.DoubleType())
def _jaro_winkler_similarity_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x: object, y: object) -> float | None:
        if x is None or y is None:
            return None
        return _jaro_winkler(str(x), str(y))

    return pd.Series([f(x, y) for x, y in zip(a, b)])


@F.pandas_udf(T.DoubleType())
def _jaro_similarity_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x: object, y: object) -> float | None:
        if x is None or y is None:
            return None
        return _jaro(str(x), str(y))

    return pd.Series([f(x, y) for x, y in zip(a, b)])


@F.pandas_udf(T.DoubleType())
def _jaro_winkler_distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x: object, y: object) -> float | None:
        if x is None or y is None:
            return None
        return 1.0 - _jaro_winkler(str(x), str(y))

    return pd.Series([f(x, y) for x, y in zip(a, b)])


def _damerau_levenshtein(s1: str, s2: str) -> int:
    """Optimal-string-alignment distance, matching the reference's
    damerau_levenshtein (be/src/exprs/string-functions-ir.cc)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0:
        return l2
    if l2 == 0:
        return l1
    prev2: list[int] = []
    prev = list(range(l2 + 1))
    for i in range(1, l1 + 1):
        cur = [i] + [0] * l2
        for j in range(1, l2 + 1):
            cost = 0 if s1[i - 1] == s2[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and s1[i - 1] == s2[j - 2] and s1[i - 2] == s2[j - 1]:
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[l2]


@F.pandas_udf(T.IntegerType())
def _damerau_levenshtein_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x: object, y: object) -> int | None:
        if x is None or y is None:
            return None
        return _damerau_levenshtein(str(x), str(y))

    return pd.Series([f(x, y) for x, y in zip(a, b)], dtype="object")


# SQL-expression functions: the dialect's library, registered as SQL temp
# functions by register_sql_functions, which Engine.__init__ calls — the
# translator is the only code that emits these names. Each is a pure
# Catalyst expression — whole-stage-codegen'd, no Python. Registration runs
# in dict order, so a body may call only entries defined before it.
_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # name: (param list, return type, body expression)
    "istrue": ("b BOOLEAN", "BOOLEAN", "b IS NOT NULL AND b"),
    "isfalse": ("b BOOLEAN", "BOOLEAN", "b IS NOT NULL AND NOT b"),
    "isnottrue": ("b BOOLEAN", "BOOLEAN", "b IS NULL OR NOT b"),
    "isnotfalse": ("b BOOLEAN", "BOOLEAN", "b IS NULL OR b"),
    "nonnullvalue": ("x STRING", "BOOLEAN", "x IS NOT NULL"),
    "nullvalue": ("x STRING", "BOOLEAN", "x IS NULL"),
    # nvl2 / getbit are native Spark builtins with identical semantics —
    # registering them would collide (CANNOT_REPLACE_NON_SQL_UDF_WITH_SQL_UDF).
    "bitand": ("a BIGINT, b BIGINT", "BIGINT", "a & b"),
    "bitor": ("a BIGINT, b BIGINT", "BIGINT", "a | b"),
    "bitxor": ("a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    "bitnot": ("a BIGINT", "BIGINT", "~a"),
    "rotateleft": (
        "x BIGINT, n INT",
        "BIGINT",
        "CASE WHEN n % 64 = 0 THEN x ELSE shiftleft(x, n % 64) | shiftrightunsigned(x, 64 - (n % 64)) END",
    ),
    "rotateright": (
        "x BIGINT, n INT",
        "BIGINT",
        "CASE WHEN n % 64 = 0 THEN x ELSE shiftrightunsigned(x, n % 64) | shiftleft(x, 64 - (n % 64)) END",
    ),
    "setbit": ("x BIGINT, n INT", "BIGINT", "x | shiftleft(CAST(1 AS BIGINT), n)"),
    "countset": ("x BIGINT", "INT", "bit_count(x)"),
    # -- width-aware bit kernels (bit-byte-functions-ir.cc: every function
    # is instantiated PER INT WIDTH — rotate wraps within sizeof(T)*8 bits,
    # countset counts within the width, bit positions past the width are
    # query errors). The dialect appends the width it infers from the
    # argument (CAST form or Impala's smallest-fit literal typing; bare
    # 64-bit otherwise) and routes here. Values are returned sign-extended
    # to BIGINT — numerically identical to the reference's typed result.
    # ux: value masked to the width (w=64 passes through); sxw: re-sign-
    # extend a width-masked value back to the signed BIGINT domain
    "uxw": (
        "x BIGINT, w INT",
        "BIGINT",
        "CASE WHEN w = 64 THEN x "
        "ELSE x & (shiftleft(CAST(1 AS BIGINT), w) - 1) END",
    ),
    "sxw": (
        "r BIGINT, w INT",
        "BIGINT",
        "CASE WHEN w = 64 THEN r "
        "WHEN uxw(r, w) >= shiftleft(CAST(1 AS BIGINT), w - 1) "
        "THEN uxw(r, w) - shiftleft(CAST(1 AS BIGINT), w) "
        "ELSE uxw(r, w) END",
    ),
    "rotl3": (
        "x BIGINT, n INT, w INT",
        "BIGINT",
        "CASE WHEN x IS NULL OR n IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN ((n % w) + w) % w = 0 THEN sxw(x, w) "
        "ELSE sxw(shiftleft(uxw(x, w), ((n % w) + w) % w) "
        "       | shiftrightunsigned(uxw(x, w), w - ((n % w) + w) % w), w) END",
    ),
    "rotr3": ("x BIGINT, n INT, w INT", "BIGINT", "rotl3(x, -n, w)"),
    # shiftleft/shiftright (bit-byte-functions-ir.cc ShiftLeftImpl /
    # ShiftRightLogicalImpl): a NEGATIVE count shifts the other way, and
    # right shift is LOGICAL within the argument's width (expr-test.cc:9947
    # pins shiftright(cast(-1 as INT), 1) = 0x7FFFFFFF; :9951-9952 pin the
    # negative counts). Values returned sign-extended to BIGINT; the
    # dialect CASTs back to the argument width.
    "shl3": (
        "x BIGINT, n INT, w INT",
        "BIGINT",
        "CASE WHEN x IS NULL OR n IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN n < 0 THEN (CASE WHEN -n >= 64 THEN 0 "
        "  ELSE sxw(shiftrightunsigned(uxw(x, w), -n), w) END) "
        "WHEN n >= 64 THEN 0 "
        "ELSE sxw(shiftleft(x, n), w) END",
    ),
    "shr3": (
        "x BIGINT, n INT, w INT",
        "BIGINT",
        "CASE WHEN x IS NULL OR n IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN n < 0 THEN (CASE WHEN -n >= 64 THEN 0 "
        "  ELSE sxw(shiftleft(x, -n), w) END) "
        "WHEN n >= 64 THEN 0 "
        "ELSE sxw(shiftrightunsigned(uxw(x, w), n), w) END",
    ),
    "countset1w": (
        "x BIGINT, w INT",
        "INT",
        "bit_count(uxw(x, w))",
    ),
    "countset2w": (
        "x BIGINT, b INT, w INT",
        "INT",
        "CASE WHEN x IS NULL OR b IS NULL THEN CAST(NULL AS INT) "
        "WHEN b = 1 THEN countset1w(x, w) "
        "WHEN b = 0 THEN w - countset1w(x, w) "
        "ELSE CAST(raise_error(concat('Invalid bit val: ', CAST(b AS STRING))) AS INT) END",
    ),
    "getbitw": (
        "x BIGINT, p INT, w INT",
        "TINYINT",
        "CASE WHEN x IS NULL OR p IS NULL THEN CAST(NULL AS TINYINT) "
        "WHEN p < 0 OR p >= w THEN "
        "  CAST(raise_error(concat('Invalid bit position: ', CAST(p AS STRING))) AS TINYINT) "
        "ELSE CAST(shiftrightunsigned(x, p) & 1 AS TINYINT) END",
    ),
    "setbitw": (
        "x BIGINT, p INT, w INT",
        "BIGINT",
        "CASE WHEN x IS NULL OR p IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN p < 0 OR p >= w THEN "
        "  CAST(raise_error(concat('Invalid bit position: ', CAST(p AS STRING))) AS BIGINT) "
        "ELSE sxw(x | shiftleft(CAST(1 AS BIGINT), p), w) END",
    ),
    "setbit4w": (
        "x BIGINT, p INT, b INT, w INT",
        "BIGINT",
        "CASE WHEN x IS NULL OR p IS NULL OR b IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN p < 0 OR p >= w THEN "
        "  CAST(raise_error(concat('Invalid bit position: ', CAST(p AS STRING))) AS BIGINT) "
        "WHEN b = 1 THEN sxw(x | shiftleft(CAST(1 AS BIGINT), p), w) "
        "WHEN b = 0 THEN sxw(x & ~shiftleft(CAST(1 AS BIGINT), p), w) "
        "ELSE CAST(raise_error(concat('Invalid bit val: ', CAST(b AS STRING))) AS BIGINT) END",
    ),
    "quotient": ("a BIGINT, b BIGINT", "BIGINT", "a div b"),
    # conv with the reference's parse contract (math-functions-ir.cc
    # ConvString + string-parser.h StringToIntInternal): bases validated as
    # abs(base) in [2,36] (NULL otherwise, "like Hive"); the parser breaks at
    # the FIRST out-of-base digit with PARSE_SUCCESS — conv('z1',16,10)='0',
    # conv('1z',16,10)='1', exactly Spark's native prefix parse — and
    # everything after that break char is ignored entirely.  '0' is returned
    # only on PARSE_FAILURE: first char (after sign/leading ws) not
    # alphanumeric, or a non-alphanumeric char appears mid-run with a
    # non-whitespace tail and no earlier out-of-base break.  fb < 0 returns
    # NULL (documented delta: the reference feeds a negative base into
    # unsigned parser arithmetic — implementation-defined; Spark also NULLs).
    # The dialect layer renames 3-arg conv calls here.
    "conv3": (
        "s STRING, fb INT, tb INT",
        "STRING",
        "CASE WHEN s IS NULL OR fb IS NULL OR tb IS NULL THEN CAST(NULL AS STRING) "
        "WHEN abs(fb) < 2 OR abs(fb) > 36 OR abs(tb) < 2 OR abs(tb) > 36 "
        "  THEN CAST(NULL AS STRING) "
        "WHEN fb < 0 THEN CAST(NULL AS STRING) "
        "WHEN length(regexp_extract(CASE WHEN trim(s) rlike '^[+-]' "
        "  THEN substr(trim(s), 2) ELSE trim(s) END, '^[0-9a-zA-Z]*', 0)) = 0 "
        "  THEN '0' "
        "WHEN length(trim(substr(CASE WHEN trim(s) rlike '^[+-]' "
        "  THEN substr(trim(s), 2) ELSE trim(s) END, "
        "  length(regexp_extract(CASE WHEN trim(s) rlike '^[+-]' "
        "  THEN substr(trim(s), 2) ELSE trim(s) END, '^[0-9a-zA-Z]*', 0)) + 1))) > 0 "
        " AND regexp_extract(CASE WHEN trim(s) rlike '^[+-]' "
        "  THEN substr(trim(s), 2) ELSE trim(s) END, '^[0-9a-zA-Z]*', 0) "
        "  NOT rlike concat('(?i)[^', "
        "  substr('0123456789abcdefghijklmnopqrstuvwxyz', 1, abs(fb)), ']') "
        "  THEN '0' "
        "ELSE conv(concat(CASE WHEN trim(s) rlike '^-' THEN '-' ELSE '' END, "
        "  regexp_extract(CASE WHEN trim(s) rlike '^[+-]' "
        "  THEN substr(trim(s), 2) ELSE trim(s) END, '^[0-9a-zA-Z]*', 0)), fb, tb) END",
    ),
    # NULL input is FALSE, not NULL (math-functions-ir.cc IsInf/IsNan;
    # expr-test.cc:5662-5663)
    "is_inf": (
        "x DOUBLE",
        "BOOLEAN",
        "COALESCE(x = double('inf') OR x = double('-inf'), FALSE)",
    ),
    # factorial with the reference's contract (operators-ir.cc
    # ComputeFactorial): any n <= 1 (including negatives) is 1; n > 20
    # overflows BIGINT and ERRORS; NULL propagates. Spark's native
    # factorial NULLs negatives and >20. The dialect routes both the
    # postfix ! operator and factorial() calls here.
    "factorial_k": (
        "n BIGINT",
        "BIGINT",
        "CASE WHEN n IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN n <= 1 THEN CAST(1 AS BIGINT) "
        "WHEN n > 20 THEN CAST(raise_error(concat('factorial ', "
        "CAST(n AS STRING), '! too large for BIGINT')) AS BIGINT) "
        "ELSE factorial(CAST(n AS INT)) END",
    ),
    "timestamp_cmp": (
        "a TIMESTAMP, b TIMESTAMP",
        "INT",
        "CASE WHEN a = b THEN 0 WHEN a > b THEN 1 WHEN a < b THEN -1 END",
    ),
    # -- datetime helpers (be/src/exprs/timestamp-functions-ir.cc) ----------
    "timeofday": ("", "STRING", "date_format(now(), 'EEE MMM dd HH:mm:ss yyyy z')"),
    "from_timestamp": ("t TIMESTAMP, fmt STRING", "STRING", "date_format(t, fmt)"),
    # -- abs with the reference's integer type promotion (IMPALA-4513,
    # impala_functions.py Abs: TINYINT->SMALLINT, SMALLINT->INT,
    # INT->BIGINT) so abs(INT_MIN) cannot overflow-wrap; the dialect layer
    # dispatches by the argument's proven width. Width-named kernels keep
    # translate() idempotent (a bare rewritten `abs(CAST ...)` would
    # re-promote on every re-translation).
    "abs8": ("x SMALLINT", "SMALLINT", "abs(x)"),
    "abs16": ("x INT", "INT", "abs(x)"),
    "abs32": ("x BIGINT", "BIGINT", "abs(x)"),
    # -- IEEE-754 comparison kernels (be/src/exprs/operators-ir.cc
    # BINARY_OP comparisons are plain C++ float compares: any ordered
    # comparison against NaN is false, != against NaN is true —
    # expr-test.cc:760-770) — Spark instead orders NaN greatest and equal
    # to itself.  The dialect layer routes comparisons whose operands
    # provably carry translator-produced IEEE specials here.
    "ieee_eq": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x = y END",
    ),
    "ieee_ne": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN true ELSE x <> y END",
    ),
    "ieee_lt": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x < y END",
    ),
    "ieee_le": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x <= y END",
    ),
    "ieee_gt": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x > y END",
    ),
    "ieee_ge": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL OR y IS NULL THEN CAST(NULL AS BOOLEAN) "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x >= y END",
    ),
    # null-safe equal with the reference's NaN contract: NaN <=> NaN is
    # FALSE (IMPALA-6661, exprs.test:3072) — null-safety applies to NULLs
    # only, not NaNs
    "ieee_eqns": (
        "x DOUBLE, y DOUBLE", "BOOLEAN",
        "CASE WHEN x IS NULL AND y IS NULL THEN true "
        "WHEN x IS NULL OR y IS NULL THEN false "
        "WHEN isnan(x) OR isnan(y) THEN false ELSE x = y END",
    ),
    # -- string/regex helpers (be/src/exprs/string-functions-ir.cc) ---------
    "regexp_match_count": (
        "s STRING, pat STRING",
        "INT",
        # size(NULL) is -1 in Spark — the NULL guard is load-bearing
        "CASE WHEN s IS NULL OR pat IS NULL THEN CAST(NULL AS INT) "
        "ELSE size(regexp_extract_all(s, pat, 0)) END",
    ),
    # 3/4-arg forms (StringFunctions::RegexpMatchCount4Args,
    # string-functions-ir.cc): start_pos is 1-based; params chars are
    # i (case-insensitive) / c (sensitive, LAST of i/c wins like
    # SetRE2Options' sequential scan) / m (multi-line) / n (. matches \n).
    # The dialect layer dispatches the 3- and 4-arg calls here.
    # 3/4-arg forms raise like the reference on a non-positive start
    # position (RegexpMatchCount4Args "Illegal starting position") and on
    # any match parameter outside i/c/m/n (SetRE2Options "Illegal match
    # parameter"); NULL start/params stay NULL-propagating.
    "regexp_match_count3": (
        "s STRING, pat STRING, sp INT",
        "INT",
        # NULL start position falls back to the default 1 (the reference
        # only validates non-NULL values); NULL subject/pattern -> NULL
        "CASE WHEN s IS NULL OR pat IS NULL THEN CAST(NULL AS INT) "
        "WHEN coalesce(sp, 1) < 1 THEN "
        "CAST(raise_error(concat('Illegal starting position ', "
        "CAST(sp AS STRING))) AS INT) "
        "ELSE size(regexp_extract_all(substr(s, coalesce(sp, 1)), pat, 0)) END",
    ),
    "regexp_match_count4": (
        "s STRING, pat STRING, sp INT, params STRING",
        "INT",
        "CASE WHEN s IS NULL OR pat IS NULL THEN CAST(NULL AS INT) "
        "WHEN coalesce(sp, 1) < 1 THEN "
        "CAST(raise_error(concat('Illegal starting position ', "
        "CAST(sp AS STRING))) AS INT) "
        "WHEN translate(coalesce(params, ''), 'icmn', '') != '' THEN "
        "CAST(raise_error(concat('Illegal match parameter ', "
        "substr(translate(coalesce(params, ''), 'icmn', ''), 1, 1))) AS INT) "
        "ELSE size(regexp_extract_all(substr(s, coalesce(sp, 1)), concat("
        "CASE WHEN instr(coalesce(params, ''), 'i') >"
        " instr(coalesce(params, ''), 'c') THEN '(?i)' ELSE '' END, "
        "CASE WHEN coalesce(params, '') LIKE '%m%' THEN '(?m)' ELSE '' END, "
        "CASE WHEN coalesce(params, '') LIKE '%n%' THEN '(?s)' ELSE '' END, "
        "pat), 0)) END",
    ),
    # strict string->DATE cast with the reference's contract
    # (runtime-date.cc / CastFunctions: out-of-range or unparseable strings
    # are a UDF ERROR, never NULL — and Spark's silent year-0/year-10000
    # dates crash the Python collect path): NULL stays NULL, the value must
    # look like y-m-d (optional time tail, ignored) and land in
    # [0001-01-01, 9999-12-31]. The dialect layer rewrites
    # CAST(x AS DATE) (no FORMAT) here.
    "to_date_strict": (
        "s STRING",
        "DATE",
        # leading/trailing whitespace of ANY kind is trimmed before parse
        # (expr-test.cc:3562 accepts ' \\t\\r\\n 2001-01-09 \\t\\r\\n ');
        # SQL trim() strips spaces only
        "CASE WHEN s IS NULL THEN CAST(NULL AS DATE) "
        "WHEN regexp_replace(s, '^[\\\\s]+|[\\\\s]+$', '') "
        " NOT rlike '^[0-9]{1,4}-[0-9]{1,2}-[0-9]{1,2}([ T].*)?$' "
        " OR CAST(s AS DATE) IS NULL "
        " OR year(CAST(s AS DATE)) < 1 OR year(CAST(s AS DATE)) > 9999 "
        "THEN CAST(raise_error(concat('UDF ERROR: String to Date parse "
        "failed. Invalid string val: ''', s, '''')) AS DATE) "
        "ELSE CAST(s AS DATE) END",
    ),
    # 3-arg regexp_like with a RUNTIME (non-literal) params argument —
    # the literal form folds to rlike at translate time; this kernel
    # carries the NULL-propagation and params validation
    # (string-functions-ir.cc RegexpLike)
    # precision()/scale() decimal-type introspection extended to integer
    # types: the reference returns the type's DIGIT CAPACITY
    # (ColumnType.precision: TINYINT 3, SMALLINT 5, INT 10, BIGINT 19) and
    # scale 0 — not NULL. Kernels parse Spark's typeof() rendering; the
    # dialect passes it in pre-lowercased.
    "precision_of": (
        "t STRING",
        "INT",
        "CASE WHEN t = 'TINYINT' THEN 3 WHEN t = 'SMALLINT' THEN 5 "
        "WHEN t = 'INT' THEN 10 WHEN t = 'BIGINT' THEN 19 "
        "WHEN t rlike '^DECIMAL' THEN "
        "CAST(regexp_extract(t, 'DECIMAL\\\\((\\\\d+),(\\\\d+)\\\\)', 1) AS INT) "
        "END",
    ),
    "scale_of": (
        "t STRING",
        "INT",
        "CASE WHEN t IN ('TINYINT', 'SMALLINT', 'INT', 'BIGINT') THEN 0 "
        "WHEN t rlike '^DECIMAL' THEN "
        "CAST(regexp_extract(t, 'DECIMAL\\\\((\\\\d+),(\\\\d+)\\\\)', 2) AS INT) "
        "END",
    ),
    "regexp_like3": (
        "s STRING, p STRING, f STRING",
        "BOOLEAN",
        "CASE WHEN s IS NULL OR p IS NULL OR f IS NULL "
        "THEN CAST(NULL AS BOOLEAN) "
        "WHEN translate(f, 'icmn', '') != '' THEN "
        "CAST(raise_error(concat('Illegal match parameter ', "
        "substr(translate(f, 'icmn', ''), 1, 1))) AS BOOLEAN) "
        "ELSE rlike(s, concat("
        "CASE WHEN instr(f, 'i') > instr(f, 'c') THEN '(?i)' ELSE '' END, "
        "CASE WHEN f LIKE '%m%' THEN '(?m)' ELSE '' END, "
        "CASE WHEN f LIKE '%n%' THEN '(?s)' ELSE '' END, p)) END",
    ),
    "regexp_escape": (
        "s STRING",
        "STRING",
        r"regexp_replace(s, '([\\.\\\\\\+\\*\\?\\[\\^\\]\\$\\(\\)\\{\\}\\=\\!\\<\\>\\|\\:\\-])', '\\\\$1')",
    ),
    "base64encode": ("s STRING", "STRING", "base64(CAST(s AS BINARY))"),
    # base64decode: the reference rejects inputs whose length is not a
    # multiple of 4 — or that contain non-alphabet characters (x86 path;
    # expr-test.cc:4843 base64decode('YWxwaGE%') is NULL) — with NULL + a
    # UDF warning (string-functions-ir.cc Base64Decode); Spark's unbase64
    # is lenient on both, so pre-check.
    "base64decode": (
        "s STRING",
        "STRING",
        "CASE WHEN length(s) % 4 = 0 "
        "AND s RLIKE '^[A-Za-z0-9+/]*={0,2}$' "
        "THEN CAST(unbase64(s) AS STRING) END",
    ),
    # -- masking family (be/src/exprs/mask-functions-ir.cc); default masks
    # upper→X lower→x digit→n like the reference; other chars pass through.
    "mask_first_n": (
        "s STRING, n INT",
        "STRING",
        "concat(mask(substring(s, 1, n)), substring(s, n + 1))",
    ),
    "mask_last_n": (
        "s STRING, n INT",
        "STRING",
        "concat(substring(s, 1, greatest(0, length(s) - n)), "
        "mask(substring(s, greatest(0, length(s) - n) + 1)))",
    ),
    "mask_show_first_n": (
        "s STRING, n INT",
        "STRING",
        "concat(substring(s, 1, n), mask(substring(s, n + 1)))",
    ),
    "mask_show_last_n": (
        "s STRING, n INT",
        "STRING",
        "concat(mask(substring(s, 1, greatest(0, length(s) - n))), "
        "substring(s, greatest(0, length(s) - n) + 1))",
    ),
    # full-signature forms (mask-functions-ir.cc: char args for the
    # upper/lower/digit/other masks); the dialect pads shorter calls with
    # the reference defaults ('X', 'x', 'n', keep-other) and routes here.
    # Masked spans are CHAR-positional (the reference's utf8-mode
    # contract; byte==char on ASCII). Spark's native mask() demands
    # foldable char args, so the kernel masks per-char itself: NULL other
    # keeps the character.
    # a mask-char argument of -1 (numeric, arriving as the string '-1')
    # means KEEP the class unchanged — the reference's MaskTransform
    # getCharArg contract (mask-functions-ir.cc; expr-test pins
    # mask_show_first_n('hello李小龙', 4, -1, -1, -1, 'X') = 'helloXXX')
    "maskchars": (
        "s STRING, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        # split('', '') yields [''] — the phantom empty char must not be
        # masked (mask_first_n(x, 0) keeps x whole)
        "CASE WHEN s = '' THEN '' ELSE array_join(transform(split(s, ''), c -> "
        "CASE WHEN c RLIKE '^[A-Z]$' THEN "
        "  CASE WHEN u = '-1' THEN c WHEN u IS NULL OR u = '' THEN 'X' "
        "  ELSE substr(u, 1, 1) END "
        "WHEN c RLIKE '^[a-z]$' THEN "
        "  CASE WHEN l = '-1' THEN c WHEN l IS NULL OR l = '' THEN 'x' "
        "  ELSE substr(l, 1, 1) END "
        "WHEN c RLIKE '^[0-9]$' THEN "
        "  CASE WHEN d = '-1' THEN c WHEN d IS NULL OR d = '' THEN 'n' "
        "  ELSE substr(d, 1, 1) END "
        "ELSE "
        "  CASE WHEN o = '-1' OR o IS NULL OR o = '' THEN c "
        "  ELSE substr(o, 1, 1) END END), '') END",
    ),
    # utf8-mode masking (MaskTransform's LOCALE path, mask-functions-ir.cc
    # MaskSubStrUtf8): Unicode upper/lower/digit classes are recognized —
    # mask_first_n('áéíöóőüúű') masks the accented lowercase as 'x'
    # (expr-test.cc:10685-10688). The dialect swaps maskchars for this
    # kernel when utf8_mode is on.
    "maskchars_u": (
        "s STRING, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        # split('', '') yields [''] — the phantom empty char must not be
        # masked (mask_first_n(x, 0) keeps x whole)
        "CASE WHEN s = '' THEN '' ELSE array_join(transform(split(s, ''), c -> "
        "CASE WHEN c RLIKE '^\\\\p{Lu}$' THEN "
        "  CASE WHEN u = '-1' THEN c WHEN u IS NULL OR u = '' THEN 'X' "
        "  ELSE substr(u, 1, 1) END "
        "WHEN c RLIKE '^\\\\p{Ll}$' THEN "
        "  CASE WHEN l = '-1' THEN c WHEN l IS NULL OR l = '' THEN 'x' "
        "  ELSE substr(l, 1, 1) END "
        "WHEN c RLIKE '^[0-9]$' THEN "
        "  CASE WHEN d = '-1' THEN c WHEN d IS NULL OR d = '' THEN 'n' "
        "  ELSE substr(d, 1, 1) END "
        "ELSE "
        "  CASE WHEN o = '-1' OR o IS NULL OR o = '' THEN c "
        "  ELSE substr(o, 1, 1) END END), '') END",
    ),
    # utf8-mode full-signature mask forms (dialect renames mask_*_n6 ->
    # mask_*_n6_u when utf8_mode is on): same shapes as the ASCII kernels
    # but masking through maskchars_u's Unicode classes
    "mask_first_n6_u": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(maskchars_u(substring(s, 1, n), u, l, d, o), "
        "substring(s, n + 1))",
    ),
    "mask_last_n6_u": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(substring(s, 1, greatest(0, length(s) - n)), "
        "maskchars_u(substring(s, greatest(0, length(s) - n) + 1), u, l, d, o))",
    ),
    "mask_show_first_n6_u": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(substring(s, 1, n), maskchars_u(substring(s, n + 1), u, l, d, o))",
    ),
    "mask_show_last_n6_u": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(maskchars_u(substring(s, 1, greatest(0, length(s) - n)), u, l, d, o), "
        "substring(s, greatest(0, length(s) - n) + 1))",
    ),
    # mask over DATE (mask-functions-ir.cc MaskImpl(DateVal)): day/month/
    # year components replaced when != -1; out-of-range replacements fall
    # back to the defaults day=1, month=0 (January — months are 0-based in
    # the arg), year=1; an impossible resulting date (Feb 30) is NULL.
    # The dialect routes mask(<provably DATE>, ...) here.
    "mask_date3": (
        "dt DATE, dd INT, mm INT, yy INT",
        "DATE",
        "CASE WHEN dt IS NULL THEN CAST(NULL AS DATE) ELSE make_date("
        "CASE WHEN yy = -1 THEN year(dt) "
        "     WHEN yy <= 0 OR yy >= 9999 THEN 1 ELSE yy END, "
        "CASE WHEN mm = -1 THEN month(dt) "
        "     WHEN mm < 0 OR mm >= 12 THEN 1 ELSE mm + 1 END, "
        "CASE WHEN dd = -1 THEN day(dt) "
        "     WHEN dd < 1 OR dd > 31 THEN 1 ELSE dd END) END",
    ),
    # 3-arg locate in utf8 (char) mode: Spark's locate returns 0 for a
    # NULL pos; the reference NULL-propagates (LocatePos)
    "charlocate3": (
        "sub0 STRING, s0 STRING, pos BIGINT",
        "INT",
        "CASE WHEN s0 IS NULL OR sub0 IS NULL OR pos IS NULL "
        "THEN CAST(NULL AS INT) "
        "WHEN pos <= 0 OR pos > length(s0) THEN 0 "
        "ELSE locate(sub0, s0, CAST(pos AS INT)) END",
    ),
    # from_unixtime with the reference's TIMESTAMP valid-range contract:
    # epoch seconds outside [1400-01-01, 10000-01-01) return NULL
    # (expr-test pins from_unixtime(999999999999999) -> NULL); Spark
    # happily renders '+124789-...'. The dialect renames by arity.
    "from_unixtime1": (
        "x BIGINT",
        "STRING",
        "CASE WHEN x >= -17987443200 AND x < 253402300800 "
        "THEN from_unixtime(x) END",
    ),
    "from_unixtime2": (
        "x BIGINT, f STRING",
        "STRING",
        "CASE WHEN x >= -17987443200 AND x < 253402300800 "
        "THEN from_unixtime(x, f) END",
    ),
    "mask_first_n6": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(maskchars(substring(s, 1, n), u, l, d, o), substring(s, n + 1))",
    ),
    "mask_last_n6": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(substring(s, 1, greatest(0, length(s) - n)), "
        "maskchars(substring(s, greatest(0, length(s) - n) + 1), u, l, d, o))",
    ),
    "mask_show_first_n6": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(substring(s, 1, n), maskchars(substring(s, n + 1), u, l, d, o))",
    ),
    "mask_show_last_n6": (
        "s STRING, n INT, u STRING, l STRING, d STRING, o STRING",
        "STRING",
        "concat(maskchars(substring(s, 1, greatest(0, length(s) - n)), u, l, d, o), "
        "substring(s, greatest(0, length(s) - n) + 1))",
    ),
    "mask_hash": ("s STRING", "STRING", "sha2(s, 256)"),
    # CAST(TIMESTAMP AS STRING): the reference renders a non-zero fraction
    # zero-padded to 9 digits (TimestampValue::ToString via boost
    # posix_time; expr-test.cc:7080 '...56.448500000'); Spark trims
    # trailing zeros. Routed by the dialect for provably-TIMESTAMP args.
    "tstos": (
        "t TIMESTAMP",
        "STRING",
        "CASE WHEN t IS NULL THEN CAST(NULL AS STRING) "
        "WHEN unix_micros(t) % 1000000 = 0 "
        "THEN date_format(t, 'yyyy-MM-dd HH:mm:ss') "
        "ELSE concat(date_format(t, 'yyyy-MM-dd HH:mm:ss.SSSSSS'), '000') "
        "END",
    ),
    # months_between (timestamp-functions-ir.cc MonthsBetween): the TIME
    # component is IGNORED (day-of-month diff / 31 only) and the result is
    # UNROUNDED — Spark includes time and rounds to 8 dp, so truncate to
    # day and pass roundOff=false (expr-test.cc:6982)
    "months_between2": (
        "a TIMESTAMP, b TIMESTAMP",
        "DOUBLE",
        "months_between(date_trunc('DAY', a), date_trunc('DAY', b), false)",
    ),
    "int_months_between": (
        "a TIMESTAMP, b TIMESTAMP",
        "INT",
        "CAST(months_between2(a, b) AS INT)",
    ),
    # -- numeric truncate (Impala truncate/dtrunc; Spark trunc is date-only).
    # Truncation is toward zero (math-functions-ir.cc TruncDecimal).
    "truncate": (
        "x DOUBLE, d INT",
        "DOUBLE",
        "CASE WHEN x >= 0 THEN floor(x * pow(10, d)) / pow(10, d) "
        "ELSE ceil(x * pow(10, d)) / pow(10, d) END",
    ),
    # -- type-limit constants (math-functions-ir.cc MathFunctions::MaxInt etc.)
    "max_tinyint": ("", "TINYINT", "CAST(127 AS TINYINT)"),
    "min_tinyint": ("", "TINYINT", "CAST(-128 AS TINYINT)"),
    "max_smallint": ("", "SMALLINT", "CAST(32767 AS SMALLINT)"),
    "min_smallint": ("", "SMALLINT", "CAST(-32768 AS SMALLINT)"),
    "max_int": ("", "INT", "CAST(2147483647 AS INT)"),
    "min_int": ("", "INT", "CAST(-2147483648 AS INT)"),
    "max_bigint": ("", "BIGINT", "CAST(9223372036854775807 AS BIGINT)"),
    "min_bigint": ("", "BIGINT", "CAST(-9223372036854775808 AS BIGINT)"),
    # -- more datetime helpers (timestamp-functions-ir.cc) ------------------
    "date_cmp": (
        "a DATE, b DATE",
        "INT",
        "CASE WHEN a = b THEN 0 WHEN a > b THEN 1 WHEN a < b THEN -1 END",
    ),
    "millisecond": ("t TIMESTAMP", "INT", "CAST(date_format(t, 'SSS') AS INT)"),
    "utc_timestamp": ("", "TIMESTAMP", "to_utc_timestamp(now(), current_timezone())"),
    # range-guarded like every timestamp producer: the reference's valid
    # TIMESTAMP range is [1400-01-01, 10000-01-01) and out-of-range unix
    # times return NULL (exprs.test unix_micros_to_utc_timestamp rows)
    "unix_micros_to_utc_timestamp": (
        "n BIGINT",
        "TIMESTAMP",
        "CASE WHEN year(timestamp_micros(n)) BETWEEN 1400 AND 9999 "
        "THEN timestamp_micros(n) END",
    ),
    "utc_to_unix_micros": ("t TIMESTAMP", "BIGINT", "unix_micros(t)"),
    # -- instr 3/4-arg kernel (string-functions-ir.cc Instr:788-846). The
    # dialect rewrites instr(s, sub, pos[, occ]) here; 2-arg instr stays the
    # Spark builtin. All match positions (overlapping, like the reference's
    # +1 / -1 stepping) are enumerated scan-side, then the pos/occ window is
    # selected: pos>0 → occ-th match at-or-after pos; pos<0 → occ-th match
    # counting backward from the clamped right anchor (len+pos, needle fit).
    # -- byte-position instr (UTF8_MODE off — the reference default): find
    # the char position natively, then measure the prefix's byte length.
    # The dialect rewrites 2-arg instr/locate here when utf8_mode is off.
    # An EMPTY needle is NOT FOUND in the reference (StringSearch never
    # matches a zero-length pattern; expr-test.cc:4614-4616 pins
    # instr('abc','')=0) while Spark's instr returns 1.
    "byteinstr": (
        "s STRING, sub STRING",
        "INT",
        "CASE WHEN s IS NULL OR sub IS NULL THEN CAST(NULL AS INT) "
        "WHEN length(sub) = 0 THEN 0 "
        "WHEN instr(s, sub) = 0 THEN 0 "
        "ELSE octet_length(left(s, instr(s, sub) - 1)) + 1 END",
    ),
    # 2-arg ltrim/rtrim: the reference's argument order is (src, chars) —
    # string-functions-ir.cc LTrim/RTrim — while Spark's builtin 2-arg form
    # is (trimStr, str); a NULL chars argument leaves the source UNCHANGED
    # (expr-test.cc:4511/4524 pin ltrim/rtrim('abcdefg', NULL)='abcdefg').
    # The dialect swaps 2-arg calls here.
    "ltrim2": (
        "s STRING, c STRING",
        "STRING",
        "CASE WHEN s IS NULL THEN CAST(NULL AS STRING) "
        "WHEN c IS NULL THEN s ELSE ltrim(c, s) END",
    ),
    "rtrim2": (
        "s STRING, c STRING",
        "STRING",
        "CASE WHEN s IS NULL THEN CAST(NULL AS STRING) "
        "WHEN c IS NULL THEN s ELSE rtrim(c, s) END",
    ),
    # btrim shares Spark's (src, chars) order; only the NULL-chars
    # contract differs (expr-test.cc: btrim('abcdefg', NULL)='abcdefg')
    "btrim2": (
        "s STRING, c STRING",
        "STRING",
        "CASE WHEN s IS NULL THEN CAST(NULL AS STRING) "
        "WHEN c IS NULL THEN s ELSE btrim(s, c) END",
    ),
    # abs(BIGINT) keeps BIGINT (no wider int exists): the reference
    # returns NULL on the one unrepresentable input, INT64_MIN
    # (expr-test.cc abs(-9223372036854775808) -> NULL); Spark wraps.
    "abs64": (
        "x BIGINT",
        "BIGINT",
        "CASE WHEN x = -9223372036854775808 THEN CAST(NULL AS BIGINT) "
        "ELSE abs(x) END",
    ),
    # unhex with the reference's validation (string-functions-ir.cc
    # Unhex): odd length or any non-hex char returns the EMPTY STRING
    # (Spark left-pads odd inputs and NULLs bad chars)
    "unhex1": (
        "s STRING",
        "STRING",
        "CASE WHEN s IS NULL THEN CAST(NULL AS STRING) "
        "WHEN length(s) % 2 = 1 OR s rlike '[^0-9a-fA-F]' THEN '' "
        "ELSE CAST(unhex(s) AS STRING) END",
    ),
    # -- substr position contract (string-functions-ir.cc Substring:56-71):
    # pos = 0 → empty string; negative pos resolves to len+pos+1 and a
    # resolved position ≤ 0 is ALSO empty. Spark's substring clamps both
    # to the string start (returns the whole prefix) — these kernels pin
    # the reference contract. byte* slices the UTF-8 byte buffer
    # (UTF8_MODE off, the default); char* is the character-semantics form
    # (Utf8Substring:98-101 has the same pos-0/out-of-range contract).
    "bytesubstr": (
        "s STRING, p BIGINT",
        "STRING",
        "CASE WHEN s IS NULL OR p IS NULL THEN CAST(NULL AS STRING) "
        "WHEN p = 0 OR (p < 0 AND octet_length(s) + p + 1 <= 0) THEN '' "
        "ELSE CAST(substring(encode(s, 'utf-8'), p) AS STRING) END",
    ),
    "bytesubstr3": (
        "s STRING, p BIGINT, l BIGINT",
        "STRING",
        "CASE WHEN s IS NULL OR p IS NULL OR l IS NULL THEN CAST(NULL AS STRING) "
        "WHEN p = 0 OR (p < 0 AND octet_length(s) + p + 1 <= 0) THEN '' "
        "ELSE CAST(substring(encode(s, 'utf-8'), p, l) AS STRING) END",
    ),
    "charsubstr": (
        "s STRING, p BIGINT",
        "STRING",
        "CASE WHEN s IS NULL OR p IS NULL THEN CAST(NULL AS STRING) "
        "WHEN p = 0 OR (p < 0 AND length(s) + p + 1 <= 0) THEN '' "
        "ELSE substring(s, p) END",
    ),
    # -- TIMESTAMP-preserving next_day/last_day (timestamp-functions-ir.cc
    # NextDay:560-585 adds whole days to the full timestamp, keeping the
    # time of day; LastDay:587-596 returns end-of-month at midnight — both
    # TIMESTAMP where Spark's natives demote to DATE). DATE arguments
    # implicitly widen to TIMESTAMP here (documented delta vs the
    # reference's DATE overloads, which return DATE).
    # next_day at the top of the valid range: a result crossing into year
    # 10000 is NULL (the TIMESTAMP range contract), never a year-10000
    # value that crashes the Python collect path
    "next_day2": (
        "t TIMESTAMP, d STRING",
        "TIMESTAMP",
        "CASE WHEN t IS NULL OR d IS NULL THEN CAST(NULL AS TIMESTAMP) "
        "WHEN year(next_day(CAST(t AS DATE), d)) > 9999 "
        "THEN CAST(NULL AS TIMESTAMP) "
        "ELSE CAST(next_day(CAST(t AS DATE), d) AS TIMESTAMP)"
        " + (t - CAST(CAST(t AS DATE) AS TIMESTAMP)) END",
    ),
    "last_day1": (
        "t TIMESTAMP",
        "TIMESTAMP",
        "CAST(last_day(CAST(t AS DATE)) AS TIMESTAMP)",
    ),
    # -- chr range contract (string-functions-ir.cc Chr:1338-1343): values
    # outside [0, 255] return the EMPTY string — Spark's chr wraps mod 256.
    # (128-255 render as the Unicode codepoint's UTF-8 bytes where the
    # reference emits the raw single byte — the same documented
    # invalid-UTF-8 delta as mid-character substr cuts.)
    "chr1": (
        "n BIGINT",
        "STRING",
        "CASE WHEN n IS NULL THEN CAST(NULL AS STRING) "
        "WHEN n < 0 OR n > 255 THEN '' ELSE chr(n) END",
    ),
    # -- lpad/rpad negative-length and split_part empty-delimiter contracts
    # (string-functions-ir.cc Lpad/Rpad:192-225, SplitPart:1363-1374)
    "lpad3": (
        "s STRING, n BIGINT, p STRING",
        "STRING",
        "CASE WHEN n < 0 THEN CAST(NULL AS STRING) "
        "ELSE lpad(s, CAST(n AS INT), p) END",
    ),
    "rpad3": (
        "s STRING, n BIGINT, p STRING",
        "STRING",
        "CASE WHEN n < 0 THEN CAST(NULL AS STRING) "
        "ELSE rpad(s, CAST(n AS INT), p) END",
    ),
    "split_part3": (
        "s STRING, d STRING, f BIGINT",
        "STRING",
        "CASE WHEN f = 0 THEN split_part(s, d, 0) "
        "WHEN d = '' THEN s "
        "ELSE split_part(s, d, CAST(f AS INT)) END",
    ),
    "charsubstr3": (
        "s STRING, p BIGINT, l BIGINT",
        "STRING",
        "CASE WHEN s IS NULL OR p IS NULL OR l IS NULL THEN CAST(NULL AS STRING) "
        "WHEN p = 0 OR (p < 0 AND length(s) + p + 1 <= 0) THEN '' "
        "ELSE substring(s, p, l) END",
    ),
    "instr4": (
        "s STRING, sub STRING, pos BIGINT, occ BIGINT",
        "INT",
        "CASE "
        "WHEN s IS NULL OR sub IS NULL OR pos IS NULL OR occ IS NULL THEN CAST(NULL AS INT) "
        "WHEN occ <= 0 THEN CAST(raise_error(concat('Invalid occurrence parameter to instr function: ', CAST(occ AS STRING))) AS INT) "
        "WHEN length(sub) = 0 THEN 0 "
        "WHEN pos = 0 OR length(s) = 0 OR length(s) < length(sub) THEN 0 "
        "WHEN pos > 0 THEN coalesce(element_at("
        "  filter(filter(sequence(1, length(s) - length(sub) + 1),"
        "                i -> substring(s, i, length(sub)) = sub),"
        "         p -> p >= pos), CAST(occ AS INT)), 0) "
        "ELSE coalesce(element_at("
        "  filter(filter(sequence(1, length(s) - length(sub) + 1),"
        "                i -> substring(s, i, length(sub)) = sub),"
        "         p -> p <= least(length(s) + pos, length(s) - length(sub)) + 1),"
        "  -CAST(occ AS INT)), 0) "
        "END",
    ),
    # -- BYTE-position instr 3/4-arg (UTF8_MODE off): the same pos/occ
    # window kernel, but run over the UTF-8 byte buffer (encode → binary
    # slices), so positions count bytes exactly like the reference's
    # non-utf8 Instr (string-functions-ir.cc:788-846, match_pos on the
    # raw StringValue). The dialect rewrites instr(s, sub, pos[, occ])
    # and locate(sub, s, pos) here when utf8_mode is off.
    "byteinstr4": (
        "s0 STRING, sub0 STRING, pos BIGINT, occ BIGINT",
        "INT",
        "CASE "
        "WHEN s0 IS NULL OR sub0 IS NULL OR pos IS NULL OR occ IS NULL THEN CAST(NULL AS INT) "
        "WHEN occ <= 0 THEN CAST(raise_error(concat('Invalid occurrence parameter to instr function: ', CAST(occ AS STRING))) AS INT) "
        "WHEN octet_length(sub0) = 0 THEN 0 "
        "WHEN pos = 0 OR octet_length(s0) = 0 OR octet_length(s0) < octet_length(sub0) THEN 0 "
        "WHEN pos > 0 THEN coalesce(element_at("
        "  filter(filter(sequence(1, octet_length(s0) - octet_length(sub0) + 1),"
        "                i -> substring(encode(s0, 'utf-8'), i, octet_length(sub0)) = encode(sub0, 'utf-8')),"
        "         p -> p >= pos), CAST(occ AS INT)), 0) "
        "ELSE coalesce(element_at("
        "  filter(filter(sequence(1, octet_length(s0) - octet_length(sub0) + 1),"
        "                i -> substring(encode(s0, 'utf-8'), i, octet_length(sub0)) = encode(sub0, 'utf-8')),"
        "         p -> p <= least(octet_length(s0) + pos, octet_length(s0) - octet_length(sub0)) + 1),"
        "  -CAST(occ AS INT)), 0) "
        "END",
    ),
    # locate(sub, s, pos) under byte semantics: Hive-style guard (pos out
    # of the BYTE range → 0), then the forward byteinstr window
    # (string-functions-ir.cc LocatePos:863-871). Defined after
    # byteinstr4 — SQL UDF bodies resolve at creation time in dict order.
    "bytelocate3": (
        "sub0 STRING, s0 STRING, pos BIGINT",
        "INT",
        "CASE WHEN s0 IS NULL OR sub0 IS NULL OR pos IS NULL THEN CAST(NULL AS INT) "
        "WHEN pos <= 0 OR pos > octet_length(s0) THEN 0 "
        "ELSE byteinstr4(s0, sub0, pos, 1) END",
    ),
    # initcap under byte semantics (string-functions-ir.cc InitCap): the
    # ASCII byte after a whitespace byte (or string start) is uppercased,
    # every other ASCII byte is lowercased, and non-ASCII bytes (all
    # >= 0x80 in UTF-8) pass through untouched. Split AFTER each
    # whitespace char (zero-width lookbehind) so every piece starts at a
    # word start; translate() maps only the 26 ASCII letters.
    "byteinitcap": (
        "s0 STRING",
        "STRING",
        r"array_join(transform(split(s0, '(?<=\\s)'), "
        r"p -> concat("
        r"translate(left(p, 1), 'abcdefghijklmnopqrstuvwxyz',"
        r" 'ABCDEFGHIJKLMNOPQRSTUVWXYZ'),"
        r"translate(substring(p, 2), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        r" 'abcdefghijklmnopqrstuvwxyz'))), '')",
    ),
}

# Interval arithmetic family (SURVEY §2.11): {unit}_{add,sub}(TIMESTAMP, n).
# Reference kernels: be/src/exprs/timestamp-functions-ir.cc; grammar maps
# `INTERVAL n unit` arithmetic onto these same functions. Spark's
# timestampadd covers every unit at µs resolution; nanoseconds_* documents
# ns→µs truncation (TimestampNTZ/ µs is Spark's finest granularity).
_INTERVAL_UNITS = {
    "years": "YEAR",
    "months": "MONTH",
    "weeks": "WEEK",
    "days": "DAY",
    "hours": "HOUR",
    "minutes": "MINUTE",
    "seconds": "SECOND",
    "milliseconds": "MILLISECOND",
    "microseconds": "MICROSECOND",
}
for _u, _unit in _INTERVAL_UNITS.items():
    _SQL_FUNCTIONS[f"{_u}_add"] = (
        "t TIMESTAMP, n BIGINT",
        "TIMESTAMP",
        f"timestampadd({_unit}, n, t)",
    )
    _SQL_FUNCTIONS[f"{_u}_sub"] = (
        "t TIMESTAMP, n BIGINT",
        "TIMESTAMP",
        f"timestampadd({_unit}, -n, t)",
    )
# DataSketches theta intersect / A-not-B — the two set operations HLL
# cannot express (reference datasketches-functions-ir.cc DsThetaExclude /
# DsThetaIntersectFinalize). They operate on KMV array sketches — the
# representation operators/sketches.py builds (k smallest distinct values
# of xxhash64>>>1, ascending; see that module's header) — and return the
# terminal ESTIMATE as DOUBLE: the reference returns a serialized sketch
# whose only terminal consumer is ds_theta_estimate, so the composition
# collapses, the same convention as the dialect's ds_kll_* rewrites.
# Pure Catalyst expressions: filter/array_except/array_intersect, no UDF.
_THETA_K = 16384  # DEFAULT_K in operators/sketches.py
_SP = "CAST(9223372036854775808 AS DOUBLE)"  # 2^63 = KMV hash space


# The theta cut runs in INTEGER space: comparing 63-bit hashes after a
# CAST to DOUBLE (53-bit mantissa) can misclassify hashes within ~1024 of
# the boundary, and element_at(v, k) + 1 overflows BIGINT when the k-th
# hash is 2^63-1. The bound is the k-th retained hash itself (h <= kth ⇔
# h < kth+1, no +1 needed), BIGINT-max when the sketch is in exact mode;
# the double theta appears only in the final estimate division.
_BIG_MAX = "9223372036854775807"


def _theta_bound(v: str) -> str:
    return (
        f"(CASE WHEN size({v}) < {_THETA_K} THEN {_BIG_MAX} "
        f"ELSE element_at({v}, {_THETA_K}) END)"
    )


_TB = f"least({_theta_bound('a')}, {_theta_bound('b')})"
_TH = (
    f"(CASE WHEN {_TB} = {_BIG_MAX} THEN CAST(1.0 AS DOUBLE) "
    f"ELSE (CAST({_TB} AS DOUBLE) + 1) / {_SP} END)"
)


def _theta_cut(v: str) -> str:
    return f"filter({v}, h -> h <= {_TB})"


_SQL_FUNCTIONS["ds_theta_exclude"] = (
    "a ARRAY<BIGINT>, b ARRAY<BIGINT>",
    "DOUBLE",
    f"CAST(size(array_except({_theta_cut('a')}, {_theta_cut('b')})) AS DOUBLE)"
    f" / {_TH}",
)
_SQL_FUNCTIONS["ds_theta_intersect_f"] = (
    "a ARRAY<BIGINT>, b ARRAY<BIGINT>",
    "DOUBLE",
    f"CAST(size(array_intersect({_theta_cut('a')}, {_theta_cut('b')})) AS DOUBLE)"
    f" / {_TH}",
)

_SQL_FUNCTIONS["nanoseconds_add"] = (
    "t TIMESTAMP, n BIGINT",
    "TIMESTAMP",
    "timestampadd(MICROSECOND, n div 1000, t)",
)
_SQL_FUNCTIONS["nanoseconds_sub"] = (
    "t TIMESTAMP, n BIGINT",
    "TIMESTAMP",
    "timestampadd(MICROSECOND, -(n div 1000), t)",
)


@F.pandas_udf(T.StringType())
def _ds_format_value_udf(v: pd.Series) -> pd.Series:
    """ds_format_value(x) → C++ default-stream rendering of a number
    ("%.6g": 6 significant digits, no trailing zeros) — the formatting the
    reference's DataSketches *_as_string functions inherit from
    std::stringstream (datasketches-functions-ir.cc
    DsKllVectorResultToStringVal / DsHllEstimateBoundsAsString). Internal
    helper emitted by the dialect's ds_* rendering rewrites."""

    def f(x: object) -> str | None:
        if x is None or pd.isna(x):
            return None
        return "%.6g" % float(x)

    return v.map(f)


@F.pandas_udf(T.StringType())
def _gjo_wild_udf(js: pd.Series, path: pd.Series) -> pd.Series:
    """get_json_object with wildcard steps (string-functions.cc
    GetJsonObjectImpl, a BFS over $.key / $.* / [n] / [*] steps;
    expr-test.cc:10105-10141 pin the semantics):

      * each step maps over the current match set — `.key` selects the
        member, `.*` all members of objects, `[n]` the n-th array element,
        `[*]` all array elements;
      * 0 matches → NULL; 1 match → the raw value (strings UNQUOTED);
      * >1 matches → a compact JSON array rendering (strings quoted).

    The dialect routes literal paths containing '*' here; non-wildcard
    paths stay on Spark's native get_json_object."""
    import json as _json

    step_rx = re.compile(r"\.([^.\[]+)|\[(\d+|\*)\]")

    def parse_path(p: str):
        p = "".join(p.split())
        if not p.startswith("$"):
            return None
        steps, pos = [], 1
        while pos < len(p):
            m = step_rx.match(p, pos)
            if m is None:
                return None
            if m.group(1) is not None:
                steps.append(("key", m.group(1)))
            elif m.group(2) == "*":
                steps.append(("arr*", None))
            else:
                steps.append(("idx", int(m.group(2))))
            pos = m.end()
        return steps

    def f(doc_s: object, path_s: object) -> str | None:
        if doc_s is None or path_s is None:
            return None
        steps = parse_path(str(path_s))
        if steps is None:
            return None
        try:
            doc = _json.loads(str(doc_s))
        except ValueError:  # not a JSON document
            return None
        cur = [doc]
        for kind, arg in steps:
            nxt = []
            for d in cur:
                if kind == "key" and arg == "*":
                    if isinstance(d, dict):
                        nxt.extend(d.values())
                elif kind == "key":
                    if isinstance(d, dict) and arg in d:
                        nxt.append(d[arg])
                elif kind == "arr*":
                    if isinstance(d, list):
                        nxt.extend(d)
                elif kind == "idx":
                    if isinstance(d, list) and arg < len(d):
                        nxt.append(d[arg])
            cur = nxt
        if not cur:
            return None
        if len(cur) == 1:
            v = cur[0]
            if v is None:
                return None
            if isinstance(v, str):
                return v
            return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
        return _json.dumps(cur, separators=(",", ":"), ensure_ascii=False)

    if len(js) == 0:
        return pd.Series([], dtype=object)
    return pd.Series([f(a, b) for a, b in zip(js, path)])


def _parse_url_one(url: object, part: object, key: object = None):
    """The reference's URL scanner (util/url-parser.cc ParseUrl /
    ParseUrlKey): protocol found by searching '://' (so 'htt@p' protocols
    parse), authority ends at the first '/' or '?', HOST strips userinfo
    at the FIRST '@' and the port at ':', FILE ends at '#', PATH at '?' or
    '#', QUERY-with-key scans for '?key=' / '&key=' occurrences.  Java's
    URI-based parse_url rejects several of these shapes
    (expr-test.cc:5073-5347)."""
    if url is None or part is None:
        return None
    u = str(url).strip(" ")
    p = str(part)
    if key is not None:
        if p != "QUERY":
            return None
        k = str(key)
        if not k:
            return None
        s = u
        while s:
            kp = s.find(k)
            if kp < 0:
                return None
            preceded = kp > 0 and s[kp - 1] in "?&"
            s = s[kp + len(k):]
            if not preceded:
                continue
            if not s:
                break
            if s[0] != "=":
                continue
            for pos in range(1, len(s)):
                if s[pos] in "#&":
                    return s[1:pos]
            return s[1:]
        return None
    pp = u.find("://")
    if pp < 0:
        return None
    after = u[pp + 3:]

    def sub(s: str, start: int, end: int) -> str:
        return s[start:] if end < 0 else s[start:end]

    fs = after.find("/")
    fq = after.find("?")
    auth_end = fs
    if fs < 0 or (0 <= fq < fs):
        auth_end = fq
    if p == "AUTHORITY":
        return sub(after, 0, auth_end)
    if p in ("FILE", "PATH"):
        sp = after.find("/")
        if sp < 0:
            return ""  # Hive contract
        ps = after[sp:]
        if p == "FILE":
            ep = ps.find("#")
        else:
            ep = ps.find("?")
            if ep < 0:
                ep = ps.find("#")
        return sub(ps, 0, ep)
    if p == "HOST":
        auth = sub(after, 0, auth_end)
        ap = auth.find("@")
        hp = auth[ap + 1:] if ap >= 0 else auth
        return sub(hp, 0, hp.find(":"))
    if p == "PROTOCOL":
        return u[:pp]
    if p == "QUERY":
        qp = after.find("?")
        if qp < 0:
            return None
        qs = after[qp + 1:]
        return sub(qs, 0, qs.find("#"))
    if p == "REF":
        hp2 = after.find("#")
        return None if hp2 < 0 else after[hp2 + 1:]
    if p == "USERINFO":
        ap = after.find("@")
        if ap < 0 or (auth_end > 0 and ap > auth_end):
            return None
        return after[:ap]
    return None


@F.pandas_udf(T.StringType())
def _parse_url2_udf(url: pd.Series, part: pd.Series) -> pd.Series:
    if len(url) == 0:
        return pd.Series([], dtype=object)
    return pd.Series([_parse_url_one(a, b) for a, b in zip(url, part)])


@F.pandas_udf(T.StringType())
def _parse_url3_udf(
    url: pd.Series, part: pd.Series, key: pd.Series
) -> pd.Series:
    if len(url) == 0:
        return pd.Series([], dtype=object)
    return pd.Series(
        [_parse_url_one(a, b, c) for a, b, c in zip(url, part, key)]
    )


@F.pandas_udf(T.LongType())
def _wb_precise_udf(
    x: pd.Series, mn: pd.Series, mx: pd.Series, n: pd.Series
) -> pd.Series:
    """width_bucket over DECIMAL arguments with exact arithmetic
    (math-functions-ir.cc WidthBucketImpl works in int128/256; Spark's
    native goes through double and misbuckets near 1e38 —
    expr-test.cc:6013/6038/6041). The dialect routes decimal-typed or
    >15-digit-literal calls here with stringified args."""
    from decimal import Decimal, getcontext

    getcontext().prec = 80

    def f(xv, mnv, mxv, nv):
        if xv is None or mnv is None or mxv is None or nv is None:
            return None
        xd, mnd, mxd, nd = Decimal(str(xv)), Decimal(str(mnv)), \
            Decimal(str(mxv)), int(nv)
        if xd < mnd:
            return 0
        if xd >= mxd:
            return nd + 1
        return int(((xd - mnd) * nd) / (mxd - mnd)) + 1

    if len(x) == 0:
        return pd.Series([], dtype="int64")
    return pd.Series(
        [f(a, b, c, d) for a, b, c, d in zip(x, mn, mx, n)],
        dtype="object",
    )


def _shortest_g(v: float, float32: bool) -> str | None:
    """gutil DoubleToBuffer/FloatToBuffer: the shortest %g rendering that
    round-trips — 'inf'/'-inf'/'nan' for the specials (the reference's
    CAST(double AS STRING); expr-test.cc:5675 pins 'inf')."""
    import math

    if v is None:
        return None
    if math.isnan(v):
        return "nan"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    # gutil numbers.cc: FloatToBuffer tries FLT_DIG then FLT_DIG+3
    # (6 -> 9); DoubleToBuffer tries DBL_DIG then DBL_DIG+2 (15 -> 17)
    if float32:
        import numpy as np

        v32 = np.float32(v)
        for p in (6, 9):
            s = "%.*g" % (p, v32)
            if np.float32(s) == v32:
                return s
        return s
    for p in (15, 17):
        s = "%.*g" % (p, v)
        if float(s) == v:
            return s
    return s


# NULL vs NaN are indistinguishable in the float64 pandas series, so the
# dialect emits CASE WHEN x IS NULL THEN NULL ELSE dtos(x) END — inside
# the kernel a NaN is a genuine NaN
@F.pandas_udf(T.StringType())
def _dtos_udf(v: pd.Series) -> pd.Series:
    return v.map(lambda x: _shortest_g(x, False))


@F.pandas_udf(T.StringType())
def _ftos_udf(v: pd.Series) -> pd.Series:
    return v.map(lambda x: _shortest_g(x, True))


@F.pandas_udf(T.BooleanType())
def _sleep_udf(ms: pd.Series) -> pd.Series:
    """sleep(ms) → TRUE after sleeping (UtilityFunctions::Sleep,
    impala_functions.py:691). Test/throttle utility — never a hot path."""
    import time

    def f(v: object) -> bool | None:
        if v is None:
            return None
        time.sleep(int(v) / 1000.0)
        return True

    return ms.map(f)


def register_all(spark: SparkSession) -> None:
    """Register the Python-UDF kernels on this session (idempotent).

    These are the Impala-only scalars SQL cannot express; no SQL-bodied
    function calls them.  The dialect's SQL-bodied library is registered
    by `register_sql_functions`.  A repeat call on the same live session
    is skipped; the marker is an attribute on the session object itself,
    so it dies with the session and a fresh session always registers."""
    if getattr(spark, "_hopspark_fns_registered", False):
        return
    spark.udf.register("fnv_hash", _fnv_hash_udf)
    spark.udf.register("murmur_hash", _murmur_hash_udf)
    spark.udf.register("sleep", _sleep_udf)
    spark.udf.register("ds_format_value", _ds_format_value_udf)
    spark.udf.register("gjo_wild", _gjo_wild_udf)
    spark.udf.register("wb_precise", _wb_precise_udf)
    spark.udf.register("dtos", _dtos_udf)
    spark.udf.register("ftos", _ftos_udf)
    spark.udf.register("parse_url2", _parse_url2_udf)
    spark.udf.register("parse_url3", _parse_url3_udf)
    spark.udf.register("jaro_distance", _jaro_distance_udf)
    spark.udf.register("jaro_similarity", _jaro_similarity_udf)
    spark.udf.register("jaro_winkler_similarity", _jaro_winkler_similarity_udf)
    spark.udf.register("jaro_winkler_distance", _jaro_winkler_distance_udf)
    spark.udf.register("damerau_levenshtein", _damerau_levenshtein_udf)
    spark._hopspark_fns_registered = True


def register_sql_functions(spark: SparkSession) -> None:
    """Register the dialect's SQL-bodied functions on this session
    (idempotent): every `_SQL_FUNCTIONS` entry, and the utility constants
    pid, coordinator and current_session (impala_functions.py:682-694).

    Only the translator emits these names, so `Engine.__init__` calls this
    and a session that never runs `Engine.sql` does not pay for ~130
    CREATE TEMPORARY FUNCTION statements (seconds on a cold JVM).  The
    constants describe the COORDINATOR (Spark: the driver), so they are
    resolved driver-side here and registered as constant SQL bodies.  A
    repeat call on the same live session is skipped (session-object
    marker, as in `register_all`)."""
    if getattr(spark, SQL_LIBRARY_MARKER, False):
        return
    host = socket.gethostname()
    functions = {
        "pid": ("", "INT", str(os.getpid())),
        "coordinator": ("", "STRING", f"'{host}'"),
        "current_session": ("", "STRING", f"'{host}:{os.getpid()}'"),
        **_SQL_FUNCTIONS,
    }
    for name, (params, rtype, body) in functions.items():
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                f"RETURNS {rtype} RETURN {body}"
            )
        except AnalysisException as exc:
            # a builtin of the same name, in a Spark version that ships
            # one, wins; any other failure is a broken body
            if exc.getCondition() != (
                "USER_DEFINED_FUNCTIONS.CANNOT_REPLACE_NON_SQL_UDF_WITH_SQL_UDF"
            ):
                raise
    setattr(spark, SQL_LIBRARY_MARKER, True)
