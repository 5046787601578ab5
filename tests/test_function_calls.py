"""The call table of the translator's function pass
(`hopspark.dialect.translate._CALLS`): one example call per table entry
and per arity row, with what `_rewrite_functions` makes of it, and the
checks that keep the examples and the table in step.  Pure token
rewrites: no Spark session is started."""

from __future__ import annotations

import importlib
from unittest import mock

import pytest

T = importlib.import_module("hopspark.dialect.translate")


def _rewritten(sql: str) -> str:
    return T.untokenize(T._rewrite_functions(T.tokenize(sql)))


#: (call, what the function pass makes of it), in table order
EXAMPLES = [
    (
        "years_add(d, 1)",
        (
            "(CASE WHEN year(((d) + make_interval((CASE WHEN abs64(CAST((1) "
            "AS BIGINT)) <= 20000 THEN (1) END), 0, 0, 0, 0, 0, 0))) BETWEEN "
            "(CASE WHEN upper(typeof(((d) + make_interval((CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 20000 THEN (1) END), 0, 0, 0, 0, "
            "0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) + "
            "make_interval((CASE WHEN abs64(CAST((1) AS BIGINT)) <= 20000 "
            "THEN (1) END), 0, 0, 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "years_sub(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval((CASE WHEN abs64(CAST((1) "
            "AS BIGINT)) <= 20000 THEN (1) END), 0, 0, 0, 0, 0, 0))) BETWEEN "
            "(CASE WHEN upper(typeof(((d) - make_interval((CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 20000 THEN (1) END), 0, 0, 0, 0, "
            "0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) - "
            "make_interval((CASE WHEN abs64(CAST((1) AS BIGINT)) <= 20000 "
            "THEN (1) END), 0, 0, 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "weeks_add(d, 1)",
        (
            "(CASE WHEN year(((d) + make_interval(0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 1050000 THEN (1) END), 0, 0, 0, "
            "0))) BETWEEN (CASE WHEN upper(typeof(((d) + make_interval(0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 1050000 THEN (1) END), "
            "0, 0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) "
            "+ make_interval(0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "1050000 THEN (1) END), 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "weeks_sub(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval(0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 1050000 THEN (1) END), 0, 0, 0, "
            "0))) BETWEEN (CASE WHEN upper(typeof(((d) - make_interval(0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 1050000 THEN (1) END), "
            "0, 0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) "
            "- make_interval(0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "1050000 THEN (1) END), 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "days_add(d, 1)",
        (
            "(CASE WHEN year(((d) + make_interval(0, 0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), 0, 0, 0))) "
            "BETWEEN (CASE WHEN upper(typeof(((d) + make_interval(0, 0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), "
            "0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) + "
            "make_interval(0, 0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "7400000 THEN (1) END), 0, 0, 0)) END)"
        ),
    ),
    (
        "days_sub(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval(0, 0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), 0, 0, 0))) "
            "BETWEEN (CASE WHEN upper(typeof(((d) - make_interval(0, 0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), "
            "0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) - "
            "make_interval(0, 0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "7400000 THEN (1) END), 0, 0, 0)) END)"
        ),
    ),
    ("date_add(d, INTERVAL 3 days)", "(d +  INTERVAL 3 days)"),
    (
        "date_sub(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval(0, 0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), 0, 0, 0))) "
            "BETWEEN (CASE WHEN upper(typeof(((d) - make_interval(0, 0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), "
            "0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) - "
            "make_interval(0, 0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "7400000 THEN (1) END), 0, 0, 0)) END)"
        ),
    ),
    (
        "adddate(d, 1)",
        (
            "(CASE WHEN year(((d) + make_interval(0, 0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), 0, 0, 0))) "
            "BETWEEN (CASE WHEN upper(typeof(((d) + make_interval(0, 0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), "
            "0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) + "
            "make_interval(0, 0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "7400000 THEN (1) END), 0, 0, 0)) END)"
        ),
    ),
    (
        "subdate(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval(0, 0, 0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), 0, 0, 0))) "
            "BETWEEN (CASE WHEN upper(typeof(((d) - make_interval(0, 0, 0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 7400000 THEN (1) END), "
            "0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN ((d) - "
            "make_interval(0, 0, 0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "7400000 THEN (1) END), 0, 0, 0)) END)"
        ),
    ),
    (
        "months_add_interval(d, 1)",
        (
            "(CASE WHEN year(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END), 0, 0, 0, 0, "
            "0))) BETWEEN (CASE WHEN upper(typeof(((d) + make_interval(0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END), "
            "0, 0, 0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END), 0, 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "months_sub_interval(d, 1)",
        (
            "(CASE WHEN year(((d) - make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END), 0, 0, 0, 0, "
            "0))) BETWEEN (CASE WHEN upper(typeof(((d) - make_interval(0, "
            "(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END), "
            "0, 0, 0, 0, 0)))) = 'DATE' THEN 1 ELSE 1400 END) AND 9999 THEN "
            "((d) - make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END), 0, 0, 0, 0, 0)) END)"
        ),
    ),
    (
        "months_add(d, 1)",
        (
            "(CASE WHEN year((CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END)) BETWEEN (CASE WHEN "
            "upper(typeof((CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END))) = 'DATE' THEN 1 ELSE 1400 END) AND "
            "9999 THEN (CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END) END)"
        ),
    ),
    (
        "add_months(d, 1)",
        (
            "(CASE WHEN year((CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END)) BETWEEN (CASE WHEN "
            "upper(typeof((CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END))) = 'DATE' THEN 1 ELSE 1400 END) AND "
            "9999 THEN (CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 "
            "THEN (1) END))) + make_interval(0, 0, 0, datediff(last_day(((d) "
            "+ make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))), DATE(((d) + make_interval(0, (CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE "
            "((d) + make_interval(0, (CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END) END)"
        ),
    ),
    (
        "months_sub(d, 1)",
        (
            "(CASE WHEN year((CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, -(CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) + make_interval(0, 0, 0, "
            "datediff(last_day(((d) + make_interval(0, -(CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))), DATE(((d) "
            "+ make_interval(0, -(CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))))) ELSE ((d) + make_interval(0, -(CASE "
            "WHEN abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END))) END)) "
            "BETWEEN (CASE WHEN upper(typeof((CASE WHEN day(d) = "
            "day(last_day(d)) THEN ((d) + make_interval(0, -(CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END))) + "
            "make_interval(0, 0, 0, datediff(last_day(((d) + make_interval(0, "
            "-(CASE WHEN abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) "
            "END)))), DATE(((d) + make_interval(0, -(CASE WHEN abs64(CAST((1) "
            "AS BIGINT)) <= 240001 THEN (1) END)))))) ELSE ((d) + "
            "make_interval(0, -(CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) END))) = 'DATE' THEN 1 ELSE 1400 END) AND "
            "9999 THEN (CASE WHEN day(d) = day(last_day(d)) THEN ((d) + "
            "make_interval(0, -(CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END))) + make_interval(0, 0, 0, "
            "datediff(last_day(((d) + make_interval(0, -(CASE WHEN "
            "abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END)))), DATE(((d) "
            "+ make_interval(0, -(CASE WHEN abs64(CAST((1) AS BIGINT)) <= "
            "240001 THEN (1) END)))))) ELSE ((d) + make_interval(0, -(CASE "
            "WHEN abs64(CAST((1) AS BIGINT)) <= 240001 THEN (1) END))) END) "
            "END)"
        ),
    ),
    ("factorial(5)", "factorial_k(5)"),
    ("ltrim(s, 'ab')", "ltrim2(s, 'ab')"),
    ("rtrim(s, 'ab')", "rtrim2(s, 'ab')"),
    ("btrim(s, 'ab')", "btrim2(s, 'ab')"),
    ("conv(s, 16, 10)", "conv3(s, 16, 10)"),
    ("regexp_match_count(s, 'a', 1)", "regexp_match_count3(s, 'a', 1)"),
    (
        "regexp_match_count(s, 'a', 1, 'i')",
        "regexp_match_count4(s, 'a', 1, 'i')",
    ),
    ("from_unixtime(x)", "from_unixtime1(x)"),
    ("from_unixtime(x, 'yyyy')", "from_unixtime2(x, 'yyyy')"),
    ("unhex(s)", "unhex1(s)"),
    ("chr(x)", "chr1(x)"),
    ("lpad(s, 5, 'x')", "lpad3(s, 5, 'x')"),
    ("rpad(s, 5, 'x')", "rpad3(s, 5, 'x')"),
    ("split_part(s, ',', 2)", "split_part3(s, ',', 2)"),
    ("isnull(a, b)", "nvl(a, b)"),
    ("instr(s, 'a', 2)", "instr4(s, 'a', 2, 1)"),
    ("instr(s, 'a', 2, 1)", "instr4(s, 'a', 2, 1)"),
    ("rotateleft(x, 2)", "rotl3(x, 2, 64)"),
    ("rotateright(cast(1 as tinyint), 2)", "rotr3(cast(1 as tinyint), 2, 8)"),
    ("countset(x)", "countset1w(x, 64)"),
    ("countset(5, 1)", "countset2w(5, 1, 8)"),
    ("getbit(x, 2)", "getbitw(x, 2, 64)"),
    ("setbit(cast(1 as smallint), 2)", "setbitw(cast(1 as smallint), 2, 16)"),
    ("setbit(x, 2, 0)", "setbit4w(x, 2, 0, 64)"),
    ("appx_median(x)", "percentile_approx(x, 0.5)"),
    ("nullifzero(x)", "nullif(x, 0)"),
    ("zeroifnull(x)", "coalesce(x, 0)"),
    ("dayname(d)", "date_format(d, 'EEEE')"),
    ("monthname(d)", "date_format(d, 'MMMM')"),
    ("group_concat(s)", "string_agg(s, ', ')"),
    (
        "ln(x)",
        (
            "(CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 "
            "THEN ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN CAST('-Infinity' "
            "AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END)"
        ),
    ),
    (
        "dlog1(x)",
        (
            "(CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 "
            "THEN ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN CAST('-Infinity' "
            "AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END)"
        ),
    ),
    (
        "log10(x)",
        (
            "(CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 "
            "THEN log10(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END)"
        ),
    ),
    (
        "dlog10(x)",
        (
            "(CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 "
            "THEN log10(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END)"
        ),
    ),
    (
        "log2(x)",
        (
            "(CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 "
            "THEN log2(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END)"
        ),
    ),
    (
        "log(2, x)",
        (
            "(CASE WHEN (CASE WHEN (2) IS NULL THEN CAST(NULL AS DOUBLE) WHEN "
            "(2) > 0 THEN ln(CAST((2) AS DOUBLE)) WHEN (2) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) = 0 "
            "THEN (CASE WHEN (CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) "
            "WHEN (x) > 0 THEN ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) > 0 "
            "THEN CAST('Infinity' AS DOUBLE) WHEN (CASE WHEN (x) IS NULL THEN "
            "CAST(NULL AS DOUBLE) WHEN (x) > 0 THEN ln(CAST((x) AS DOUBLE)) "
            "WHEN (x) = 0 THEN CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS "
            "DOUBLE) END) < 0 THEN CAST('-Infinity' AS DOUBLE) WHEN (CASE "
            "WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > 0 THEN "
            "ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN CAST('-Infinity' AS "
            "DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) = 0 THEN CAST('NaN' AS "
            "DOUBLE) ELSE (CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) "
            "WHEN (x) > 0 THEN ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) END) "
            "ELSE (CASE WHEN (x) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (x) > "
            "0 THEN ln(CAST((x) AS DOUBLE)) WHEN (x) = 0 THEN "
            "CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) / "
            "(CASE WHEN (2) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (2) > 0 "
            "THEN ln(CAST((2) AS DOUBLE)) WHEN (2) = 0 THEN CAST('-Infinity' "
            "AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) END)"
        ),
    ),
    (
        "round(cast(x as float), 2)",
        "round(CAST((cast(x as float)) AS DOUBLE), 2)",
    ),
    (
        "dround(cast(x as decimal(5,2)), 1)",
        "CAST(round(cast(x as decimal(5,2)), 1) AS DECIMAL(5, 1))",
    ),
    ("mask_hash(1)", "CAST(NULL AS BIGINT)"),
    ("parse_url(u, 'HOST')", "parse_url2(u, 'HOST')"),
    (
        "unix_timestamp(s, 'yyyy-MM-dd+hh:mm')",
        "unix_timestamp(s, 'yyyy-MM-ddXXX')",
    ),
    (
        "to_timestamp(s, 'yyyy-MM-ddTHH')",
        "to_timestamp(bytesubstr3(s, 1, 13), 'yyyy-MM-dd''T''HH')",
    ),
    ("from_utc_timestamp(ts, 'FOOBAR')", "(ts)"),
    ("to_utc_timestamp(ts, 'PST')", "to_utc_timestamp(ts, 'PST')"),
    (
        "width_bucket(x, 0.5, 100, 10)",
        (
            "wb_precise(CAST(x AS STRING), CAST(0.5 AS STRING), CAST(100 AS "
            "STRING), 10)"
        ),
    ),
    ("typeof(x)", "upper(typeof(x))"),
    ("fmod(x, 2)", "mod(CAST((x) AS DOUBLE), CAST((2) AS DOUBLE))"),
    ("truncate(x)", "truncate(x, 0)"),
    ("dtrunc(ts, 'MM')", "date_trunc('MONTH', ts)"),
    (
        "trunc(ts, 'CENTURY')",
        (
            "(CASE WHEN (year(ts) - (((year(ts) - 1) % (100) + (100)) % "
            "(100))) >= 1400 THEN CAST(make_date((year(ts) - (((year(ts) - 1) "
            "% (100) + (100)) % (100))), 1, 1) AS TIMESTAMP) END)"
        ),
    ),
    (
        "regexp_replace(s, '(a)', '\\\\1$')",
        "regexp_replace(s, '(a)', '$1\\\\$')",
    ),
    ("pmod(x, y)", "(((x) % (y) + (y)) % (y))"),
    (
        "greatest(x, y)",
        (
            "element_at(transform(array(array((x), (y))), __hs_a -> CASE WHEN "
            "exists(__hs_a, __hs_x -> __hs_x IS NULL) THEN NULL ELSE "
            "array_max(__hs_a) END), 1)"
        ),
    ),
    (
        "least(x, y)",
        (
            "element_at(transform(array(array((x), (y))), __hs_a -> CASE WHEN "
            "exists(__hs_a, __hs_x -> __hs_x IS NULL) THEN NULL ELSE "
            "array_min(__hs_a) END), 1)"
        ),
    ),
    ("extract(ts, 'year')", "CAST(extract('year', ts) AS BIGINT)"),
    ("date_part('year', ts)", "CAST(extract('year', ts) AS BIGINT)"),
    ("precision(1.25)", "3"),
    ("scale(x)", "scale_of(upper(typeof(x)))"),
    ("aggif(x = 1, y)", "max(CASE WHEN x = 1 THEN  y END)"),
    (
        "histogram(x)",
        "array_join(sort_array(collect_list(CAST(x AS STRING))), ', ')",
    ),
    (
        "ds_kll_quantile(ds_kll_sketch(x), 0.5)",
        "CAST(percentile(x, 0.5) AS FLOAT)",
    ),
    ("ds_kll_rank(ds_kll_sketch(x), 3)", "avg(CAST((x) <  3 AS DOUBLE))"),
    ("ds_kll_n(ds_kll_sketch(x))", "count(x)"),
    (
        "ds_kll_quantiles_as_string(ds_kll_sketch(x), 0.5)",
        "concat(ds_format_value(CAST(percentile(x, 0.5) AS FLOAT)))",
    ),
    (
        "ds_kll_cdf_as_string(ds_kll_sketch(x), 1)",
        "concat(ds_format_value(avg(CAST(x < 1 AS DOUBLE))), ',', '1')",
    ),
    (
        "ds_kll_pmf_as_string(ds_kll_sketch(x), 1)",
        (
            "concat(ds_format_value(avg(CAST(x < 1 AS DOUBLE))), ',', "
            "ds_format_value(avg(CAST(x >= 1 AS DOUBLE))))"
        ),
    ),
    (
        "ds_kll_stringify(ds_kll_sketch(x))",
        (
            "concat('### KLL sketch summary:\\n','   K              : "
            "200\\n','   min K          : 200\\n','   M              : "
            "8\\n','   N              : ', CAST(count(x) AS STRING), "
            "'\\n','   Epsilon        : 1.33%\\n','   Epsilon PMF    : "
            "1.65%\\n','   Empty          : false\\n','   Estimation mode: ', "
            "IF(count(x) > 200, 'true', 'false'), '\\n','   Levels         : "
            "', CAST(IF(count(x) <= 200, 1, CAST(ceil((CASE WHEN (count(x) / "
            "200.0) IS NULL THEN CAST(NULL AS DOUBLE) WHEN (count(x) / 200.0) "
            "> 0 THEN log2(CAST((count(x) / 200.0) AS DOUBLE)) WHEN (count(x) "
            "/ 200.0) = 0 THEN CAST('-Infinity' AS DOUBLE) ELSE CAST('NaN' AS "
            "DOUBLE) END)) AS BIGINT) + 1) AS STRING), '\\n','   "
            "Sorted         : false\\n','   Min value      : ', "
            "ds_format_value(CAST(min(x) AS DOUBLE)), '\\n','   Max "
            "value      : ', ds_format_value(CAST(max(x) AS DOUBLE)), "
            "'\\n','### End sketch summary\\n')"
        ),
    ),
    (
        "ds_hll_estimate_bounds_as_string(sk, 3)",
        (
            "concat(ds_format_value(CAST(hll_sketch_estimate(sk) AS DOUBLE)), "
            "',', ds_format_value(CAST(hll_sketch_estimate(sk) AS DOUBLE) / "
            "1.04875), ',', ds_format_value(CAST(hll_sketch_estimate(sk) AS "
            "DOUBLE) * 1.04875))"
        ),
    ),
    ("regexp_like(s, 'a', 'in')", "rlike(s, concat('(?is)',  'a'))"),
    ("date_trunc('milliseconds', ts)", "date_trunc('MILLISECOND', ts)"),
    ("get_json_object(j, ' $.*')", "gjo_wild(j, '$.*')"),
    ("mask(s, 65)", "maskchars((s), 'A', 'x', 'n', CAST(NULL AS STRING))"),
    (
        "mask_first_n(s)",
        "mask_first_n6((s), 4, 'X', 'x', 'n', CAST(NULL AS STRING))",
    ),
    (
        "mask_last_n(s, 2, 'a', 'b')",
        "mask_last_n6(s, 2, 'a', 'b', 'n', CAST(NULL AS STRING))",
    ),
    (
        "mask_show_first_n(cast(x as int), 2)",
        (
            "CAST(mask_show_first_n6(CAST(cast(x as int) AS STRING), 2, 'X', "
            "'x', '1', CAST(NULL AS STRING)) AS BIGINT)"
        ),
    ),
    ("mask_show_last_n(NULL)", "NULL"),
    ("distinctfrom(a, b)", "not(a <=>  b)"),
    ("notdistinct(a, b)", "(a <=>  b)"),
    ("sampled_ndv(x, 0.1)", "approx_count_distinct(x)"),
    ("abs(cast(x as tinyint))", "abs8(cast(x as tinyint))"),
    (
        "shiftleft(cast(x as tinyint), 8)",
        "CAST(shl3(CAST((cast(x as tinyint)) AS BIGINT), 8, 8) AS TINYINT)",
    ),
    (
        "shiftright(cast(x as int), 1)",
        "CAST(shr3(CAST((cast(x as int)) AS BIGINT), 1, 32) AS INT)",
    ),
    (
        "regexp_extract(s, '(a)', 2)",
        "CASE WHEN (s) IS NULL THEN CAST(NULL AS STRING) ELSE '' END",
    ),
    (
        "first_value(x ignore nulls) over (order by y)",
        "first_value(x ) IGNORE NULLS over (order by y)",
    ),
    (
        "last_value(x ignore nulls) over (order by y)",
        "last_value(x ) IGNORE NULLS over (order by y)",
    ),
    (
        "lag(x ignore nulls) over (order by y)",
        "lag(x ) IGNORE NULLS over (order by y)",
    ),
    (
        "lead(x ignore nulls) over (order by y)",
        "lead(x ) IGNORE NULLS over (order by y)",
    ),

]


@pytest.mark.parametrize("call,expected", EXAMPLES)
def test_call_translation(call, expected):
    assert _rewritten(call) == expected


def test_examples_cover_every_table_entry():
    """Every name of the table, every arity row and every width row is
    reached by an example."""
    hit: set[tuple[str, int]] = set()

    def recording(name, handler):
        def run(toks, i, j, close, args):
            hit.add((name, len(args)))
            return handler(toks, i, j, close, args)
        return run

    with mock.patch.dict(T._CALLS, {
        name: recording(name, handler) for name, handler in T._CALLS.items()
    }):
        for call, _ in EXAMPLES:
            _rewritten(call)
    assert {name for name, _ in hit} == set(T._CALLS)
    assert set(T._ARITY_KERNELS) | set(T._WIDTH_KERNELS) <= hit


@pytest.mark.parametrize(
    "call,expected",
    [
        # the kernel decides: c after i is case-sensitive, an illegal
        # letter raises, a non-literal is read at runtime
        ("regexp_like(s, p, 'ic')", "regexp_like3(s, p, 'ic')"),
        ("regexp_like(s, p, 'ci')", "regexp_like3(s, p, 'ci')"),
        ("regexp_like(s, p, 'x')", "regexp_like3(s, p, 'x')"),
        ("regexp_like(s, p, 'I')", "regexp_like3(s, p, 'I')"),
        ("regexp_like(s, p, 'i' || f)", "regexp_like3(s, p, 'i' || f)"),
        ("regexp_like(s, p, '')", "rlike(s, concat('(?)',  p))"),
        ("regexp_like(s, p)", "regexp_like(s, p)"),
    ],
)
def test_regexp_like_folds_only_i_m_n_flags(call, expected):
    assert _rewritten(call) == expected


@pytest.mark.parametrize(
    "name,known",
    [
        ("UTC", True),
        ("Europe/Paris", True),
        ("+05:30", True),
        ("FOOBAR", False),  # ZoneInfoNotFoundError
        ("", False),  # ValueError
        ("/etc/passwd", False),  # ValueError: absolute path
        ("zone.tab", False),  # ValueError: not a zone file
        ("America", False),  # OSError: a directory
        ("x" * 300, False),  # OSError: name too long
    ],
)
def test_unknown_timezones_are_not_known(name, known):
    assert T._tz_known(name) is known


@pytest.mark.parametrize(
    "call,expected",
    [
        (
            "mask(dayname(d), 65)",
            "maskchars((date_format(d, 'EEEE')), 'A', 'x', 'n', "
            "CAST(NULL AS STRING))",
        ),
        (
            "mask(cast(d as date), 1, 2, 3, 4, 5, zeroifnull(a), 0, 1)",
            "mask_date3((cast(d as date)), coalesce(a, 0), 0, 1)",
        ),
        (
            "width_bucket(zeroifnull(x), 0.5, 100, 10)",
            "wb_precise(CAST(coalesce(x, 0) AS STRING), CAST(0.5 AS STRING), "
            "CAST(100 AS STRING), 10)",
        ),
        ("from_utc_timestamp(zeroifnull(ts), 'FOOBAR')", "(coalesce(ts, 0))"),
        (
            "round(cast(x as float), zeroifnull(n))",
            "round(CAST((cast(x as float)) AS DOUBLE), coalesce(n, 0))",
        ),
    ],
)
def test_spliced_arguments_are_translated(call, expected):
    """A handler that splices its arguments and steps over the splice
    rewrites the dialect calls inside them first."""
    assert _rewritten(call) == expected
