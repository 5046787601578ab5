"""The cast table of the translator (`hopspark.dialect.translate._CASTS`):
one example cast per table row, with what `_rewrite_casts` makes of it,
and the check that keeps the examples and the table in step.  Pure token
rewrites: no Spark session is started."""

from __future__ import annotations

import importlib
from unittest import mock

import pytest

T = importlib.import_module("hopspark.dialect.translate")

#: the column map the examples are translated with
COLUMN_TYPES = {"s": "STRING", "x": "DOUBLE"}


def _rewritten(sql: str) -> str:
    try:
        return T.untokenize(T._rewrite_casts(T.tokenize(sql), COLUMN_TYPES))
    except ValueError as exc:
        return f"ValueError: {exc}"


#: (cast, what the cast pass makes of it), in table order
EXAMPLES = [
    ("CAST('3.9' AS TINYINT)", "CAST(NULL AS TINYINT)"),
    ("CAST(' -7 ' AS SMALLINT)", "CAST(' -7 ' AS SMALLINT)"),
    (
        "CAST(s AS INT)",
        "CAST(CASE WHEN (s) rlike '^\\\\s*[+-]?[0-9]+\\\\s*$' THEN (s) "
        "ELSE NULL END AS INT)",
    ),
    (
        "CAST(DATE '2020-01-01' AS BIGINT)",
        "ValueError: Invalid type cast of DATE '2020-01-01' from DATE to "
        "BIGINT",
    ),
    (
        "CAST(DATE '2020-01-01' AS REAL)",
        "ValueError: Invalid type cast of DATE '2020-01-01' from DATE to "
        "REAL",
    ),
    ("CAST(x AS DOUBLE)", "CAST(x AS DOUBLE)"),
    ("CAST(1 AS DECIMAL)", "CAST(1 AS DECIMAL(9,0))"),
    ("CAST(1 AS numeric)", "CAST(1 AS DECIMAL(9,0))"),
    (
        "CAST(CAST(x AS DOUBLE) AS STRING)",
        "(CASE WHEN (CAST(x AS DOUBLE)) IS NOT NULL "
        "THEN dtos((CAST(x AS DOUBLE))) END)",
    ),
    ("CAST(a = b AS STRING)", "CAST(CAST((a = b) AS INT) AS STRING)"),
    (
        "CAST('6a' AS CHAR(5))",
        "concat(substr(CAST(('6a') AS STRING), 1, 5), repeat(' ', "
        "greatest(5 - octet_length(substr(CAST(('6a') AS STRING), 1, 5)), "
        "0)))",
    ),
    ("CAST(s AS VARCHAR(2))", "substr(CAST((s) AS STRING), 1, 2)"),
    ("CAST(d AS STRING FORMAT 'YYYY-MM-DD')", 'date_format(d , "yyyy-MM-dd")'),
    ("CAST(s AS TIMESTAMP FORMAT 'YYYYMMDD')", 'to_timestamp(s , "yyyyMMdd")'),
    ("CAST(' TRUE ' AS BOOLEAN)", "TRUE"),
    ("CAST('yes' AS BOOLEAN)", "CAST(NULL AS BOOLEAN)"),
    ("CAST(s AS DATE)", "to_date_strict(s)"),
    ("CAST(5 AS DATE)", "ValueError: Invalid type cast of 5 to DATE"),
]


@pytest.mark.parametrize("cast,expected", EXAMPLES)
def test_cast_translation(cast, expected):
    assert _rewritten(cast) == expected


def test_examples_cover_every_table_row():
    hit: set[str] = set()

    def recording(row, handler):
        def run(toks, i, c, column_types):
            hit.add(row)
            return handler(toks, i, c, column_types)
        return run

    with mock.patch.dict(T._CASTS, {
        row: recording(row, handler) for row, handler in T._CASTS.items()
    }):
        for cast, _ in EXAMPLES:
            _rewritten(cast)
    assert hit == set(T._CASTS)


@pytest.mark.parametrize(
    "cast,expected",
    [
        # typeof of a CHAR/VARCHAR cast is the declared type
        ("typeof(CAST(s AS CHAR(3)))", "'CHAR(3)'"),
        # CHAR(n) FORMAT: formatted through the FORMAT row, then padded
        (
            "CAST(d AS CHAR(4) FORMAT 'YYYY')",
            "concat(substr(date_format((d) , \"yyyy\"), 1, 4), repeat(' ', "
            "greatest(4 - octet_length(substr(date_format((d) , \"yyyy\"), "
            "1, 4)), 0)))",
        ),
        # a cast in the operand of a cast of another row
        ("CAST(CAST('1.5' AS INT) AS STRING)", "CAST(CAST(NULL AS INT) AS STRING)"),
        (
            "CAST(CAST(s AS DATE) AS VARCHAR(10))",
            "substr(CAST((to_date_strict(s)) AS STRING), 1, 10)",
        ),
        # a CHAR comparison compares rtrim'd operands
        (
            "f(x) <> CAST(s AS CHAR(2))",
            "rtrim(f(x)) <> rtrim(concat(substr(CAST((s) AS STRING), 1, 2), "
            "repeat(' ', greatest(2 - octet_length(substr(CAST((s) AS "
            "STRING), 1, 2)), 0))))",
        ),
        # ... but an operand that is more than one primary stays whole
        (
            "a / 0 = CAST(s AS CHAR(1))",
            "a / 0 = rtrim(concat(substr(CAST((s) AS STRING), 1, 1), "
            "repeat(' ', greatest(1 - octet_length(substr(CAST((s) AS "
            "STRING), 1, 1)), 0))))",
        ),
        # VALUES rows keep their DATE casts; TIMESTAMP has no row
        ("VALUES (CAST(s AS DATE))", "VALUES (CAST(s AS DATE))"),
        ("CAST(s AS TIMESTAMP)", "CAST(s AS TIMESTAMP)"),
    ],
)
def test_cast_forms(cast, expected):
    assert _rewritten(cast) == expected
