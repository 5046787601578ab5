"""Impala function-library surface (SURVEY.md §2.11).

The reference registers 239 scalar function names + aggregate builtins
(common/function-registry/impala_functions.py and
fe/.../catalog/BuiltinsDb.java in the reference tree). The vast majority map
1:1 to pyspark.sql.functions and need nothing here; the dialect layer
renames the rest (hopspark/dialect/translate.py). This package supplies the
residue that needs real code:

  * `register_all`: python-UDF implementations of Impala-only scalars
    (fnv_hash, jaro_winkler, dtos, ...) registered under their Impala names
  * `register_sql_functions`: the dialect's SQL-bodied functions (istrue,
    rotateleft, years_add, pid, ...), which only translated statements call;
    `Engine.__init__` registers them
"""

from hopspark.functions.registry import register_all, register_sql_functions

__all__ = ["register_all", "register_sql_functions"]
