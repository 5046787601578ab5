"""Engine front door: `Engine.sql()` — the Spark analogue of the reference's
query lifecycle (SURVEY.md §3).

Reference pipeline: HS2 ExecuteStatement → CUP parse → analyze/rewrite →
single-node plan → distributed plan → coordinator execution
(be/src/service/impala-server.h:197; fe/.../service/Frontend.java:2004-2018;
fe/.../planner/Planner.java:248-256). On Spark, everything from parse
onwards is Catalyst + AQE; the engine contributes the dialect translation,
the function library registration, and the table catalog binding.

The reference decides a statement's kind once, from its statement
productions (sql-parser.cup:637-731).  Here that decision is one table,
`_STATEMENTS`: a statement's first word selects its (pattern, handler)
entries, tried in order, and the first whole-statement match runs its
handler with the pattern's groups.  A statement that matches no entry,
including one that opens with a comment, is a query: it is translated and
handed to Catalyst.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hopspark import catalog
from hopspark.ddl import AlterTableMixin
from hopspark.dialect import translate
from hopspark.dialect.translate import (
    FromItem, QueryBlock, Tok, _from_items, _is_code, _matching_paren,
    _next_code, _parse_cast, _prev_code, _query_blocks, tokenize,
    untokenize,
)
from hopspark.functions import register_all, register_sql_functions
from hopspark.session import get_spark, warming


class Engine(AlterTableMixin):
    """A bound analytics-engine session: catalog + functions + dialect."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = catalog.DEFAULT_SF_DIR,
        register_tables: bool = True,
        options: dict[str, bool] | None = None,
    ) -> None:
        """Bind `spark` (default: `get_spark()`): register the pandas-UDF
        kernels, the dialect's SQL library and, with `register_tables`,
        the `sf_dir` tables.  On a session that does not hold the SQL
        library yet, Catalyst is warmed on a side session while these
        run (`session.warming`), so the first statements do not pay the
        JVM's cold start; an error of that warm-up raises here.

        `options` mirrors the reference's query options
        (be/src/service/query-options.h); supported:
        appx_count_distinct — rewrite COUNT(DISTINCT x) to the approximate
        ndv (fe/.../rewrite/CountDistinctToNdvRule.java)."""
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self.options = dict(options or {})
        # original (untranslated) CREATE VIEW definitions, keyed by
        # lowercased view name — SHOW CREATE VIEW must render the view's
        # own definition (ShowCreateTableStmt / ToSqlUtils.getCreateViewSql),
        # not a table-shaped DDL reconstruction
        self._view_defs: dict[str, str] = {}
        # UDA names (lowercased) registered with a merge callback: sql()
        # rewrites canonical aggregate statements calling these into the
        # salted two-stage partial/merge plan (hopspark/uda.py)
        self._mergeable_udas: set[str] = set()
        # the statement's catalog relations, lowercased name -> DataFrame
        # (None: no such table or view); see _relation
        self._relations: dict[str, DataFrame | None] = {}
        # COMPUTE [INCREMENTAL] STATS results, keyed by lowercased table
        # name: the table-level stats SHOW ... STATS reads, and the
        # per-partition sketches the incremental form merges
        self._stats: dict[str, dict] = {}
        self._inc_stats: dict[str, dict] = {}
        # the metastore-side state the reference keeps in HMS (ddl.py),
        # keyed by lowercased table name: table properties, column comments
        self._tbl_props: dict[str, dict[str, str]] = {}
        self._col_comments: dict[str, dict[str, str]] = {}
        with warming(self.spark):
            register_all(self.spark)
            register_sql_functions(self.spark)
            if register_tables:
                catalog.register(self.spark, sf_dir)

    # -- query surface ------------------------------------------------------

    #: options with engine-side semantics — SET coerces these to bool;
    #: everything else is stored verbatim (accepted no-ops, query-options.h)
    _BOOL_OPTIONS = frozenset(
        {"appx_count_distinct", "utf8_mode", "decimal_v2", "explain_verbose"}
    )

    def sql(self, impala_sql: str) -> DataFrame:
        """Run an Impala-dialect SQL statement; returns a lazy DataFrame.

        A statement that the statement table (`_STATEMENTS`) matches runs
        its handler with the pattern's groups: SET, the stats, view,
        metadata and ALTER TABLE surfaces, EXPLAIN.  Only the entries of
        the statement's first word are tried, in table order, and the
        first match wins.  Everything else is translated and handed to
        Catalyst."""
        stmt = _statement(impala_sql)
        if stmt is not None:
            handler, groups = stmt
            return handler(self, *groups)
        translated = self._translate_statement(impala_sql)
        if self._mergeable_udas and re.search(
            r"\b(" + "|".join(map(re.escape, self._mergeable_udas)) + r")\s*\(",
            translated,
            re.I,
        ):
            from hopspark.uda import rewrite_mergeable_uda

            rewritten = rewrite_mergeable_uda(translated, self._mergeable_udas)
            if rewritten is not None:
                try:
                    return self.spark.sql(rewritten)
                except AnalysisException:
                    pass  # Catalyst rejects the rewrite: whole-group plan
        return self.spark.sql(translated)

    # -- statement handlers (the _STATEMENTS entries; each takes its
    #    pattern's groups) ---------------------------------------------------

    def _no_rows(self) -> DataFrame:
        """The result of a statement that returns nothing."""
        return self.spark.sql("SELECT 1 AS ok WHERE false")

    def _show_options(self) -> DataFrame:
        """Bare SET lists the session's query options (the reference
        prints every option with its current value)."""
        rows = [(k, str(v)) for k, v in sorted(self.options.items())]
        return self.spark.createDataFrame(
            rows or [("", "")], "option string, value string"
        ).filter("option <> ''")

    def _set_statement(self, name: str, raw: str) -> DataFrame:
        name, raw = name.lower(), raw.strip().strip("'\"")
        if name in self._BOOL_OPTIONS:
            self.set_option(name, raw.lower() in ("1", "true", "yes", "on"))
        else:
            # non-semantic options (MEM_LIMIT, BATCH_SIZE, …) are
            # accepted and recorded so reference scripts run unchanged;
            # they have no Spark-side effect (documented delta)
            self.options[name] = raw
        return self._no_rows()

    def _drop_stats(self, table: str) -> DataFrame:
        """DROP [INCREMENTAL] STATS (DropStatsStmt): discard cached
        table/partition statistics so the next COMPUTE starts clean."""
        self._stats.pop(table.lower(), None)
        self._inc_stats.pop(table.lower(), None)
        return self._no_rows()

    def _refresh_statement(self, table: str | None) -> DataFrame:
        self.refresh(table)
        return self._no_rows()

    def _create_view(
        self, verb: str, if_not_exists: str | None, name: str,
        col_list: str | None, body: str,
    ) -> DataFrame:
        """Impala CREATE/ALTER VIEW (sql-parser.cup view DDL). The engine
        catalog is session-scoped temp views, so views land there too;
        the body goes through the same dialect translation as queries."""
        # Db-qualified names have no home in a temp-view catalog — reject
        # explicitly rather than failing downstream with a parse error.
        if "." in name:
            raise ValueError(
                f"view name {name!r}: database-qualified views are not "
                "supported by the session (temp-view) catalog"
            )
        # Spark's catalog is case-insensitive; compare lowercased so
        # IF NOT EXISTS V no-ops against an existing v (Impala
        # analyzer semantics: table/view names are case-insensitive).
        # SHOW TABLES (one round trip) instead of listTables, which
        # builds a metadata object per table.
        exists = any(
            r.tableName.lower() == name.lower() and r.isTemporary
            for r in self.spark.sql("SHOW TABLES").collect()
        )
        if verb.upper() == "CREATE" and exists:
            if if_not_exists:
                return self._no_rows()
            # Impala raises AnalysisException: view already exists
            # (fe CreateViewStmt analysis) — plain CREATE must not
            # silently replace.
            raise ValueError(f"view already exists: {name}")
        translated = self._translate_statement(body)
        if col_list:
            cols = [c.strip() for c in col_list.strip("()").split(",")]
            if any(not c.isidentifier() for c in cols):
                raise ValueError(f"bad view column list: {col_list}")
            translated = (
                f"SELECT * FROM ({translated}) AS "
                f"hopspark_view_body({', '.join(cols)})"
            )
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS " + translated
        )
        body_sql = body.strip()
        if col_list:
            body_sql = f"{col_list.strip()} AS {body_sql}"
        else:
            body_sql = f"AS {body_sql}"
        self._view_defs[name.lower()] = f"CREATE VIEW {name} {body_sql}"
        return self._no_rows()

    def _drop_view(self, if_exists: str | None, name: str) -> DataFrame:
        dropped = self.spark.catalog.dropTempView(name)
        self._view_defs.pop(name.lower(), None)
        catalog.forget_registration(self.spark, name)
        if not dropped and not if_exists:
            raise ValueError(f"view does not exist: {name}")
        return self._no_rows()

    def _show_create(self, kind: str, name: str) -> DataFrame:
        """SHOW CREATE TABLE/VIEW (ShowCreateTableStmt): reconstruct the
        DDL from catalog schema — one row, 'result' column (the HS2 shape
        the reference returns). Temp-view-backed tables get a CREATE
        EXTERNAL TABLE rendering with Impala type names; views created
        through this engine get their ORIGINAL CREATE VIEW definition
        (ToSqlUtils.getCreateViewSql emits the view's own SQL, never a
        table-shaped DDL)."""
        view_def = self._view_defs.get(name.lower())
        if view_def is not None:
            return self.spark.createDataFrame([(view_def,)], "`result` string")
        if kind.upper() == "VIEW":
            # SHOW CREATE VIEW over a name we did not create as a view:
            # the reference raises for non-view targets
            raise ValueError(f"{name} is not a view")
        fields = self.spark.table(name).schema.fields
        cols = ",\n".join(
            f"  {f.name} {_impala_type_name(f.dataType)}" for f in fields
        )
        ddl = f"CREATE EXTERNAL TABLE {name} (\n{cols}\n) STORED AS PARQUET"
        return self.spark.createDataFrame([(ddl,)], "`result` string")

    def _create_java_function_statement(
        self, name: str, returns: str | None, jar: str, symbol: str
    ) -> DataFrame:
        self.create_java_function(name, jar, symbol, returns)
        return self._no_rows()

    def _explain_rows(self, impala_sql: str) -> DataFrame:
        """Impala EXPLAIN returns the plan as rows of 'Explain String'
        (impala-server HS2 result shape); surface Catalyst's formatted
        plan the same way."""
        lines = self.explain(impala_sql).splitlines()
        return self.spark.createDataFrame(
            [(ln,) for ln in lines], "`Explain String` string"
        )

    def _translate_statement(self, impala_sql: str) -> str:
        """Spark SQL for a query or view body: the three schema-aware
        engine rewrites edit one token list in place, each handing on the
        statement's FROM items (re-parsed only after an edit), then the
        dialect translator takes that list, typed from the relations the
        statement reads.  Starts the statement's relation memo."""
        self._relations = {}
        toks = tokenize(impala_sql)
        items = _from_items(toks)
        items = self._qualify_collection_fields(toks, items)
        items = self._rewrite_table_path_scans(toks, items)
        items = self._rewrite_subplan_derived_tables(toks, items)
        return translate(
            toks,
            options=self.options,
            column_types=self._schema_columns_for(toks, items),
        )

    def _relation(self, name: str) -> DataFrame | None:
        """The catalog table or view ``name`` (one identifier) as the
        statement being translated reads it, or None when there is none.
        One memo per statement, so nothing needs invalidating: existence
        comes from ``catalog.tableExists`` (a miss raises nothing), the
        schema from ``spark.table``."""
        key = name.lower()
        if key not in self._relations:
            quoted = "`" + name.replace("`", "``") + "`"
            self._relations[key] = (
                self.spark.table(quoted)
                if self.spark.catalog.tableExists(quoted) else None
            )
        return self._relations[key]

    #: words never treated as bare element-field references
    _QCF_KEYWORDS = frozenset({
        "SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "HAVING",
        "LIMIT", "OFFSET", "AND", "OR", "NOT", "LIKE", "RLIKE", "ILIKE",
        "BETWEEN", "IN", "EXISTS", "CASE", "WHEN", "THEN", "ELSE", "END",
        "AS", "ON", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER",
        "CROSS", "SEMI", "ANTI", "UNION", "ALL", "DISTINCT", "ASC",
        "DESC", "NULLS", "FIRST", "LAST", "IS", "NULL", "TRUE", "FALSE",
        "INTERVAL", "WITH", "USING", "LATERAL", "VIEW", "OVER",
        "PARTITION", "ROWS", "RANGE", "VALUES", "DIV",
    })

    def _qualify_collection_fields(
        self, toks: list[Tok], items: list[FromItem]
    ) -> list[FromItem]:
        """Impala resolves a BARE column name against the struct element
        of any collection join item in scope — ``FROM customer c,
        c.c_orders o WHERE o_orderdate < ...`` binds ``o_orderdate`` to
        ``o``'s element (fe Path resolution; the nested TPC-H queries'
        pervasive idiom, tpch_nested-q3.test ff.).  The translate layer
        is schema-blind, so qualify such refs here: a bare word that
        matches exactly ONE same-block collection alias's element field
        (and no flat table column in that block) becomes
        ``alias.`field``.  Edits ``toks`` in place; returns its FROM
        items."""
        paths = [
            (it.start, it.segs, it.alias, it.stop) for it in items if it.segs
        ]
        # catalog lookups only pay off when a dotted FROM item exists —
        # flat queries (the vast majority) exit with zero schema calls
        if not any(len(segs) > 1 for _j, segs, _a, _e in paths):
            return items
        # the type each FROM alias binds: a table's row, a collection's
        # element
        alias_dtype: dict[str, tuple[object, tuple]] = {}
        bindings = []  # (alias_as_written, block, fields|None, kind)
        qb = _query_blocks(toks)
        for j, segs, alias, aend in paths:
            root = segs[0].lower()
            blk = qb.span(j)
            if len(segs) == 1:
                rel = self._relation(segs[0])
                if rel is not None:
                    schema = rel.schema
                    alias_dtype[alias.lower()] = (schema, blk)
                    bindings.append((
                        alias, blk,
                        {f.name.lower(): f.name for f in schema.fields},
                        "table",
                    ))
                continue
            base = alias_dtype.get(root)
            from_alias = base is not None
            if base is None:
                rel = self._relation(segs[0])
                if rel is None:
                    continue
                base = (rel.schema, blk)
            if from_alias and base[1] != blk:
                # a subquery FROM rooted at an OUTER alias (table OR
                # collection) is a correlated SUBPLAN target — its own
                # rewrite resolves bare element fields; qualifying them
                # here would defeat the lambda substitution
                continue
            steps = _resolve_path(base[0], segs[1:])
            if steps is None:
                continue
            cur = steps[-1].dtype
            if isinstance(cur, T.ArrayType):
                el = cur.elementType
                alias_dtype[alias.lower()] = (el, blk)
                flds = (
                    {f.name.lower(): f.name for f in el.fields}
                    if isinstance(el, T.StructType) else None
                )
                bindings.append((alias, blk, flds, "elem"))
            elif isinstance(cur, T.MapType):
                alias_dtype[alias.lower()] = (cur.valueType, blk)
        # then qualify the bare refs to a visible element field
        elem_binds = [
            (alias, blk, flds) for alias, blk, flds, kind in bindings
            if kind == "elem" and flds
        ]
        flat_binds = [
            (blk, flds) for _a, blk, flds, kind in bindings
            if kind == "table" and flds
        ]
        if not elem_binds:
            return items
        item_idx: set[int] = set()
        for j, segs, alias, aend in paths:
            item_idx.update(range(j, aend + 1))
        repls = []  # (tok index, alias, field)
        out_aliases: dict[int, set] = {}  # block's SELECT -> output aliases
        for m, tk in enumerate(toks):
            if m in item_idx or tk.kind != "word":
                continue
            if tk.upper in self._QCF_KEYWORDS:
                continue
            lo = tk.text.lower()
            p = _prev_code(toks, m - 1)
            if p >= 0 and toks[p].text == ".":
                continue
            # alias position, not a reference: the previous code token
            # ENDS an expression (AS keyword, a close paren, a literal —
            # including string/backtick literals: `SELECT 'x' o_comment`
            # — or a non-keyword word, `CAST(x AS DOUBLE) o_totalprice`)
            if p >= 0 and (
                toks[p].text == ")"
                or toks[p].kind in ("num", "str", "bquote")
                or (toks[p].kind == "word"
                    and toks[p].upper == "AS")
                or (toks[p].kind == "word"
                    and toks[p].upper not in self._QCF_KEYWORDS
                    and toks[p].upper not in ("BY",))
            ):
                continue
            n = _next_code(toks, m + 1)
            if n < len(toks) and toks[n].text in (".", "("):
                continue
            # visible candidates: binding block CONTAINS the token
            # (correlated refs to outer collection aliases included);
            # innermost block wins, ambiguity at that level -> skip
            cands = [
                (alias, blk, flds[lo])
                for alias, blk, flds in elem_binds
                if lo in flds and blk[0] <= m < blk[1]
            ]
            if not cands:
                continue
            best = max(blk[0] for _a, blk, _o in cands)
            inner = [
                (a, o) for a, blk, o in cands if blk[0] == best
            ]
            if len({a.lower() for a, _o in inner}) != 1:
                continue
            # a flat table column at the same or inner scope shadows
            if any(
                lo in flds and blk[0] <= m < blk[1] and blk[0] >= best
                for blk, flds in flat_binds
            ):
                continue
            # a select-list OUTPUT alias shadows the element field in
            # ORDER BY / HAVING (Impala analyzer: output names take
            # precedence there — `SELECT o_orderkey AS o_comment ...
            # ORDER BY o_comment` sorts by the alias, not the field)
            owner = qb.clause(m)
            if owner is not None and owner[1] in ("ORDER", "HAVING"):
                b = owner[0]
                if b.select not in out_aliases:
                    out_aliases[b.select] = self._select_output_aliases(
                        toks, b
                    )
                if lo in out_aliases[b.select]:
                    continue
            repls.append((m, inner[0][0], inner[0][1]))
        if not repls:
            return items
        # plain identifiers (no backticks): the translate layer's
        # collection-join scans match word tokens only
        for m, alias, orig in reversed(repls):
            toks[m : m + 1] = tokenize(f"{alias}.{orig}")
        return _from_items(toks)

    def _rewrite_table_path_scans(
        self, toks: list[Tok], items: list[FromItem]
    ) -> list[FromItem]:
        """Rootless collection scans — the reference idiom ``FROM
        tbl.arr_col`` (nested-types-scanner-*.test; fe Path.java
        resolution): a FROM/JOIN item whose dotted path starts at a
        CATALOG TABLE and ends at a collection scans the collection
        itself — one row per element, parent columns invisible, empty/
        NULL collections contribute no rows.  Rewritten to an inline
        LATERAL VIEW subquery before dialect translation.

        Path grammar: struct fields navigate; ``item`` descends into an
        array (a path may also END at an array, scanning its elements);
        the terminal must be a collection or an array element.  ``SELECT
        *`` exposes the element (struct fields flattened, scalar as
        ``item``, map as key/value) — ``pos``, and ``item`` on struct
        elements, are virtual and exposed only when the statement
        mentions them (matching their absence from the reference's
        ``*``).  Edits ``toks`` in place; returns its FROM items."""
        todo = list(items)
        while todo:
            it = todo.pop(0)
            segs, j = it.segs, it.start
            if len(segs) < 2:
                continue
            rel = self._relation(segs[0])
            if rel is None:
                continue
            # Impala Path resolution prefers an ENCLOSING query block's
            # table alias over the catalog: a path inside a subquery
            # whose head names an UNALIASED outer FROM item is a
            # correlated relative ref (the table name doubles as its
            # implicit alias), not a rootless scan — leave it for
            # _rewrite_subplan_derived_tables.  An aliased outer item
            # (FROM cust x) forfeits the name, so the path stays
            # rootless.
            if it.block >= 0 and any(
                x is not it and not x.explicit
                and [s.lower() for s in x.segs] == [segs[0].lower()]
                for x in items
            ):
                continue
            # item/pos are virtual: exposed only when referenced OUTSIDE
            # this path's own segments (the path `...d.item` itself must
            # not leak `item` into SELECT *), and only when the reference
            # is unqualified or qualified by this path's alias — a
            # `x.pos` on a joined table x is NOT a mention
            alias = it.alias
            consumed_to = it.stop
            path_idx = set(range(j, consumed_to + 1))

            def _mentions(word: str) -> bool:
                for x, tk in enumerate(toks):
                    if (
                        tk.kind != "word"
                        or tk.text.lower() != word
                        or x in path_idx
                    ):
                        continue
                    pq = _prev_code(toks, x - 1)
                    if pq >= 0 and toks[pq].text == ".":
                        pq2 = _prev_code(toks, pq - 1)
                        if (
                            pq2 < 0
                            or toks[pq2].kind != "word"
                            or toks[pq2].text.lower() != alias.lower()
                        ):
                            continue  # qualified by some OTHER name
                    return True
                return False

            steps = _resolve_path(rel.schema, segs[1:])
            res = None if steps is None else self._table_path_subquery(
                segs[0], steps, _mentions("pos"), _mentions("item")
            )
            if res is None:
                continue
            sub, star_cols, has_virtual = res
            if has_virtual and star_cols:
                # a lone bare `*` expands only over a single-item FROM
                single = toks[it.trigger].upper == "FROM" and not any(
                    x is not it and x.clause == it.trigger for x in items
                )
                delta = self._expand_table_path_stars(
                    toks, it.trigger, alias, star_cols, single
                )
                j += delta
                consumed_to += delta
            repl = tokenize(f"{sub} {alias}")
            toks[j : consumed_to + 1] = repl
            resume = j + len(repl)
            items = _from_items(toks)
            todo = [x for x in items if x.trigger >= resume]
        return items

    def _expand_table_path_stars(
        self, toks, from_i: int, alias: str, star_cols: list[str],
        single: bool,
    ) -> int:
        """The reference's ``*`` never includes the virtual columns
        (``pos``, ``item`` on struct elements) even when the statement
        references them elsewhere — but the rewritten subquery must
        expose them for qualified refs to resolve.  Reconcile by
        expanding ``alias.*`` (and a lone bare ``*`` when this path is
        the only FROM item) in the OWNING select list to the explicit
        non-virtual columns.  A bare ``*`` over a multi-item FROM is
        left alone (expanding it needs every sibling's schema); the
        caller says which case holds through ``single``.
        Returns the net token-count delta (every edit sits before
        ``from_i``, so the caller shifts its saved indices by it)."""
        owner = _query_blocks(toks).clause(from_i)
        if owner is None:
            return 0
        sel_i = owner[0].select
        qcols = ", ".join(f"{alias}.`{c}`" for c in star_cols)
        delta = 0
        # walk the select list (sel_i..from_i) for stars at depth 0
        x = sel_i + 1
        while x < from_i + delta:
            t = toks[x]
            if t.text == "(":
                d = 1
                x += 1
                while x < from_i + delta and d:
                    if toks[x].text == "(":
                        d += 1
                    elif toks[x].text == ")":
                        d -= 1
                    x += 1
                continue
            if t.text == "*":
                p = _prev_code(toks, x - 1)
                if p >= 0 and toks[p].text == ".":
                    p2 = _prev_code(toks, p - 1)
                    if (
                        p2 >= 0
                        and toks[p2].kind == "word"
                        and toks[p2].text.lower() == alias.lower()
                    ):
                        repl = tokenize(qcols)
                        toks[p2 : x + 1] = repl
                        delta += len(repl) - (x + 1 - p2)
                        x = p2 + len(repl)
                        continue
                elif single and (
                    p < 0
                    or toks[p].text in (",",)
                    or (toks[p].kind == "word"
                        and toks[p].upper in ("SELECT", "DISTINCT", "ALL"))
                ):
                    repl = tokenize(qcols)
                    toks[x : x + 1] = repl
                    delta += len(repl) - 1
                    x += len(repl)
                    continue
            x += 1
        return delta

    def _rewrite_subplan_derived_tables(
        self, toks: list[Tok], items: list[FromItem]
    ) -> list[FromItem]:
        """Impala subplans — a correlated subquery over a RELATIVE
        collection (nested-types-subplan.test, planner SubplanNode):

        * derived table: ``FROM customer c, (SELECT * FROM c.c_orders
          LIMIT 3) v`` — Impala correlates implicitly; Spark needs the
          LATERAL keyword, with the collection exploded inside.  LIMIT
          stays per-outer-row, like the reference's subplan limit.
        * expression subqueries: ``WHERE EXISTS (SELECT 1 FROM c.c_orders
          o WHERE ...)``, ``ok IN (SELECT ...)``, scalar ``(SELECT
          COUNT(*) FROM c.c_orders)`` — Spark's correlated subqueries
          accept an outer reference inside a generator directly, so only
          the FROM target is rewritten.

        Rewrites ``FROM <alias>.<path>`` inside any such subquery to
        ``FROM (SELECT <generator>) __sp`` where <generator> is inline()
        for array<struct> (element fields, matching the reference's ``*``
        on a subplan), explode()/posexplode() AS item[/pos] for scalar
        arrays, explode() for maps (key/value).  Needs the live schema
        for the generator choice, hence engine-side.  Edits ``toks`` in
        place; returns its FROM items."""
        if not any(len(x.segs) > 1 and x.block >= 0 for x in items):
            return items
        # (alias, root) pairs already checked by the decorrelation-
        # landmine guard this statement — checked-safe or normalized
        guarded: set = set()
        i = 0
        while i < len(toks):
            if toks[i].text != "(":
                i += 1
                continue
            o = i
            first = _next_code(toks, o + 1)
            if first >= len(toks) or toks[first].upper != "SELECT":
                i += 1
                continue
            try:
                close = _matching_paren(toks, o)
            except ValueError:
                break
            # depth-1 FROM items of the subquery: more than one when the
            # body is a UNION of legs — take the FIRST whose target is a
            # rewritable dotted path (an already-rewritten leg's target
            # is a paren).  JOIN items are not subplan targets.  A
            # correlated relative ref inside a WITH body (IMPALA-2414,
            # nested-types-with-clause.test) is reached naturally: the
            # CTE body is itself a `( SELECT` block and rewrites in
            # place — only the ENCLOSING derived table then needs the
            # LATERAL keyword (added below).
            own = [x for x in items if x.block == o]
            targets = [x for x in own if toks[x.trigger].upper != "JOIN"]
            it = None
            for x in targets:
                if len(x.segs) < 2:
                    continue
                root_low = x.segs[0].lower()
                if toks[x.trigger].text == "," and any(
                    y.clause == x.clause and y.trigger < x.trigger
                    and root_low in {
                        (y.alias or "").lower(), "".join(y.segs[-1:]).lower()
                    }
                    for y in own
                ):
                    # a comma item whose root is bound by an EARLIER
                    # SIBLING of the same FROM clause is a plain
                    # collection join (the translate layer's job), not a
                    # correlated subplan target — only roots bound
                    # OUTSIDE the subquery qualify (the hash-join-inside-
                    # subplan row of nested-types-subplan.test)
                    continue
                it = x
                break
            if it is None:
                i += 1
                continue
            segs, from_i = it.segs, it.trigger
            # the qualifier names a table when a FROM item binds it as
            # an alias (`FROM customer c`), or is the table itself
            # (unaliased: FROM customer, (SELECT * FROM customer.c_orders)
            # v); the schema walk below arbitrates
            candidates = [
                x.segs[0] for x in items
                if x.explicit and len(x.segs) == 1
                and x.alias.lower() == segs[0].lower()
            ] + [segs[0]]
            res = self._resolve_subplan_target(
                toks, items, segs, candidates
            )
            if res is None:
                # a root the statement binds to a relation makes the path
                # a collection reference that does not resolve (Path.java);
                # any other root may name a database
                rel = next((
                    self._relation(x.segs[0]) for x in items
                    if len(x.segs) == 1
                    and x.alias.lower() == segs[0].lower()
                ), None)
                if rel is not None and _resolve_path(
                    rel.schema, segs[1:]
                ) is None:
                    raise ValueError(
                        "Could not resolve table reference: "
                        f"'{'.'.join(segs)}'"
                    )
                i += 1
                continue
            qpath, coll_dt, steps, root_info = res
            # Catalyst REJECTS map-typed correlated column references
            # outright ("Correlated column reference ... cannot be map
            # type").  When the subplan path roots at a top-level MAP
            # column (t.map_map_col.value — with-clause.test#4), wrap
            # the binding FROM item so the correlated ref is the
            # pre-computed map_entries ARRAY instead, then re-resolve.
            mw = self._map_root_wrap(toks, items, segs, steps, root_info)
            if mw is not None:
                if mw[0] == "respan":
                    for s0, s1, w_txt in sorted(mw[1], reverse=True):
                        toks[s0:s1] = tokenize(w_txt)
                    items = _from_items(toks)
                    i = 0
                    continue
                qpath, coll_dt = mw[1]
            body = untokenize(toks[o:close])
            arr, arr_dt = self._subplan_elements(body, qpath, coll_dt)
            if isinstance(coll_dt, T.MapType):
                gen = f"SELECT explode({qpath})"  # key, value
            elif isinstance(arr_dt.elementType, T.StructType):
                gen = f"SELECT inline({arr})"
            elif re.search(r"\bpos\b", body, re.I):
                # pos is BIGINT in the reference; posexplode yields INT
                gen = (
                    "SELECT CAST(__spp AS BIGINT) AS pos,"
                    " __spi AS item FROM (SELECT"
                    f" posexplode({arr})"
                    " AS (__spp, __spi))"
                )
            else:
                gen = f"SELECT explode({arr}) AS item"
            # LATERAL derived table whose select list is a single
            # aggregate — (SELECT COUNT(*)/SUM(x)/... AS n FROM c.path
            # [WHERE pred]) v — lowers to an inline HOF expression: the
            # derived table disappears and refs to its output name
            # substitute (the reference's per-row subplan agg; keeping
            # the derived table would take Catalyst's array-keyed
            # decorrelated join, which Spark REJECTS for correlated
            # array-typed refs in several shapes).
            # the derived FROM item this block is the body of, if any
            derived = next((x for x in items if x.start == o), None)
            if it is targets[0] and self._subplan_lateral_agg(
                toks, o, close, first, it, derived, arr, arr_dt
            ):
                items = _from_items(toks)
                i = 0  # spans shifted: rescan
                continue
            # a derived table (comma/JOIN FROM item) needs the LATERAL
            # keyword; expression subqueries (EXISTS/IN/scalar) must NOT
            # get it
            p = _prev_code(toks, o - 1)
            lateral = (
                derived is not None and toks[derived.trigger].upper != "FROM"
            )
            # a CTE body (`WITH w AS (<this block>)`) correlates through
            # its ENCLOSING derived table — that is where Spark wants
            # the LATERAL keyword
            enclose_lateral = None
            if (
                p >= 0 and toks[p].kind == "word"
                and toks[p].upper == "AS"
            ):
                # walk OUTWARD through nested CTE-body parens (`WITH w1
                # AS (WITH w2 AS (<block>) ...)`) to the derived table
                opens = _query_blocks(toks).opens
                start_x = o
                while True:
                    open_x = opens[start_x]
                    if open_x < 0:
                        break
                    if any(
                        x.start == open_x
                        and toks[x.trigger].upper != "FROM"
                        for x in items
                    ):
                        enclose_lateral = open_x
                        break
                    pe2 = _prev_code(toks, open_x - 1)
                    if (
                        pe2 >= 0 and toks[pe2].kind == "word"
                        and toks[pe2].upper == "AS"
                    ):
                        start_x = open_x
                        continue
                    break
            # a collection alias after the path (FROM c.c_orders o)
            # becomes the exploded subquery's alias
            salias = it.alias if it.explicit else None
            tail_from = it.stop + 1
            t1 = None if it is not targets[0] else self._subplan_fast_path(
                toks, o, close, first, from_i, salias,
                arr, arr_dt, p, derived if lateral else None,
            )
            if t1 is not None:
                start, stop, text = t1
                toks[start:stop] = tokenize(text)
                items = _from_items(toks)
                i = start
                continue
            # GENERAL path: Catalyst decorrelates this subquery into a
            # join KEYED ON the collection, re-executing the outer plan
            # on both sides (SCALE.md round-11 session 2).  If the
            # collection's order is not deterministic (collect_list /
            # collect_set upstream), the two sides disagree and the join
            # silently matches NOTHING — normalize the OUTER relation's
            # collection column (deep sort_array) before rewriting, or
            # raise when normalization is impossible.
            g_spans = self._nondet_guard_spans(
                toks, items, segs, root_info, guarded
            )
            if g_spans:
                for g0, g1, g_txt in sorted(g_spans, reverse=True):
                    toks[g0:g1] = tokenize(g_txt)
                items = _from_items(toks)
                i = 0  # spans shifted: rescan from the top
                continue
            sub_text = untokenize(toks[o + 1 : from_i])
            tail = untokenize(toks[tail_from:close])
            kw = " LATERAL " if lateral else " "
            joiner = "," if toks[from_i].text == "," else "FROM"
            repl = tokenize(
                f"{kw}({sub_text}{joiner} ({gen}) {salias or '__sp'}{tail})"
            )
            toks[o : close + 1] = repl
            if enclose_lateral is not None:
                toks[enclose_lateral:enclose_lateral] = tokenize(" LATERAL ")
            items = _from_items(toks)
            # re-scan from the replacement start: sibling subqueries
            # inside the rewritten block may also need the rewrite; the
            # block itself no longer matches (its FROM target is a paren)
            i = o
        return items

    def _subplan_fast_path(
        self, toks, o, close, first, from_i, salias,
        qpath, coll_dt, p, derived,
    ):
        """Zero-join lowering for the common subplan shapes.  Catalyst
        decorrelates a LATERAL / expression subquery over a relative
        collection into a join KEYED ON THE ARRAY ITSELF — correct, but at
        scale it broadcasts whole collections as join keys and scans the
        parent twice.  These shapes stay on ONE scan with higher-order
        functions instead (whole-stage codegen, no join, no extra
        shuffle):

          * ``EXISTS (SELECT ... FROM c.path [x] [WHERE pred])``
            -> ``coalesce(exists(c.path, x -> pred), false)``
          * ``, (SELECT * FROM c.path [x] [WHERE pred] [LIMIT n]) v``
            -> ``LATERAL VIEW inline/explode(slice(filter(c.path,..),1,n))``

        ``qpath`` is the target as an array of its elements (of type
        ``coll_dt``, see ``_subplan_elements``); ``derived`` is the
        comma/JOIN derived FROM item whose body the block is, None for an
        expression subquery.  Returns (start, stop, replacement_sql) or
        None to take the general decorrelated path."""
        elem = coll_dt.elementType
        fields = (
            [f.name for f in elem.fields]
            if isinstance(elem, T.StructType) else None
        )
        # the subquery is one block with no clause but FROM, WHERE and
        # LIMIT
        blk = _query_blocks(toks).at(first)
        clauses = blk.clauses
        if blk.end != close or set(clauses) - {"FROM", "WHERE", "LIMIT"}:
            return None
        pred_sql = None
        if "WHERE" in clauses:
            stop_at = clauses.get("LIMIT", close)
            pred_toks = toks[clauses["WHERE"] + 1 : stop_at]
            body = untokenize(pred_toks)
            if re.search(r"\bselect\b|\bpos\b", body, re.I):
                return None  # nested subquery / pos: general path
            pred_sql = self._subplan_lambda_pred(
                pred_toks, fields, salias, "__sx"
            )
            if pred_sql is None:
                return None
        limit_n = None
        if "LIMIT" in clauses:
            ln = _next_code(toks, clauses["LIMIT"] + 1)
            if (
                ln >= close
                or toks[ln].kind != "num"
                or not toks[ln].text.isdigit()
            ):
                return None
            limit_n = int(toks[ln].text)
            if _next_code(toks, ln + 1) < close:
                return None
        arr = qpath
        if pred_sql:
            arr = f"filter({arr}, __sx -> ({pred_sql}))"
        if p >= 0 and toks[p].kind == "word" and toks[p].upper == "EXISTS":
            cond = pred_sql or "true"
            return (
                p, close + 1,
                f" coalesce(exists({qpath}, __sx -> ({cond})), false) ",
            )
        if derived is None:
            # scalar aggregate subquery — (SELECT COUNT(*)/SUM/MIN/MAX/
            # AVG(col) FROM c.path [WHERE pred]) — the reference's most
            # common subplan idiom after EXISTS (nested-types-subplan
            # .test; SubplanNode streams it per outer row).  Lower to a
            # higher-order function on the parent scan: zero joins, one
            # scan, whole-stage codegen.
            if limit_n is None:
                agg = self._subplan_agg_expr(
                    toks, first, from_i, elem, fields, salias,
                    qpath, pred_sql,
                )
                if agg is not None:
                    return o, close + 1, f" ({agg}) "
            return None
        sel = "".join(
            t.text for t in toks[first + 1 : from_i] if _is_code(t)
        ).lower()
        if not (sel == "*" or (salias and sel == f"{salias.lower()}.*")):
            return None
        if limit_n is not None:
            arr = f"slice({arr}, 1, {limit_n})"
        stop = derived.stop + 1
        valias = derived.alias if derived.explicit else "__spv"
        if fields is not None:
            cols = ", ".join(f"`{f}`" for f in fields)
            text = f" LATERAL VIEW inline({arr}) {valias} AS {cols} "
        else:
            text = f" LATERAL VIEW explode({arr}) {valias} AS item "
        return p, stop, text  # p = the comma: consumed by LATERAL VIEW

    def _resolve_subplan_target(self, toks, items, segs, candidates):
        """Resolve a subquery FROM target path to ``(collection_sql,
        collection_dtype, steps, root_info)`` or None.  Roots, in order: a
        candidate TABLE (or temp view); a COLLECTION ALIAS bound by an
        earlier dotted FROM item (``t.int_array_array a1`` then ``FROM
        a1.item``); a DERIVED-TABLE alias (schema probed with an
        analysis-only query).  ``steps`` are the path's below its root
        (``_resolve_path``).  ``root_info`` is ``("table", <name>)`` /
        ``("collection", (<root word>, <root table or None>, <top-level
        column>))`` / ``("derived", None)`` — the decorrelation-landmine
        guard needs the provenance."""
        for table in candidates:
            rel = self._relation(table)
            if rel is None:
                continue
            r = self._collection_path(segs[0], rel.schema, segs[1:])
            if r is not None:
                return (*r, ("table", table))
        r = self._from_collection_alias_target(toks, items, segs)
        if r is not None:
            *r, root = r
            return (*r, ("collection", root))
        schema = self._derived_alias_schema(toks, items, segs[0])
        if schema is not None:
            r = self._collection_path(segs[0], schema, segs[1:])
            if r is not None:
                return (*r, ("derived", None))
        return None

    @classmethod
    def _collection_path(cls, base_expr, base_dt, segs):
        """``segs`` resolved below ``base_expr`` (of type ``base_dt``) and
        rendered: ``(collection_sql, collection_dtype, steps)``, or None."""
        steps = _resolve_path(base_dt, segs)
        r = None if steps is None else cls._render_collection(
            base_expr, base_dt, steps
        )
        return None if r is None else (*r, steps)

    @staticmethod
    def _render_collection(expr, dt, steps):
        """The resolved path ``steps`` below ``expr`` (of type ``dt``) as
        one SQL expression holding every value the path reaches: below an
        array a field becomes a per-element ``transform``, a collection
        reached through an array is flattened (one flatten per nesting
        hop; NULL inner collections contribute no elements, like the
        reference's scan — flatten itself NULLs the whole result on a NULL
        element), and a map's ``value`` takes ``map_values``.  Returns
        ``(sql, dtype)`` when that is a collection, else None; a map's
        ``key``, and a map reached through an array, are not rendered."""
        for st in steps:
            if st.kind == "field" and not isinstance(dt, T.ArrayType):
                expr, dt = f"{expr}.`{st.name}`", st.dtype
                continue
            if st.kind == "value" and isinstance(dt, T.MapType):
                expr, dt = f"map_values({expr})", T.ArrayType(st.dtype)
                continue
            if st.kind == "field":  # below an array: per element
                expr = f"transform({expr}, __tw -> __tw.`{st.name}`)"
                dt = T.ArrayType(st.dtype)
            elif st.kind != "item":
                return None
            if isinstance(dt.elementType, T.ArrayType):
                expr = f"flatten(filter({expr}, __tf -> __tf IS NOT NULL))"
                dt = dt.elementType
        if isinstance(dt, (T.ArrayType, T.MapType)):
            return expr, dt
        return None

    def _from_collection_alias_target(self, toks, items, segs):
        """segs[0] bound by a DOTTED FROM item (``<root>.<path> [alias]``;
        without an alias the trailing path segment doubles as it): the
        alias names that collection's ELEMENTS (post-translate, the
        exploded column keeps the alias name), so the path continues from
        the binding's element type with the bare alias as the base
        expression.  Returns ``(sql, dtype, steps, root)`` or None;
        ``root`` is the binding item's ``(root word, root table or None
        when derived, top-level column)``, which the decorrelation-
        landmine guard normalizes."""
        alias = segs[0].lower()
        for item in items:
            path = item.segs
            if len(path) < 2 or item.alias.lower() != alias:
                continue
            # the root word is a table, or an alias a FROM item binds to
            # one; failing both, a DERIVED table (e.g. the landmine
            # guard's own normalization wrapper) whose schema is probed
            root_cands = [path[0]] + [
                x.segs[0] for x in items
                if len(x.segs) == 1 and x.alias.lower() == path[0].lower()
            ]
            for table in [*root_cands, None]:
                if table is None:
                    schema = self._derived_alias_schema(toks, items, path[0])
                else:
                    rel = self._relation(table)
                    schema = None if rel is None else rel.schema
                if schema is None:
                    continue
                r = self._collection_path(path[0], schema, path[1:])
                if r is None or not isinstance(r[1], T.ArrayType):
                    continue
                r = self._collection_path(
                    segs[0], r[1].elementType, segs[1:]
                )
                return None if r is None else (*r, (path[0], table, path[1]))
        return None

    def _derived_alias_schema(self, toks, items, alias):
        """Schema of the derived table bound to ``alias`` (``(...) alias``),
        via an analysis-only probe.  None when the alias is not a derived
        table or its body does not analyze standalone (correlated)."""
        item = self._derived_item(items, alias)
        if item is None:
            return None
        try:
            return self.spark.sql(
                untokenize(toks[item.start + 1 : item.end])
            ).schema
        except AnalysisException:  # correlated: not standalone SQL
            return None

    @staticmethod
    def _derived_item(items, alias):
        """The derived-table FROM item ``( body ) [AS] alias``, or None."""
        return next(
            (x for x in items if not x.segs and x.alias
             and x.alias.lower() == alias.lower()),
            None,
        )

    # --- nondeterministic-decorrelation landmine guard (round 12) -----
    #
    # Catalyst lowers a general-path lateral/expression subplan (the
    # grouping/analytic bodies the HOF fast paths don't absorb) into a
    # join keyed on the CORRELATED COLLECTION ITSELF, re-executing the
    # outer plan on both sides.  collect_list's element order follows
    # shuffle FETCH order — racy on a cluster — so the two sides can
    # produce unequal arrays and the join silently matches nothing
    # (SCALE.md round-11 session 2: zero rows, no error).  The guard
    # normalizes the outer relation's collection column with a deep
    # sort_array whenever the source plan contains an order-
    # nondeterministic constructor, making the duplicated join keys
    # value-equal; unorderable (map-bearing) collections raise instead.

    _NONDET_FN_RE = re.compile(
        r"\b(collect_list|collect_set|shuffle|rand|randn|uuid|"
        r"monotonically_increasing_id)\("
    )

    def _plan_is_order_nondet(self, df) -> bool:
        """True when ``df``'s analyzed plan contains a constructor whose
        output value/order can differ between two executions of the same
        plan (collect_list/collect_set are shuffle-fetch-order-dependent;
        the rest are explicitly nondeterministic).  A collect_list/
        collect_set whose result feeds DIRECTLY into sort_array/array_sort
        (the r11 fixture discipline) is already order-normalized and does
        not count — otherwise the guard would re-wrap every engine-owned
        nested fixture."""
        try:
            s = df._jdf.queryExecution().analyzed().toString()
        except Py4JError:  # the plan cannot be read: cannot prove safe
            return True
        for m in self._NONDET_FN_RE.finditer(s):
            if m.group(1) in ("collect_list", "collect_set"):
                pre = s[max(0, m.start() - 12):m.start()]
                if pre.endswith(("sort_array(", "array_sort(")):
                    continue
            return True
        return False

    @classmethod
    def _dtype_has_array(cls, dt) -> bool:
        if isinstance(dt, T.ArrayType):
            return True
        if isinstance(dt, T.StructType):
            return any(cls._dtype_has_array(f.dataType) for f in dt.fields)
        if isinstance(dt, T.MapType):
            return (cls._dtype_has_array(dt.keyType)
                    or cls._dtype_has_array(dt.valueType))
        return False

    @classmethod
    def _dtype_sort_unorderable(cls, dt, under_array: bool = False):
        """A MapType reachable under an ArrayType element makes the array
        unsortable (Spark ordering is undefined for maps) — returns the
        offending type string, or None when deep sort_array is legal."""
        if isinstance(dt, T.MapType):
            if under_array:
                return dt.simpleString()
            return (cls._dtype_sort_unorderable(dt.keyType, under_array)
                    or cls._dtype_sort_unorderable(dt.valueType,
                                                   under_array))
        if isinstance(dt, T.ArrayType):
            return cls._dtype_sort_unorderable(dt.elementType, True)
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                r = cls._dtype_sort_unorderable(f.dataType, under_array)
                if r:
                    return r
        return None

    @classmethod
    def _deep_sort_sql(cls, expr: str, dt, depth: int = 0) -> str:
        """SQL normalizing ``expr`` of type ``dt`` so equal multisets
        render byte-equal values: every array level is sort_array()ed
        innermost-first.  Returns ``expr`` unchanged when the type holds
        no arrays."""
        if isinstance(dt, T.ArrayType):
            var = f"__ds{depth}"
            inner = cls._deep_sort_sql(var, dt.elementType, depth + 1)
            if inner != var:
                expr = f"transform({expr}, {var} -> {inner})"
            return f"sort_array({expr})"
        if isinstance(dt, T.StructType):
            if not cls._dtype_has_array(dt):
                return expr
            parts = []
            for f in dt.fields:
                fe = cls._deep_sort_sql(
                    f"{expr}.`{f.name}`", f.dataType, depth
                )
                parts.append(f"'{f.name}', {fe}")
            # a NULL struct must stay NULL (named_struct would rebuild
            # it as a struct of NULLs)
            return (f"CASE WHEN {expr} IS NULL THEN NULL ELSE "
                    f"named_struct({', '.join(parts)}) END")
        return expr

    @staticmethod
    def _table_binding_spans(items, table, alias):
        """Token spans of every FROM item binding ``alias`` to ``table``
        (``FROM table [AS] alias`` / unaliased ``FROM table`` when alias
        == table) — the spans the landmine guard wraps."""
        tl, al = table.lower(), alias.lower()
        return [
            (x.start, x.stop + 1) for x in items
            if [sg.lower() for sg in x.segs] == [tl] and x.alias.lower() == al
        ]

    def _normalize_wrap_sql(self, schema, top_col, source_sql):
        """``(SELECT ..cols.., <deep sort> AS top_col FROM source)`` —
        the landmine guard's normalization wrapper."""
        fld = next(
            (f for f in schema.fields
             if f.name.lower() == top_col.lower()), None,
        )
        if fld is None or not self._dtype_has_array(fld.dataType):
            return None
        bad = self._dtype_sort_unorderable(fld.dataType)
        if bad:
            raise ValueError(
                f"correlated subplan over column {top_col!r}: the source "
                "plan builds it with an order-nondeterministic aggregate "
                "(collect_list/collect_set), and Catalyst's decorrelated "
                "join would key on the collection itself — but the "
                f"element type contains unorderable {bad}, so the engine "
                "cannot normalize it.  sort_array the collection when "
                "building the view, or restructure the query onto a "
                "single-aggregate/EXISTS subplan shape."
            )
        cols = []
        for f in schema.fields:
            if f.name.lower() == top_col.lower():
                cols.append(
                    self._deep_sort_sql(f"`{f.name}`", f.dataType)
                    + f" AS `{f.name}`"
                )
            else:
                cols.append(f"`{f.name}`")
        return f"(SELECT {', '.join(cols)} FROM {source_sql})"

    def _nondet_guard_spans(self, toks, items, segs, root_info, guarded):
        """Replacement spans that deep-sort the outer relation's
        collection column before a general-path subplan rewrite.
        Returns [] when provably safe or already guarded; raises
        ValueError when a hazard is detected but not normalizable."""
        kind, binding = root_info
        alias = segs[0]
        key = (alias.lower(), binding.lower() if kind == "table" else kind)
        if key in guarded:
            return []
        guarded.add(key)
        word, table, col = alias, binding, segs[1]
        if kind == "collection":
            # collection-alias root: normalize the ROOT binding of the
            # dotted FROM item (deep sort covers the inner collections)
            word, table, col = binding
        if table is not None:
            df = self._relation(table)
            if not self._plan_is_order_nondet(df):
                return []
            inner = self._normalize_wrap_sql(
                df.schema, col, f"{table} __ndg"
            )
            if inner is None:
                return []
            # after wrapping, the word re-resolves as a derived root —
            # pre-mark it so the rescan doesn't wrap a second time
            guarded.add((word.lower(), "derived"))
            spans = self._table_binding_spans(items, table, word)
            if not spans:
                raise ValueError(
                    f"correlated subplan over {alias}.{segs[1]}: {table!r} "
                    "builds the collection with an order-nondeterministic "
                    "aggregate and the engine could not locate the FROM "
                    f"item binding {word!r} to normalize it — sort_array "
                    "the collection when building the view"
                )
            return [(s0, s1, f" {inner} {word} ") for s0, s1 in spans]
        # derived-table root — wrap the derived item itself
        item = self._derived_item(items, word)
        if item is None:
            return []
        body = untokenize(toks[item.start + 1 : item.end])
        if "__ndg" in body:
            return []  # already a guard-emitted wrapper
        try:
            bdf = self.spark.sql(body)
        except AnalysisException:  # correlated body: the enclosing
            return []  # scope's guard covers its sources
        if not self._plan_is_order_nondet(bdf):
            return []
        inner = self._normalize_wrap_sql(bdf.schema, col, f"({body}) __ndg")
        if inner is None:
            return []
        return [(item.start, item.stop + 1, f" {inner} {word} ")]

    def _map_root_wrap(self, toks, items, segs, steps, root_info):
        """Handle a subplan path whose first step is a top-level MAP
        column's ``value`` (``t.map_map_col.value``): Catalyst rejects
        its correlated reference.  Returns ``("respan", spans)`` to wrap
        the binding FROM item with a map_entries pre-computation (caller
        splices + rescans), ``("patch", (collection_sql, dtype))``
        rendered over that entries ARRAY once the wrapper is in place, or
        None when not applicable."""
        if (
            len(steps) < 2
            or not isinstance(steps[0].dtype, T.MapType)
            or steps[1].kind != "value"
        ):
            return None
        col = segs[1]
        kind, table = root_info
        if kind == "table":
            spans = self._table_binding_spans(items, table, segs[0])
            if not spans:
                return None
            wrapped = (
                f"(SELECT *, map_entries(`{col}`) AS __me_{col}"
                f" FROM {table})"
            )
            return ("respan", [
                (s0, s1, f" {wrapped} {segs[0]} ") for s0, s1 in spans
            ])
        if kind == "derived":
            item = self._derived_item(items, segs[0])
            entries = f"__me_{col}".lower()
            if item is None or not any(
                t.text.lower() == entries
                for t in toks[item.start + 1 : item.end]
            ):
                return None
            return ("patch", self._render_collection(
                f"transform({segs[0]}.__me_{col}, __mv -> __mv.value)",
                T.ArrayType(steps[1].dtype), steps[2:],
            ))
        return None

    @staticmethod
    def _subplan_elements(body, qpath, coll_dt):
        """The subplan target ``qpath`` (of collection type ``coll_dt``)
        as an array of its elements, ``(sql, ArrayType)``.  A map becomes
        its ``map_entries``: a MAP subplan target exposes key/value
        (MapType.java), and Catalyst rejects map-typed correlated refs
        outright.  A collection of maps (``t.map_map_col.value``: the
        outer map's values are maps) scans every inner map's entries
        (nested-types-with-clause.test#4) when the subquery ``body``
        names key or value and neither item nor pos; bare item/pos refs
        keep the element-as-map reading."""
        def entries(mt):
            return T.ArrayType(T.StructType([
                T.StructField("key", mt.keyType),
                T.StructField("value", mt.valueType),
            ]))

        if isinstance(coll_dt, T.MapType):
            return f"map_entries({qpath})", entries(coll_dt)
        if (
            isinstance(coll_dt.elementType, T.MapType)
            and re.search(r"\b(key|value)\b", body, re.I)
            and not re.search(r"\b(item|pos)\b", body, re.I)
        ):
            return (
                f"flatten(transform({qpath}, __mm -> map_entries(__mm)))",
                entries(coll_dt.elementType),
            )
        return qpath, coll_dt

    def _subplan_lateral_agg(
        self, toks, o, close, first, target, derived, qpath, coll_dt
    ) -> bool:
        """Lower ``, (SELECT <agg>(arg) [AS] name [, <agg>(arg) [AS]
        name ...] FROM c.path [x] [WHERE pred]) v`` to inline HOF
        expressions, deleting the derived table and substituting refs to
        each output name (multi-item support: r10 verdict item 4 — for
        struct-rooted paths Catalyst REJECTS the correlated fallback, so
        these shapes have no other plan).  ``target`` is the block's
        ``c.path [x]`` FROM item, ``derived`` the FROM item the block is
        the body of, ``qpath`` the target as an array of its elements (of
        type ``coll_dt``).  Returns True when rewritten in place."""
        if derived is None or toks[derived.trigger].text != ",":
            return False
        p = derived.trigger
        # select list: one or more comma-separated aggregates, each WITH
        # an output name
        sel_code = [
            t for t in toks[first + 1 : target.trigger] if _is_code(t)
        ]
        item_codes: list[list] = [[]]
        depth0 = 0
        for t in sel_code:
            if t.text == "(":
                depth0 += 1
            elif t.text == ")":
                depth0 -= 1
            if t.text == "," and depth0 == 0:
                item_codes.append([])
            else:
                item_codes[-1].append(t)
        named: list[tuple[str, list]] = []
        for code in item_codes:
            if len(code) < 5 or code[-1].kind != "word":
                return False
            if code[-2].kind == "word" and code[-2].upper == "AS":
                name, code = code[-1].text, code[:-2]
            elif code[-2].text == ")":
                name, code = code[-1].text, code[:-1]
            else:
                return False
            if (
                code[0].kind != "word"
                or code[0].text.lower() not in ("count", "sum", "min",
                                                "max", "avg")
                or code[1].text != "("
                or code[-1].text != ")"
            ):
                return False
            named.append((name, code))
        if len({n.lower() for n, _c in named}) != len(named):
            return False  # duplicate output names: ambiguous
        # optional collection alias, then an optional WHERE; nothing else
        salias = target.alias if target.explicit else None
        pred_sql = None
        w_i2 = _next_code(toks, target.stop + 1)
        elem = coll_dt.elementType
        fields = (
            [f.name for f in elem.fields]
            if isinstance(elem, T.StructType) else None
        )
        if w_i2 < close:
            if toks[w_i2].kind != "word" or toks[w_i2].upper != "WHERE":
                return False
            pred_toks = toks[w_i2 + 1 : close]
            body = untokenize(pred_toks)
            if re.search(r"\bselect\b|\bpos\b", body, re.I):
                return False
            pred_sql = self._subplan_lambda_pred(
                pred_toks, fields, salias, "__sx"
            )
            if pred_sql is None:
                return False
        aggs: list[tuple[str, str]] = []
        for name, code in named:
            agg = self._agg_expr_from_code(
                code, elem, fields, salias, qpath, pred_sql,
            )
            if agg is None:
                return False
            aggs.append((name, agg))
        valias = derived.alias if derived.explicit else None
        blk_s, blk_e = _query_blocks(toks).span(p)
        n_del = derived.stop + 1 - p
        del toks[p : derived.stop + 1]
        self._substitute_output_names(
            toks, {n.lower(): (n, a) for n, a in aggs}, valias,
            (blk_s, blk_e - n_del),
        )
        return True

    @staticmethod
    def _select_output_aliases(toks, blk: QueryBlock) -> set:
        """Lowercased select-list OUTPUT aliases of query block ``blk``:
        explicit ``AS name`` plus trailing alias words of multi-token
        select items (``count(*) c``, ``'x' o_comment``).  Bare
        single-column items are excluded — their output name IS the
        column, so qualification stays correct for them."""
        aliases: set = set()
        sel_i = blk.select
        from_i = min(blk.clauses.values(), default=blk.end)
        depth = 0
        for k in range(sel_i + 1, from_i):
            t = toks[k]
            if t.text == "(":
                depth += 1
                continue
            if t.text == ")":
                depth -= 1
                continue
            if depth or t.kind != "word":
                continue
            nx = _next_code(toks, k + 1)
            if not (nx >= from_i or toks[nx].text == ","):
                continue  # not item-final
            pv = _prev_code(toks, k - 1)
            if pv < sel_i:
                continue
            pt = toks[pv]
            if (
                pt.text == ")"
                or pt.kind in ("num", "str", "bquote")
                or (pt.kind == "word" and pt.upper == "AS")
                or (pt.kind == "word"
                    and pt.upper not in ("SELECT", "DISTINCT", "ALL"))
            ):
                aliases.add(t.text.lower())
        return aliases

    @classmethod
    def _substitute_output_names(cls, toks, exprs, valias, blk):
        """Replace refs to a removed derived table's output columns
        (bare ``name`` or ``valias.name``; ``exprs`` maps lowercase name
        -> (name, expr_sql)) with their expressions; whole select items
        keep the name via AS.  One pass for ALL names — sequential
        single-name passes would shift the block bounds under each
        other.  Substitution is scoped to the query block that bound the
        derived table (``blk`` = its [start, end) span): bare names only
        at the block's own paren level (a nested subquery may bind its own
        column of the same name), qualified ``valias.name`` anywhere
        inside the block (correlated inner refs are unambiguous)."""
        blk_s, blk_e = blk
        in_subq_until = -1  # bare names are blocked inside nested SELECTs
        m = 0
        while m < len(toks):
            if m < blk_s or m >= blk_e:
                m += 1
                continue
            if toks[m].text == "(" and m >= in_subq_until:
                n2 = _next_code(toks, m + 1)
                if (
                    n2 < len(toks) and toks[n2].kind == "word"
                    and toks[n2].upper in ("SELECT", "WITH")
                ):
                    d2 = 1
                    x = m + 1
                    while x < len(toks) and d2:
                        if toks[x].text == "(":
                            d2 += 1
                        elif toks[x].text == ")":
                            d2 -= 1
                        x += 1
                    in_subq_until = x
            t = toks[m]
            if t.kind != "word":
                m += 1
                continue
            lo = t.text.lower()
            start = m
            matched = None  # (name, expr_sql)
            end_s = m
            if valias and lo == valias.lower():
                d = _next_code(toks, m + 1)
                if d < len(toks) and toks[d].text == ".":
                    w = _next_code(toks, d + 1)
                    if w < len(toks) and toks[w].text == "*":
                        # `v.*` = every output item, in declaration order
                        repl = tokenize(", ".join(
                            f"({x}) AS {n}" for n, x in exprs.values()
                        ))
                        toks[m : w + 1] = repl
                        delta2 = len(repl) - (w + 1 - m)
                        blk_e += delta2
                        if m < in_subq_until:
                            in_subq_until += delta2
                        m += len(repl)
                        continue
                    if (
                        w < len(toks)
                        and toks[w].kind == "word"
                        and toks[w].text.lower() in exprs
                    ):
                        end_s = w
                        matched = exprs[toks[w].text.lower()]
            if matched is None and m >= in_subq_until and lo in exprs:
                pv = _prev_code(toks, m - 1)
                nv = _next_code(toks, m + 1)
                alias_pos = pv >= 0 and (
                    toks[pv].text == ")"
                    or toks[pv].kind in ("num", "str", "bquote")
                    or (toks[pv].kind == "word"
                        and toks[pv].upper in ("AS",))
                    or (toks[pv].kind == "word"
                        and toks[pv].upper not in cls._QCF_KEYWORDS)
                )
                if (
                    (pv < 0 or toks[pv].text != ".")
                    and not alias_pos
                    and not (nv < len(toks)
                             and toks[nv].text in (".", "("))
                ):
                    # (alias positions — AS-preceded output names, table
                    # aliases after a relation word like `tn_customer c`
                    # — and dot/paren-followed qualifiers/functions must
                    # not be hijacked when an output name collides, like
                    # `count(*) c` next to `FROM customer c`)
                    matched = exprs[lo]
            if matched is None:
                m += 1
                continue
            name, expr_sql = matched
            pv = _prev_code(toks, start - 1)
            nx = _next_code(toks, end_s + 1)
            whole_item = (
                pv >= 0
                and _query_blocks(toks).clause_is(start, "SELECT")
                and (toks[pv].text == ","
                     or (toks[pv].kind == "word"
                         and toks[pv].upper in ("SELECT", "DISTINCT")))
                and (nx >= len(toks) or toks[nx].text == ","
                     or (toks[nx].kind == "word"
                         and toks[nx].upper == "FROM"))
            )
            repl = tokenize(
                f"{expr_sql} AS {name}" if whole_item
                else f"({expr_sql})"
            )
            toks[start : end_s + 1] = repl
            delta2 = len(repl) - (end_s + 1 - start)
            blk_e += delta2
            if start < in_subq_until:
                in_subq_until += delta2
            # the replacement's own parens net to zero; resume after it
            m = start + len(repl)

    def _agg_expr_from_code(
        self, code, elem, fields, salias, qpath, pred_sql
    ):
        """HOF expression for a single-aggregate code-token run
        ``AGG ( args ) `` — shared by the expression fast path and the
        lateral derived-table lowering."""
        fname = code[0].text.lower()
        inner = code[2:-1]
        depth = 1
        for t in inner:
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth == 0:
                    return None
        if any(t.text == "," for t in inner) or any(
            t.kind == "word" and t.upper == "DISTINCT" for t in inner
        ):
            return None
        arr_f = (
            f"filter({qpath}, __sx -> ({pred_sql}))" if pred_sql else qpath
        )
        star = len(inner) == 1 and inner[0].text in ("*", "1")
        if star:
            if fname != "count":
                return None
            # size(NULL) is -1 under legacy sizeOfNull and NULL otherwise;
            # greatest(x, 0) yields 0 for both (greatest skips NULLs);
            # COUNT is BIGINT in the reference, size() is INT
            return f"CAST(greatest(size({arr_f}), 0) AS BIGINT)"
        res = self._subplan_elem_expr(inner, elem, fields, salias)
        if res is None:
            return None
        e, kinds = res
        if fname == "count":
            cond = (
                f"({pred_sql}) AND (({e}) IS NOT NULL)"
                if pred_sql else f"({e}) IS NOT NULL"
            )
            return (
                f"CAST(greatest(size(filter({qpath}, __sx -> {cond})), 0)"
                " AS BIGINT)"
            )
        if fname in ("min", "max"):
            # array_min/max skip NULL elements; empty/NULL array -> NULL
            return f"array_{fname}(transform({arr_f}, __sx -> ({e})))"
        if "other" in kinds:
            return None
        dec = sorted(k for k in kinds if k.startswith("decimal:"))
        if dec:
            # decimal SUM/AVG, and only over a single bare field —
            # arithmetic would shift Spark's result scale away from the
            # reference's DECIMAL(38,s) contract (sum over decimal is
            # DECIMAL(38,s) in both Impala decimal_v2 and the accumulator
            # below; tpch_nested-q18.test's sum(l_quantity); avg's
            # decimal_v2 rule is ScalarType.createAdjustedDecimalType:
            # scale' = max(6,s), precision' = (p-s) + scale', capped at
            # 38 — nested-types-subplan.test's per-customer
            # avg(o_totalprice))
            if (
                fname not in ("sum", "avg")
                or len(dec) != 1
                or kinds - set(dec)
                or sum(1 for t2 in inner if t2.kind == "word") != 1
            ):
                return None
            _, p_s, s_s = dec[0].split(":")
            prec, scale = int(p_s), int(s_s)
            ty = f"DECIMAL(38,{scale})"
            sum_sql = (
                f"aggregate({arr_f}, CAST(NULL AS {ty}),"
                f" (__ac, __sx) -> CASE WHEN ({e}) IS NULL THEN __ac"
                f" ELSE coalesce(__ac, CAST(0 AS {ty})) + ({e}) END)"
            )
            if fname == "sum":
                return sum_sql
            cnt_sql = (
                f"size(filter({arr_f}, __sx -> ({e}) IS NOT NULL))"
            )
            avg_scale = max(6, scale)
            avg_prec = min(38, (prec - scale) + avg_scale)
            return (
                f"CAST(({sum_sql}) / nullif({cnt_sql}, 0)"
                f" AS DECIMAL({avg_prec},{avg_scale}))"
            )
        if fname == "avg":
            return (
                f"aggregate({arr_f},"
                " named_struct('s', CAST(NULL AS DOUBLE),"
                " 'c', CAST(0 AS BIGINT)),"
                f" (__ac, __sx) -> CASE WHEN ({e}) IS NULL THEN __ac"
                f" ELSE named_struct('s',"
                f" coalesce(__ac.s, CAST(0 AS DOUBLE)) + ({e}),"
                " 'c', __ac.c + 1) END,"
                " __ac -> __ac.s / __ac.c)"
            )
        ty = "DOUBLE" if "float" in kinds else "BIGINT"
        return (
            f"aggregate({arr_f}, CAST(NULL AS {ty}),"
            f" (__ac, __sx) -> CASE WHEN ({e}) IS NULL THEN __ac"
            f" ELSE coalesce(__ac, CAST(0 AS {ty})) + ({e}) END)"
        )

    def _subplan_agg_expr(
        self, toks, first, from_i, elem, fields, salias, qpath, pred_sql,
    ):
        """HOF lowering for a scalar aggregate subplan.  Returns the
        replacement expression SQL, or None for the general decorrelated
        path.  Semantics pinned to the reference's aggs over a per-row
        collection (nested-types-subplan.test): COUNT over an empty or
        NULL collection is 0; SUM/MIN/MAX/AVG ignore NULL elements and
        return NULL when nothing qualifies; SUM of integrals is BIGINT,
        AVG is DOUBLE."""
        code = [t for t in toks[first + 1 : from_i] if _is_code(t)]
        # optional [AS] alias on the select item — irrelevant to a
        # scalar result
        if len(code) >= 2 and code[-1].kind == "word":
            if code[-2].kind == "word" and code[-2].upper == "AS":
                code = code[:-2]
            elif code[-2].text == ")":
                code = code[:-1]
        if (
            len(code) < 4
            or code[0].kind != "word"
            or code[0].text.lower() not in ("count", "sum", "min",
                                            "max", "avg")
            or code[1].text != "("
            or code[-1].text != ")"
        ):
            return None
        return self._agg_expr_from_code(
            code, elem, fields, salias, qpath, pred_sql,
        )

    @staticmethod
    def _subplan_elem_expr(code, elem, fields, salias):
        """Rewrite an aggregate argument into a lambda body over ``__sx``.
        Conservative allowlist — element fields (bare or qualified by the
        collection alias), ``item`` for scalar arrays, numeric literals,
        and + - * / % arithmetic.  Anything else returns None (general
        path).  Returns (expr_sql, kinds) where kinds classifies the
        fields used: 'int' (integral), 'float', 'other'."""
        def _kind(dt):
            if isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                return "int"
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return "float"
            if isinstance(dt, T.DecimalType):
                return f"decimal:{dt.precision}:{dt.scale}"
            return "other"

        ftypes = (
            {f.name.lower(): f.dataType for f in elem.fields}
            if isinstance(elem, T.StructType) else None
        )
        out: list[str] = []
        kinds: set[str] = set()
        depth = 0
        i, n = 0, len(code)
        while i < n:
            t = code[i]
            if t.text in ("+", "-", "*", "%"):
                out.append(t.text)
                i += 1
                continue
            if t.text == "/":
                out.append(t.text)
                kinds.add("float")  # Impala / is double division
                i += 1
                continue
            if t.text == "(":
                depth += 1
                out.append("(")
                i += 1
                continue
            if t.text == ")":
                depth -= 1
                if depth < 0:
                    return None
                out.append(")")
                i += 1
                continue
            if t.kind == "num":
                out.append(t.text)
                if "." in t.text or "e" in t.text.lower():
                    kinds.add("float")
                i += 1
                continue
            if t.kind == "word":
                low = t.text.lower()
                if (
                    salias
                    and low == salias.lower()
                    and i + 2 < n
                    and code[i + 1].text == "."
                    and code[i + 2].kind == "word"
                ):
                    f2 = code[i + 2].text.lower()
                    if ftypes is not None and f2 in ftypes:
                        out.append(f"__sx.`{code[i + 2].text}`")
                        kinds.add(_kind(ftypes[f2]))
                        i += 3
                        continue
                    if f2 == "item":
                        # alias.item = the element itself; an optional
                        # .field continues into a struct element
                        if (
                            ftypes is not None
                            and i + 4 < n
                            and code[i + 3].text == "."
                            and code[i + 4].kind == "word"
                            and code[i + 4].text.lower() in ftypes
                        ):
                            f3 = code[i + 4].text
                            out.append(f"__sx.`{f3}`")
                            kinds.add(_kind(ftypes[f3.lower()]))
                            i += 5
                            continue
                        if ftypes is None:
                            out.append("__sx")
                            kinds.add(_kind(elem))
                            i += 3
                            continue
                    return None
                if ftypes is not None and low in ftypes:
                    out.append(f"__sx.`{t.text}`")
                    kinds.add(_kind(ftypes[low]))
                    i += 1
                    continue
                if ftypes is None and low == "item":
                    out.append("__sx")
                    kinds.add(_kind(elem))
                    i += 1
                    continue
                return None
            return None
        if depth != 0 or not out:
            return None
        return " ".join(out), kinds

    @staticmethod
    def _subplan_lambda_pred(pred_toks, fields, salias, var):
        """Rewrite a subplan WHERE predicate into a lambda body: bare
        element-field names (and the collection alias's qualified refs)
        become ``var.field``; everything else — outer columns, functions,
        literals — passes through.  Bare names that collide with element
        fields resolve to the element, matching the reference's
        innermost-scope-first resolution."""
        fl = {f.lower() for f in fields} if fields else None
        n = len(pred_toks)
        res = []
        for k, t in enumerate(pred_toks):
            if t.kind != "word":
                res.append(t.text)
                continue
            pk = k - 1
            while pk >= 0 and pred_toks[pk].kind in ("ws", "comment"):
                pk -= 1
            nk = k + 1
            while nk < n and pred_toks[nk].kind in ("ws", "comment"):
                nk += 1
            prev_t = pred_toks[pk].text if pk >= 0 else None
            next_t = pred_toks[nk].text if nk < n else None
            low = t.text.lower()
            if prev_t == ".":
                res.append(t.text)
            elif next_t == ".":
                res.append(var if salias and low == salias.lower()
                           else t.text)
            elif next_t == "(":
                res.append(t.text)  # function name
            elif fl is not None and low in fl:
                res.append(f"{var}.{t.text}")
            elif fl is None and low == "item":
                res.append(var)
            else:
                res.append(t.text)
        joined = "".join(res)
        if fl is None:
            # scalar array: a collection-alias-qualified ref (o.item ->
            # var.item after the alias substitution) means the element
            # itself
            joined = re.sub(rf"{var}\s*\.\s*item\b", var, joined)
        return joined

    @staticmethod
    def _table_path_subquery(
        table: str, steps: list[PathStep], want_pos: bool, want_item: bool
    ) -> tuple[str, list[str], bool] | None:
        """Inline subquery SQL scanning what the resolved path ``steps``
        reaches below the table ``table``: one LATERAL VIEW per element
        step, and one more when the path ends at a collection.  None when
        the path ends at neither a collection nor an element, or steps
        through a map key.  Returns ``(sql, star_cols, has_virtual)``:
        the columns the reference's ``*`` exposes, and whether any
        VIRTUAL column (pos / item-on-struct) was added to the subquery
        beyond them."""
        cur_expr = ""
        views: list[tuple[bool, str]] = []  # (is array, source expr)
        for st in steps:
            if st.kind == "field":
                cur_expr = (
                    f"{cur_expr}.`{st.name}`" if cur_expr
                    else f"`{st.name}`"
                )
            elif st.kind == "key":
                return None  # a path cannot continue through keys
            else:
                # an array's elements, or a map's values (the reference's
                # nested_struct.g.value.h.i shape, nested-types-scanner-
                # maps.test), become the element stream
                views.append((st.kind == "item", cur_expr))
                cur_expr = f"__tpe{len(views)}"
        end = steps[-1]
        terminal_map = isinstance(end.dtype, T.MapType)
        if terminal_map or isinstance(end.dtype, T.ArrayType):
            views.append((not terminal_map, cur_expr))
            elem_expr = f"__tpe{len(views)}"
            elem_dt = None if terminal_map else end.dtype.elementType
        elif end.kind != "field":
            elem_expr, elem_dt = cur_expr, end.dtype  # ended AT an element
        else:
            return None  # not a collection scan
        # a map's key and value get reserved names, re-aliased in the
        # select list — the table may itself have key/value columns (the
        # reference's pos_item_key_value_complextypestbl shape)
        lvs = [
            f"LATERAL VIEW posexplode({src}) __tpv{idx}"
            f" AS __tpp{idx}, __tpe{idx}" if is_array else
            f"LATERAL VIEW explode({src}) __tpv{idx}"
            f" AS __tpk{idx}, __tpe{idx}"
            for idx, (is_array, src) in enumerate(views, 1)
        ]
        n = len(views)
        has_virtual = False
        if terminal_map:
            cols = [f"__tpk{n} AS `key`", f"__tpe{n} AS `value`"]
            star_cols = ["key", "value"]
        elif isinstance(elem_dt, T.StructType):
            cols = [
                f"{elem_expr}.`{f.name}` AS `{f.name}`"
                for f in elem_dt.fields
            ]
            star_cols = [f.name for f in elem_dt.fields]
            if want_item:
                cols.append(f"{elem_expr} AS item")
                has_virtual = True
            if want_pos:
                # pos is BIGINT in the reference (CollectionTableRef's
                # position item type); Spark's posexplode yields INT
                cols.append(f"CAST(__tpp{n} AS BIGINT) AS pos")
                has_virtual = True
        else:
            cols = [f"{elem_expr} AS item"]
            star_cols = ["item"]
            if want_pos:
                cols.append(f"CAST(__tpp{n} AS BIGINT) AS pos")
                has_virtual = True
        return (
            "(SELECT " + ", ".join(cols)
            + f" FROM `{table}` " + " ".join(lvs) + ")",
            star_cols,
            has_virtual,
        )

    def _schema_columns_for(
        self, toks: list[Tok], items: list[FromItem]
    ) -> dict[str, str] | None:
        """Column knowledge for the translator's type dispatches, taken
        from the relations the statement reads (catalog FROM/JOIN items at
        any depth, and CAST-typed derived-table columns), like the
        analyzer typing a column from the statement's table refs: lower-
        case column name → Impala type name.  A name that appears with
        MIXED types across those relations is left out (ambiguous, like
        the analyzer's unresolved-column path), except that FLOAT mixed
        with DOUBLE, or FLOAT alone, maps to DOUBLE.  Only computed when
        the statement can need it.  ``toks``/``items`` are the
        statement's tokens and FROM items."""
        impala_sql = untokenize(toks)
        up = impala_sql.upper()
        need = (
            "||" in impala_sql
            or "CAST" in up
            or "AVG" in up
            or "CEIL" in up
            or "FLOOR" in up
            # arithmetic anywhere can hit the BIGINT->DECIMAL(19,0)
            # promotion (_rewrite_bigint_decimal_arith) — without this
            # trigger `SELECT big_col + 1.1 FROM t` silently skipped the
            # schema lookup and the result type depended on unrelated
            # keywords (round-8 advice, low)
            or any(ch in impala_sql for ch in "+-*/%")
        )
        if not need:
            return None
        names, seen = self._statement_columns(toks, items)
        for name in names:
            rel = self._relation(name)
            if rel is None:
                continue
            for f in rel.schema.fields:
                seen.setdefault(f.name.lower(), set()).add(
                    _impala_type_name(f.dataType)
                )
        return {
            n: "DOUBLE" if ts <= {"FLOAT", "DOUBLE"} else next(iter(ts))
            for n, ts in seen.items()
            if len(ts) == 1 or ts <= {"FLOAT", "DOUBLE"}
        }

    @classmethod
    def _statement_columns(
        cls, toks: list[Tok], items: list[FromItem]
    ) -> tuple[set[str], dict[str, set[str]]]:
        """What the statement itself says about the relations it reads:
        the names of its undotted FROM/JOIN items at any depth, less its
        own WITH names (the candidate catalog relations), and the Impala
        type names of the columns its derived tables and VALUES rows
        define as ``CAST(... AS <type>) [AS] name``.  ``items`` are the
        FROM items of ``toks``."""
        if not items:
            return set(), {}
        # one-segment items that are not table functions (`range(3)`)
        names: set[str] = set()
        for x in items:
            n = _next_code(toks, x.end + 1)
            if len(x.segs) == 1 and (n >= len(toks) or toks[n].text != "("):
                names.add(x.segs[0].strip("`").lower())
        ctes: set[str] = set()
        typed: dict[str, set[str]] = {}
        for i, t in enumerate(toks):
            if t.kind == "word" and t.upper == "CAST":
                try:
                    c = _parse_cast(toks, i)
                except ValueError:
                    break  # unbalanced: Spark's parser reports it
                if c is None:
                    continue
                a = _next_code(toks, c.close + 1)
                if a < len(toks) and toks[a].upper == "AS":
                    a = _next_code(toks, a + 1)
                n = _next_code(toks, a + 1)
                if (
                    c.ty and a < len(toks) and toks[a].kind == "word"
                    and toks[a].upper not in cls._QCF_KEYWORDS
                    and (n >= len(toks) or toks[n].text in (",", ")")
                         or toks[n].upper == "FROM")
                ):
                    typed.setdefault(toks[a].text.lower(), set()).add(c.ty)
                continue
            if t.kind == "word" and t.upper == "AS":
                # `WITH w AS (` / `, w AS (` binds a WITH name
                n = _next_code(toks, i + 1)
                w = _prev_code(toks, i - 1)
                p = _prev_code(toks, w - 1)
                if (
                    n < len(toks) and toks[n].text == "(" and w >= 0
                    and p >= 0 and (toks[p].text == ","
                                    or toks[p].upper == "WITH")
                ):
                    ctes.add(toks[w].text.lower())
        return names - ctes, typed

    def set_option(self, name: str, value: bool) -> None:
        """SET <query option> equivalent."""
        self.options[name] = value

    def table(self, name: str) -> DataFrame:
        return catalog.read_table(self.spark, name, self.sf_dir)

    def explain(self, impala_sql: str) -> str:
        """EXPLAIN output; `SET explain_verbose=true` switches to Spark's
        extended mode (logical + physical plans) — the analogue of the
        reference's EXPLAIN_LEVEL=verbose (query-options.h EXPLAIN_LEVEL;
        higher levels add per-node detail the same way)."""
        df = self.sql(impala_sql)
        mode = "extended" if self.options.get("explain_verbose") else "formatted"
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    # -- UDF surface (SURVEY.md §2.12: CREATE FUNCTION / SHOW FUNCTIONS;
    #    reference grammar sql-parser.cup:693-695,657) --------------------

    def create_function(
        self,
        name: str,
        fn=None,
        return_type=None,
        sql_params: str | None = None,
        sql_returns: str | None = None,
        sql_body: str | None = None,
    ) -> None:
        """CREATE [TEMPORARY] FUNCTION equivalent.

        Two forms, mirroring the reference's native-UDF vs SQL-expression
        split: a Python callable (registered Arrow-side when possible), or a
        SQL expression body (pure Catalyst, whole-stage codegen)."""
        if fn is not None:
            self.spark.udf.register(name, fn, returnType=return_type)
            return
        if sql_body is None:
            raise ValueError("pass a callable fn or a sql_body")
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sql_params or ''}) "
            f"RETURNS {sql_returns or 'STRING'} RETURN {sql_body}"
        )

    #: Impala type name → Spark DDL type for Java-UDF RETURNS clauses
    _JAVA_FN_TYPES = {
        "string": "string", "varchar": "string", "char": "string",
        "tinyint": "tinyint", "smallint": "smallint", "int": "int",
        "bigint": "bigint", "float": "float", "double": "double",
        "boolean": "boolean", "timestamp": "timestamp", "date": "date",
        "binary": "binary",
    }

    def create_java_function(
        self, name: str, jar: str, symbol: str, returns: str | None = None
    ) -> None:
        """CREATE FUNCTION <name> [...] LOCATION '<jar>' SYMBOL='<class>' —
        the reference's Java-UDF-from-JAR form (CreateUdfStmt,
        fe/.../analysis/CreateUdfStmt.java; hive-udf-call.h). The jar is
        added to the session classpath and the class registered through
        Spark's Java UDF bridge. The class must implement
        org.apache.spark.sql.api.java.UDF1..22 — Hive-interface UDF
        classes need a Hive-enabled session catalog, which the session
        (in-memory) catalog is not; the error says so explicitly."""
        import os

        if not os.path.exists(jar):
            raise ValueError(f"Could not load binary: {jar}")
        self.spark.sql(f"ADD JAR {jar}")
        rtype = None
        if returns:
            base = returns.split("(")[0].strip().lower()
            rtype = (
                returns.lower()
                if base == "decimal"
                else self._JAVA_FN_TYPES.get(base)
            )
            if rtype is None:
                raise ValueError(f"unsupported RETURNS type: {returns}")
        try:
            self.spark.udf.registerJavaFunction(name, symbol, rtype)
        except Exception as exc:  # noqa: BLE001 - reclassify for the user
            raise ValueError(
                f"CREATE FUNCTION {name}: class {symbol!r} could not be "
                "registered. It must implement "
                "org.apache.spark.sql.api.java.UDF1..UDF22; classes "
                "extending org.apache.hadoop.hive.ql.exec.UDF require a "
                "Hive-enabled session catalog (documented delta). "
                f"Underlying error: {exc}"
            ) from exc

    def create_aggregate_function(
        self,
        name: str,
        fn=None,
        return_type: str = "double",
        *,
        init=None,
        update=None,
        merge=None,
        finalize=None,
    ) -> None:
        """CREATE AGGREGATE FUNCTION equivalent (grammar
        sql-parser.cup:693-695; UDA contract be/src/udf/udf.h:379-391).

        Two forms:
          * `fn`: pandas Series(s) → scalar, Arrow-batched (grouped-agg
            pandas UDF) — the idiomatic vectorized form. Usable from
            engine.sql() in GROUP BY aggregations and OVER() windows.
            NOTE: this form plans as a whole-group Arrow aggregate — every
            group ships to one task as one batch (documented memory bound).
          * `init`/`update`/`merge`/`finalize`: the reference's full UDA
            callback contract (Merge at udf.h:388). When `merge` is
            supplied, the engine restores the distributive contract: it
            registers a `<name>__partial` (Init/Update fold per
            (key, salt) sub-group → pickled BINARY state) and
            `<name>__merge` (Merge fold over partials + Finalize) pair,
            and engine.sql() rewrites canonical aggregate statements
            calling `name` into the salted two-stage plan (hopspark/uda.py)
            so no task ever materializes a whole group. Statements outside
            the rewriter's supported shape fall back to the whole-group
            fold registered under `name` (correct, memory-bound)."""
        import pickle

        from pyspark.sql import functions as F

        if fn is None:
            if update is None:
                raise ValueError("pass a vectorized fn or an update callback")

            import pandas as pd

            def fn(*cols: pd.Series):  # noqa: ANN202 — dynamic return type
                acc = init() if init is not None else None
                # iterate plain lists, not Series: Series iteration boxes
                # every element into a numpy scalar (~5x slower row loop)
                for vals in zip(*(c.to_list() for c in cols)):
                    acc = update(acc, *vals)
                return finalize(acc) if finalize is not None else acc

            if merge is not None:

                def partial_fn(*cols: pd.Series) -> bytes:
                    acc = init() if init is not None else None
                    for vals in zip(*(c.to_list() for c in cols)):
                        acc = update(acc, *vals)
                    return pickle.dumps(acc)

                def merge_fn(parts: pd.Series):  # noqa: ANN202
                    acc = init() if init is not None else None
                    for blob in parts:
                        acc = merge(acc, pickle.loads(blob))
                    return finalize(acc) if finalize is not None else acc

                self.spark.udf.register(
                    f"{name}__partial",
                    F.pandas_udf(
                        partial_fn, "binary", F.PandasUDFType.GROUPED_AGG
                    ),
                )
                self.spark.udf.register(
                    f"{name}__merge",
                    F.pandas_udf(
                        merge_fn, return_type, F.PandasUDFType.GROUPED_AGG
                    ),
                )
                self._mergeable_udas.add(name.lower())

        udaf = F.pandas_udf(fn, return_type, F.PandasUDFType.GROUPED_AGG)
        self.spark.udf.register(name, udaf)

    @staticmethod
    def _ts_lit_to_ms(lit: str | None) -> int | None:
        if lit is None:
            return None
        if lit.isdigit():
            return int(lit)
        import datetime as _dt

        return int(
            _dt.datetime.fromisoformat(lit.strip("'")).timestamp() * 1000
        )

    def describe_history(
        self,
        path: str,
        from_lit: str | None = None,
        lo_lit: str | None = None,
        hi_lit: str | None = None,
    ):
        """DESCRIBE HISTORY '<iceberg path>' [FROM ts | BETWEEN a AND b] —
        the reference's Iceberg snapshot-log statement
        (Frontend.java:1230-1248): creation_time, snapshot_id, parent_id,
        is_current_ancestor (+ operation, our extension). Timestamp bounds
        accept epoch-millis integers or quoted ISO timestamps."""
        from hopspark.sources.iceberg import describe_history

        rows = describe_history(
            path,
            from_ms=self._ts_lit_to_ms(from_lit or lo_lit),
            to_ms=self._ts_lit_to_ms(hi_lit),
        )
        data = [
            (
                r["creation_time"],
                r["snapshot_id"],
                r["parent_id"],
                r["is_current_ancestor"],
                r["operation"],
            )
            for r in rows
        ]
        df = self.spark.createDataFrame(
            data or [(0, 0, None, False, "")],
            "creation_time_ms BIGINT, snapshot_id BIGINT, parent_id BIGINT, "
            "is_current_ancestor BOOLEAN, operation STRING",
        )
        if not data:
            df = df.filter("snapshot_id <> 0 OR operation <> ''")
        return df.selectExpr(
            "timestamp_millis(creation_time_ms) AS creation_time",
            "snapshot_id",
            "parent_id",
            "is_current_ancestor",
            "operation",
        )

    def drop_function(self, name: str) -> None:
        self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")

    def show_functions(self, pattern: str | None = None) -> list[str]:
        """SHOW FUNCTIONS [LIKE 'pattern'] — names visible to this session."""
        q = "SHOW USER FUNCTIONS"
        if pattern:
            q += f" LIKE '{pattern}'"
        return [r[0] for r in self.spark.sql(q).collect()]

    def profile(self, impala_sql: str) -> dict[str, dict[str, str]]:
        """Execute the statement and return per-operator runtime metrics —
        the RUNTIME_PROFILE analogue (reference: per-node counters in the
        query profile, be/src/util/runtime-profile.h). Keys are physical
        operator names with plan ids; values are Spark SQL metric name →
        formatted value."""
        df = self.sql(impala_sql)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        out: dict[str, dict[str, str]] = {}

        def walk(node) -> None:
            name = f"{node.nodeName()} (id={node.id()})"
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[str(kv._1())] = str(kv._2().value())
            if metrics:
                out[name] = metrics
            # AQE wrappers don't expose their subtree via children():
            # AdaptiveSparkPlanExec -> executedPlan(), QueryStageExec -> plan()
            # (py4j's hasattr is always true: the call raises instead)
            for unwrap in ("executedPlan", "plan"):
                try:
                    walk(getattr(node, unwrap)())
                    return
                except Py4JError:
                    pass
            cit = node.children().iterator()
            while cit.hasNext():
                walk(cit.next())

        walk(plan)
        return out

    # -- file/partition metadata surface (SHOW FILES / SHOW PARTITIONS —
    #    fe/.../analysis/ShowFilesStmt.java, ShowPartitionsStmt.java) ------

    @staticmethod
    def _pretty_size(n: float) -> str:
        """The reference's PrettyPrinter byte rendering (util/pretty-
        printer.h): two decimals with a B/KB/MB/GB/TB unit."""
        for unit in ("B", "KB", "MB", "GB"):
            if n < 1024:
                return f"{n:.2f}{unit}"
            n /= 1024.0
        return f"{n:.2f}TB"

    def _table_root(self, table: str) -> str:
        import os

        path = catalog.table_path(self.sf_dir, table.lower())
        if not os.path.exists(path):
            raise ValueError(f"Could not resolve path for table: {table}")
        return path

    def show_files(self, table: str) -> DataFrame:
        """SHOW FILES IN <table> → (Path, Size, Partition) per data file,
        like the reference's ShowFilesStmt result set. Hidden and
        bookkeeping files (dot / underscore prefixes) are skipped; for a
        partitioned directory tree the Partition column carries the
        key=value spec relative to the table root."""
        import os

        root = self._table_root(table)
        rows: list[tuple[str, str, str]] = []
        if os.path.isfile(root):
            rows.append((root, self._pretty_size(os.path.getsize(root)), ""))
        else:
            for dirpath, dirs, files in os.walk(root):
                dirs.sort()
                rel = os.path.relpath(dirpath, root)
                part = "" if rel == "." else rel.replace(os.sep, "/")
                for fn in sorted(files):
                    if fn.startswith((".", "_")):
                        continue
                    full = os.path.join(dirpath, fn)
                    rows.append(
                        (full, self._pretty_size(os.path.getsize(full)), part)
                    )
        return self.spark.createDataFrame(
            rows, "Path string, Size string, Partition string"
        )

    def _partition_layout(self, table: str) -> dict[tuple, list[float]]:
        """Walk the table's directory tree → {((key, value), ...): [n_files,
        bytes]} for every key=value partition directory; empty dict when
        the table is a single file / unpartitioned directory."""
        import os

        root = self._table_root(table)
        parts: dict[tuple, list[float]] = {}
        if os.path.isdir(root):
            for dirpath, dirs, files in os.walk(root):
                dirs.sort()
                data = [f for f in files if not f.startswith((".", "_"))]
                rel = os.path.relpath(dirpath, root)
                if not data or rel == ".":
                    continue
                segs = rel.split(os.sep)
                if not all("=" in s for s in segs):
                    continue
                key = tuple(tuple(s.split("=", 1)) for s in segs)
                acc = parts.setdefault(key, [0, 0.0])
                acc[0] += len(data)
                acc[1] += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in data
                )
        return parts

    def show_partitions(self, table: str) -> DataFrame:
        """SHOW PARTITIONS <table> → one row per key=value partition
        directory with the partition key values, #Rows (-1 unless
        COMPUTE STATS ran — the reference's convention), #Files and Size.
        Raises on unpartitioned tables like the reference's
        ShowPartitionsStmt analysis."""
        try:
            parts = self._partition_layout(table)
        except ValueError:
            # not an sf_dir-registered table: catalog (warehouse) tables
            # go through Spark's native SHOW PARTITIONS
            return self.spark.sql(f"SHOW PARTITIONS {table}")
        if not parts:
            raise ValueError(f"Table is not partitioned: {table}")
        key_cols = [k for k, _ in next(iter(parts))]
        rows = [
            tuple(v for _, v in key) + (-1, n, self._pretty_size(size))
            for key, (n, size) in sorted(parts.items())
        ]
        schema = (
            ", ".join(f"`{k}` string" for k in key_cols)
            + ", `#Rows` long, `#Files` long, Size string"
        )
        return self.spark.createDataFrame(rows, schema)

    # -- stats surface (COMPUTE STATS / SHOW TABLE|COLUMN STATS —
    #    fe/.../analysis/ComputeStatsStmt.java builds exactly these child
    #    queries: COUNT(*) + per-column NDV/nulls/size aggregates) ---------

    def compute_stats(self, table: str) -> DataFrame:
        """COMPUTE STATS <table>: run the reference's child-query plan —
        one scan computing COUNT(*) plus per-column ndv / null count /
        max & avg widths — and cache the results for SHOW ... STATS.

        One pass over the table produces every statistic (the reference
        issues the same fused aggregation); at 100 TB this is a single
        scan + one tiny all-partials reduce, and the resulting NDVs are
        the HLL estimates the planner would use for join ordering."""
        from pyspark.sql import functions as F

        df = self.table(table)
        aggs: list = [F.count(F.lit(1)).alias("__rows")]
        for f in df.schema.fields:
            c = f.name
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv__{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}")
            )
            if f.dataType.simpleString() in ("string", "binary"):
                size = F.length(c)
                aggs.append(F.max(size).alias(f"__maxsz__{c}"))
                aggs.append(F.round(F.avg(size), 4).alias(f"__avgsz__{c}"))
        row = df.agg(*aggs).collect()[0]
        fixed = {
            "tinyint": 1, "smallint": 2, "int": 4, "bigint": 8, "float": 4,
            "double": 8, "date": 4, "boolean": 1, "timestamp": 16,
            "timestamp_ntz": 16,
        }
        cols = []
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            mx = row[f"__maxsz__{f.name}"] if f"__maxsz__{f.name}" in row.asDict() else fixed.get(t, -1)
            av = row[f"__avgsz__{f.name}"] if f"__avgsz__{f.name}" in row.asDict() else float(fixed.get(t, -1))
            cols.append(
                (
                    f.name,
                    t,
                    int(row[f"__ndv__{f.name}"]),
                    int(row[f"__nulls__{f.name}"]),
                    int(mx if mx is not None else -1),
                    float(av if av is not None else -1.0),
                )
            )
        self._stats[table.lower()] = {"rows": int(row["__rows"]), "cols": cols}
        return self.spark.createDataFrame(
            [(f"Updated 1 partition(s) and {len(cols)} column(s).",)],
            "summary string",
        )

    def compute_incremental_stats(self, table: str) -> DataFrame:
        """COMPUTE INCREMENTAL STATS <table> — the reference's
        per-partition stats path (ComputeStatsStmt incremental mode,
        compute-stats-incremental.test): partitions that already have
        cached stats are NOT rescanned; only new partitions are read, with
        the partition predicate pruning every other directory at the scan.

        Per-partition intermediate state is an HLL sketch per column
        (Spark's hll_sketch_agg — the same mergeable-NDV design the
        reference persists per partition), so table-level NDVs come from
        hll_union over partition sketches without ever re-reading old
        data. At 100 TB with daily partitions, a refresh costs one
        partition's scan, not the table's."""
        from pyspark.sql import functions as F

        layout = self._partition_layout(table)
        if not layout:
            # unpartitioned: incremental degenerates to a full compute
            return self.compute_stats(table)
        tstate = self._inc_stats.setdefault(table.lower(), {})
        missing = [k for k in layout if k not in tstate]
        pcols = [k for k, _ in next(iter(layout))]
        if missing:
            df = self.spark.read.parquet(self._table_root(table))
            pred = None
            for key in missing:
                clause = None
                for col, val in key:
                    c = F.col(col).cast("string") == F.lit(val)
                    clause = c if clause is None else (clause & c)
                pred = clause if pred is None else (pred | clause)
            df = df.where(pred)
            data_cols = [f for f in df.schema.fields if f.name not in pcols]
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for f in data_cols:
                t = f.dataType.simpleString()
                if t in ("tinyint", "smallint", "int", "bigint"):
                    sk = F.expr(f"hll_sketch_agg(CAST(`{f.name}` AS BIGINT))")
                elif t in ("string", "binary"):
                    sk = F.expr(f"hll_sketch_agg(`{f.name}`)")
                else:
                    sk = F.expr(f"hll_sketch_agg(CAST(`{f.name}` AS STRING))")
                aggs.append(sk.alias(f"__sk__{f.name}"))
                aggs.append(
                    F.sum(F.col(f.name).isNull().cast("long")).alias(
                        f"__nulls__{f.name}"
                    )
                )
            for row in df.groupBy(*pcols).agg(*aggs).collect():
                key = tuple((c, str(row[c])) for c in pcols)
                tstate[key] = {
                    "rows": int(row["__rows"]),
                    "cols": {
                        f.name: {
                            "sketch": bytes(row[f"__sk__{f.name}"])
                            if row[f"__sk__{f.name}"] is not None
                            else None,
                            "nulls": int(row[f"__nulls__{f.name}"]),
                            "type": f.dataType.simpleString(),
                        }
                        for f in data_cols
                    },
                }
        # fold the per-partition state into the table-level stats cache so
        # SHOW TABLE|COLUMN STATS read merged numbers
        total_rows = sum(s["rows"] for s in tstate.values())
        col_names: list[str] = []
        for s in tstate.values():
            for c in s["cols"]:
                if c not in col_names:
                    col_names.append(c)
        merged_cols = []
        for c in col_names:
            sketches = [
                (s["cols"][c]["sketch"],)
                for s in tstate.values()
                if s["cols"].get(c, {}).get("sketch") is not None
            ]
            if sketches:
                ndv = int(
                    self.spark.createDataFrame(sketches, "sk binary")
                    .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))"))
                    .collect()[0][0]
                )
            else:
                ndv = 0
            nulls = sum(
                s["cols"][c]["nulls"] for s in tstate.values() if c in s["cols"]
            )
            ctype = next(
                s["cols"][c]["type"] for s in tstate.values() if c in s["cols"]
            )
            merged_cols.append((c, ctype, ndv, nulls, -1, -1.0))
        self._stats[table.lower()] = {"rows": total_rows, "cols": merged_cols}
        return self.spark.createDataFrame(
            [
                (
                    f"Updated {len(missing)} partition(s) and "
                    f"{len(col_names)} column(s).",
                )
            ],
            "summary string",
        )

    def show_table_stats(self, table: str) -> DataFrame:
        """SHOW TABLE STATS <table> — #Rows per the cached COMPUTE STATS
        (-1 when stats were never computed, the reference's convention).
        After COMPUTE INCREMENTAL STATS on a partitioned table, one row
        per partition plus the Total row, like the reference's
        partitioned-table result shape."""
        inc = self._inc_stats.get(table.lower())
        if inc:
            layout = self._partition_layout(table)
            key_cols = [k for k, _ in next(iter(inc))]
            rows = []
            for key, st in sorted(inc.items()):
                n_files, size = layout.get(key, [0, 0.0])
                rows.append(
                    tuple(v for _, v in key)
                    + (st["rows"], int(n_files), self._pretty_size(size))
                )
            rows.append(
                ("Total",) * len(key_cols)
                + (
                    sum(s["rows"] for s in inc.values()),
                    int(sum(v[0] for v in layout.values())),
                    self._pretty_size(sum(v[1] for v in layout.values())),
                )
            )
            schema = (
                ", ".join(f"`{k}` string" for k in key_cols)
                + ", `#Rows` long, `#Files` long, Size string"
            )
            return self.spark.createDataFrame(rows, schema)
        st = self._stats.get(table.lower())
        rows = st["rows"] if st else -1
        return self.spark.createDataFrame([(rows,)], "`#Rows` long")

    def show_column_stats(self, table: str) -> DataFrame:
        """SHOW COLUMN STATS <table> — column, type, #distinct values,
        #nulls, max size, avg size (reference output shape)."""
        st = self._stats.get(table.lower())
        if st is None:
            df = self.table(table)
            data = [
                (f.name, f.dataType.simpleString(), -1, -1, -1, -1.0)
                for f in df.schema.fields
            ]
        else:
            data = st["cols"]
        return self.spark.createDataFrame(
            data,
            "column string, type string, `#Distinct Values` long, "
            "`#Nulls` long, `Max Size` long, `Avg Size` double",
        )

    # -- metadata surface (SHOW TABLES / DESCRIBE — grammar
    #    sql-parser.cup:637-731 SHOW/DESCRIBE productions) ----------------

    def show_tables(self) -> list[str]:
        return [r.tableName for r in self.spark.sql("SHOW TABLES").collect()]

    def refresh(self, table: str | None = None) -> None:
        """REFRESH <table> / INVALIDATE METADATA [<table>] — drop cached
        file listings and data so the next scan sees new files (the
        reference's catalog-cache invalidation; on Spark the FileIndex and
        block caches are the state being invalidated). A full INVALIDATE
        METADATA also re-registers the engine's table views."""
        if table:
            self.spark.catalog.refreshTable(table)
        else:
            self.spark.catalog.clearCache()
            # force: the registration marker must not short-circuit an
            # explicit INVALIDATE METADATA — stale InMemoryFileIndex
            # listings are exactly what the user is flushing (r12 ADVICE).
            catalog.register(self.spark, self.sf_dir, force=True)

    def describe(self, table: str) -> list[tuple[str, str]]:
        """DESCRIBE <table> → [(col_name, data_type)]."""
        return [
            (r.col_name, r.data_type)
            for r in self.spark.sql(f"DESCRIBE TABLE {table}").collect()
            if r.col_name and not r.col_name.startswith("#")
        ]


def _pattern(body: str, flags: int = 0) -> re.Pattern[str]:
    """A whole statement: ``body`` after leading whitespace, then an
    optional ``;``."""
    return re.compile(rf"^\s*{body}\s*;?\s*$", re.I | flags)


_TS_LIT = r"(?:'[^']*'|\d+)"
_COMMENT_TEXT = r"(?:'((?:[^']|'')*)'|(NULL))"
_VIEW_STATEMENT = (
    re.compile(
        r"^\s*(CREATE|ALTER)\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
        r"(\([^)]*\))?\s*AS\s+(.*?);?\s*$",
        re.I | re.S,
    ),
    Engine._create_view,
)

#: The statement table — the analogue of the reference's statement
#: productions (sql-parser.cup:637-731): a statement's first word (upper
#: case) -> its (pattern, handler) entries in precedence order.  Each
#: pattern matches a whole statement; `Engine.sql` runs the first
#: matching entry's handler with the pattern's groups, and a statement no
#: entry matches is a query.  Within a word: ALTER VIEW … AS before the
#: ALTER TABLE forms, DESCRIBE HISTORY before DESCRIBE [FORMATTED],
#: COMPUTE INCREMENTAL STATS before COMPUTE STATS, DROP [INCREMENTAL]
#: STATS before DROP VIEW.
_STATEMENTS: dict[
    str, list[tuple[re.Pattern[str], Callable[..., DataFrame]]]
] = {
    "SET": [
        (_pattern(r"SET"), Engine._show_options),
        (_pattern(r"SET\s+(\w+)\s*=\s*([^\s;]+)"), Engine._set_statement),
    ],
    "COMPUTE": [
        (_pattern(r"COMPUTE\s+INCREMENTAL\s+STATS\s+(\w+)"),
         Engine.compute_incremental_stats),
        (_pattern(r"COMPUTE\s+STATS\s+(\w+)"), Engine.compute_stats),
    ],
    "DROP": [
        (_pattern(r"DROP\s+(?:INCREMENTAL\s+)?STATS\s+(\w+)"),
         Engine._drop_stats),
        (_pattern(r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)"), Engine._drop_view),
    ],
    "SHOW": [
        (_pattern(r"SHOW\s+TABLE\s+STATS\s+(\w+)"), Engine.show_table_stats),
        (_pattern(r"SHOW\s+COLUMN\s+STATS\s+(\w+)"), Engine.show_column_stats),
        (_pattern(r"SHOW\s+CREATE\s+(TABLE|VIEW)\s+(\w+)"), Engine._show_create),
        (_pattern(r"SHOW\s+FILES\s+IN\s+([\w.]+)"), Engine.show_files),
        (_pattern(r"SHOW\s+PARTITIONS\s+([\w.]+)"), Engine.show_partitions),
    ],
    "REFRESH": [(_pattern(r"REFRESH\s+(\w+)"), Engine._refresh_statement)],
    "INVALIDATE": [
        (_pattern(r"INVALIDATE\s+METADATA(?:\s+(\w+))?"),
         Engine._refresh_statement),
    ],
    "CREATE": [
        _VIEW_STATEMENT,
        (_pattern(
            r"CREATE\s+FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
            r"(?:\([^)]*\)\s*RETURNS\s+([\w(),]+)\s*)?"
            r"LOCATION\s+'([^']+)'\s+SYMBOL\s*=\s*'([^']+)'"
        ), Engine._create_java_function_statement),
    ],
    "ALTER": [
        _VIEW_STATEMENT,
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"COLUMNS?\s*(IF\s+NOT\s+EXISTS\s+)?(\(.*\)|\w+\s+.+?)", re.S
        ), Engine._add_columns),
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+CHANGE\s+(?:COLUMN\s+)?"
            r"(\w+)\s+(\w+)\s+(.+?)(?:\s+COMMENT\s+'((?:[^']|'')*)')?", re.S
        ), Engine._change_column),
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+REPLACE\s+COLUMNS\s*(\(.*\))", re.S
        ), Engine._replace_columns),
        (_pattern(r"ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)"),
         Engine._drop_column),
        (_pattern(
            r"ALTER\s+(?:TABLE|VIEW)\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)"
        ), Engine._rename),
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+SET\s+TBLPROPERTIES\s*\((.*)\)", re.S
        ), Engine._set_tbl_props),
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+UNSET\s+TBLPROPERTIES\s*"
            r"(IF\s+EXISTS\s+)?\((.*)\)", re.S
        ), Engine._unset_tbl_props),
        (_pattern(
            r"ALTER\s+TABLE\s+([\w.]+)\s+SET\s+OWNER\s+(?:USER|ROLE)\s+(\w+)"
        ), Engine._set_owner),
    ],
    "DESCRIBE": [
        (_pattern(
            rf"DESCRIBE\s+HISTORY\s+'([^']+)'\s*(?:FROM\s+({_TS_LIT})|"
            rf"BETWEEN\s+({_TS_LIT})\s+AND\s+({_TS_LIT}))?"
        ), Engine.describe_history),
        (_pattern(r"DESCRIBE\s+(FORMATTED\s+|EXTENDED\s+)?([\w.]+)"),
         Engine._describe),
    ],
    "EXPLAIN": [
        (re.compile(r"^\s*EXPLAIN\s+(.*?);?\s*$", re.I | re.S),
         Engine._explain_rows),
    ],
    "COMMENT": [
        (_pattern(rf"COMMENT\s+ON\s+TABLE\s+([\w.]+)\s+IS\s+{_COMMENT_TEXT}"),
         Engine._comment_on_table),
        (_pattern(
            rf"COMMENT\s+ON\s+COLUMN\s+([\w.]+)\.(\w+)\s+IS\s+{_COMMENT_TEXT}"
        ), Engine._comment_on_column),
    ],
    "TRUNCATE": [
        (_pattern(r"TRUNCATE\s+(?:TABLE\s+)?(IF\s+EXISTS\s+)?([\w.]+)"),
         Engine._truncate),
    ],
    "LOAD": [
        (_pattern(
            r"LOAD\s+DATA\s+INPATH\s+'([^']+)'\s+(OVERWRITE\s+)?"
            r"INTO\s+TABLE\s+([\w.]+)\s*(?:PARTITION\s*\(([^)]*)\))?"
        ), Engine._load_data),
    ],
}
_FIRST_WORD = re.compile(r"\s*(\w+)")


def _statement(
    impala_sql: str,
) -> tuple[Callable[..., DataFrame], tuple[str | None, ...]] | None:
    """The handler and pattern groups of the `_STATEMENTS` entry that
    matches the statement, or None for a query.  Only the entries of the
    statement's first word are tried, read with the patterns' own ``^\\s*``
    rule, so a statement that opens with a comment is a query."""
    m = _FIRST_WORD.match(impala_sql)
    for pattern, handler in _STATEMENTS.get(m[1].upper(), ()) if m else ():
        found = pattern.match(impala_sql)
        if found:
            return handler, found.groups()
    return None


def _impala_type_name(dt) -> str:
    """Spark type → Impala DDL type name (PrimitiveType.java:25-58)."""
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.IntegerType):
        return "INT"
    if isinstance(dt, T.ShortType):
        return "SMALLINT"
    if isinstance(dt, T.ByteType):
        return "TINYINT"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_impala_type_name(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (
            f"MAP<{_impala_type_name(dt.keyType)},"
            f"{_impala_type_name(dt.valueType)}>"
        )
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name}:{_impala_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT<{inner}>"
    return dt.simpleString().upper()


class PathStep(NamedTuple):
    """One step of a resolved collection path.  ``kind`` is ``field`` (a
    struct field, ``name`` spelled as the schema spells it), ``item`` (an
    array's elements, written or implied by a field of array<struct>),
    ``value`` or ``key`` (a map's); ``dtype`` is the type it lands on."""

    kind: str
    name: str
    dtype: T.DataType


def _resolve_path(schema: T.DataType, segs: list[str]) -> list[PathStep] | None:
    """The steps of the dotted path ``segs`` below a value of type
    ``schema``, by the reference's Path rules (fe Path.java): a struct
    field navigates (names match case-insensitively); ``item`` steps into
    an array's elements; a field of an array<struct> implicitly unnests the
    array first (``c.c_orders.o_lineitems`` is
    ``c.c_orders.item.o_lineitems``); ``value``/``key`` step into a map.
    None when a segment does not resolve."""
    steps: list[PathStep] = []
    cur = schema
    for seg in segs:
        sl = seg.lower()
        if isinstance(cur, T.ArrayType) and (
            sl == "item" or isinstance(cur.elementType, T.StructType)
        ):
            cur = cur.elementType
            steps.append(PathStep("item", "item", cur))
            if sl == "item":
                continue
        if isinstance(cur, T.StructType):
            fld = next((f for f in cur.fields if f.name.lower() == sl), None)
            if fld is None:
                return None
            cur = fld.dataType
            steps.append(PathStep("field", fld.name, cur))
        elif isinstance(cur, T.MapType) and sl in ("key", "value"):
            cur = cur.keyType if sl == "key" else cur.valueType
            steps.append(PathStep(sl, sl, cur))
        else:
            return None
    return steps
