"""ALTER TABLE / DESCRIBE statement surface.

Reference: the AlterTable*Stmt family under
fe/src/main/java/org/apache/impala/analysis/ (AlterTableAddColsStmt.java:42,
AlterTableDropColStmt.java:34, AlterTableAlterColStmt.java,
AlterTableReplaceColsStmt.java, AlterTableOrViewRenameStmt.java,
AlterTableSetTblProperties.java, AlterTableUnSetTblProperties.java:42) and
the behavior pinned by
testdata/workloads/functional-query/queries/QueryTest/alter-table.test.

In the reference these are metastore metadata edits: existing data files
are untouched, and scans resolve the new schema against old files (absent
column → NULL, changed type → cast at read). The Spark-first equivalent for
a temp-view catalog is a *projection re-registration*: the view is replaced
by a SELECT over its previous definition that adds NULL-typed columns,
drops, renames/casts, or re-maps positionally — which reproduces exactly
the reference's read-side semantics without rewriting a byte of data. At
100 TB that property is the whole point of ALTER TABLE: schema evolution
must be O(metadata), never a table rewrite, and a projection layer over an
immutable scan is precisely that.

Result-set messages mirror alter-table.test expectations
("New column(s) have been added to the table.", …).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from hopspark import catalog


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` outside (), <> and single quotes — column-def lists
    contain decimal(10,2), array<struct<...>> and quoted comments."""
    out, depth, quote, cur = [], 0, False, []
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == "'":
                quote = False
            continue
        if ch == "'":
            quote = True
            cur.append(ch)
        elif ch in "(<":
            depth += 1
            cur.append(ch)
        elif ch in ")>":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


_COLDEF_RE = re.compile(
    r"^\s*(\w+)\s+(.+?)(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*$",
    re.I | re.S,
)


def parse_col_defs(body: str) -> list[tuple[str, str, str | None]]:
    """'(c1 bigint comment 'id', c2 array<int>)' → [(name, type, comment)]."""
    body = body.strip()
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    defs = []
    for item in split_top_level(body):
        m = _COLDEF_RE.match(item)
        if not m:
            raise ValueError(f"cannot parse column definition: {item!r}")
        name, ctype, comment = m.groups()
        defs.append((name.lower(), ctype.strip(), comment))
    return defs


#: Impala column type → Spark DDL cast type. Most names coincide; CHAR and
#: VARCHAR keep their length semantics (Spark enforces both since 3.1).
def spark_type(impala_type: str) -> str:
    t = impala_type.strip().lower()
    return {"real": "double"}.get(t, t)


_PROP_PAIR_RE = re.compile(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'")


class AlterTableMixin:
    """The statement handlers of the ALTER TABLE / DESCRIBE surface.

    Mixed into Engine; uses self.spark and the session-catalog stores that
    Engine.__init__ creates: `_tbl_props` / `_col_comments` (the
    metastore-side state the reference keeps in HMS), the stats caches and
    the view definitions."""

    _tbl_props: dict[str, dict[str, str]]
    _col_comments: dict[str, dict[str, str]]
    _stats: dict[str, dict]
    _inc_stats: dict[str, dict]
    _view_defs: dict[str, str]

    def _meta(self, attr: str, table: str) -> dict:
        """Table ``table``'s entry in the session store ``attr``."""
        return getattr(self, attr).setdefault(table.lower(), {})

    def _msg(self, text: str) -> DataFrame:
        return self.spark.createDataFrame([(text,)], "summary string")

    def _replace_view(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        catalog.forget_registration(self.spark, name)

    # -- statement handlers (the ALTER TABLE / DESCRIBE / COMMENT /
    #    TRUNCATE / LOAD entries of engine._STATEMENTS; each takes its
    #    pattern's groups) ---------------------------------------------------

    def _set_tbl_props(self, table: str, body: str) -> DataFrame:
        props = self._meta("_tbl_props", table)
        for k, v in _PROP_PAIR_RE.findall(body):
            props[k] = v
        return self._msg("Updated table.")

    def _unset_tbl_props(
        self, table: str, if_exists: str | None, body: str
    ) -> DataFrame:
        props = self._meta("_tbl_props", table)
        for k in re.findall(r"'((?:[^']|'')*)'", body):
            if k in props:
                del props[k]
            elif not if_exists:
                raise ValueError(f"Table property '{k}' does not exist.")
        return self._msg("Updated table.")

    def _set_owner(self, table: str, owner: str) -> DataFrame:
        self._meta("_tbl_props", table)["owner"] = owner
        return self._msg("Updated table.")

    def _comment_on_table(
        self, table: str, text: str | None, null: str | None
    ) -> DataFrame:
        """COMMENT ON TABLE (AlterTableOrViewSetTblProperties via the
        CommentOnTableStmt path) — stored as the HMS 'comment' prop."""
        props = self._meta("_tbl_props", table)
        if null:
            props.pop("comment", None)
        else:
            props["comment"] = text
        return self._msg("Updated table.")

    def _comment_on_column(
        self, table: str, col: str, text: str | None, null: str | None
    ) -> DataFrame:
        comments = self._meta("_col_comments", table)
        if null:
            comments.pop(col.lower(), None)
        else:
            comments[col.lower()] = text
        return self._msg("Column has been altered.")

    def _load_data(
        self, src: str, overwrite: str | None, table: str,
        part_spec: str | None,
    ) -> DataFrame:
        """LOAD DATA INPATH (LoadDataStmt,
        fe/.../analysis/LoadDataStmt.java:39-44): MOVE the source file or a
        directory's files into the table's storage directory — a pure
        file-system metadata operation, zero data read/rewritten (the
        property that makes bulk ingest O(files) at any scale) — then
        refresh the table's file listing. OVERWRITE clears existing data
        files first. PARTITION(...) targets the key=value subdirectory."""
        import os
        import shutil

        if not os.path.exists(src):
            raise ValueError(f"INPATH location does not exist: {src}")
        dest = self._storage_location(table)
        if part_spec:
            for kv in part_spec.split(","):
                k, v = kv.split("=", 1)
                dest = os.path.join(
                    dest, f"{k.strip()}={v.strip().strip(chr(39))}"
                )
            os.makedirs(dest, exist_ok=True)
        if not os.path.isdir(dest):
            raise ValueError(
                f"table {table} is not backed by a writable directory: {dest}"
            )
        moved = []
        srcs = (
            [os.path.join(src, f) for f in sorted(os.listdir(src))
             if not f.startswith((".", "_"))
             and os.path.isfile(os.path.join(src, f))]
            if os.path.isdir(src)
            else [src]
        )
        if overwrite:
            for f in os.listdir(dest):
                full = os.path.join(dest, f)
                if os.path.isfile(full) and not f.startswith((".", "_")):
                    os.remove(full)
        for f in srcs:
            shutil.move(f, os.path.join(dest, os.path.basename(f)))
            moved.append(f)
        self.spark.catalog.refreshTable(table)
        return self._msg(
            f"Loaded {len(moved)} file(s). Total files in destination "
            f"location: "
            + str(
                len(
                    [
                        f
                        for f in os.listdir(dest)
                        if not f.startswith((".", "_"))
                        and os.path.isfile(os.path.join(dest, f))
                    ]
                )
            )
        )

    def _storage_location(self, table: str) -> str:
        """A table's data directory: catalog (warehouse / LOCATION) tables
        via Spark's metadata, sf_dir-registered tables via the engine
        catalog."""
        try:
            rows = self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {table}"
            ).collect()
            for r in rows:
                if r.col_name == "Location":
                    return re.sub(r"^file:(//)?", "", r.data_type)
        except AnalysisException:  # not a catalog table: engine catalog
            pass
        return self._table_root(table)

    def _truncate(self, if_exists: str | None, table: str) -> DataFrame:
        """TRUNCATE TABLE (TruncateStmt, fe/.../analysis/TruncateStmt.java):
        the reference deletes every data file, leaving schema + zero rows.
        The temp-view equivalent replaces the view with a LIMIT-0 projection
        of itself — same schema, no rows, no data touched."""
        try:
            df = self.spark.table(table)
        except AnalysisException:
            if if_exists:
                return self._msg("Table does not exist.")
            raise ValueError(f"Table does not exist: {table}") from None
        self._replace_view(table, df.limit(0))
        self._stats.pop(table.lower(), None)
        self._inc_stats.pop(table.lower(), None)
        return self._msg("Table has been truncated.")

    # -- column DDL -------------------------------------------------------

    def _add_columns(
        self, table: str, if_not_exists: str | None,
        if_not_exists_after: str | None, body: str,
    ) -> DataFrame:
        defs = parse_col_defs(body)
        df = self.spark.table(table)
        have = {f.name.lower() for f in df.schema.fields}
        dups = [n for n, _, _ in defs if n in have]
        if dups and not (if_not_exists or if_not_exists_after):
            raise ValueError(f"Column already exists: {dups[0]}")
        fresh = [d for d in defs if d[0] not in have]
        if not fresh:
            return self._msg("No new column(s) have been added to the table.")
        comments = self._meta("_col_comments", table)
        for name, ctype, comment in fresh:
            df = df.withColumn(name, F.lit(None).cast(spark_type(ctype)))
            if comment:
                comments[name] = comment
        self._replace_view(table, df)
        return self._msg("New column(s) have been added to the table.")

    def _drop_column(self, table: str, col: str) -> DataFrame:
        df = self.spark.table(table)
        names = [f.name for f in df.schema.fields]
        if col.lower() not in {n.lower() for n in names}:
            raise ValueError(f"Column does not exist: {col}")
        if len(names) == 1:
            # AlterTableDropColStmt: cannot drop the only column
            raise ValueError(
                f"Cannot drop column {col!r}: a table must have at least "
                "one column"
            )
        keep = [n for n in names if n.lower() != col.lower()]
        self._replace_view(table, df.select(*keep))
        self._meta("_col_comments", table).pop(col.lower(), None)
        return self._msg("Column has been dropped.")

    def _change_column(
        self, table: str, old: str, new: str, ctype: str, comment: str | None
    ) -> DataFrame:
        df = self.spark.table(table)
        names = [f.name for f in df.schema.fields]
        if old.lower() not in {n.lower() for n in names}:
            raise ValueError(f"Column does not exist: {old}")
        if new.lower() != old.lower() and new.lower() in {
            n.lower() for n in names
        }:
            raise ValueError(f"Column already exists: {new}")
        cols = [
            F.col(n).cast(spark_type(ctype)).alias(new.lower())
            if n.lower() == old.lower()
            else F.col(n)
            for n in names
        ]
        self._replace_view(table, df.select(*cols))
        comments = self._meta("_col_comments", table)
        comments.pop(old.lower(), None)
        if comment:
            comments[new.lower()] = comment
        return self._msg("Column has been altered.")

    def _replace_columns(self, table: str, body: str) -> DataFrame:
        """REPLACE COLUMNS maps the new schema onto existing columns BY
        POSITION (the reference's text-table semantics, alter-table.test
        'replace columns' block): surplus old columns are dropped, surplus
        new columns read as NULL."""
        defs = parse_col_defs(body)
        df = self.spark.table(table)
        names = [f.name for f in df.schema.fields]
        cols = []
        comments = self._meta("_col_comments", table)
        comments.clear()
        for i, (name, ctype, comment) in enumerate(defs):
            st = spark_type(ctype)
            if i < len(names):
                cols.append(F.col(names[i]).cast(st).alias(name))
            else:
                cols.append(F.lit(None).cast(st).alias(name))
            if comment:
                comments[name] = comment
        self._replace_view(table, df.select(*cols))
        return self._msg("Table columns have been replaced.")

    def _rename(self, old: str, new: str) -> DataFrame:
        if "." in new:
            # db-qualified targets have no home in a temp-view catalog
            new = new.split(".")[-1]
        if "." in old:
            old = old.split(".")[-1]
        df = self.spark.table(old)
        view_def = self._view_defs.pop(old.lower(), None)
        self._replace_view(new, df)
        self.spark.catalog.dropTempView(old)
        # renaming a catalog table away drops its view too
        catalog.forget_registration(self.spark, old)
        if view_def is not None:
            self._view_defs[new.lower()] = view_def
        for store in (
            self._tbl_props, self._col_comments, self._stats, self._inc_stats
        ):
            if old.lower() in store:
                store[new.lower()] = store.pop(old.lower())
        return self._msg("Renaming was successful.")

    # -- DESCRIBE ---------------------------------------------------------

    def _describe(self, formatted: str | None, table: str) -> DataFrame:
        """DESCRIBE <t> → (name, type, comment) rows with Impala type
        names (DescribeResultFactory.buildDescribeMinimalResult);
        FORMATTED/EXTENDED appends the detailed-info block with location
        and table properties."""
        from hopspark.engine import _impala_type_name

        fields = self.spark.table(table).schema.fields
        comments = self._meta("_col_comments", table)
        rows = [
            (
                f.name,
                _impala_type_name(f.dataType).lower(),
                comments.get(f.name.lower(), ""),
            )
            for f in fields
        ]
        if formatted:
            rows.append(("", "", ""))
            rows.append(("# Detailed Table Information", "", ""))
            try:
                rows.append(("Location:", self._table_root(table), ""))
            except ValueError:  # a view or table without storage
                pass
            props = self._meta("_tbl_props", table)
            if props:
                rows.append(("Table Parameters:", "", ""))
                rows.extend(
                    ("", k, v) for k, v in sorted(props.items())
                )
        return self.spark.createDataFrame(
            rows, "name string, type string, comment string"
        )
