"""SQL-statement DML router — ``hudi_sql(spark, "MERGE INTO t ...")``.

The Python DataSource API has no catalog/DML hook, so a Spark SQL user
cannot point ``spark.sql("MERGE INTO ...")`` at a hudi_py table. This
module parses the standard DML grammar Spark's Hudi docs show —

    MERGE INTO t [AS a] USING s [AS b] ON <equi-cond>
        WHEN MATCHED [AND c] THEN UPDATE SET * | SET x = e, ...
        WHEN MATCHED [AND c] THEN DELETE
        WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (exprs)
    UPDATE t SET x = e, ... [WHERE c]
    DELETE FROM t [WHERE c]
    ALTER TABLE t DROP [IF EXISTS] PARTITION (k=v, ...)[, PARTITION ...]

— and dispatches to the existing write APIs (``merge_into.merge_into``,
``dml.update_where`` / ``delete_where`` / ``delete_partitions``), which
do the real work as pruned scans + MOR upserts / metadata-only
replacecommits. Expressions inside SET/WHERE/VALUES are passed through
VERBATIM as Catalyst SQL (this router parses statement STRUCTURE only,
never expressions), so anything Spark SQL accepts works.

Table resolution: ``tables={"t": "/path/to/table"}`` maps statement
names to hudi_py base paths; a quoted path literal also works directly
(``MERGE INTO '/data/t' ...``). MERGE sources resolve through
``tables`` (another hudi table), a registered Spark view, or an inline
``(SELECT ...)`` subquery.

Parsing discipline: keywords are matched only at paren depth 0 and
outside string/identifier quotes (the ``_mask`` scanner), so
``WHERE``/``AND``/commas inside subqueries, function calls, or string
literals never split a clause.
"""

from __future__ import annotations

import re

from hudi_rs_spark.session import local_frame


class SqlDmlError(ValueError):
    """The statement does not match the supported DML grammar."""


# ---------------------------------------------------------------------------
# top-level scanner
# ---------------------------------------------------------------------------
def _mask(s: str) -> str:
    """Same-length copy of ``s`` where characters inside quotes or
    nested parens are blanked — regex hits on the mask are positions of
    TOP-LEVEL tokens in the original."""
    out = []
    depth = 0
    q: str | None = None
    i = 0
    while i < len(s):
        c = s[i]
        if q:
            if c == q:
                if q == "'" and i + 1 < len(s) and s[i + 1] == "'":
                    out.append("\0")
                    out.append("\0")
                    i += 2
                    continue
                q = None
            out.append("\0")
        elif c in ("'", '"', "`"):
            q = c
            out.append("\0")
        elif c == "(":
            depth += 1
            out.append("(" if depth == 1 else "\0")
        elif c == ")":
            depth -= 1
            out.append(")" if depth == 0 else "\0")
        else:
            out.append(c if depth == 0 else "\0")
        i += 1
    return "".join(out)


def _split_top(s: str, sep_pattern: str) -> list[str]:
    """Split ``s`` on a regex separator matched at top level only."""
    m = _mask(s)
    parts, last = [], 0
    for hit in re.finditer(sep_pattern, m, re.I):
        parts.append(s[last : hit.start()])
        last = hit.end()
    parts.append(s[last:])
    return [p.strip() for p in parts]


def _find_top(s: str, pattern: str, start: int = 0):
    return re.compile(pattern, re.I).search(_mask(s), start)


_IDENT = r"(?:`[^`]+`|'[^']+'|\"[^\"]+\"|[\w.$/\-]+)"


def _unquote(tok: str) -> str:
    tok = tok.strip()
    if tok[:1] in ("'", '"', "`") and tok[-1:] == tok[:1]:
        return tok[1:-1]
    return tok


def _resolve_path(name: str, tables: dict | None) -> str:
    raw = _unquote(name)
    if tables and raw in tables:
        return tables[raw]
    if tables and name in tables:
        return tables[name]
    if "/" in raw:  # a literal path
        return raw
    raise SqlDmlError(
        f"unknown table {name!r}: pass tables={{{raw!r}: '/base/path'}} "
        "or use a quoted path literal"
    )


def _name_and_alias(clause: str) -> tuple[str, str | None]:
    """``<name> [AS] [alias]`` -> (name, alias)."""
    toks = clause.strip().split()
    if not toks:
        raise SqlDmlError(f"expected a table reference, got {clause!r}")
    name = toks[0]
    rest = [t for t in toks[1:] if t.upper() != "AS"]
    if len(rest) > 1:
        raise SqlDmlError(f"cannot parse table reference {clause!r}")
    return name, (rest[0] if rest else None)


# ---------------------------------------------------------------------------
# router
# ---------------------------------------------------------------------------
def hudi_sql_script(
    spark, script: str, tables: dict | None = None, **options
) -> list:
    """Run a ';'-separated SQL script statement-by-statement through
    :func:`hudi_sql` — what a SQL tool feeds from a file. Statements
    split at TOP-LEVEL semicolons only (the quote/paren-aware scanner:
    a ';' inside a string literal or subquery never splits); line
    comments (``-- …``) are stripped. Returns the per-statement results
    in order. Fail-fast: a failing statement raises and later ones do
    not run (each prior statement has already committed — same
    semantics as feeding a script to any autocommit SQL shell)."""
    # strip -- comments outside quotes, line by line
    lines = []
    for ln in script.splitlines():
        m = re.search(r"--", _mask(ln))
        lines.append(ln[: m.start()] if m else ln)
    cleaned = "\n".join(lines)
    results = []
    for stmt in _split_top(cleaned, r";"):
        if stmt.strip():
            results.append(hudi_sql(spark, stmt, tables=tables, **options))
    return results


def hudi_sql(spark, statement: str, tables: dict | None = None, **options):
    """Execute one DML statement against hudi_py table(s).

    Returns the matched/dropped row-or-group count for
    UPDATE / DELETE / DROP PARTITION, and None for MERGE INTO (Spark
    SQL MERGE returns no rows). ``options`` forward to the write API."""
    stmt = statement.strip().rstrip(";").strip()
    head = stmt[:20].upper()
    if head.startswith("MERGE"):
        return _run_merge(spark, stmt, tables, options)
    if head.startswith("UPDATE"):
        return _run_update(spark, stmt, tables, options)
    if head.startswith("DELETE"):
        return _run_delete(spark, stmt, tables, options)
    if head.startswith("ALTER"):
        return _run_alter(spark, stmt, tables, options)
    if head.startswith("CALL"):
        return _run_call(spark, stmt, tables, options)
    if head.startswith("INSERT"):
        return _run_insert(spark, stmt, tables, options)
    if head.startswith("SHOW"):
        # SHOW <what> FROM|IN|ON <t> — sugar over the CALL procedures
        # (Hudi SQL: SHOW INDEXES FROM t; Spark: SHOW PARTITIONS t /
        # SHOW TBLPROPERTIES t)
        cm = re.match(
            rf"SHOW\s+CREATE\s+TABLE\s+(?P<t>{_IDENT})\s*$", stmt, re.I
        )
        if cm:
            return _run_show_create(spark, cm.group("t"), tables)
        sm = re.match(
            rf"SHOW\s+(?P<w>INDEXES|INDICES|PARTITIONS|COMMITS|SAVEPOINTS|"
            rf"ROLLBACKS|TBLPROPERTIES)\s+(?:FROM\s+|IN\s+|ON\s+)?"
            rf"(?P<t>{_IDENT})\s*$",
            stmt,
            re.I,
        )
        if not sm:
            raise SqlDmlError(
                "expected SHOW INDEXES|PARTITIONS|COMMITS|SAVEPOINTS|"
                "ROLLBACKS|TBLPROPERTIES [FROM|IN|ON] <table>"
            )
        proc = {
            "INDEXES": "show_indexes", "INDICES": "show_indexes",
            "PARTITIONS": "show_partitions", "COMMITS": "show_commits",
            "SAVEPOINTS": "show_savepoints", "ROLLBACKS": "show_rollbacks",
            "TBLPROPERTIES": "show_table_properties",
        }[sm.group("w").upper()]
        return _run_call(
            spark, f"CALL {proc}(table => {sm.group('t')})", tables, options
        )
    if re.match(r"CREATE\s+INDEX\b", stmt, re.I):
        return _run_create_index(spark, stmt, tables, options)
    if re.match(r"DROP\s+INDEX\b", stmt, re.I):
        return _run_drop_index(spark, stmt, tables, options)
    if re.match(
        rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?{_IDENT}\s+LIKE\b",
        stmt, re.I,
    ):
        return _run_create_like(spark, stmt, tables, options)
    if head.startswith("CREATE"):
        return _run_create(spark, stmt, tables, options)
    if head.startswith("DESCRIBE") or head.startswith("DESC "):
        return _run_describe(spark, stmt, tables)
    if head.startswith("TRUNCATE"):
        from hudi_rs_spark.write.dml import truncate_table

        tm = re.match(
            rf"TRUNCATE\s+TABLE\s+(?P<t>{_IDENT})\s*$", stmt, re.I
        )
        if not tm:
            raise SqlDmlError("expected TRUNCATE TABLE <table>")
        return truncate_table(_resolve_path(tm.group("t"), tables))
    if (head.startswith("SELECT") or head.startswith("WITH")) and _TVF.search(
        stmt
    ):
        return _run_tvf_select(spark, stmt, tables, options)
    if head.startswith("SELECT") or head.startswith("WITH"):
        return _run_plain_select(spark, stmt, tables)
    em = re.match(
        r"EXPLAIN\s+(?P<mode>EXTENDED|FORMATTED|CODEGEN|COST)?\s*"
        r"(?P<q>(?:SELECT|WITH)\b.*)$",
        stmt, re.I | re.S,
    )
    if em:
        # EXPLAIN over the routed query (views + AS OF + TVF rewrites
        # apply first, so the plan shown is the plan that would run)
        q = em.group("q")
        df = (
            _run_tvf_select(spark, q, tables, options)
            if _TVF.search(q)
            else _run_plain_select(spark, q, tables)
        )
        mode = (em.group("mode") or "simple").lower()
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), mode
            )
        except Exception:  # noqa: BLE001 — private helper moved: degrade
            plan = df._jdf.queryExecution().toString()
        return local_frame(spark, [(plan,)], "plan string")
    raise SqlDmlError(
        "supported statements: MERGE INTO / UPDATE / DELETE FROM / "
        "ALTER TABLE ... DROP PARTITION / CALL <procedure>(...) / "
        "CREATE TABLE ... USING hudi_py ... AS SELECT / "
        "CREATE INDEX ... ON <t> USING <type>(...) / DROP INDEX / "
        "INSERT INTO|OVERWRITE <t> SELECT|VALUES ... / "
        "SHOW INDEXES|PARTITIONS|... FROM <t> / SHOW CREATE TABLE <t> / "
        "CREATE TABLE <new> LIKE <src> / ALTER TABLE ... SET|UNSET "
        "TBLPROPERTIES / EXPLAIN [mode] SELECT ... / "
        "SELECT ... FROM hudi_table_changes(...) | hudi_query(...)"
    )


def _alias_rewrite(expr: str, renames: dict[str, str]) -> str:
    """Rewrite ``alias.`` prefixes to the canonical ``t.``/``s.`` the
    merge executor binds — quote-aware (the mask is rebuilt after every
    replacement so positions never go stale; an alias can't match its
    own replacement, so this terminates)."""
    for alias, to in renames.items():
        if alias.lower() == to:
            continue
        pat = re.compile(rf"\b{re.escape(alias)}\s*\.", re.I)
        while True:
            hit = pat.search(_mask(expr))
            if not hit:
                break
            expr = expr[: hit.start()] + f"{to}." + expr[hit.end():]
    return expr


def _run_merge(spark, stmt: str, tables, options):
    from hudi_rs_spark.write.merge_into import merge_into

    m = re.match(r"MERGE\s+INTO\s+", stmt, re.I)
    if not m:
        raise SqlDmlError("malformed MERGE INTO")
    rest = stmt[m.end():]
    using = _find_top(rest, r"\bUSING\b")
    if not using:
        raise SqlDmlError("MERGE INTO requires USING")
    target_ref = rest[: using.start()]
    rest2 = rest[using.end():]
    on = _find_top(rest2, r"\bON\b")
    if not on:
        raise SqlDmlError("MERGE INTO requires ON")
    source_ref = rest2[: on.start()]
    rest3 = rest2[on.end():]
    first_when = _find_top(rest3, r"\bWHEN\b")
    if not first_when:
        raise SqlDmlError("MERGE INTO requires at least one WHEN clause")
    on_cond = rest3[: first_when.start()].strip()
    clauses_text = rest3[first_when.start():]

    t_name, t_alias = _name_and_alias(target_ref)
    path = _resolve_path(t_name, tables)
    src_txt = source_ref.strip()
    tvf_at_start = _TVF.match(src_txt)
    if src_txt.startswith("("):
        # inline subquery: (SELECT ...) [AS] alias — a TVF inside it
        # routes through the TVF rewriter (hudi_query / table_changes)
        close = _find_top(src_txt, r"\)")
        sub = src_txt[1 : close.start()]
        s_alias_txt = src_txt[close.end():].strip()
        s_alias = None
        if s_alias_txt:
            toks = [t for t in s_alias_txt.split() if t.upper() != "AS"]
            s_alias = toks[0] if toks else None
        if _TVF.search(sub):
            source = _run_tvf_select(spark, sub, tables, options)
        else:
            source = spark.sql(sub)
        s_name = None
    elif tvf_at_start:
        # bare TVF source: MERGE ... USING hudi_query(s, 'snapshot') x
        close = _find_top(src_txt, r"\)")
        call = src_txt[: close.end()]
        s_alias_txt = src_txt[close.end():].strip()
        s_alias = None
        if s_alias_txt:
            toks = [t for t in s_alias_txt.split() if t.upper() != "AS"]
            s_alias = toks[0] if toks else None
        source = _run_tvf_select(
            spark, f"SELECT * FROM {call}", tables, options
        )
        s_name = None
    else:
        s_name, s_alias = _name_and_alias(src_txt)
        raw = _unquote(s_name)
        if tables and raw in tables:
            source = (
                spark.read.format("hudi_py").option("path", tables[raw]).load()
            )
            source = source.drop(
                *[c for c in source.columns if c.startswith("_hoodie")]
            )
        else:
            source = spark.table(raw)
    renames = {}
    if t_alias and t_alias.lower() != "t":
        renames[t_alias] = "t"
    if s_alias and s_alias.lower() != "s":
        renames[s_alias] = "s"
    # bare target/source table names used as qualifiers also normalize
    if not t_alias:
        bare = _unquote(t_name).split("/")[-1]
        if bare.lower() not in ("t", "s"):
            renames[bare] = "t"
    if s_name and not s_alias:
        bare = _unquote(s_name)
        if bare.lower() not in ("t", "s"):
            renames[bare] = "s"

    on_cols = []
    for conj in _split_top(on_cond, r"\bAND\b"):
        eq = _split_top(conj, r"=")
        if len(eq) != 2:
            raise SqlDmlError(
                f"only equi-join ON conditions are supported, got {conj!r}"
            )
        cols = set()
        for side in eq:
            side = _alias_rewrite(side, renames).strip()
            col = side.split(".")[-1].strip().strip("`")
            cols.add(col)
        if len(cols) != 1:
            raise SqlDmlError(
                f"ON must equate the same column on both sides, got {conj!r}"
            )
        on_cols.append(cols.pop())

    when_matched_update = None
    when_matched_delete = None
    when_not_matched_insert = None
    matched_condition = None
    for clause in _split_top(clauses_text, r"\bWHEN\b")[1:]:
        is_not = re.match(r"\s*NOT\s+MATCHED\b", clause, re.I)
        body = clause[is_not.end():] if is_not else None
        if body is None:
            mm = re.match(r"\s*MATCHED\b", clause, re.I)
            if not mm:
                raise SqlDmlError(f"cannot parse WHEN clause {clause!r}")
            body = clause[mm.end():]
        then = _find_top(body, r"\bTHEN\b")
        if not then:
            raise SqlDmlError(f"WHEN clause missing THEN: {clause!r}")
        cond_txt = body[: then.start()].strip()
        cond = None
        if cond_txt:
            am = re.match(r"AND\b", cond_txt, re.I)
            if not am:
                raise SqlDmlError(f"expected AND <cond>, got {cond_txt!r}")
            cond = _alias_rewrite(cond_txt[am.end():].strip(), renames)
        action = body[then.end():].strip()
        up = action.upper()
        if is_not:
            if when_not_matched_insert is not None:
                raise SqlDmlError("at most one WHEN NOT MATCHED clause")
            if cond is not None:
                raise SqlDmlError(
                    "WHEN NOT MATCHED AND <cond> is not supported: filter "
                    "the USING source instead"
                )
            if up.startswith("INSERT"):
                ins = action[len("INSERT"):].strip()
                if ins == "*" or not ins:
                    when_not_matched_insert = "all"
                else:
                    cm = re.match(r"\((?P<cols>[^)]*)\)\s*VALUES\s*\(", ins, re.I)
                    if not cm:
                        raise SqlDmlError(
                            f"cannot parse INSERT clause {action!r}"
                        )
                    cols = [
                        c.strip().strip("`")
                        for c in cm.group("cols").split(",")
                    ]
                    vals_txt = ins[cm.end() - 1:]
                    close = _find_top(vals_txt, r"\)")
                    vals = _split_top(vals_txt[1 : close.start()], r",")
                    if len(cols) != len(vals):
                        raise SqlDmlError("INSERT columns/VALUES mismatch")
                    when_not_matched_insert = {
                        c: _alias_rewrite(v, renames)
                        for c, v in zip(cols, vals)
                    }
            else:
                raise SqlDmlError(f"unsupported NOT MATCHED action {action!r}")
        elif up.startswith("DELETE"):
            if when_matched_delete is not None:
                raise SqlDmlError("at most one WHEN MATCHED ... DELETE")
            when_matched_delete = cond if cond is not None else "true"
        elif up.startswith("UPDATE"):
            if when_matched_update is not None:
                raise SqlDmlError("at most one WHEN MATCHED ... UPDATE")
            setm = re.match(r"UPDATE\s+SET\b", action, re.I)
            if not setm:
                raise SqlDmlError(f"cannot parse UPDATE clause {action!r}")
            assigns = action[setm.end():].strip()
            if assigns == "*":
                when_matched_update = "all"
            else:
                when_matched_update = {}
                for a in _split_top(assigns, r","):
                    kv = _split_top(a, r"=")
                    if len(kv) != 2:
                        raise SqlDmlError(f"cannot parse assignment {a!r}")
                    col = _alias_rewrite(kv[0], renames).strip()
                    col = col.split(".")[-1].strip().strip("`")
                    when_matched_update[col] = _alias_rewrite(
                        kv[1].strip(), renames
                    )
            matched_condition = cond
        else:
            raise SqlDmlError(f"unsupported MATCHED action {action!r}")

    merge_into(
        source,
        path,
        on=on_cols,
        when_matched_update=when_matched_update,
        when_matched_delete=when_matched_delete,
        when_not_matched_insert=when_not_matched_insert,
        matched_condition=matched_condition,
        **options,
    )
    return None


def _run_update(spark, stmt: str, tables, options):
    from hudi_rs_spark.write.dml import update_where

    m = re.match(r"UPDATE\s+", stmt, re.I)
    rest = stmt[m.end():]
    setkw = _find_top(rest, r"\bSET\b")
    if not setkw:
        raise SqlDmlError("UPDATE requires SET")
    path = _resolve_path(_name_and_alias(rest[: setkw.start()])[0], tables)
    rest2 = rest[setkw.end():]
    where = _find_top(rest2, r"\bWHERE\b")
    assigns_txt = rest2[: where.start()] if where else rest2
    cond = rest2[where.end():].strip() if where else "true"
    assignments = {}
    for a in _split_top(assigns_txt, r","):
        kv = _split_top(a, r"=")
        if len(kv) != 2:
            raise SqlDmlError(f"cannot parse assignment {a!r}")
        assignments[kv[0].strip().strip("`")] = kv[1].strip()
    return update_where(spark, path, assignments, cond, **options)


def _run_delete(spark, stmt: str, tables, options):
    from hudi_rs_spark.write.dml import delete_where

    m = re.match(r"DELETE\s+FROM\s+", stmt, re.I)
    if not m:
        raise SqlDmlError("expected DELETE FROM <table>")
    rest = stmt[m.end():]
    where = _find_top(rest, r"\bWHERE\b")
    ref = rest[: where.start()] if where else rest
    path = _resolve_path(_name_and_alias(ref)[0], tables)
    cond = rest[where.end():].strip() if where else "true"
    return delete_where(spark, path, cond, **options)


def _run_describe(spark, stmt: str, tables):
    """``DESCRIBE [EXTENDED] <t>`` — the resolved schema as a DataFrame
    (col_name, data_type, comment), partition columns marked; EXTENDED
    appends table-property rows (type/version/key/precombine)."""
    m = re.match(
        r"DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<ext>EXTENDED\s+)?"
        rf"(?P<t>{_IDENT})\s*$",
        stmt, re.I,
    )
    if not m:
        raise SqlDmlError("expected DESCRIBE [EXTENDED] <table>")
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable

    path = _resolve_path(m.group("t"), tables)
    table = HudiTable(path, spark)
    tc = HudiTableConfig.from_base_path(path)
    parts = set(tc.partition_fields)
    rows = [
        (
            f.name,
            f.dataType.simpleString(),
            "partition column" if f.name in parts else "",
        )
        for f in table.get_schema().fields
    ]
    if m.group("ext"):
        rows += [
            ("", "", ""),
            ("# table.type", tc.table_type.value, ""),
            ("# table.version", str(tc.table_version), ""),
            ("# recordkey.fields", ",".join(tc.record_key_fields), ""),
            ("# ordering.fields", ",".join(tc.ordering_fields or []), ""),
        ]
    return local_frame(
        spark, rows, "col_name string, data_type string, comment string"
    )


def _create_stmt_for(spark, path: str, name: str, location: str) -> str:
    """A re-runnable schema-only CREATE TABLE statement for the table
    at ``path``, emitted under ``name`` with ``location`` — the shared
    builder behind SHOW CREATE TABLE and CREATE TABLE ... LIKE."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable

    table = HudiTable(path, spark)
    tc = HudiTableConfig.from_base_path(path)

    def q(v: str) -> str:
        return "'" + str(v).replace("'", "''") + "'"

    cols = ",\n".join(
        f"  {f.name} {f.dataType.simpleString().upper()}"
        for f in table.get_schema().fields
        if not f.name.startswith("_hoodie_")
    )
    out = [f"CREATE TABLE {name} (\n{cols})"]
    out.append("USING hudi_py")
    if tc.partition_fields:
        out.append(f"PARTITIONED BY ({', '.join(tc.partition_fields)})")
    out.append(f"LOCATION {q(location)}")
    # identity keys in the WRITER option spelling the CREATE path
    # accepts (raw hoodie.table.* state is initialized by the create,
    # not replayed), plus any free (non-hoodie) table properties
    ident: dict[str, str] = {
        "table.type": tc.table_type.value,
        "table.version": str(tc.table_version),
        "recordkey.field": ",".join(tc.record_key_fields),
    }
    if tc.ordering_fields:
        ident["precombine.field"] = ",".join(tc.ordering_fields)
    if not tc.hive_style_partitioning:
        ident["hive_style_partitioning"] = "false"
    from hudi_rs_spark.write.ddl import _PROTECTED_PROP_PREFIXES

    free = {
        k: v
        for k, v in tc.props.items()
        if not k.startswith("hoodie.")
        and not any(k.startswith(p) for p in _PROTECTED_PROP_PREFIXES)
    }
    props = ",\n".join(
        f"  {q(k)} = {q(v)}"
        for k, v in [*sorted(ident.items()), *sorted(free.items())]
    )
    out.append(f"TBLPROPERTIES (\n{props})")
    return "\n".join(out)


def _run_show_create(spark, tok: str, tables):
    """``SHOW CREATE TABLE <t>`` — a re-runnable CREATE TABLE statement
    reconstructed from the resolved schema + hoodie.properties (Spark's
    own output shape: one row, column ``createtab_stmt``). Running the
    emitted statement through this router (schema-only CREATE TABLE)
    initializes an empty table with the same columns, partitioning, and
    table properties."""
    from hudi_rs_spark.config.table_config import HudiTableConfig

    path = _resolve_path(tok, tables)
    tc = HudiTableConfig.from_base_path(path)
    stmt = _create_stmt_for(
        spark, path, tc.table_name or _unquote(tok), path
    )
    return local_frame(spark, [(stmt,)], "createtab_stmt string")


def _run_create_like(spark, stmt: str, tables, options):
    """``CREATE TABLE <new> LIKE <src> [USING hudi_py] LOCATION '<dir>'``
    — an empty identity twin of ``src`` (columns, partitioning, table
    type/version/keys, free properties; no data). The statement is
    rebuilt by the SHOW CREATE TABLE builder and routed back through
    the schema-only CREATE path, so LIKE can never drift from what
    SHOW CREATE TABLE emits."""
    m = re.match(
        rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<new>{_IDENT})\s+"
        rf"LIKE\s+(?P<src>{_IDENT})(?P<rest>.*)$",
        stmt, re.I | re.S,
    )
    if not m:
        raise SqlDmlError("expected CREATE TABLE <new> LIKE <src> ...")
    src_path = _resolve_path(m.group("src"), tables)
    new_tok = m.group("new")
    rest = m.group("rest")
    lm = _find_top(rest, r"\bLOCATION\b")
    if lm:
        vm = re.match(rf"\s*({_IDENT})", rest[lm.end():], re.S)
        if not vm:
            raise SqlDmlError("LOCATION needs a quoted path")
        new_path = _unquote(vm.group(1))
    else:
        # no LOCATION clause: the new name must resolve via the map
        if not tables or _unquote(new_tok) not in tables:
            raise SqlDmlError(
                "CREATE TABLE ... LIKE needs LOCATION '<dir>' (or the "
                "new name present in the tables map)"
            )
        new_path = tables[_unquote(new_tok)]
    create = _create_stmt_for(
        spark, src_path, _unquote(new_tok), new_path
    )
    if re.match(r"CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS", stmt, re.I):
        create = create.replace(
            "CREATE TABLE ", "CREATE TABLE IF NOT EXISTS ", 1
        )
    return hudi_sql(spark, create, tables, **options)


def _run_alter(spark, stmt: str, tables, options):
    """ALTER TABLE dispatch: DROP PARTITION (metadata-only
    replacecommit), ADD COLUMNS / DROP COLUMN(S) (metadata-only schema
    commits — write/ddl.py)."""
    m = re.match(
        r"ALTER\s+TABLE\s+(?P<t>" + _IDENT + r")\s+(?P<rest>.+)$",
        stmt, re.I | re.S,
    )
    if not m:
        raise SqlDmlError("malformed ALTER TABLE")
    rest = m.group("rest").strip()
    up = rest[:20].upper()
    if up.startswith("ADD COLUMN"):
        from hudi_rs_spark.write.ddl import add_columns

        path = _resolve_path(m.group("t"), tables)
        body = re.sub(r"^ADD\s+COLUMNS?\s*", "", rest, flags=re.I).strip()
        if body.startswith("("):
            body, _ = _take_parens(body, 0)
        cols: dict[str, str] = {}
        for piece in _split_top(body, r","):
            toks = piece.strip().split(None, 1)
            if len(toks) != 2:
                raise SqlDmlError(
                    f"expected '<name> <type>' in ADD COLUMNS, got {piece!r}"
                )
            cols[_unquote(toks[0])] = toks[1].strip()
        add_columns(path, cols)
        return len(cols)
    if up.startswith("RENAME COLUMN"):
        from hudi_rs_spark.write.ddl import rename_column

        path = _resolve_path(m.group("t"), tables)
        rm = re.match(
            rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})\s*$",
            rest, re.I,
        )
        if not rm:
            raise SqlDmlError("expected RENAME COLUMN <old> TO <new>")
        rename_column(path, _unquote(rm.group(1)), _unquote(rm.group(2)))
        return 1
    if up.startswith("DROP COLUMN"):
        from hudi_rs_spark.write.ddl import drop_columns

        path = _resolve_path(m.group("t"), tables)
        body = re.sub(r"^DROP\s+COLUMNS?\s*", "", rest, flags=re.I).strip()
        if body.startswith("("):
            body, _ = _take_parens(body, 0)
        cols = [_unquote(c) for c in _split_top(body, r",") if c.strip()]
        drop_columns(path, cols)
        return len(cols)
    if up.startswith("SET TBLPROPERTIES"):
        from hudi_rs_spark.write.ddl import set_table_properties

        path = _resolve_path(m.group("t"), tables)
        inner, _ = _take_parens(rest, 0)
        props: dict[str, str] = {}
        for piece in _split_top(inner, r","):
            if not piece.strip():
                continue
            pm = re.match(
                rf"^\s*({_IDENT})\s*(?:=\s*|\s+)({_IDENT})\s*$", piece, re.S
            )
            if not pm:
                raise SqlDmlError(
                    f"cannot parse TBLPROPERTIES entry {piece!r}"
                )
            props[_unquote(pm.group(1))] = _unquote(pm.group(2))
        return set_table_properties(path, props)
    if up.startswith("UNSET TBLPROPERTIES"):
        from hudi_rs_spark.write.ddl import unset_table_properties

        path = _resolve_path(m.group("t"), tables)
        if_exists = bool(
            re.match(r"UNSET\s+TBLPROPERTIES\s+IF\s+EXISTS\b", rest, re.I)
        )
        inner, _ = _take_parens(rest, 0)
        keys = [_unquote(k) for k in _split_top(inner, r",") if k.strip()]
        return unset_table_properties(path, keys, if_exists=if_exists)
    return _run_drop_partition(spark, stmt, tables, options)


def _run_drop_partition(spark, stmt: str, tables, options):
    from hudi_rs_spark.write.dml import delete_partitions

    m = re.match(
        r"ALTER\s+TABLE\s+(?P<t>" + _IDENT + r")\s+DROP\s+"
        r"(?:IF\s+EXISTS\s+)?(?P<parts>PARTITION\s*\(.*)$",
        stmt, re.I | re.S,
    )
    if not m:
        raise SqlDmlError(
            "expected ALTER TABLE <t> DROP [IF EXISTS] PARTITION (k=v, ...)"
        )
    path = _resolve_path(m.group("t"), tables)
    parts = []
    for pm in re.finditer(
        r"PARTITION\s*\((?P<kv>[^)]*)\)", m.group("parts"), re.I
    ):
        fields = []
        for kv in pm.group("kv").split(","):
            k, _, v = kv.partition("=")
            if not _.strip() and not v:
                raise SqlDmlError(f"cannot parse partition spec {kv!r}")
            fields.append(f"{k.strip().strip('`')}={_unquote(v)}")
        parts.append("/".join(fields))
    return delete_partitions(path, parts, **options)


# ---------------------------------------------------------------------------
# CALL procedures (Hudi's Spark SQL procedure surface) + the
# hudi_table_changes table-valued function (Hudi 1.0 incremental SQL)
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# CREATE TABLE ... AS SELECT (CTAS)
# ---------------------------------------------------------------------------
def _take_parens(s: str, from_idx: int) -> tuple[str, int]:
    """Content of the first top-level ``(...)`` at/after ``from_idx``
    and the index just past the closing paren."""
    m = _mask(s)
    o = m.find("(", from_idx)
    if o < 0:
        raise SqlDmlError(f"expected '(' near {s[from_idx:][:40]!r}")
    c = m.find(")", o)
    if c < 0:
        raise SqlDmlError("unbalanced parentheses")
    return s[o + 1 : c], c + 1


def _run_insert(spark, stmt: str, tables, options):
    """``INSERT INTO <t> [(c1, …)] SELECT …|VALUES …`` and ``INSERT
    OVERWRITE [TABLE] <t> …`` through the router.

    The source SELECT runs through the same plain-SELECT machinery —
    named hudi tables become snapshot views and ``TIMESTAMP AS OF``
    rewrites apply — so ``INSERT INTO dst SELECT … FROM src TIMESTAMP
    AS OF '…'`` works. VALUES lists become a Spark inline table aliased
    to the column list (or the target's data columns). A column list
    maps source positions onto the named target columns and fills the
    rest with typed NULLs; without one, a source whose arity matches
    the target binds positionally (SQL default), otherwise a by-name
    subset fills missing columns with NULLs. The frame lands through
    the DataFrame writer — ``inherit_table_identity`` fills
    keys/type/version from hoodie.properties, so nothing but the path
    is needed; INTO appends (Hudi INSERT semantics: no key dedup
    against existing groups — use upsert()/MERGE for that), OVERWRITE
    is insert_overwrite_table (one replacecommit, time travel intact).
    Static ``PARTITION (…)`` clauses are not parsed — use
    delete_partitions / insert_overwrite on a pre-filtered frame."""
    from pyspark.sql import functions as F

    from hudi_rs_spark.avro.spark_schema import avro_record_to_struct
    from hudi_rs_spark.write.ddl import _current_schema

    m = re.match(
        rf"INSERT\s+(?P<ow>OVERWRITE|INTO)\s+(?:TABLE\s+)?(?P<t>{_IDENT})\s*",
        stmt,
        re.I,
    )
    if not m:
        raise SqlDmlError("expected INSERT INTO|OVERWRITE <table> ...")
    overwrite = m.group("ow").upper() == "OVERWRITE"
    path = _resolve_path(m.group("t"), tables)
    rest = stmt[m.end():].lstrip()
    # static PARTITION (k='v', …) clause: values become literal columns;
    # with OVERWRITE the write runs as a DYNAMIC partition overwrite
    # (insert_overwrite), so only the named partition is replaced
    statics: dict[str, str] = {}
    pm = re.match(r"PARTITION\s*", rest, re.I)
    if pm:
        inner, past = _take_parens(rest, pm.end())
        for piece in _split_top(inner, r","):
            kv = re.match(
                rf"^\s*({_IDENT})\s*=\s*({_IDENT})\s*$", piece, re.S
            )
            if not kv:
                raise SqlDmlError(
                    f"cannot parse PARTITION entry {piece!r} (k = 'v')"
                )
            statics[_unquote(kv.group(1))] = _unquote(kv.group(2))
        rest = rest[past:].lstrip()
    cols: list[str] | None = None
    if rest.startswith("("):
        inner, past = _take_parens(rest, 0)
        if not re.match(r"\s*(SELECT|WITH|VALUES)\b", inner, re.I):
            cols = [
                _unquote(c) for c in _split_top(inner, r",") if c.strip()
            ]
            rest = rest[past:].lstrip()
    if not rest:
        raise SqlDmlError("INSERT needs a SELECT or VALUES source")

    target = avro_record_to_struct(_current_schema(path))
    data_cols = [f.name for f in target.fields]
    bad_static = [c for c in statics if c not in data_cols]
    if bad_static:
        raise SqlDmlError(
            f"PARTITION column(s) {bad_static} not in the table schema"
        )

    if re.match(r"VALUES\b", rest, re.I):
        names = cols or [c for c in data_cols if c not in statics]
        first, _ = _take_parens(rest, 0)
        arity = len(_split_top(first, r","))
        if arity != len(names):
            raise SqlDmlError(
                f"VALUES arity {arity} != {len(names)} target columns "
                f"({', '.join(names)})"
            )
        df = spark.sql(f"SELECT * FROM ({rest} AS __ins({', '.join(names)}))")
    elif re.match(r"(SELECT|WITH)\b", rest, re.I):
        # TVF sources (hudi_table_changes / hudi_query) route through
        # the TVF rewriter; everything else through plain SELECT
        if _TVF.search(rest):
            df = _run_tvf_select(spark, rest, tables, options)
        else:
            df = _run_plain_select(spark, rest, tables)
        if cols:
            if len(df.columns) != len(cols):
                raise SqlDmlError(
                    f"source arity {len(df.columns)} != column list "
                    f"({', '.join(cols)})"
                )
            df = df.toDF(*cols)
        else:
            free = [c for c in data_cols if c not in statics]
            if len(df.columns) == len(free):
                df = df.toDF(*free)  # positional bind (SQL default)
    else:
        raise SqlDmlError("INSERT source must be SELECT, WITH, or VALUES")

    unknown = [c for c in df.columns if c not in data_cols]
    if unknown:
        raise SqlDmlError(
            f"INSERT columns {unknown} not in the table schema "
            f"({', '.join(data_cols)}); evolve the schema first "
            "(ALTER TABLE ADD COLUMNS)"
        )
    # conform to the full target row: statics as literals, cast present
    # columns, NULL the rest
    def _target_col(f):
        if f.name in statics:
            return F.lit(statics[f.name]).cast(f.dataType).alias(f.name)
        if f.name in df.columns:
            return F.col(f.name).cast(f.dataType).alias(f.name)
        return F.lit(None).cast(f.dataType).alias(f.name)

    df = df.select(*[_target_col(f) for f in target.fields])
    w = df.write.format("hudi_py").option("path", path)
    for k, v in (options or {}).items():
        w = w.option(k, str(v))
    if overwrite and statics:
        # dynamic partition overwrite: ONE replacecommit over just the
        # partitions this write touches (= the static partition)
        w = w.option("operation", "insert_overwrite")
        w.mode("append").save()
    else:
        w.mode("overwrite" if overwrite else "append").save()
    return None


def _run_create_index(spark, stmt: str, tables, options):
    """``CREATE INDEX [IF NOT EXISTS] <name> ON [TABLE] <t> [USING
    <type>] (<args>) [OPTIONS(k 'v', ...)]`` — Hudi 1.0's index DDL
    (hudi-spark SQL: CREATE INDEX ... USING bloom_filters|
    record_index|column_stats), dispatching to the SAME services as
    ``CALL run_index`` so both spellings build identical MDT
    partitions:

    - ``USING record_index (<key col>)`` -> record-index backfill
      (``OPTIONS(shards N)`` sets the shard count);
    - ``USING bloom_filters (<col>)`` -> bloom backfill;
    - ``USING column_stats (<col>)`` -> per-file interval stats of the
      column = an expression index whose expression IS the column;
    - ``USING expression (<any SQL expr>)`` -> expression index (the
      engine's functional-index form; Hudi spells it ``column_stats(col)
      OPTIONS(expr '...')`` — that spelling is accepted too).

    When USING is omitted the NAME selects the type (Hudi's
    ``CREATE INDEX record_index ON t (id)`` shorthand).
    """
    m = re.match(
        rf"CREATE\s+INDEX\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<n>{_IDENT})"
        rf"\s+ON\s+(?:TABLE\s+)?(?P<t>{_IDENT})\s*",
        stmt,
        re.I,
    )
    if not m:
        raise SqlDmlError(
            "expected CREATE INDEX <name> ON <table> [USING <type>] (<args>)"
        )
    name = _unquote(m.group("n"))
    path = _resolve_path(m.group("t"), tables)
    rest = stmt[m.end():]
    um = re.match(r"USING\s+(\w+)\s*", rest, re.I)
    itype = um.group(1).lower() if um else name.lower()
    if um:
        rest = rest[um.end():]
    args_str = ""
    if rest.lstrip().startswith("("):
        args_str, past = _take_parens(rest, 0)
        rest = rest[past:]
    opts: dict[str, str] = {}
    om = _find_top(rest, r"\bOPTIONS\b")
    if om:
        inner, _ = _take_parens(rest, om.end())
        for piece in _split_top(inner, r","):
            pm = re.match(
                rf"^\s*({_IDENT})\s*(?:=\s*|\s+)({_IDENT})\s*$", piece, re.S
            )
            if not pm:
                raise SqlDmlError(f"cannot parse OPTIONS entry {piece!r}")
            opts[_unquote(pm.group(1))] = _unquote(pm.group(2))
    cols = [c for c in (_unquote(p) for p in _split_top(args_str, r",")) if c]

    if itype in ("record_index", "record"):
        from hudi_rs_spark.write.record_index import backfill_record_index

        return backfill_record_index(
            spark, path, shards=int(opts.get("shards", 4))
        )
    if itype in ("bloom_filters", "bloom"):
        from hudi_rs_spark.write.mdt_bloom import backfill_bloom_filters

        return backfill_bloom_filters(spark, path)
    if itype in ("column_stats", "expression", "functional", "expr"):
        from hudi_rs_spark.write.expr_index import (
            PROP_PREFIX,
            create_expression_index,
        )

        expr = opts.get("expr") or args_str.strip()
        if itype == "column_stats" and "expr" in opts and cols:
            # Hudi's functional form: column_stats(col) OPTIONS(expr
            # 'from_unixtime', format '...') — expr names a FUNCTION
            # applied to the column
            fmt = opts.get("format")
            expr = (
                f"{opts['expr']}({cols[0]}, '{fmt}')"
                if fmt
                else f"{opts['expr']}({cols[0]})"
            )
        if not expr:
            raise SqlDmlError(
                f"CREATE INDEX USING {itype} needs a column or expression"
            )
        from hudi_rs_spark.config.table_config import HudiTableConfig

        if HudiTableConfig.from_base_path(path).props.get(PROP_PREFIX + name):
            if m.group("ine"):
                return 0  # IF NOT EXISTS: already built, no-op
            raise SqlDmlError(
                f"index {name!r} already exists on {path!r} "
                "(CREATE INDEX IF NOT EXISTS to ignore, or DROP INDEX first)"
            )
        return create_expression_index(spark, path, name, expr)
    raise SqlDmlError(
        f"unknown index type {itype!r}: record_index | bloom_filters | "
        "column_stats | expression"
    )


def _run_drop_index(spark, stmt: str, tables, options):
    """``DROP INDEX [IF EXISTS] <name> ON [TABLE] <t>`` — same dispatch
    as ``CALL drop_index`` (expression/column_stats indexes; the files/
    record-index/bloom MDT partitions are table infrastructure, not
    droppable indexes — same rule as the CALL form)."""
    m = re.match(
        rf"DROP\s+INDEX\s+(?P<ie>IF\s+EXISTS\s+)?(?P<n>{_IDENT})"
        rf"\s+ON\s+(?:TABLE\s+)?(?P<t>{_IDENT})\s*$",
        stmt,
        re.I,
    )
    if not m:
        raise SqlDmlError("expected DROP INDEX <name> ON <table>")
    from hudi_rs_spark.write.expr_index import drop_expression_index

    dropped = drop_expression_index(
        _resolve_path(m.group("t"), tables), _unquote(m.group("n"))
    )
    if not dropped and not m.group("ie"):
        raise SqlDmlError(
            f"index {_unquote(m.group('n'))!r} does not exist "
            "(DROP INDEX IF EXISTS to ignore)"
        )
    return dropped


def _run_create(spark, stmt: str, tables, options):
    """``CREATE TABLE [IF NOT EXISTS] <name> USING hudi_py
    [OPTIONS(k 'v' | k = 'v', ...)] [PARTITIONED BY (c, ...)]
    [LOCATION '<path>'] AS SELECT ...`` — CTAS dispatching to the
    DataFrame writer, mirroring the reference's DDL factory
    (crates/datafusion/src/lib.rs:936-982 HudiTableFactory). OPTIONS
    keys pass through VERBATIM as writer options (``recordkey.field``,
    ``table.type``, …) and persist to hoodie.properties; the target
    path resolves LOCATION first, then ``tables={name: path}``, then an
    OPTIONS ``path`` entry, then a path-shaped name literal.

    The SCHEMA-ONLY form — ``CREATE TABLE t (id BIGINT, name STRING, …)
    USING hudi_py …`` with no AS — initializes an EMPTY table: one
    ``hoodie.properties`` publish plus one metadata-only schema commit
    (write/ddl.py::_schema_commit), so reads return zero rows with the
    declared columns and a later ``INSERT INTO`` / ``df.write`` append
    lands with the table's identity already pinned. Key/partition
    columns must appear in the declared schema."""
    m = re.match(r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?", stmt, re.I)
    if_not_exists = bool(m.group(1))
    rest = stmt[m.end():]
    as_hit = _find_top(rest, r"\bAS\b")
    head = rest[: as_hit.start()] if as_hit else rest
    select_sql = rest[as_hit.end():].strip() if as_hit else None
    if select_sql is not None and not re.match(
        r"(SELECT|WITH)\b", select_sql, re.I
    ):
        raise SqlDmlError("CREATE TABLE ... AS must be followed by SELECT")
    nm = re.match(rf"\s*(?P<n>{_IDENT})\s*", head)
    if not nm or not nm.group("n"):
        raise SqlDmlError("CREATE TABLE needs a table name")
    name = _unquote(nm.group("n"))
    tail = head[nm.end():]
    schema_cols: list[str] | None = None
    if tail.lstrip().startswith("("):
        inner, past = _take_parens(tail, 0)
        schema_cols = [c for c in _split_top(inner, r",") if c.strip()]
        tail = tail[past:]
    if select_sql is None and not schema_cols:
        raise SqlDmlError(
            "CREATE TABLE needs a column list (empty-table init) or "
            "AS SELECT (CTAS)"
        )
    um = _find_top(tail, r"\bUSING\s+([\w.]+)")
    if um is None or um.group(1).lower() not in ("hudi_py", "hudi"):
        raise SqlDmlError("CREATE TABLE requires USING hudi_py")
    opts: dict[str, str] = {}
    # OPTIONS(...) and TBLPROPERTIES(...) both feed the writer options
    # (Spark DDL accepts either spelling for table-level config)
    for kw in (r"\bOPTIONS\b", r"\bTBLPROPERTIES\b"):
        om = _find_top(tail, kw)
        if not om:
            continue
        inner, _ = _take_parens(tail, om.end())
        for piece in _split_top(inner, r","):
            if not piece:
                continue
            pm = re.match(
                rf"^\s*({_IDENT})\s*(?:=\s*|\s+)({_IDENT})\s*$", piece, re.S
            )
            if not pm:
                raise SqlDmlError(f"cannot parse OPTIONS entry {piece!r}")
            opts[_unquote(pm.group(1))] = _unquote(pm.group(2))
    pby = _find_top(tail, r"\bPARTITIONED\s+BY\b")
    if pby:
        inner, _ = _take_parens(tail, pby.end())
        cols = [_unquote(c) for c in _split_top(inner, r",") if c]
        opts["partitionpath.field"] = ",".join(cols)
    loc = None
    lm = _find_top(tail, r"\bLOCATION\b")
    if lm:
        vm = re.compile(
            r"\bLOCATION\s+('[^']*'|\"[^\"]*\"|`[^`]*`|\S+)", re.I
        ).match(tail, lm.start())
        if not vm:
            raise SqlDmlError("cannot parse LOCATION")
        loc = _unquote(vm.group(1))
    path = loc
    if path is None and tables and name in tables:
        path = tables[name]
    if path is None and "path" in opts:
        path = opts["path"]
    if path is None and "/" in name:
        path = name
    if path is None:
        raise SqlDmlError(
            f"no location for table {name!r}: give LOCATION '...', "
            "tables={name: path}, or OPTIONS(path '...')"
        )
    opts.pop("path", None)
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    if _fs(base).isfile(f"{base}/.hoodie/hoodie.properties"):
        if if_not_exists:
            return None
        raise SqlDmlError(f"table {name!r} already exists at {path}")
    merged = {"hoodie.table.name": name, **opts, **options}
    if select_sql is None:
        return _create_empty_table(path, name, schema_cols, merged)
    df = spark.sql(select_sql)
    w = df.write.format("hudi_py").option("path", path)
    for k, v in merged.items():
        w = w.option(k, str(v))
    w.mode("append").save()
    return None


def _create_empty_table(
    path: str, name: str, schema_cols: list[str], merged: dict
) -> None:
    """Schema-only CREATE TABLE: hoodie.properties + one metadata-only
    schema commit carrying the declared columns (see _run_create)."""
    from pyspark.sql.types import _parse_datatype_string

    from hudi_rs_spark.write.config import WriteConfig
    from hudi_rs_spark.write.ddl import _schema_commit
    from hudi_rs_spark.write.writer import _spark_to_avro, init_table

    fields, names = [], []
    for cdef in schema_cols:
        cm = re.match(rf"\s*(?P<c>{_IDENT})\s+(?P<t>.+?)\s*$", cdef, re.S)
        if not cm:
            raise SqlDmlError(f"cannot parse column definition {cdef!r}")
        cname = _unquote(cm.group("c"))
        try:
            dt = _parse_datatype_string(cm.group("t"))
        except Exception as e:
            raise SqlDmlError(
                f"cannot parse type {cm.group('t')!r} for {cname!r}: {e}"
            ) from e
        names.append(cname)
        fields.append(
            {
                "name": cname,
                "type": ["null", _spark_to_avro(dt, cname)],
                "default": None,
            }
        )
    cfg = WriteConfig.from_options({"path": path, **merged})
    missing = [
        c
        for c in (*cfg.record_key_fields, *cfg.partition_fields)
        if c not in names
    ]
    if missing:
        raise SqlDmlError(
            f"key/partition column(s) {missing} are not in the declared "
            f"schema ({', '.join(names)})"
        )
    init_table(cfg)
    record_name = re.sub(r"\W", "_", name) or "record"
    _schema_commit(
        path, {"type": "record", "name": record_name, "fields": fields}, None
    )
    return None


def _parse_call_args(argstr: str) -> tuple[list[str], dict[str, str]]:
    """``k => v, 'positional', n`` -> (positionals, named); values are
    unquoted literals (expressions are not part of the CALL grammar)."""
    pos: list[str] = []
    named: dict[str, str] = {}
    if not argstr.strip():
        return pos, named
    for piece in _split_top(argstr, r","):
        if not piece:
            continue
        m = re.match(r"^\s*([\w.]+)\s*=>\s*(.+)$", piece, re.S)
        if m:
            named[m.group(1).lower()] = _unquote(m.group(2).strip())
        else:
            if named:
                raise SqlDmlError(
                    f"positional argument {piece!r} after named arguments"
                )
            pos.append(_unquote(piece.strip()))
    return pos, named


def _call_table(spark, args: dict, tables) -> str:
    if "table" not in args:
        raise SqlDmlError("CALL needs table => '<name or path>'")
    return _resolve_path(args["table"], tables)


def _one_col_df(spark, name: str, values) -> "object":
    return local_frame(spark, [(v,) for v in values], f"{name} string")


def _run_call(spark, stmt: str, tables, options):
    m = re.match(r"^CALL\s+([\w.]+)\s*\((?P<args>.*)\)\s*$", stmt,
                 re.I | re.S)
    if not m:
        raise SqlDmlError("expected CALL <procedure>(k => v, ...)")
    proc = m.group(1).split(".")[-1].lower()
    pos, args = _parse_call_args(m.group("args"))
    # Hudi procedures take the table first positionally
    if pos:
        args.setdefault("table", pos[0])
        pos = pos[1:]
    path = _call_table(spark, args, tables)
    op = args.get("op", "scheduleandexecute").replace("_", "").lower()

    if proc == "run_compaction":
        from hudi_rs_spark.write.async_compact import (
            run_scheduled_compaction,
            schedule_compaction,
        )
        from hudi_rs_spark.write.compact import compact

        kw = {}
        if "strategy" in args:
            kw["strategy"] = args["strategy"]
        if "target_io_mb" in args:
            kw["target_io_mb"] = float(args["target_io_mb"])
        if "target_partitions" in args:
            kw["target_partitions"] = int(args["target_partitions"])
        if op == "schedule":
            return schedule_compaction(path, **kw)
        if op in ("run", "execute"):
            return run_scheduled_compaction(spark, path)
        return compact(spark, path, **kw)

    if proc == "run_clustering":
        from hudi_rs_spark.write.async_cluster import (
            run_scheduled_clustering,
            schedule_clustering,
        )
        from hudi_rs_spark.write.cluster import cluster

        order = tuple(
            c.strip() for c in args.get("order", "").split(",") if c.strip()
        )
        layout = args.get("layout", "linear")
        if op == "schedule":
            skw = {}
            if "small_file_limit_mb" in args or "small_file_limit" in args:
                skw["small_file_limit_mb"] = float(
                    args.get("small_file_limit_mb",
                             args.get("small_file_limit"))
                )
            return schedule_clustering(
                path, sort_columns=order, layout=layout, **skw
            )
        if op in ("run", "execute"):
            return run_scheduled_clustering(spark, path)
        kw = {}
        if "small_file_limit_mb" in args or "small_file_limit" in args:
            kw["small_file_limit_mb"] = float(
                args.get("small_file_limit_mb", args.get("small_file_limit"))
            )
        if "target_file_size_mb" in args:
            kw["target_file_size_mb"] = float(args["target_file_size_mb"])
        return cluster(
            spark, path, sort_columns=order, layout=layout,
            min_group_slices=int(args.get("min_group_slices", 2)), **kw,
        )

    if proc == "run_clean":
        from hudi_rs_spark.write.clean import clean

        kw = {}
        if "clean_policy" in args or "policy" in args:
            kw["policy"] = args.get("clean_policy", args.get("policy"))
        if "hours_retained" in args:
            kw["policy"] = kw.get("policy", "KEEP_LATEST_BY_HOURS")
            kw["retain_hours"] = float(args["hours_retained"])
        if "file_versions_retained" in args:
            kw["policy"] = kw.get("policy", "KEEP_LATEST_FILE_VERSIONS")
            kw["retain_file_versions"] = int(args["file_versions_retained"])
        return clean(
            path, retain_commits=int(args.get("retain_commits", 10)), **kw
        )

    if proc == "create_savepoint":
        from hudi_rs_spark.write.savepoint import savepoint

        return savepoint(path, args.get("commit_time"))

    if proc == "delete_savepoint":
        from hudi_rs_spark.write.savepoint import delete_savepoint

        if "instant_time" not in args:
            raise SqlDmlError("delete_savepoint needs instant_time => '...'")
        return delete_savepoint(path, args["instant_time"])

    if proc == "rollback_to_savepoint":
        from hudi_rs_spark.write.savepoint import (
            restore,
            savepointed_instants,
        )

        target = args.get("instant_time")
        if target is None:
            pinned = savepointed_instants(path)
            if not pinned:
                raise SqlDmlError(f"no savepoints on {path!r}")
            target = max(pinned)
        return restore(path, target)

    if proc == "rollback_to_instant":
        # Hudi semantics: undo the GIVEN instant, which must be the
        # latest completed one — i.e. rewind to its predecessor
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.savepoint import restore

        if "instant_time" not in args:
            raise SqlDmlError("rollback_to_instant needs instant_time => '...'")
        target = args["instant_time"]
        completed = sorted(
            i.timestamp
            for i in HudiTable(path, spark=None, listing="direct")
            .timeline.instants
        )
        if not completed or completed[-1] != target:
            raise SqlDmlError(
                f"{target!r} is not the latest completed instant "
                f"({completed[-1] if completed else None!r}); only the "
                "latest can be rolled back — use rollback_to_savepoint "
                "for deeper rewinds"
            )
        if len(completed) < 2:
            raise SqlDmlError("cannot roll back the only commit")
        return restore(path, completed[-2], force=True)

    if proc == "run_index":
        # Hudi's async-indexer procedure: build an index on an existing
        # table. record_index / bloom_filters backfill distributed;
        # functional indexes need name + expression.
        itype = args.get("index_type", args.get("type", "")).lower()
        if itype in ("record_index", "record"):
            from hudi_rs_spark.write.record_index import (
                backfill_record_index,
            )

            return backfill_record_index(
                spark, path, shards=int(args.get("shards", 4))
            )
        if itype in ("bloom_filters", "bloom"):
            from hudi_rs_spark.write.mdt_bloom import backfill_bloom_filters

            return backfill_bloom_filters(spark, path)
        if itype in ("expression", "functional", "expr"):
            from hudi_rs_spark.write.expr_index import (
                create_expression_index,
            )

            if "name" not in args or "expr" not in args:
                raise SqlDmlError(
                    "run_index(type => 'expression') needs name => and "
                    "expr =>"
                )
            return create_expression_index(
                spark, path, args["name"], args["expr"]
            )
        raise SqlDmlError(
            f"unknown index_type {itype!r}: record_index | bloom_filters "
            "| expression"
        )

    if proc == "drop_index":
        from hudi_rs_spark.write.expr_index import drop_expression_index

        if "name" not in args:
            raise SqlDmlError("drop_index needs name => '<index name>'")
        return drop_expression_index(path, args["name"])

    if proc == "show_indexes":
        from hudi_rs_spark.config.table_config import HudiTableConfig

        tc2 = HudiTableConfig.from_base_path(path)
        parts = [
            p.strip()
            for p in tc2.props.get(
                "hoodie.table.metadata.partitions", ""
            ).split(",")
            if p.strip() and p.strip() != "files"
        ]
        return _one_col_df(spark, "index_name", sorted(parts))

    if proc == "rescale_buckets":
        from hudi_rs_spark.write.bucket import (
            rescale_oversized_buckets,
            rescale_undersized_buckets,
        )

        if "max_bucket_mb" not in args and "min_bucket_mb" not in args:
            raise SqlDmlError(
                "rescale_buckets needs max_bucket_mb => N (split "
                "trigger) and/or min_bucket_mb => N (merge trigger)"
            )
        done: list[tuple[int, int]] = []
        if "max_bucket_mb" in args:
            done += rescale_oversized_buckets(
                spark, path, float(args["max_bucket_mb"]),
                max_splits=(
                    int(args["max_splits"]) if "max_splits" in args else None
                ),
            )
        if "min_bucket_mb" in args:
            done += rescale_undersized_buckets(
                spark, path, float(args["min_bucket_mb"]),
                max_merges=(
                    int(args["max_merges"]) if "max_merges" in args else None
                ),
            )
        return local_frame(spark, done, "bucket int, modulus int")

    if proc in ("upgrade_table", "downgrade_table"):
        from hudi_rs_spark.write.upgrade import upgrade_table

        if "to_version" not in args:
            raise SqlDmlError(f"{proc} needs to_version => <6|8|9>")
        return upgrade_table(path, int(args["to_version"]))

    if proc == "show_commits":
        from hudi_rs_spark.sources.hudi import HudiTable

        t = HudiTable(path, spark=None, listing="direct")
        pending = set(t.timeline.pending_timestamps)
        rows = [
            (i.timestamp, i.action.value, "COMPLETED")
            for i in sorted(t.timeline.instants, key=lambda i: i.timestamp)
        ] + [(ts, None, "PENDING") for ts in sorted(pending)]
        limit = int(args.get("limit", 10))
        return local_frame(
            spark, rows[-limit:] if limit else rows,
            "commit_time string, action string, state string",
        )

    if proc == "show_savepoints":
        from hudi_rs_spark.write.savepoint import savepointed_instants

        return _one_col_df(
            spark, "savepoint_time", sorted(savepointed_instants(path))
        )

    if proc == "show_partitions":
        from hudi_rs_spark.sources.hudi import HudiTable

        parts = sorted({
            (sl.partition_path or "")
            for sl in HudiTable(path, spark=None, listing="direct")
            .get_file_slices()
        })
        return _one_col_df(spark, "partition", [p for p in parts if p])

    if proc == "show_table_properties":
        from hudi_rs_spark.config.table_config import HudiTableConfig

        props = HudiTableConfig.from_base_path(path).props
        return local_frame(
            spark, sorted(props.items()), "key string, value string"
        )

    if proc in ("show_compaction", "show_clustering"):
        from hudi_rs_spark.sources.hudi import HudiTable

        tl = HudiTable(path, spark=None, listing="direct").timeline
        plans = (
            tl.pending_compaction_plans()
            if proc == "show_compaction"
            else tl.pending_clustering_plans()
        )
        rows = [(ts, len(p.get("groups", []))) for ts, p in sorted(plans.items())]
        return local_frame(spark, rows, "plan_time string, groups int")

    if proc == "show_rollbacks":
        # rollback instants are maintenance actions (not data commits),
        # so they live as `.rollback` files in the timeline dir rather
        # than in timeline.instants — list + parse them directly
        import json as _json

        from hudi_rs_spark.write.savepoint import _timeline_dir
        from hudi_rs_spark.write.writer import _fs

        tdir = _timeline_dir(path)
        st = _fs(tdir)
        rows = []
        for e in st.list_dir(tdir):
            if e.is_dir or not e.name.endswith(".rollback"):
                continue
            ts = e.name.split(".")[0].split("_")[0]
            try:
                meta = _json.loads(st.read_bytes(f"{tdir}/{e.name}"))
                undone = ",".join(meta.get("commitsRollback", []))
                deleted = int(meta.get("totalFilesDeleted", 0))
            except (OSError, ValueError):
                undone, deleted = "", 0
            rows.append((ts, undone, deleted))
        return local_frame(
            spark, sorted(rows),
            "rollback_time string, commits_rolled_back string, "
            "files_deleted int",
        )

    if proc == "show_archived_commits":
        from hudi_rs_spark.sources.hudi import HudiTable

        tl = HudiTable(path, spark=None, listing="direct").timeline
        rows = sorted(
            (i.timestamp, str(getattr(i.action, "value", i.action)))
            for i in tl.archived_instants()
        )
        limit = int(args.get("limit", 0))
        return local_frame(
            spark, rows[-limit:] if limit else rows,
            "commit_time string, action string",
        )

    if proc == "run_bootstrap":
        from hudi_rs_spark.write.bootstrap import bootstrap_table

        if "base_path" not in args or "record_key" not in args:
            raise SqlDmlError(
                "run_bootstrap needs base_path => '<source parquet dir>' "
                "and record_key => '<col[,col]>'"
            )
        kw: dict = {"mode": args.get("mode", "metadata_only")}
        if "partition_fields" in args:
            kw["partition_fields"] = tuple(
                c.strip() for c in args["partition_fields"].split(",")
                if c.strip()
            )
        if "precombine" in args:
            kw["precombine"] = args["precombine"]
        bootstrap_table(
            args["base_path"], path,
            tuple(c.strip() for c in args["record_key"].split(",")),
            spark=spark, **kw,
        )
        return None

    if proc in ("run_validation", "validate_table"):
        # Hudi's validator procedure: every structural check as a row
        from hudi_rs_spark.write.validate import validate_table

        report = validate_table(path, spark=spark)
        rows = [
            (
                cname,
                bool(c.get("ok")),
                "; ".join(str(p) for p in (c.get("problems") or [])[:3]),
            )
            for cname, c in report["checks"].items()
        ]
        return local_frame(
            spark, rows, "check string, ok boolean, problems string"
        )

    if proc in ("show_fsview_all", "show_file_slices"):
        # Hudi's show_fsview_all: one row per live file slice
        from hudi_rs_spark.sources.hudi import HudiTable

        t2 = HudiTable(path, spark=None, listing="direct")
        rows = [
            (
                s.partition_path,
                s.file_id,
                s.commit_timestamp,
                s.base_file.file_name if s.base_file else None,
                int(s.base_file.size) if s.base_file else 0,
                len(s.log_files),
                int(sum(lf.size for lf in s.log_files)),
            )
            for s in t2.get_file_slices()
        ]
        return local_frame(
            spark, rows,
            "partition string, file_id string, base_instant string, "
            "base_file string, base_size long, num_logs int, log_size long",
        )

    if proc == "show_fsview_latest":
        # Hudi's show_fsview_latest: the serving slice per file group,
        # scoped to one partition via partition => '...' (all
        # partitions when omitted); merged-read size = base + logs
        from hudi_rs_spark.sources.hudi import HudiTable

        t2 = HudiTable(path, spark=None, listing="direct")
        want = args.get("partition")
        rows = [
            (
                s.partition_path,
                s.file_id,
                s.commit_timestamp,
                s.base_file.file_name if s.base_file else None,
                int(s.base_file.size) if s.base_file else 0,
                len(s.log_files),
                int(sum(lf.size for lf in s.log_files)),
                int(s.base_file.size if s.base_file else 0)
                + int(sum(lf.size for lf in s.log_files)),
            )
            for s in t2.get_file_slices()
            if want is None or (s.partition_path or "") == want
        ]
        return local_frame(
            spark, rows,
            "partition string, file_id string, base_instant string, "
            "base_file string, base_size long, num_logs int, "
            "log_size long, total_size long",
        )

    if proc in ("show_logfile_metadata", "show_logfile_records"):
        # block-level introspection of MOR log files; pattern matches
        # the file NAME (fnmatch) across live slices' logs
        import fnmatch
        import json as _json

        from hudi_rs_spark.logfile.reader import read_log_file
        from hudi_rs_spark.sources.hudi import HudiTable

        pattern = args.get("log_file_path_pattern", args.get("pattern", "*"))
        limit = int(args.get("limit", 10))
        t2 = HudiTable(path, spark=None, listing="direct")
        blocks = []
        for s in t2.get_file_slices():
            for lf in s.log_files:
                if not fnmatch.fnmatch(lf.file_name, pattern):
                    continue
                parts = [path, s.partition_path, lf.file_name]
                full = "/".join(p for p in parts if p)
                for bi, b in enumerate(read_log_file(full)):
                    blocks.append((lf.file_name, bi, b))
        if proc == "show_logfile_metadata":
            rows = [
                (
                    name,
                    bi,
                    int(b.block_type),
                    b.instant_time,
                    b.target_instant_time,
                    len(b.records),
                    len(b.delete_records),
                )
                for name, bi, b in blocks
            ]
            return local_frame(
                spark, rows,
                "log_file string, block_seq int, block_type int, "
                "instant_time string, target_instant string, "
                "num_records int, num_deletes int",
            )
        recs = []
        for name, _bi, b in blocks:
            for r in b.records:
                recs.append((name, b.instant_time, _json.dumps(
                    {k: v for k, v in r.items()}, default=str,
                    sort_keys=True,
                )))
                if len(recs) >= limit:
                    break
            if len(recs) >= limit:
                break
        return local_frame(
            spark, recs,
            "log_file string, instant_time string, record string",
        )

    if proc == "stats_file_sizes":
        # per-partition base/log size profile of the live view — the
        # input signal for compaction/clustering sizing decisions
        from hudi_rs_spark.sources.hudi import HudiTable

        t2 = HudiTable(path, spark=None, listing="direct")
        agg: dict[str, list] = {}
        for s in t2.get_file_slices():
            a = agg.setdefault(s.partition_path or "", [0, 0, [], 0, 0])
            if s.base_file:
                a[2].append(int(s.base_file.size))
            a[3] += len(s.log_files)
            a[4] += int(sum(lf.size for lf in s.log_files))
        rows = [
            (
                p,
                len(sizes),
                min(sizes) if sizes else 0,
                max(sizes) if sizes else 0,
                sum(sizes) // len(sizes) if sizes else 0,
                sum(sizes),
                nlogs,
                logbytes,
            )
            for p, (_x, _y, sizes, nlogs, logbytes) in sorted(agg.items())
        ]
        return local_frame(
            spark, rows,
            "partition string, num_base_files int, min_base long, "
            "max_base long, avg_base long, total_base long, "
            "num_log_files int, total_log long",
        )

    if proc == "stats_wa":
        # Hudi's write-amplification stats: per data commit, records
        # upserted (updates entering) vs records written (rows landed,
        # incl. rewrite amplification in COW base files)
        from hudi_rs_spark.sources.hudi import HudiTable

        tl = HudiTable(path, spark=None, listing="direct").timeline
        rows = []
        for i in sorted(tl.instants, key=lambda i: i.timestamp):
            action = str(getattr(i.action, "value", i.action))
            if action not in ("commit", "deltacommit"):
                continue
            try:
                raw = tl.metadata_for(i).raw
            except Exception:
                continue
            up = wr = 0
            for stats in (raw.get("partitionToWriteStats") or {}).values():
                for st in stats or []:
                    up += int(st.get("numUpdateWrites") or 0)
                    wr += int(st.get("numWrites") or 0)
            rows.append(
                (i.timestamp, up, wr, (float(wr) / up) if up else None)
            )
        return local_frame(
            spark, rows,
            "commit_time string, total_upserted long, total_written long, "
            "write_amplification double",
        )

    if proc == "show_metadata_table_partitions":
        from hudi_rs_spark.config.table_config import HudiTableConfig

        tc = HudiTableConfig.from_base_path(path)
        parts = sorted(
            p.strip()
            for p in tc.props.get(
                "hoodie.table.metadata.partitions", ""
            ).split(",")
            if p.strip()
        )
        return _one_col_df(spark, "partition", parts)

    if proc == "show_metadata_table_stats":
        # file count + bytes per MDT partition, straight from storage
        from hudi_rs_spark.write.writer import _fs

        mdt = f"{path}/.hoodie/metadata"
        st = _fs(path)
        rows = []
        if st.exists(mdt):
            for e in st.list_dir(mdt):
                # partition dirs (files/record_index/...); skip the
                # MDT's own .hoodie bookkeeping dir
                if not e.is_dir or e.name.startswith("."):
                    continue
                # MDT data files are DOT-PREFIXED log files (Hudi's
                # hidden-name convention) plus HFile bases — count all
                files = [
                    f for f in st.list_dir(f"{mdt}/{e.name}") if not f.is_dir
                ]
                rows.append(
                    (e.name, len(files), int(sum(f.size for f in files)))
                )
        return local_frame(
            spark, sorted(rows),
            "partition string, num_files int, total_bytes long",
        )

    if proc == "export_instants":
        # copy completed instant files from the active timeline to a
        # local folder (Hudi's export_instants); O(instants) metadata
        from hudi_rs_spark.write.savepoint import _timeline_dir
        from hudi_rs_spark.write.writer import _fs

        dest = args.get("local_folder") or args.get("localfolder")
        if not dest:
            raise SqlDmlError(
                "export_instants needs local_folder => '<dir>'"
            )
        limit = int(args.get("limit", 0))
        tdir = _timeline_dir(path)
        st = _fs(tdir)
        import os as _os

        _os.makedirs(dest, exist_ok=True)
        names = sorted(
            e.name for e in st.list_dir(tdir)
            if not e.is_dir and "." in e.name
            and not e.name.endswith((".requested", ".inflight"))
        )
        if limit:
            names = names[-limit:]
        for n in names:
            with open(_os.path.join(dest, n), "wb") as f:
                f.write(st.read_bytes(f"{tdir}/{n}"))
        return _one_col_df(spark, "exported", names)

    if proc == "copy_to_temp_view":
        # register a (possibly time-traveled) snapshot read as a Spark
        # temp view; the TVF/plain-SELECT router offers the same via
        # SQL — this is the procedure spelling (Hudi parity)
        from hudi_rs_spark.config.read_config import HudiReadOptions
        from hudi_rs_spark.sources.hudi import HudiTable

        view = args.get("view_name") or args.get("view")
        if not view:
            raise SqlDmlError(
                "copy_to_temp_view needs view_name => '<name>'"
            )
        ropts = None
        if args.get("as_of"):
            ropts = HudiReadOptions(as_of_timestamp=args["as_of"])
        df = HudiTable(path, spark).read(ropts)
        if str(args.get("global", "false")).lower() == "true":
            df.createOrReplaceGlobalTempView(view)
        else:
            df.createOrReplaceTempView(view)
        return 0

    if proc == "rollback_failed_writes":
        # Hudi's crashed-writer reclaim: roll back every orphan
        # (claimed-but-never-completed) instant, or one specific
        # instant via instant_time
        from hudi_rs_spark.write.rollback import rollback_failed_writes

        rolled = rollback_failed_writes(
            path, instant=args.get("instant_time")
        )
        return _one_col_df(spark, "rolled_back", rolled)

    if proc in ("run_ttl", "run_partition_ttl"):
        # RFC-65 KEEP_BY_TIME partition TTL as a procedure: drops every
        # expired partition in ONE replacecommit; returns the victims
        from hudi_rs_spark.write.ttl import apply_partition_ttl

        if "retain_days" not in args:
            raise SqlDmlError("run_ttl needs retain_days => <days>")
        dropped = apply_partition_ttl(
            path, float(args["retain_days"]), as_of=args.get("as_of"),
            policy=args.get("policy", "KEEP_BY_TIME"),
        )
        return _one_col_df(spark, "dropped_partition", dropped)

    if proc == "repair_orphan_files":
        # dry-run by default: deleting data files is destructive, so
        # the caller must pass dry_run => false explicitly
        from hudi_rs_spark.write.validate import repair_orphan_files

        dry = str(args.get("dry_run", "true")).lower() != "false"
        rels = repair_orphan_files(path, dry_run=dry)
        return local_frame(
            spark, [(r, dry) for r in rels],
            "file string, dry_run boolean",
        )

    if proc == "archive_commits":
        from hudi_rs_spark.write.archive import archive_timeline

        return archive_timeline(
            path, keep_active=int(args.get("keep_active", 10))
        )

    raise SqlDmlError(
        f"unknown procedure {proc!r}; supported: run_compaction, "
        "run_clustering, run_clean, create_savepoint, delete_savepoint, "
        "rollback_to_savepoint, rollback_to_instant, upgrade_table, "
        "downgrade_table, run_index, drop_index, show_indexes, "
        "show_commits, show_savepoints, show_compaction, show_clustering, "
        "show_partitions, show_table_properties, show_rollbacks, "
        "show_archived_commits, run_bootstrap, rescale_buckets, "
        "run_validation, show_fsview_all, show_fsview_latest, "
        "show_logfile_metadata, show_logfile_records, stats_file_sizes, "
        "stats_wa, show_metadata_table_partitions, "
        "show_metadata_table_stats, export_instants, copy_to_temp_view, "
        "run_ttl, rollback_failed_writes, repair_orphan_files, "
        "archive_commits"
    )


_TVF = re.compile(r"(hudi_table_changes|hudi_query)\s*\(", re.I)

# <table> [FOR] [SYSTEM_]TIMESTAMP|VERSION AS OF <literal> — Spark's
# own time-travel grammar (plus the FOR SYSTEM_TIME form users carry
# over from SQL:2011); the literal is read from the original statement
# right after the match.
_ASOF = re.compile(
    r"\b(\w+)\s+(?:FOR\s+)?(?:SYSTEM_)?(?:TIMESTAMP|TIME|VERSION)\s+AS\s+OF\s+",
    re.I,
)


def _quote_mask(s: str) -> str:
    """Same-length copy of ``s`` with characters inside quoted strings
    blanked (parens left alone — unlike ``_mask``, subquery bodies stay
    visible, so ``FROM t TIMESTAMP AS OF ...`` inside a derived table
    or CTE is still found)."""
    out, q, i = [], None, 0
    while i < len(s):
        c = s[i]
        if q:
            if c == q:
                if q == "'" and i + 1 < len(s) and s[i + 1] == "'":
                    out.append("\0\0")
                    i += 2
                    continue
                q = None
            out.append("\0")
        elif c in ("'", '"', "`"):
            q = c
            out.append("\0")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _read_asof_literal(stmt: str, pos: int) -> tuple[str, int]:
    """The time-travel literal starting at ``pos``: a quoted string or
    a bare token (unquoted instant / epoch). Returns (value, end)."""
    while pos < len(stmt) and stmt[pos].isspace():
        pos += 1
    if pos < len(stmt) and stmt[pos] in ("'", '"'):
        q = stmt[pos]
        end = stmt.find(q, pos + 1)
        if end < 0:
            raise SqlDmlError("unterminated string after AS OF")
        return stmt[pos + 1 : end], end + 1
    m = re.match(r"[\w.\-:+]+", stmt[pos:])
    if not m:
        raise SqlDmlError("expected a timestamp/version literal after AS OF")
    return m.group(0), pos + m.end()


def _rewrite_time_travel(spark, stmt: str, tables) -> str:
    """Rewrite ``FROM <hudi_table> TIMESTAMP AS OF '<ts>'`` (and the
    ``VERSION AS OF`` / ``FOR SYSTEM_TIME AS OF`` spellings) to a
    time-traveled temp view over the connector read, so Spark's own
    time-travel grammar works on hudi_py tables through ``hudi_sql``.

    Only identifiers named in ``tables`` are rewritten — anything else
    is left for Spark to resolve (a real catalog table may support the
    clause natively).  ``VERSION AS OF`` maps to the same instant
    axis: a Hudi "version" IS the completed commit timestamp, so both
    clauses feed ``HudiReadOptions(as_of_timestamp=...)``.  Accepted
    literal formats are the reader's (reference
    ``docs/reader-spec.md:311-319``): hudi instant ``yyyyMMddHHmmss
    [SSS]``, unix epoch s/ms/us/ns, RFC 3339 with offset.
    """
    names = {
        _unquote(k): v
        for k, v in (tables or {}).items()
        if re.fullmatch(r"\w+", _unquote(k))
    }
    if not names:
        return stmt
    from hudi_rs_spark.config.read_config import HudiReadOptions
    from hudi_rs_spark.sources.hudi import HudiTable

    mask = _quote_mask(stmt)
    out, cursor, n = [], 0, 0
    for m in _ASOF.finditer(mask):
        if m.start() < cursor:
            continue
        name = stmt[m.start(1) : m.end(1)]
        if name not in names:
            continue
        lit, end = _read_asof_literal(stmt, m.end())
        df = HudiTable(names[name], spark).read(
            HudiReadOptions(as_of_timestamp=lit)
        )
        view = f"__hudi_asof_{n}"
        n += 1
        df.createOrReplaceTempView(view)
        out.append(stmt[cursor : m.start(1)])
        out.append(view)
        cursor = end
    out.append(stmt[cursor:])
    return "".join(out)


def _run_plain_select(spark, stmt: str, tables):
    """Plain ``SELECT``/``WITH`` over hudi tables: every entry in
    ``tables`` becomes a snapshot temp view (the connector's merged
    read, so pushdown/pruning apply) and the statement runs through
    ``spark.sql`` untouched — hudi_sql is then a complete SQL entry
    point (DDL + DML + procedures + TVFs + queries). The views are
    created (or replaced) in the session catalog — a later statement
    may reuse them; Spark-registered views the statement references
    resolve as usual. ``TIMESTAMP AS OF`` / ``VERSION AS OF`` clauses
    on named hudi tables are rewritten to time-traveled views first
    (see ``_rewrite_time_travel``)."""
    stmt = _rewrite_time_travel(spark, stmt, tables)
    for name, p in (tables or {}).items():
        raw = _unquote(name)
        if not re.fullmatch(r"\w+", raw):
            continue  # path-shaped keys cannot be view names
        (
            spark.read.format("hudi_py").option("path", p).load()
            .createOrReplaceTempView(raw)
        )
    return spark.sql(stmt)


def _run_tvf_select(spark, stmt: str, tables, options):
    """SELECT statements over the ``hudi_table_changes(table, mode,
    start [, end])`` and ``hudi_query(table, query_type [, as_of])``
    table-valued functions (Hudi 1.0 incremental / query-type SQL):
    each TVF call becomes a temp view fed by the existing incremental /
    CDC readers, the call text is swapped for the view name, and the
    rewritten statement runs through plain ``spark.sql`` — so any
    surrounding SELECT shape (projections, filters, joins, CTEs) works.
    ``mode``: 'latest_state' (row-level incremental, the default Hudi
    mode) or 'cdc' (typed change feed); ``start``: 'earliest' or a
    timestamp; bounds are (start, end].  ``TIMESTAMP AS OF`` clauses on
    named hudi tables elsewhere in the statement rewrite first."""
    from hudi_rs_spark.sources.hudi import HudiTable

    stmt = _rewrite_time_travel(spark, stmt, tables)

    out, cursor, n = [], 0, 0
    while True:
        m = _TVF.search(stmt, cursor)
        if not m:
            out.append(stmt[cursor:])
            break
        # scan to the matching close paren (args are literals — quotes
        # only, no nesting expected, but stay paren-aware anyway)
        depth, i = 1, m.end()
        q = None
        while i < len(stmt) and depth:
            c = stmt[i]
            if q:
                if c == q:
                    q = None
            elif c in ("'", '"'):
                q = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        if depth:
            raise SqlDmlError("unbalanced parens in hudi_table_changes(...)")
        fn = m.group(1).lower()
        argstr = stmt[m.end() : i - 1]
        parts = [_unquote(p) for p in _split_top(argstr, r",")]
        if fn == "hudi_query":
            # hudi_query(table, query_type [, as_of]) — snapshot /
            # read_optimized, optionally time-traveled (the as_of arg is
            # this engine's extension; Hudi exposes time travel through
            # TIMESTAMP AS OF instead) — or hudi_query(table,
            # 'incremental', start [, end]): Hudi's incremental query
            # type, (start, end] row-level latest-state window
            from hudi_rs_spark.config.read_config import HudiReadOptions

            if len(parts) < 2:
                raise SqlDmlError("hudi_query(table, query_type [, ...])")
            qt = parts[1].lower()
            if qt == "incremental":
                if len(parts) not in (3, 4):
                    raise SqlDmlError(
                        "hudi_query(table, 'incremental', start [, end])"
                    )
                start = None if parts[2].lower() == "earliest" else parts[2]
                df = HudiTable(
                    _resolve_path(parts[0], tables), spark
                ).read_incremental(
                    start, parts[3] if len(parts) == 4 else None
                )
            elif qt in ("snapshot", "read_optimized"):
                if len(parts) not in (2, 3):
                    raise SqlDmlError(
                        "hudi_query(table, query_type [, as_of])"
                    )
                df = HudiTable(_resolve_path(parts[0], tables), spark).read(
                    HudiReadOptions(
                        as_of_timestamp=parts[2] if len(parts) == 3 else None,
                        use_read_optimized_mode=(qt == "read_optimized"),
                    )
                )
            else:
                raise SqlDmlError(
                    f"unknown hudi_query type {qt!r}: "
                    "snapshot | read_optimized | incremental"
                )
            view = f"__hudi_query_{n}"
            n += 1
            df.createOrReplaceTempView(view)
            out.append(stmt[cursor : m.start()])
            out.append(view)
            cursor = i
            continue
        if len(parts) not in (3, 4):
            raise SqlDmlError(
                "hudi_table_changes(table, mode, start [, end])"
            )
        tbl, mode, start = parts[0], parts[1].lower(), parts[2]
        end = parts[3] if len(parts) == 4 else None
        path = _resolve_path(tbl, tables)
        start_ts = None if start.lower() == "earliest" else start
        t = HudiTable(path, spark)
        if mode == "cdc":
            df = t.read_changes(start_ts, end)
        elif mode in ("latest_state", "latest-state"):
            df = t.read_incremental(start_ts, end)
        else:
            raise SqlDmlError(
                f"unknown hudi_table_changes mode {mode!r}: "
                "latest_state | cdc"
            )
        view = f"__hudi_table_changes_{n}"
        n += 1
        df.createOrReplaceTempView(view)
        out.append(stmt[cursor : m.start()])
        out.append(view)
        cursor = i
    return spark.sql("".join(out))
