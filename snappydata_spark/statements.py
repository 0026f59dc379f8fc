"""Statement handlers: `HANDLERS` maps each kind `dialect.split_statement`
decides to a function of (session, statement, text), where `table` is
already resolved through synonyms and schemas and `text` is the statement
after the session's rewrites.  `_passthrough` runs whatever Spark executes
itself, including DROP TABLE / INSERT / ALTER VIEW on unmanaged objects.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from snappydata_spark import system
from snappydata_spark.dialect import (
    parse_with_error,
    rewrite_builtins,
    rewrite_stream_windows,
    sub_outside_quotes,
)


def _transaction(sn, stmt, text):
    {"begin": sn.begin_transaction, "commit": sn.commit,
     "rollback": sn.rollback}[stmt.options["op"]]()


def _set_isolation(sn, stmt, text):
    level = stmt.options["level"]
    sn._isolation = "none" if level in ("reset", "none") else level


def _create_diskstore(sn, stmt, text):
    system.create_diskstore(sn, stmt.options)


def _drop_diskstore(sn, stmt, text):
    system.drop_diskstore(sn, stmt.options["name"], stmt.if_not_exists)


def _call_proc(sn, stmt, text):
    return system.call_proc(sn, stmt.options["proc"], stmt.options["args"])


def _create_synonym(sn, stmt, text):
    """CREATE SYNONYM s FOR t (create-synonym.md): synonyms share the
    table/view namespace; the target may not exist yet (warning, not
    error); circular references are rejected at creation."""
    name, target = stmt.options["name"], stmt.options["target"]
    syn = sn._canon(name)
    if sn.catalog.exists(syn) or syn in sn._views or syn in sn._streams:
        raise ValueError(
            f"'{name}' already names a table or view — synonyms share "
            "that namespace (create-synonym.md)"
        )
    if syn in sn._synonyms:
        raise ValueError(f"synonym '{name}' already exists")
    tgt = sn._canon(target)
    # creating s -> t must not close a cycle: resolving t must never
    # reach s (SQLSTATE 42916)
    n, seen = tgt, set()
    while n in sn._synonyms:
        if n == syn or n in seen:
            raise ValueError(
                f"CREATE SYNONYM {name} FOR {target} would create a "
                "circular reference (SQLSTATE 42916)"
            )
        seen.add(n)
        n = sn._synonyms[n]
    if n == syn:
        raise ValueError(
            f"CREATE SYNONYM {name} FOR {target} would create a "
            "circular reference (SQLSTATE 42916)"
        )
    if not (sn.catalog.exists(n) or n in sn._views or n in sn._streams):
        # the reference warns (SQLSTATE 01522) and creates anyway;
        # the target must exist when the synonym is USED
        print(
            f"WARNING 01522: synonym target '{target}' does not exist "
            "yet — it must be present when the synonym is used"
        )
    sn._synonyms[syn] = tgt
    sn._save_registry()


def _drop_synonym(sn, stmt, text):
    name = stmt.options["name"]
    syn = sn._canon(name)
    if syn not in sn._synonyms:
        if stmt.if_not_exists:
            return
        raise ValueError(f"synonym '{name}' does not exist")
    del sn._synonyms[syn]
    try:
        sn.spark.catalog.dropTempView(syn)
    except Exception:  # noqa: BLE001 — never registered
        pass
    sn._save_registry()


def _create_table(sn, stmt, text):
    if sn.catalog.exists(stmt.table) and stmt.if_not_exists:
        return None
    sn._resolve_read_access(stmt.source_sql)
    df = sn.spark.sql(stmt.source_sql) if stmt.source_sql else None
    sn.create_table(
        stmt.table,
        schema=stmt.schema_sql if df is None else None,
        provider=stmt.provider,
        options=stmt.options,
        df=df,
    )


def _create_external(sn, stmt, text):
    opts = dict(stmt.options)
    path = opts.pop("path", None)
    return sn.create_external_table(
        stmt.table, path=path, fmt=stmt.provider, options=opts
    )


def _create_stream(sn, stmt, text):
    name = stmt.table.lower()
    if name in sn._streams and stmt.if_not_exists:
        return sn._streams[name]
    from snappydata_spark.streaming.sources import stream_reader

    opts = dict(stmt.options)
    ts_col = opts.pop("timestampcolumn", None)
    df = stream_reader(
        sn.spark, stmt.provider, schema=stmt.schema_sql, **opts
    )
    df.createOrReplaceTempView(name)
    sn._streams[name] = df
    if ts_col is None:
        ts_col = next(
            (
                f.name
                for f in df.schema.fields
                if f.dataType.typeName().startswith("timestamp")
            ),
            None,
        )
    sn._stream_ts[name] = ts_col
    return df


def _drop_stream(sn, stmt, text):
    name = stmt.table.lower()
    if name not in sn._streams:
        if stmt.if_not_exists:
            return None
        raise ValueError(f"stream table {name} not found")
    del sn._streams[name]
    sn._stream_ts.pop(name, None)
    sn.spark.catalog.dropTempView(name)


def _streaming_ctl(sn, stmt, text):
    op = stmt.options["op"]
    if op == "init":
        # STREAMING INIT <n><unit> (streamContext SnappyDDLParser:
        # 875-888) sets the batch duration — here the processing-
        # time trigger applied when CQs start
        sn._streaming_trigger = stmt.options["duration"]
    elif op == "start":
        sn.start_streaming()
    else:
        sn.stop_streaming()


def _create_view(sn, stmt, text):
    # persistent view over managed tables (createView
    # SnappyDDLParser:542): recorded in the registry, re-bound per
    # session AND per referencing query so grants/RLS resolve for
    # the current user (see _resolve_read_access)
    sn._resolve_read_access(stmt.source_sql)
    sn.spark.sql(stmt.source_sql).createOrReplaceTempView(stmt.table)
    sn._views[stmt.table] = stmt.source_sql
    sn._save_registry()
    sn.plan_cache.clear()


def _alter_view(sn, stmt, text):
    # ALTER VIEW v AS SELECT (alterView SnappyDDLParser:606):
    # redefine a registered persistent view; plain temp views
    # fall through to Spark's own ALTER VIEW
    if stmt.table not in sn._views:
        return _passthrough(sn, stmt, text)
    _create_view(sn, stmt, text)


def _drop_view(sn, stmt, text):
    if stmt.table in sn._views:
        del sn._views[stmt.table]
        sn._save_registry()
        sn.spark.catalog.dropTempView(stmt.table)
        sn.plan_cache.clear()
        return None
    # a plain temp view (or missing): Spark's own DROP VIEW
    try:
        return _passthrough(sn, stmt, text)
    except Exception:
        if stmt.if_not_exists:
            return None
        raise


def _create_sample(sn, stmt, text):
    sn._resolve_read_access(stmt.source_sql)
    return sn._create_sample_table(stmt.table, stmt.source_sql, stmt.options)


def _create_topk(sn, stmt, text):
    sn._resolve_read_access(stmt.source_sql)
    return sn._create_topk_table(stmt.table, stmt.source_sql, stmt.options)


def _drop_index(sn, stmt, text):
    ann_info = sn._ann_indexes.pop(stmt.options["index"].lower(), None)
    if ann_info is not None:
        sn._indexes.pop(f"{stmt.options['index'].lower()}__cell", None)
        sn._indexes.pop(f"{stmt.options['index'].lower()}__term", None)
        sn.drop_table(ann_info["index_table"])
        sn._save_registry()
        return None
    sn._indexes.pop(stmt.options["index"].lower(), None)
    sn._save_registry()


def _drop_table(sn, stmt, text):
    if not sn.catalog.exists(stmt.table):
        return _passthrough(sn, stmt, text)
    sn.drop_table(stmt.table, if_exists=stmt.if_not_exists)


def _create_table_like(sn, stmt, text):
    if sn.catalog.exists(stmt.table) and stmt.if_not_exists:
        return None
    return sn.create_table_like(stmt.table, stmt.source_sql)


def _alter_add(sn, stmt, text):
    sn.alter_table(stmt.table, add={stmt.options["column"]: stmt.options["type"]})


def _alter_drop(sn, stmt, text):
    sn.alter_table(stmt.table, drop=[stmt.options["column"]])


def _alter_rls(sn, stmt, text):
    t = stmt.table.lower()
    if stmt.options["enable"]:
        sn._rls.add(t)
    else:
        sn._rls.discard(t)
    sn._save_registry()
    if sn.catalog.exists(t):
        sn._refresh_view(t)


def _create_policy(sn, stmt, text):
    sn._policies[stmt.options["policy"].lower()] = (
        stmt.table.lower(), stmt.where, stmt.options["user"]
    )
    sn._save_registry()
    sn._refresh_view(stmt.table)


def _drop_policy(sn, stmt, text):
    p = sn._policies.pop(stmt.options["policy"].lower(), None)
    sn._save_registry()
    if p:
        sn._refresh_view(p[0])


def _grant_revoke(sn, stmt, text):
    tbl = stmt.table.lower()
    privs = stmt.options["privileges"]
    users = stmt.options["users"]
    entry = sn._grants.setdefault(tbl, {})
    if stmt.options["verb"] == "grant":
        for u in users:
            entry.setdefault(u, set()).update(privs)
    else:
        for u in users:
            got = entry.get(u)
            if got is None:
                continue
            if "all" in privs:
                got.clear()
            else:
                got -= set(privs)
                # revoking SELECT from an ALL-grantee leaves the
                # explicit remainder (the reference decomposes ALL)
                if "all" in got and privs:
                    got.discard("all")
                    got |= {
                        "select", "insert", "update", "delete",
                        "trigger", "references",
                    } - set(privs)
            if not got:
                entry.pop(u, None)
        if not entry:
            sn._grants.pop(tbl, None)
    sn._save_registry()


def _deploy(sn, stmt, text):
    kind = stmt.options["kind"]
    coords = stmt.options["coords"]
    # DEPLOY JAR with a local path actually loads it (Spark-native
    # ADD JAR — classpath on driver + executors; .py/.zip go
    # through addPyFile).  DEPLOY PACKAGE resolves maven
    # coordinates against LOCAL maven-layout repositories only
    # (REPOS 'file:///...' / local dirs, plus the PATH cache dir —
    # deployPackages SnappyDDLParser.scala:858-874); remote
    # repositories are recorded but never fetched: no network in
    # this engine (documented divergence, SURVEY §8).
    resolved: list[str] = []
    for c in coords.split(","):
        c = c.strip().strip("'\"")
        if kind == "jar" and os.path.exists(c):
            if c.endswith((".py", ".zip")):
                sn.spark.sparkContext.addPyFile(c)
            else:
                sn.spark.sql(f"ADD JAR '{c}'")
        elif kind == "package":
            jar = sn._resolve_maven_local(
                c, stmt.options.get("repos"), stmt.options.get("path")
            )
            if jar is not None:
                sn.spark.sql(f"ADD JAR '{jar}'")
                resolved.append(jar)
    sn._packages[stmt.options["name"].lower()] = {
        "kind": kind, "coords": coords
    }
    if resolved:
        sn._packages[stmt.options["name"].lower()]["resolved"] = (
            ",".join(resolved)
        )
    sn._save_registry()


def _undeploy(sn, stmt, text):
    sn._packages.pop(stmt.options["name"].lower(), None)
    sn._save_registry()


def _list_packages(sn, stmt, text):
    return sn.spark.createDataFrame(
        [(k, v["kind"], v["coords"]) for k, v in sorted(sn._packages.items())]
        or [("", "", "")],
        "name string, kind string, coords string",
    ).filter("name <> ''")


def _set_conf(sn, stmt, text):
    sn.set_conf(stmt.options["key"], stmt.options["value"])


def _bind_source(sn, stmt, src):
    """PUT / INSERT source bound to the target: by the statement's column
    list when it has one, else positionally."""
    cols = stmt.options.get("columns")
    sn._reject_explicit_null_identities(stmt, src, cols)
    if cols:
        return sn._apply_column_list(stmt.table, src, cols)
    return sn._align_source(stmt.table, src)


def _put(sn, stmt, text):
    sn._resolve_read_access(stmt.source_sql)
    src = (
        sn.spark.sql(sn._tx_reads(stmt.source_sql))
        if stmt.source_sql
        else stmt.source_df
    )
    sn.put(stmt.table, _bind_source(sn, stmt, src))


def _update(sn, stmt, text):
    sn.update(
        stmt.table,
        stmt.where or F.lit(True),
        stmt.assignments,
        alias=stmt.options.get("alias"),
    )


def _delete(sn, stmt, text):
    sn.delete(
        stmt.table,
        stmt.where or F.lit(True),
        alias=stmt.options.get("alias"),
    )


def _truncate(sn, stmt, text):
    sn.truncate_table(stmt.table)


def _insert_select(sn, stmt, text):
    if not sn.catalog.exists(stmt.table):
        return _passthrough(sn, stmt, text)
    sn._resolve_read_access(stmt.source_sql)
    src = sn.spark.sql(sn._tx_reads(stmt.source_sql))
    sn.insert(stmt.table, _bind_source(sn, stmt, src))


def _insert_overwrite(sn, stmt, text):
    if not sn.catalog.exists(stmt.table):
        return _passthrough(sn, stmt, text)
    # full replace; _rewrite stages to a tmp dir first, which also
    # legalizes self-referencing overwrites (INSERT OVERWRITE t
    # SELECT ... FROM t — Spark rejects overwrite-while-reading)
    sn._resolve_read_access(stmt.source_sql)

    # same per-table serialization as insert/put/update, PLUS a
    # claims drain (_run_exclusive): an unlocked overwrite racing
    # a concurrent append could commit a manifest that tombstones
    # the append's files, and a lock-only overwrite racing a
    # DOWNGRADED claim holder would be resurrected by the
    # holder's later commit
    def _overwrite_body():
        meta = sn.catalog.load_meta(stmt.table.lower())
        aligned = sn._align_source(
            stmt.table, sn.spark.sql(stmt.source_sql)
        )
        sn._validate_checks(meta, aligned)
        sn._validate_uniques_full(meta, aligned)
        sn._validate_fks(meta, aligned)
        if sn._referencing_fks(meta.name):
            sn._assert_no_fk_orphans(meta, aligned)
        sn._rewrite(aligned, meta)

    sn._run_exclusive(stmt.table.lower(), _overwrite_body)


def _describe_history(sn, stmt, text):
    # DESCRIBE HISTORY <table> — the SQL face of table_history()
    hist = sn.table_history(stmt.table)
    return sn.spark.createDataFrame(
        [
            (h["gen"], float(h["ts"]) if h["ts"] else None, h["n_files"])
            for h in hist
        ],
        "gen long, ts double, n_files long",
    )


def _vacuum(sn, stmt, text):
    # VACUUM <table> — immediate tombstone GC (SQL face of vacuum();
    # retires time-travel history with the files)
    n = sn.vacuum(stmt.table)
    return sn.spark.createDataFrame([(n,)], "files_removed long")


def _compact_table(sn, stmt, text):
    # COMPACT TABLE <table> — small-file maintenance (SQL face of
    # compact_table())
    n = sn.compact_table(stmt.table)
    return sn.spark.createDataFrame([(n,)], "files_after long")


def _passthrough(sn, stmt, text):
    """Every statement Spark executes itself: time travel, WITH ERROR,
    top-k tables, index routing, builtin/stream rewrites, then the plan
    cache for query heads and a plain spark.sql for the rest."""
    # one lowercase scan gates the rewriters below on their trigger
    # substrings, as in SnappySession._sql_dispatch
    low = text.lower()
    if (
        sn._tx is not None
        and sn._tx["ops"]
        and re.match(r"\s*\(*\s*(SELECT|WITH|VALUES|TABLE)\b", text, re.I)
    ):
        # SELECT inside an open transaction: touched tables resolve
        # to this session's overlay views (read-your-writes without
        # leaking uncommitted state into the shared temp views).
        # DML heads are excluded — their FROM clauses are mutation
        # targets, not reads
        touched = set(sn._tx["ops"])

        def _tx_sub(tm: re.Match) -> str:
            cn = sn._canon(tm.group(2))
            if cn in touched:
                return f"{tm.group(1)} {sn._tx_view_name(cn)}"
            return tm.group(0)

        text = sub_outside_quotes(
            r"\b(FROM|JOIN)\s+([A-Za-z_][\w.]*)\b", _tx_sub, text, flags=re.I
        )
    if " as of" in low and re.search(
        r"\b(?:VERSION|TIMESTAMP)\s+AS\s+OF\b", text, flags=re.I
    ):
        # FROM <managed> VERSION AS OF <gen> | TIMESTAMP AS OF '<ts>'
        # — snapshot time travel in SQL: the generation's manifest
        # resolves to a temp view named by (table, gen), so the
        # rewritten text stays cache-keyable and the snapshot itself
        # is immutable
        def _asof_sub(vm: re.Match) -> str:
            kw, tbl, kind, spec = vm.groups()
            if not sn.catalog.exists(tbl.lower()):
                return vm.group(0)
            if kind.upper() == "VERSION":
                df = sn.table_version(tbl, int(spec))
                view = f"{tbl.lower()}__asof_{int(spec)}"
            else:
                df = sn.table_version(tbl, as_of_ts=spec.strip("'"))
                view = (
                    f"{tbl.lower()}__asofts_"
                    + re.sub(r"\W", "_", spec.strip("'"))
                )
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        text = re.sub(
            r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+"
            r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+(\d+|'[^']+')",
            _asof_sub,
            text,
            flags=re.I,
        )
    if "error" in low and re.search(r"\bWITH\s+ERROR\b", text, flags=re.I):
        parsed = parse_with_error(text)
        if parsed:
            sn._resolve_read_access(text)
            return sn._approx_sql(*parsed)
    # plain SELECT path: enforce grants + re-bind RLS policies for the
    # current user before touching any managed view; plans are cached
    # per-user (policy-filtered views are user-dependent)
    sn._resolve_read_access(text)
    topk = sn._topk_select(text)
    if topk is not None:
        return topk
    if (
        sn._ann_indexes
        or "bm25_score" in low
        or ("--+" in text and "index" in low)
    ):
        # ResolveIndex analogue (SnappyOptimizations.scala:110-250):
        # a top-k query shaped like a registered similarity/inverted
        # index serves from the index tables; --+ noIndex or
        # SET snappydata.sql.useIndexes=false opts out (resolve_index.py)
        from snappydata_spark import resolve_index as _ri

        em = re.match(
            r"\s*EXPLAIN(?:\s+(?:EXTENDED|CODEGEN|COST|FORMATTED))?\s+"
            r"(?P<q>(?:SELECT|WITH)\b.*)$",
            text,
            re.I | re.S,
        )
        if em:
            # EXPLAIN must show the plan that would actually RUN —
            # the reference's explain surfaces the injected index
            # relations the same way (ResolveIndex rewrites before
            # explain).  Unroutable/opted-out queries fall through
            # to Spark's own EXPLAIN of the full-scan form.
            routed = _ri.try_route(sn, em.group("q"))
            if routed is not None:
                plan = (
                    "== Routed by ResolveIndex (materialized index "
                    "serve; --+ noIndex for the scan plan) ==\n"
                    + routed._jdf.queryExecution().executedPlan().toString()
                )
                return sn.spark.createDataFrame([(plan,)], "plan string")
        routed = _ri.try_route(sn, text)
        if routed is not None:
            return routed
    rewritten = rewrite_builtins(text, sn.current_schema)
    if sn._streams:
        windowed = rewrite_stream_windows(
            rewritten,
            lambda n: sn._stream_ts.get(n.lower())
            if n.lower() in sn._streams
            else None,
        )
        # relation-position match only (FROM s / JOIN s / comma-join
        # ", s") — a column, alias, or string literal that merely
        # mentions a stream name must not bypass the plan cache.  A
        # comma counts as a relation position only while still inside
        # a FROM list (the most recent clause keyword is FROM), so
        # "SELECT x, s FROM t" with a stream named s stays cacheable.
        def _mentions_stream_relation(s: str) -> bool:
            for m in re.finditer(
                rf"(?:\bFROM\b|\bJOIN\b|,)\s*{re.escape(s)}\b",
                rewritten,
                flags=re.I,
            ):
                if not m.group(0).startswith(","):
                    return True
                prefix = rewritten[: m.start()]
                kws = re.findall(
                    r"\b(FROM|SELECT|WHERE|GROUP|ORDER|HAVING|ON)\b",
                    prefix,
                    flags=re.I,
                )
                if kws and kws[-1].upper() == "FROM":
                    return True
            return False

        if windowed != rewritten or any(
            _mentions_stream_relation(s) for s in sn._streams
        ):
            # query touches a stream relation: the result is a live
            # streaming DataFrame — never cache it (plan cache entries
            # would pin stale readStream handles)
            return sn.spark.sql(windowed)
    head = re.match(r"\s*\(*\s*(\w+)", rewritten)
    if head and head.group(1).upper() in ("SELECT", "WITH", "VALUES", "TABLE"):
        if sn._tx is not None or getattr(sn, "_skip_plan_cache", False):
            # overlay views change per staged op — never cache plans
            # resolved inside an open transaction; sql_uncached
            # callers asked for a fresh plan explicitly
            return sn.spark.sql(rewritten)
        return sn.plan_cache.get_or_build(
            sn.spark, rewritten, scope=sn.current_user
        )
    # passthrough DDL/commands (CREATE VIEW, ALTER VIEW, CACHE, ...)
    # can redefine objects cached plans depend on — never cache them,
    # and conservatively invalidate (ALTER VIEW ... AS must not leave
    # a stale analyzed plan behind)
    sn.plan_cache.clear()
    return sn.spark.sql(rewritten)


#: statement kind → handler(session, statement, text); every kind
#: `split_statement` returns has an entry
HANDLERS = {
    "passthrough": _passthrough,
    "transaction": _transaction,
    "autocommit": lambda sn, stmt, text: sn.set_autocommit(stmt.options["on"]),
    "set_isolation": _set_isolation,
    "set_schema": lambda sn, stmt, text: sn.set_current_schema(stmt.options["schema"]),
    "create_diskstore": _create_diskstore,
    "drop_diskstore": _drop_diskstore,
    "create_synonym": _create_synonym,
    "drop_synonym": _drop_synonym,
    "call_proc": _call_proc,
    "show_members": lambda sn, stmt, text: system.show_members(sn),
    "create_table": _create_table,
    "create_external": _create_external,
    "create_stream": _create_stream,
    "drop_stream": _drop_stream,
    "streaming_ctl": _streaming_ctl,
    "create_view": _create_view,
    "alter_view": _alter_view,
    "drop_view": _drop_view,
    "create_sample": _create_sample,
    "create_topk": _create_topk,
    "create_index": lambda sn, stmt, text: sn._create_index(stmt.table, stmt.options),
    "drop_index": _drop_index,
    "drop_table": _drop_table,
    "create_table_like": _create_table_like,
    "alter_add": _alter_add,
    "alter_drop": _alter_drop,
    "alter_rls": _alter_rls,
    "show_create": lambda sn, stmt, text: sn.show_create_table(stmt.table),
    "create_policy": _create_policy,
    "drop_policy": _drop_policy,
    "grant_revoke": _grant_revoke,
    "deploy": _deploy,
    "undeploy": _undeploy,
    "list_packages": _list_packages,
    "set_conf": _set_conf,
    "put": _put,
    "update": _update,
    "delete": _delete,
    "truncate": _truncate,
    "insert_select": _insert_select,
    "merge": lambda sn, stmt, text: sn._merge(stmt),
    "insert_overwrite": _insert_overwrite,
    "describe_history": _describe_history,
    "vacuum": _vacuum,
    "compact_table": _compact_table,
}
