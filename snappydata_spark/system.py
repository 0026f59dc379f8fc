"""SYS concern of the session: the queryable system tables
(reference/system_tables/), the built-in system procedures
(reference/inbuilt_system_procedures/) and the disk-store registry
(create-diskstore.md).  Functions over a `SnappySession`, which owns the
state (`_diskstores`, `_engine_confs`, ...) they read and write."""

from __future__ import annotations

import functools
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, functions as F


def show_members(sn) -> DataFrame:
    """SHOW MEMBERS (SnappyParser.show:1264-1270, rewritten there to
    `SELECT ID, HOST, KIND, STATUS, NETSERVERS, SERVERGROUPS FROM
    SYS.MEMBERS`): the Spark-cluster analogue reports the driver plus
    live executors from the status tracker.  local[n] is a single
    member — GemFire's "loner" — while on a real cluster the driver
    maps to the lead and executors to datastores."""
    sc = sn.spark.sparkContext
    master = sc.master or ""
    is_local = master.startswith("local")
    rows = []
    for i, info in enumerate(sc._jsc.sc().statusTracker().getExecutorInfos()):
        host, port = info.host(), info.port()
        kind = "loner" if is_local else ("lead" if i == 0 else "datastore")
        rows.append(
            (
                f"{host}:{port}",
                host,
                kind,
                "running",
                master if kind in ("loner", "lead") else "",
                "",
            )
        )
    return sn.spark.createDataFrame(
        rows,
        "id string, host string, kind string, status string, "
        "netservers string, servergroups string",
    )


def _systables(sn) -> DataFrame:
    """SYS.SYSTABLES (reference/system_tables/systables.md): one row
    per table/view/synonym with the documented core columns —
    TABLETYPE 'T' (user table), 'V' (view), 'A' (synonym);
    DATAPOLICY from the managed layout (PARTITION / REPLICATE)."""
    rows = []
    for t in sn.catalog.list_tables():
        meta = sn.catalog.load_meta(t)
        replicated = meta.options.get("replicated", "").lower() == "true"
        rows.append(
            (
                t.upper(),
                "T",
                "APP",
                "REPLICATE" if replicated else "PARTITION",
                meta.provider,
            )
        )
    for v in sn._views:
        rows.append((v.upper(), "V", "APP", "", "view"))
    for s in sn._synonyms:
        rows.append((s.upper(), "A", "APP", "", "synonym"))
    return sn.spark.createDataFrame(
        rows,
        "tablename string, tabletype string, tableschemaname string, "
        "datapolicy string, provider string",
    )


def _syspolicies(sn) -> DataFrame:
    """SYS.SYSPOLICIES (docs/security/row_level_security.md:126): one
    row per RLS policy — NAME, SCHEMANAME, TABLENAME, POLICYFOR
    (always SELECT, as documented), APPLYTO (user or CURRENT_USER),
    FILTER, OWNER (the target table's schema owner)."""
    rows = []
    for pname, (table, filter_sql, user) in sn._policies.items():
        if "__" in table:
            sch, tbl = table.split("__", 1)
        else:
            sch, tbl = "app", table
        rows.append((
            pname.upper(), sch.upper(), tbl.upper(), "SELECT",
            (user or "current_user").upper(), filter_sql, sch.upper(),
        ))
    return sn.spark.createDataFrame(
        rows or [("", "", "", "", "", "", "")],
        "name string, schemaname string, tablename string, "
        "policyfor string, applyto string, filter string, owner string",
    ).filter(F.col("name") != "")


def _systablestats(sn) -> DataFrame:
    """SYS.TABLESTATS (reference/system_tables/systablestats.md):
    per-table row count / on-disk size / layout flags — sizes from
    ANALYZE TABLE (cached in table meta after the first call)."""
    rows = []
    for t in sn.catalog.list_tables():
        meta = sn.catalog.load_meta(t)
        opts = meta.options
        if "row_count" not in opts or "size_bytes" not in opts:
            try:
                sn.analyze_table(t)
                opts = sn.catalog.load_meta(t).options
            except Exception:  # noqa: BLE001 — unreadable table
                continue
        replicated = opts.get("replicated", "").lower() == "true"
        rows.append(
            (
                f"APP.{t.upper()}",
                meta.provider != "row",
                replicated,
                int(opts.get("row_count", 0)),
                int(opts.get("size_bytes", 0)),
                int(opts.get("size_bytes", 0)),
                int(meta.buckets or 1),
            )
        )
    return sn.spark.createDataFrame(
        rows,
        '`table` string, is_column_table boolean, '
        "is_replicated_table boolean, row_count long, "
        "size_in_memory long, total_size long, buckets long",
    )


# ------------------------------------------------------- disk stores

#: the reference's built-in stores (sysdiskstores.md example output):
#: data-dictionary + default-data stores exist in every system
_BUILTIN_DISKSTORES = {
    "gfxd-dd-diskstore": {"maxlogsize": 10},
    "gfxd-default-diskstore": {},
}
_DISKSTORE_DEFAULTS = {
    # create-diskstore.md documented defaults: MAXLOGSIZE 1 GB,
    # AUTOCOMPACT true, ALLOWFORCECOMPACTION false,
    # COMPACTIONTHRESHOLD 50 %, TIMEINTERVAL 1000 ms,
    # WRITEBUFFERSIZE 32768 B, QUEUESIZE 0 (unbounded)
    "maxlogsize": 1024,
    "autocompact": "true",
    "allowforcecompaction": "false",
    "compactionthreshold": 50,
    "timeinterval": 1000,
    "writebuffersize": 32768,
    "queuesize": 0,
}


def create_diskstore(sn, opts: dict) -> None:
    """CREATE DISKSTORE (create-diskstore.md:6-20).  DIVERGENCE:
    GemFire preallocates oplog files; this engine's storage is
    parquet files under an atomic manifest, so the store is catalog
    metadata — its directories are created under the store dir and
    recorded so SYSDISKSTORES/EXPORT_DDLS/table `diskstore` options
    resolve, but no oplogs exist to roll or compact."""
    name = opts["name"].lower()
    if name in sn._diskstores or name in _BUILTIN_DISKSTORES:
        raise ValueError(f"diskstore '{opts['name']}' already exists")
    rec = dict(_DISKSTORE_DEFAULTS)
    for k in rec:
        if k in opts:
            v = str(opts[k]).lower()
            if k in ("autocompact", "allowforcecompaction"):
                if v not in ("true", "false"):
                    raise ValueError(
                        f"CREATE DISKSTORE {k.upper()} expects a "
                        f"boolean constant, got '{opts[k]}'"
                    )
                rec[k] = v
            else:
                rec[k] = int(v)
    dirs = []
    for d, mb in opts.get("dirs", []):
        path = d if os.path.isabs(d) else os.path.join(
            sn.catalog.base_dir, "diskstores", name, d
        )
        os.makedirs(path, exist_ok=True)
        dirs.append([path, mb])
    if not dirs:
        # default: the member working directory (create-diskstore.md
        # "By default ... the working directory of the member")
        path = os.path.join(sn.catalog.base_dir, "diskstores", name)
        os.makedirs(path, exist_ok=True)
        dirs.append([path, None])
    rec["dirs"] = dirs
    sn._diskstores[name] = rec
    # cached SELECTs over SYS.SYSDISKSTORES pinned the pre-create view
    sn.plan_cache.clear()
    sn._save_registry()


def drop_diskstore(sn, name: str, if_exists: bool) -> None:
    """DROP DISKSTORE [IF EXISTS] (drop-diskstore.md) — blocked while
    any table's `diskstore` option still targets the store (the
    reference fails the drop while a table uses it)."""
    n = name.lower()
    if n in _BUILTIN_DISKSTORES:
        raise ValueError(f"cannot drop built-in diskstore '{name}'")
    if n not in sn._diskstores:
        if if_exists:
            return
        raise ValueError(f"diskstore '{name}' does not exist")
    users = [
        t for t in sn.catalog.list_tables()
        if str(
            sn.catalog.load_meta(t).options.get("diskstore", "")
        ).lower() == n
    ]
    if users:
        raise ValueError(
            f"cannot drop diskstore '{name}': in use by table(s) "
            f"{', '.join(sorted(users))}"
        )
    sn._diskstores.pop(n)
    sn.plan_cache.clear()
    sn._save_registry()


def all_diskstores(sn) -> dict:
    out = {
        k: {**_DISKSTORE_DEFAULTS, **v,
            "dirs": [[sn.catalog.base_dir, None]]}
        for k, v in _BUILTIN_DISKSTORES.items()
    }
    out.update(sn._diskstores)
    return out


def _sysdiskstores(sn) -> DataFrame:
    """SYS.SYSDISKSTORES (system_tables/sysdiskstores.md): one row per
    disk store with the documented columns; DIR_PATH_SIZE is the
    comma-joined 'dir[ size-mb]' list."""
    rows = []
    for n, rec in all_diskstores(sn).items():
        rows.append((
            n.upper(),
            int(rec["maxlogsize"]),
            str(rec["autocompact"]),
            str(rec["allowforcecompaction"]),
            int(rec["compactionthreshold"]),
            int(rec["timeinterval"]),
            int(rec["writebuffersize"]),
            int(rec["queuesize"]),
            ",".join(
                f"{d} {mb}" if mb else d for d, mb in rec["dirs"]
            ),
        ))
    return sn.spark.createDataFrame(
        rows,
        "name string, maxlogsize bigint, autocompact string, "
        "allowforcecompaction string, compactionthreshold int, "
        "timeinterval bigint, writebuffersize int, queuesize int, "
        "dir_path_size string",
    )


def _sysdiskstoreids(sn) -> DataFrame:
    """SYS.SYSDISKSTOREIDS / SYS.DISKSTOREIDS
    (system_tables/sysdiskstoreids.md): per-member store ids — one
    member here (the driver); IDs are stable uuid5 digests of the
    store path so repeated queries agree."""
    # the member: host:port of the first executor (the 'loner' in local mode)
    infos = sn.spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    member = f"{infos[0].host()}:{infos[0].port()}" if infos else "localhost:0"
    rows = []
    for n, rec in all_diskstores(sn).items():
        sid = str(uuid.uuid5(
            uuid.NAMESPACE_URL, f"{sn.catalog.base_dir}/{n}"
        ))
        rows.append((
            member, n.upper(), sid,
            ",".join(d for d, _ in rec["dirs"]),
        ))
    return sn.spark.createDataFrame(
        rows, "memberid string, name string, id string, dirs string"
    )

# ---------------------------------------------------- SYS.* virtual tables

#: SYS.<name> → the builder of its frame; a reference to it in a
#: statement resolves to a temp view `sys_<name>` built for that statement
SYS_TABLES = {
    "members": show_members,
    "systables": _systables,
    "tablestats": _systablestats,
    "sysdiskstores": _sysdiskstores,
    "sysdiskstoreids": _sysdiskstoreids,
    "syspolicies": _syspolicies,
}
# sysdiskstoreids.md's own example queries `sys.diskstoreids` — both
# spellings resolve
_SYS_TABLE_REF = re.compile(
    r"\bSYS\.(" + "|".join(SYS_TABLES) + r"|DISKSTOREIDS)\b", re.I
)


def resolve_sys_tables(sn, text: str) -> str:
    """Replace every SYS.<table> reference in `text` with the temp view
    of a freshly computed frame (each referenced table built once)."""
    built: set[str] = set()

    def _view(m: re.Match) -> str:
        name = m.group(1).lower()
        if name == "diskstoreids":
            name = "sysdiskstoreids"
        if name not in built:
            SYS_TABLES[name](sn).createOrReplaceTempView(f"sys_{name}")
            built.add(name)
        return f"sys_{name}"

    return _SYS_TABLE_REF.sub(_view, text)


# ------------------------------------------------------- system procs


def _diskstore_fsync(sn, args):
    # sys.diskstore_fsync (GemFireXD surface): force-fsync a disk
    # store's oplogs.  DIVERGENCE: manifests here commit via
    # atomic rename (already durable) — accepted as a no-op after
    # validating the store exists, so reference scripts replay.
    (name,) = args or ("",)
    if name.lower() not in all_diskstores(sn):
        raise ValueError(f"diskstore '{name}' does not exist")
    return sn.spark.createDataFrame(
        [(name.upper(), "synced")], "diskstore string, status string"
    )


def _rebalance_all_buckets(sn, args):
    # reference: redistributes bucket data across members
    # (rebalance-all-buckets.md).  The file-layout analogue:
    # rewrite every BUCKETED table through its bucketed writer,
    # re-hashing rows into their buckets — evening out file
    # sizes after skewed appends.  Unbucketed tables have no
    # buckets to balance and are untouched.
    rows = []
    for t in sn.catalog.list_tables():
        meta = sn.catalog.load_meta(t)
        if sn._is_bucketed(meta):
            rows.append((t, sn.compact_table(t)))
    return sn.spark.createDataFrame(
        rows or [("", 0)], "table string, buckets int"
    ).filter(F.col("table") != "")


def _dump_stacks(sn, args):
    # sys.dump_stacks(all) (dump-stacks.md): thread stacks to the
    # log.  Here: the DRIVER JVM's stacks via
    # Thread.getAllStackTraces (executors are in-process on
    # local[n]; on a cluster the `all` flag would fan out — the
    # lead-only scope is the documented divergence).
    traces = (
        sn.spark.sparkContext._jvm.java.lang.Thread
        .getAllStackTraces()
    )
    it = traces.entrySet().iterator()
    n_threads, lines = 0, []
    while it.hasNext():
        e = it.next()
        t = e.getKey()
        n_threads += 1
        lines.append(
            f'"{t.getName()}" state={t.getState().toString()} '
            f"frames={len(e.getValue())}"
        )
    print("SYS.DUMP_STACKS:\n" + "\n".join(sorted(lines)))
    return sn.spark.createDataFrame(
        [(n_threads,)], "threads int"
    )


def _set_trace_flag(sn, args):
    flag, on = (args + ["", "false"])[:2]
    sn._engine_confs[f"snappydata.trace.{flag.lower()}"] = (
        str(on).lower()
    )


def _set_heap_percentage(sn, args, proc):
    (pct,) = args or ("",)
    v = float(pct)
    if not 0.0 <= v <= 100.0:
        raise ValueError(
            f"SYS.{proc.upper()} expects a percentage in [0, 100], "
            f"got {pct}"
        )
    # recorded, inert: Spark sizes executor memory statically
    # (spark.memory.fraction at launch) — the reference's
    # runtime heap thresholds have no live Spark equivalent
    sn._engine_confs[f"snappydata.{proc}"] = str(v)


def _set_statistics_timing(sn, args):
    (flag,) = args or ("0",)
    sn._stats_timing = str(flag).strip() not in ("0", "false", "")
    if not sn._stats_timing:
        sn._stmt_stats.clear()


def _backup_store(sn, args):
    (dest,) = args or ("",)
    path = sn.backup_store(dest)
    return sn.spark.createDataFrame(
        [(path, len(sn.catalog.list_tables()))],
        "backup_path string, tables int",
    )


def _restore_store(sn, args):
    (src,) = args or ("",)
    n = sn.restore_store(src)
    return sn.spark.createDataFrame(
        [(src, n)], "backup_path string, tables int"
    )


def _recover_table(sn, args):
    (t,) = args or ("",)
    return sn.recover_table(t)


def _remove_metastore_entry(sn, args):
    # sys.remove_metastore_entry('<db>.<table>', '<forceDrop>')
    # (sys_remove_metastore_entry.md): drop the catalog entry
    # WITHOUT existence/constraint/policy checks — the emergency
    # hatch for an inconsistent catalog.  Policies/base tables
    # are intentionally untouched (the doc says drop those
    # separately).
    name = sn._canon((args or [""])[0])
    sn.catalog.drop(name)
    try:
        sn.spark.catalog.dropTempView(name)
    except Exception:  # noqa: BLE001 — view may not exist
        pass
    sn.plan_cache.clear()


#: CALL SYS.<proc>(args) → fn(session, args) with the procedure's
#: argument strings
PROCEDURES = {
    "export_data": lambda sn, args: export_data(sn, *args),
    "export_ddls": lambda sn, args: export_ddls(sn, *args),
    "rebalance_all_buckets": _rebalance_all_buckets,
    "diskstore_fsync": _diskstore_fsync,
    "dump_stacks": _dump_stacks,
    "set_trace_flag": _set_trace_flag,
    **{
        proc: functools.partial(_set_heap_percentage, proc=proc)
        for proc in ("set_critical_heap_percentage", "set_eviction_heap_percentage")
    },
    "set_statistics_timing": _set_statistics_timing,
    "remove_metastore_entry": _remove_metastore_entry,
    "backup_store": _backup_store,
    "restore_store": _restore_store,
    "recover_table": _recover_table,
}


def call_proc(sn, proc: str, args: list[str]):
    """CALL SYS.<proc>(...) (reference/inbuilt_system_procedures/)."""
    fn = PROCEDURES.get(proc)
    if fn is None:
        raise ValueError(
            f"unknown system procedure SYS.{proc.upper()} (supported: "
            + ", ".join(p.upper() for p in PROCEDURES) + ")"
        )
    return fn(sn, args)


def export_data(
    sn, uri: str, fmt: str = "parquet", tables: str = "all",
    ignore_error: str = "false",
) -> DataFrame:
    """SYS.EXPORT_DATA (export_data.md): write each managed table to
    `<uri>_<millis>/<SCHEMA>.<TABLE>/` in the given Spark format.
    tables='all' exports every user table (derived sample/topk/index
    structures are rebuilt by their DDL, not exported);
    ignoreError='true' logs a failing table and continues.  Returns a
    (table, path, rows) summary frame.  Scale: each export is one
    distributed write of that table's scan — no driver collect."""
    out_dir = f"{uri.rstrip('/')}_{int(time.time() * 1000)}"
    if tables.strip().lower() == "all":
        names = [
            t for t in sn.catalog.list_tables()
            if sn.catalog.load_meta(t).provider
            not in ("sample", "topk")
            and not t.endswith("__ann")
        ]
    else:
        names = [sn._canon(t) for t in tables.split(",") if t.strip()]
    ignore = ignore_error.strip().lower() == "true"
    rows = []
    for t in names:
        label = t.replace("__", ".").upper()
        path = os.path.join(out_dir, f"APP.{label}" if "." not in label else label)
        try:
            df = sn.table(t)
            w = df.write.mode("overwrite").format(fmt.lower())
            if fmt.lower() == "csv":
                w = w.option("header", "true")
            w.save(path)
            rows.append((t, path, df.count()))
        except Exception as e:  # noqa: BLE001 — per-table isolation
            if not ignore:
                raise
            print(f"EXPORT_DATA: skipped {t}: {e}")
            rows.append((t, "", -1))
    return sn.spark.createDataFrame(
        rows, "table string, path string, rows long"
    )


def export_ddls(sn, uri: str) -> DataFrame:
    """SYS.EXPORT_DDLS (export_ddl.md): every DDL needed to rebuild
    the catalog — tables (SHOW CREATE TABLE form), views, synonyms,
    sample/topk structures, grants, policies, deployed packages —
    written as one text file `part-00000` (+ _SUCCESS) under
    `<uri>_<millis>/`, replayable in order."""
    out_dir = f"{uri.rstrip('/')}_{int(time.time() * 1000)}"
    os.makedirs(out_dir, exist_ok=True)
    ddls: list[str] = []
    # diskstores replay FIRST: a table's `diskstore` option must
    # resolve when its CREATE TABLE replays
    for dn, rec in sn._diskstores.items():
        clauses = [f"CREATE DISKSTORE {dn}"]
        for k in ("maxlogsize", "autocompact", "allowforcecompaction",
                  "compactionthreshold", "timeinterval",
                  "writebuffersize", "queuesize"):
            if rec.get(k) != _DISKSTORE_DEFAULTS[k]:
                clauses.append(f"{k.upper()} {rec[k]}")
        dir_sql = ", ".join(
            f"'{d}'" + (f" {mb}" if mb else "") for d, mb in rec["dirs"]
        )
        ddls.append(" ".join(clauses) + f" ({dir_sql});")
    derived: list[str] = []  # sample/topk DDL replays AFTER its base
    for t in sn.catalog.list_tables():
        meta = sn.catalog.load_meta(t)
        if meta.provider == "sample":
            opts = meta.options
            derived.append(
                f"CREATE SAMPLE TABLE {t} ON {opts['base_table']} "
                f"OPTIONS (qcs '{opts['qcs']}', fraction "
                f"'{opts['fraction']}');"
            )
            continue
        if meta.provider == "topk":
            opts = meta.options
            parts = [f"key '{opts['key']}'", f"size '{opts['k']}'"]
            if opts.get("window") not in (None, "all"):
                parts += [
                    f"timeSeriesColumn '{opts['ts']}'",
                    f"timeInterval '{opts['window']}'",
                ]
            derived.append(
                f"CREATE TOPK TABLE {t} ON {opts['base_table']} "
                f"OPTIONS ({', '.join(parts)});"
            )
            continue
        if t.endswith("__ann"):
            continue  # rebuilt by its CREATE INDEX below
        try:
            stmt = sn.show_create_table(t).collect()[0].createtab_stmt
            ddls.append(stmt.rstrip(";") + ";")
        except Exception:  # noqa: BLE001 — e.g. dropped mid-export
            continue
    # layout (range/Z-ORDER) indexes — skipping the ones the ANN
    # CREATE INDEX replay recreates itself (<ann>__cell / <ann>__term)
    auto = {
        f"{a}__{suffix}"
        for a in sn._ann_indexes
        for suffix in ("cell", "term")
    }
    for idx_name, (itable, icols) in sn._indexes.items():
        if idx_name in auto:
            continue
        ddls.append(
            f"CREATE INDEX {idx_name} ON {itable} ({', '.join(icols)});"
        )
    for idx_name, info in sn._ann_indexes.items():
        ddls.append(
            f"CREATE INDEX {idx_name} ON {info['table']}"
            f"({info['column']}) USING {info['method']};"
        )
    ddls.extend(derived)
    for vname, vsql in sn._views.items():
        ddls.append(f"CREATE VIEW {vname} AS {vsql};")
    for syn, tgt in sn._synonyms.items():
        ddls.append(f"CREATE SYNONYM {syn} FOR {tgt};")
    for scope, users in sn._grants.items():
        for u in sorted(users):
            privs = sorted(users[u])
            if scope.startswith("function::"):
                ddls.append(
                    f"GRANT EXECUTE ON FUNCTION "
                    f"{scope.split('::', 1)[1]} TO {u};"
                )
                continue
            plist = "ALL" if "all" in privs else ", ".join(
                p.upper() for p in privs
            )
            ddls.append(f"GRANT {plist} ON {scope} TO {u};")
    for pname, (ptable, pexpr, puser) in sn._policies.items():
        to = f" TO {puser}" if puser else ""
        ddls.append(
            f"CREATE POLICY {pname} ON {ptable} FOR SELECT{to} "
            f"USING ({pexpr});"
        )
    for t in sorted(sn._rls):
        ddls.append(f"ALTER TABLE {t} ENABLE ROW LEVEL SECURITY;")
    for pkg, info in sn._packages.items():
        kind = info.get("kind", "package").upper()
        ddls.append(f"DEPLOY {kind} {pkg} '{info.get('coords', '')}';")
    # connection/system properties that shape statement semantics
    # replay too, so an EXPORT_DDLS-restored session behaves like the
    # one that exported (allow-explicit-commit.md, query-timeout.md)
    for prop in (
        "snappydata.allow-explicit-commit",
        "snappydata.skip-constraint-checks",
        "snappydata.query-timeout",
        "snappydata.query-cancellation-interval",
        "snappydata.max-lock-wait",
    ):
        v = sn._engine_confs.get(prop)
        if v is not None:
            ddls.append(f"SET {prop} = {v};")
    with open(os.path.join(out_dir, "part-00000"), "w") as f:
        f.write("\n".join(ddls) + "\n")
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return sn.spark.createDataFrame(
        [(os.path.join(out_dir, "part-00000"), len(ddls))],
        "path string, statements int",
    )
