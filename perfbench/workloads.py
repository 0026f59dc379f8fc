"""The benchmark's workloads.

Each workload is a closed loop with one client.  `round(rng)` returns one
round of operations in seeded order; every round holds the same multiset of
operation kinds, so runs with different seeds measure the same mix.  An
operation is a call into one public entry point of the engine (its
`build`), optionally followed by the DataFrame action that consumes the
result, and a `check` that compares the answer with an independent model:
the registry's DuckDB oracles, DuckDB over the same parquet, or the pandas
model of the mutated table.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from statistics import NormalDist

import pandas as pd
import pyarrow.parquet as pq

import datagen
from model import KeyedModel


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    layer: str  # operators | sql | put | update | delete | insert | sink
    build: Callable[[], object]
    action: Callable[[object], object] | None
    check: Callable[[object], bool]
    rows: int = 0  # input rows a write feeds


@dataclass
class Env:
    spark: object
    data_dir: str  # generated parquet inputs
    store_cache: str  # per-engine-checksum cache (operator oracles, pristine stores)
    run_dir: str  # this run's working directory, removed when it ends


def to_pandas(df):
    return df.toPandas()


def canon_of(pdf: pd.DataFrame) -> list[list[str]]:
    """[sorted lower-case column names, canonical rows]: the registry's
    order-insensitive comparison form."""
    from check_oracle import canon

    return [sorted(c.lower() for c in pdf.columns), canon(pdf)]


def same_rows(got: pd.DataFrame, want: list) -> bool:
    return canon_of(got) == list(want)


def duck(data_dir: str):
    from check_oracle import duck_connect

    return duck_connect(data_dir)


def cached_answers(path: str, keys, compute: Callable[[str], object]) -> dict:
    """Answers by key, computed once per engine checksum and kept in `path`."""
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = [k for k in keys if k not in cache]
    if missing:
        cache.update({k: compute(k) for k in missing})
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return cache


def pristine_backup(env: Env, name: str, build: Callable[[object], None]) -> str:
    """A `backup_store()` snapshot of a store that `build(session)` fills,
    made once per engine checksum.  Workloads set up by restoring it with
    the engine's own `restore_store()`, so every run starts from the same
    tables, indexes and sample tables."""
    from snappydata_spark import SnappySession

    root = os.path.join(env.store_cache, f"{name}_backup")
    if not os.path.isdir(root):
        sn = SnappySession(env.spark, store_dir=os.path.join(env.run_dir, f"{name}_build"))
        build(sn)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        sn.backup_store(tmp)
        os.replace(tmp, root)
    (snapshot,) = os.listdir(root)
    return os.path.join(root, snapshot)


def restored_session(env: Env, store: str, backup: str):
    from snappydata_spark import SnappySession

    shutil.rmtree(store, ignore_errors=True)
    sn = SnappySession(env.spark, store_dir=store)
    sn.restore_store(backup)
    return sn


def ht_sums(groups, y, w) -> dict:
    """Horvitz-Thompson SUM(y) per group of a weighted sample, with the
    half-width of its 95% interval: (sum w*y, z * sqrt(sum w(w-1)y^2))."""
    g = pd.DataFrame({"group": groups, "wy": w * y, "wwy2": w * (w - 1) * y * y})
    return {r.Index: (r.wy, Z_95 * math.sqrt(max(r.wwy2, 0.0)))
            for r in g.groupby("group").sum().itertuples()}


def approx_answer_ok(pdf, value_col: str, group_col: str, exact: dict,
                     estimates: Callable[[], dict]) -> bool:
    """Check a WITH ERROR answer.  The engine answers from the sample or,
    when some group's relative error exceeds the requested bound, with the
    exact sums over the base table and zero-width intervals.  Either answer
    is recomputed: the exact sums are `exact`, the estimates and interval
    half-widths come from `estimates()` (see `ht_sums`)."""
    if set(pdf[group_col]) != set(exact):
        return False
    close = lambda a, b: abs(a - b) <= 1e-9 * abs(b) + 1e-3  # the engine rounds to 4 places
    want = ({k: (v, 0.0) for k, v in exact.items()} if (pdf["absolute_error"] == 0).all()
            else estimates())
    for group, value, half, lo, hi in zip(pdf[group_col], pdf[value_col], pdf["absolute_error"],
                                          pdf["lower_bound"], pdf["upper_bound"]):
        if group not in want:
            return False
        v, h = want[group]
        if not (close(value, v) and close(half, h) and close(lo, value - h) and close(hi, value + h)):
            return False
    return True


# --------------------------------------------------------------------------
# read_mix: registry operators and dashboard statements, no writes

OPERATORS = (
    "tpch_q01_pricing_summary",
    "ev_sessionize",
    "dedup_minhash_lsh",
)
DASHBOARD_PASSES = 2
BM25_QUERY_TERMS = ("vector", "query", "join")  # the registry oracle's terms
SAMPLE_TABLE, SAMPLE_WEIGHT = "lineitem_sample", "snappy_sampler_weightage"
Z_95 = NormalDist().inv_cdf(0.975)  # WITH ERROR's default confidence


class ReadMix:
    """One round: every registry operator of OPERATORS once and
    DASHBOARD_PASSES passes over the dashboard templates, shuffled.

    Operators run as `QUERIES[name](spark, data_dir)` then `toPandas()`,
    checked against the registry's DuckDB oracle through
    `tools/check_oracle.canon`.  Dashboard statements go through
    `SnappySession.sql()` on managed tables and are checked against DuckDB
    on the same parquet.  A template's statements alternate between fresh
    literals and an exact repeat of an earlier statement of that template;
    with an even number of passes each template has as many of both per
    round.  Only the four plain templates (point lookup, group-by, top-k,
    join) reach the plan cache, where a repeat is a hit and fresh literals
    a miss that re-binds; `sql()` sends WITH ERROR to the sample-table path
    and bm25_score to index resolution before the plan cache, so those two
    never hit it."""

    def __init__(self, env: Env):
        self.env = env
        self.store = os.path.join(env.run_dir, "dashboard_store")
        self.session = None
        self.history: dict[str, list[tuple]] = {}
        self.oracle_cache: dict[str, object] = {}
        self.sample_rows = None

    def prepare(self) -> None:
        from snappydata_spark.operators import ORACLES, QUERIES, pipeline_ops

        self.queries = QUERIES
        oracle_con = duck(self.env.data_dir)
        self.expected = cached_answers(os.path.join(self.env.store_cache, "operator_oracles.json"),
                                       OPERATORS, lambda n: canon_of(oracle_con.execute(ORACLES[n]).df()))
        self.con = duck(self.env.data_dir)
        self.con.execute(
            f"CREATE VIEW docs_base AS SELECT doc_id, text FROM read_parquet('{self.env.data_dir}/documents.parquet')"
        )
        self.bm25_oracle = pipeline_ops._bm25_index_oracle()
        self.backup = pristine_backup(self.env, "dashboard", self._build)
        self.n_orders = pq.read_metadata(os.path.join(self.env.data_dir, "orders.parquet")).num_rows
        self.templates = {
            "point_lookup": (self._point, None),
            "filtered_groupby": (self._groupby, None),
            "topk": (self._topk, None),
            "join_agg_colocated": (self._join, None),
            "with_error": (self._approx, self._check_approx),
            "bm25_search": (self._bm25, None),
        }

    def setup(self) -> None:
        self.session = restored_session(self.env, self.store, self.backup)
        self.history = {}
        self.sample_rows = None

    def _build(self, sn) -> None:
        read = lambda t: self.env.spark.read.parquet(os.path.join(self.env.data_dir, f"{t}.parquet"))
        sn.create_table("orders", options={"key_columns": "o_orderkey", "partition_by": "o_orderkey",
                                           "buckets": "4"}, df=read("orders"))
        sn.create_table("lineitem", options={"partition_by": "l_orderkey", "buckets": "4",
                                             "colocate_with": "orders"}, df=read("lineitem"))
        sn.create_table("docs_base", options={"key_columns": "doc_id"},
                        df=read("documents").select("doc_id", "text"))
        sn.sql(f"CREATE SAMPLE TABLE {SAMPLE_TABLE} ON lineitem "
               "OPTIONS (qcs 'l_returnflag', fraction '0.1')")
        sn.sql("CREATE INDEX docs_bm25 ON docs_base(text) USING inverted")

    def round(self, rng, passes: int = DASHBOARD_PASSES) -> list[Callable[[], Op]]:
        ops = [lambda n=n: self._operator(n) for n in OPERATORS]
        for _ in range(passes):
            ops += [lambda n=n, lit=self._literals(n, rng): self._statement(n, lit)
                    for n in self.templates]
        rng.shuffle(ops)
        return ops

    def warmup(self, rng) -> list[Callable[[], Op]]:
        """Every operator and template once: a second pass is warm already."""
        return self.round(rng, passes=1)

    def after_op(self, op: Op) -> None:
        if op.layer == "operators":
            # operators persist intermediates they hold no handle to;
            # release them so every operator runs from a cold cache
            self.env.spark.catalog.clearCache()

    # registry operators
    def _operator(self, name: str) -> Op:
        want = self.expected[name]
        return Op(
            name, "read", "operators",
            lambda: self.queries[name](self.env.spark, self.env.data_dir),
            to_pandas,
            lambda pdf: same_rows(pdf, want),
        )

    # dashboard literal generators: each returns a tuple of literals
    def _point(self, rng):
        return (rng.randrange(self.n_orders),)

    def _groupby(self, rng):
        return (rng.choice("FOP"), 1000 * rng.randrange(1, 400))

    def _topk(self, rng):
        return (f"{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-01", rng.choice((5, 10, 20)))

    def _join(self, rng):
        y, m = rng.randrange(1995, 2001), rng.randrange(1, 12)
        return (f"{y}-{m:02d}-01", f"{y}-{m + 1:02d}-01")

    def _approx(self, rng):
        return (rng.randrange(1, 45),)

    def _bm25(self, rng):
        return tuple(rng.sample(datagen.WORDS, 3))

    @staticmethod
    def sql(template: str, lit: tuple) -> str:
        if template == "point_lookup":
            return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                    f"o_orderpriority FROM orders WHERE o_orderkey = {lit[0]}")
        if template == "filtered_groupby":
            return ("SELECT o_orderpriority, COUNT(*) AS n, "
                    "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total "
                    f"FROM orders WHERE o_orderstatus = '{lit[0]}' AND o_totalprice > {lit[1]} "
                    "GROUP BY o_orderpriority")
        if template == "topk":
            return ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                    f"WHERE o_orderdate >= CAST('{lit[0]}' AS TIMESTAMP) "
                    f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {lit[1]}")
        if template == "join_agg_colocated":
            return ("SELECT o.o_orderpriority, COUNT(*) AS n, "
                    "CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue "
                    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
                    f"WHERE l.l_shipdate >= CAST('{lit[0]}' AS TIMESTAMP) "
                    f"AND l.l_shipdate < CAST('{lit[1]}' AS TIMESTAMP) "
                    "GROUP BY o.o_orderpriority")
        if template == "with_error":
            return ("SELECT l_returnflag, SUM(l_extendedprice) AS rev FROM lineitem "
                    f"WHERE l_quantity > {lit[0]} GROUP BY l_returnflag WITH ERROR 0.1")
        terms = " ".join(lit)
        return (f"SELECT doc_id, bm25_score(text, '{terms}') AS bm25 FROM docs_base "
                f"ORDER BY bm25_score(text, '{terms}') DESC, doc_id LIMIT 15")

    def _oracle(self, template: str, lit: tuple, text: str):
        key = text
        if key not in self.oracle_cache:
            if template == "with_error":
                q = ("SELECT l_returnflag, SUM(l_extendedprice) AS rev FROM lineitem "
                     f"WHERE l_quantity > {lit[0]} GROUP BY l_returnflag")
                self.oracle_cache[key] = dict(self.con.execute(q).fetchall())
            elif template == "bm25_search":
                swap = dict(zip(BM25_QUERY_TERMS, lit))
                q = re.sub(r"'(%s)'" % "|".join(BM25_QUERY_TERMS),
                           lambda m: f"'{swap[m.group(1)]}'", self.bm25_oracle)
                self.oracle_cache[key] = canon_of(self.con.execute(q).df())
            else:
                self.oracle_cache[key] = canon_of(self.con.execute(text).df())
        return self.oracle_cache[key]

    def _sample_estimates(self, quantity: int) -> dict[str, tuple[float, float]]:
        """HT estimates over the engine's own sample rows with l_quantity >
        `quantity`.  The sample is read once per set-up, and its weights
        are checked first: per stratum they must add up to the base
        table's row count."""
        if self.sample_rows is None:
            rows = self.session.table(SAMPLE_TABLE).select(
                "l_returnflag", "l_quantity", "l_extendedprice", SAMPLE_WEIGHT).toPandas()
            counts = dict(self.con.execute(
                "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag").fetchall())
            weights = rows.groupby("l_returnflag")[SAMPLE_WEIGHT].sum()
            if set(weights.index) != set(counts) or any(
                    abs(weights[f] - n) > 1e-6 * n for f, n in counts.items()):
                raise AssertionError(f"sample weights {dict(weights)} != strata {counts}")
            self.sample_rows = rows
        rows = self.sample_rows[self.sample_rows["l_quantity"] > quantity]
        return ht_sums(rows["l_returnflag"], rows["l_extendedprice"], rows[SAMPLE_WEIGHT])

    def _check_approx(self, pdf, lit: tuple, want: dict) -> bool:
        return approx_answer_ok(pdf, "rev", "l_returnflag", want,
                                lambda: self._sample_estimates(lit[0]))

    def _literals(self, template: str, rng) -> tuple:
        calls, seen = self.history.setdefault(template, ([0], []))
        calls[0] += 1
        if calls[0] % 2 == 0:
            return rng.choice(seen)
        lit = self.templates[template][0](rng)
        seen.append(lit)
        return lit

    def _statement(self, template: str, lit: tuple) -> Op:
        text = self.sql(template, lit)
        want = self._oracle(template, lit, text)
        custom = self.templates[template][1]
        check = (lambda pdf: custom(pdf, lit, want)) if custom else (lambda pdf: same_rows(pdf, want))
        return Op(template, "read", "sql", lambda: self.session.sql(text), to_pandas, check)


# --------------------------------------------------------------------------
# mutation_mix: writes on a keyed managed table, reads interleaved

MUT_TABLE = "orders_kv"
MUT_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
EVENT_COL, SEQ_COL = "_eventType", "seq"
PUT_ROWS, INSERT_ROWS = 100, 10


class Mutation:
    """One round: PUT INTO, UPDATE, DELETE, INSERT and one CDC batch into a
    SnappySink, each followed by two point reads, then one full-table
    aggregate read."""

    def __init__(self, env: Env):
        self.env = env
        self.store = os.path.join(env.run_dir, "mutation_store")
        self.table = MUT_TABLE
        self.session = None

    def prepare(self) -> None:
        src = os.path.join(self.env.data_dir, "orders.parquet")
        self.backup = pristine_backup(self.env, "mutation", lambda sn: sn.create_table(
            MUT_TABLE, options={"key_columns": "o_orderkey", "buckets": "4"},
            df=self.env.spark.read.parquet(src)))
        self.base = pq.read_table(src).to_pandas()
        self.schema = self.env.spark.read.parquet(src).schema

    def setup(self) -> None:
        from snappydata_spark.streaming import SnappySink

        self.session = restored_session(self.env, self.store, self.backup)
        self.sink = SnappySink(self.session, MUT_TABLE, query_name="cdc", order_col=SEQ_COL)
        self.model = KeyedModel(self.base.copy(), "o_orderkey")
        self.next_key = 10 * len(self.base)
        self.batch_id = 0
        self.last_written: list[int] = []

    def round(self, rng) -> list[Callable[[], Op]]:
        """The writes in seeded order, each followed by a point read of a key
        it wrote and one of a random key, then the aggregate: every round
        has the same number of reads right after a write."""
        writes = ["put", "update", "delete", "insert", "sink"]
        rng.shuffle(writes)
        kinds = [k for w in writes for k in (w, "point_written", "point")] + ["aggregate"]
        return [lambda k=k: getattr(self, f"_{k}")(rng) for k in kinds]

    warmup = round

    # inputs
    def _existing(self, rng, n: int) -> list[int]:
        idx = self.model.df.index
        return [int(idx[rng.randrange(len(idx))]) for _ in range(n)]

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    @staticmethod
    def _row(rng, key: int) -> dict:
        return {
            "o_orderkey": key,
            "o_custkey": rng.randrange(15000),
            "o_orderstatus": rng.choice("FOP"),
            "o_totalprice": rng.randrange(100_000, 50_000_000) / 100.0,
            "o_orderdate": pd.Timestamp(f"{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-"
                                        f"{rng.randrange(1, 29):02d}"),
            "o_orderpriority": rng.choice(datagen.PRIORITIES),
        }

    def _frame(self, rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows, columns=[*MUT_COLS, *[c for c in rows[0] if c not in MUT_COLS]])
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        return pdf

    def _write(self, name: str, call: Callable[[], object], apply: Callable[[], None],
               keys: list[int], rows: int = 1) -> Op:
        def check(_):
            apply()
            self.last_written = keys
            return True

        return Op(name, "write", name, call, None, check, rows)

    # writes
    def _put(self, rng) -> Op:
        keys = sorted(set(self._existing(rng, PUT_ROWS // 2))) + self._new_keys(PUT_ROWS // 2)
        pdf = self._frame([self._row(rng, k) for k in keys])
        df = self.env.spark.createDataFrame(pdf, self.schema)
        return self._write("put", lambda: self.session.put(MUT_TABLE, df),
                           lambda: self.model.put(pdf), keys, len(keys))

    def _update(self, rng) -> Op:
        key = self._existing(rng, 1)[0]
        new = self._row(rng, key)
        sets = {c: new[c] for c in ("o_orderstatus", "o_totalprice", "o_orderpriority")}
        text = (f"UPDATE {MUT_TABLE} SET o_orderstatus = '{sets['o_orderstatus']}', "
                f"o_totalprice = {sets['o_totalprice']!r}, "
                f"o_orderpriority = '{sets['o_orderpriority']}' WHERE o_orderkey = {key}")
        return self._write("update", lambda: self.session.sql(text),
                           lambda: self.model.update(key, sets), [key])

    def _delete(self, rng) -> Op:
        key = self._existing(rng, 1)[0]
        text = f"DELETE FROM {MUT_TABLE} WHERE o_orderkey = {key}"
        return self._write("delete", lambda: self.session.sql(text),
                           lambda: self.model.delete(key), [key])

    def _insert(self, rng) -> Op:
        keys = self._new_keys(INSERT_ROWS)
        rows = [self._row(rng, k) for k in keys]
        values = ", ".join(
            f"({r['o_orderkey']}, {r['o_custkey']}, '{r['o_orderstatus']}', {r['o_totalprice']!r}, "
            f"TIMESTAMP '{r['o_orderdate']}', '{r['o_orderpriority']}')" for r in rows)
        text = f"INSERT INTO {MUT_TABLE} VALUES {values}"
        pdf = self._frame(rows)
        return self._write("insert", lambda: self.session.sql(text),
                           lambda: self.model.insert(pdf), keys, len(keys))

    def _sink(self, rng) -> Op:
        from pyspark.sql.types import IntegerType, LongType, StructField, StructType

        from model import EVENT_DELETE

        existing = sorted(set(self._existing(rng, 16)))
        events = [(k, 0) for k in self._new_keys(8)]  # inserts
        events += [(k, 1) for k in existing[:8]]  # updates
        events += [(k, EVENT_DELETE) for k in existing[8:]]  # deletes
        events += [(events[i][0], 1) for i in range(0, 16, 4)]  # later updates, conflated
        rows = [dict(self._row(rng, k), **{EVENT_COL: e, SEQ_COL: i}) for i, (k, e) in enumerate(events)]
        pdf = self._frame(rows)
        schema = StructType(self.schema.fields + [StructField(EVENT_COL, IntegerType()),
                                                  StructField(SEQ_COL, LongType())])
        df = self.env.spark.createDataFrame(pdf, schema)
        self.batch_id += 1
        batch_id = self.batch_id
        return self._write("sink", lambda: self.sink(df, batch_id),
                           lambda: self.model.cdc(pdf, EVENT_COL, SEQ_COL), [k for k, _ in events],
                           len(events))

    # reads
    def _point_written(self, rng) -> Op:
        # a failed first write leaves nothing written: read a random key
        return self._point(rng, rng.choice(self.last_written) if self.last_written else None)

    def _point(self, rng, key: int | None = None) -> Op:
        if key is None:
            key = self._existing(rng, 1)[0]
        text = f"SELECT {', '.join(MUT_COLS)} FROM {MUT_TABLE} WHERE o_orderkey = {key}"
        return Op("point", "read", "sql", lambda: self.session.sql(text), to_pandas,
                  lambda pdf: same_rows(pdf, canon_of(self.model.lookup(key))))

    def _aggregate(self, rng) -> Op:
        text = (f"SELECT COUNT(*) AS n, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) "
                f"AS DOUBLE) AS total, COUNT(DISTINCT o_orderstatus) AS statuses FROM {MUT_TABLE}")

        def check(pdf) -> bool:
            df = self.model.df
            cents = (df["o_totalprice"] * 100).round().astype("int64").sum()
            want = (len(df), cents / 100.0, df["o_orderstatus"].nunique())
            got = tuple(pdf.iloc[0])
            return got[0] == want[0] and round(got[1], 2) == round(want[1], 2) and got[2] == want[2]

        return Op("aggregate", "read", "sql", lambda: self.session.sql(text), to_pandas, check)

    def finish(self) -> dict:
        """Compare the final table with the model; measure space per live byte."""
        sn = self.session
        got = sn.table(MUT_TABLE).toPandas()[MUT_COLS].sort_values("o_orderkey").reset_index(drop=True)
        want = self.model.frame()[MUT_COLS]
        for pdf in (got, want):
            pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        ok = len(got) == len(want) and all(
            got[c].reset_index(drop=True).equals(want[c].reset_index(drop=True)) for c in MUT_COLS)
        fresh = os.path.join(self.env.run_dir, "mutation_fresh")
        sn.table(MUT_TABLE).write.mode("overwrite").parquet(fresh)
        live = sum(files_under(fresh, ".parquet").values())
        stored = sum(files_under(os.path.join(self.store, MUT_TABLE)).values())
        return {"final_table_ok": ok, "store_bytes_per_live_byte": stored / live}


def files_under(path: str, suffix: str = "") -> dict[str, int]:
    """Files below `path` whose name ends with `suffix`, with their sizes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


WORKLOADS = {"read_mix": ReadMix, "mutation_mix": Mutation}
