"""The benchmark's workloads.

``batch-sf0.2`` runs registry entries (the ``queries()`` functions of
``__spark_entry__``) whose time goes to executor work, and checks every
result against the entry's DuckDB ``oracle_sql()`` with the
order-insensitive hash of ``tools/verify_local.py``. ``load-qa-refresh``
runs the nightly load -> lifecycle -> QA flow through the public
functions of ``apde_etl_spark.sources``, ``operators.dedup`` and
``plans.qa_pipeline``; its requests are dominated by fixed per-call costs
(plan construction, job launch), and each is checked against a DuckDB
restatement over the same generated files.

Inputs: batch-sf0.2 reads a base dataset generated once per checkout
with a fixed data seed and scaled with ``tools/gen_sf.py``, each reused
only while its recorded content digest matches; the workload seed
permutes the request order. load-qa-refresh generates its customer table
from the workload seed at set-up and, before every cycle, rewrites its
delimited lineitem extracts at the same paths with new content and makes
a fresh merge batch, both from the workload seed and the cycle number.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import duckdb

import datagen
from harness import Request
from spans import dir_bytes
from tools.verify_local import TABLES, frame_hash

#: fixed seed of batch-sf0.2's base data (the request order, not the
#: data, is what its workload seed varies)
DATA_SEED = 42

#: executor work dominates: construction is under 10% of each entry's
#: wall time at sf0.2 on 4 cores, and results are a few rows, so result
#: transfer to Python does not dilute it
BATCH = [
    "a2_numeric_stats_lineitem", "q21_anti_sole_late_supplier",
    "q1_pricing_summary",
]


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _source_sha(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Context:
    """What a workload needs from the run: the checkout root, the
    benchmark's cache directory, the run's own work directory, a log
    function, and (after set-up) the Spark session."""

    def __init__(self, root: str, cache_dir: str, work_dir: str, log) -> None:
        self.root = root
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.log = log
        self.spark = None


# --------------------------------------------------------------------------
# batch-sf0.2
# --------------------------------------------------------------------------

def _cached_dataset(ctx: Context, name: str, build, key: str) -> tuple[str, str]:
    """Return (dir, digest) of a cached dataset, (re)building it when the
    directory is missing, partial, stale (built from other generator
    sources) or changed since it was recorded."""
    path = os.path.join(ctx.cache_dir, name)
    manifest = path + ".json"
    if os.path.isdir(path) and os.path.isfile(manifest):
        with open(manifest) as fh:
            rec = json.load(fh)
        if rec.get("key") == key and rec.get("digest") == datagen.dir_digest(path):
            return path, rec["digest"]
        ctx.log(f"cached dataset {name} is stale or changed; rebuilding")
    for p in (path, path + ".partial"):
        shutil.rmtree(p, ignore_errors=True)
    if os.path.exists(manifest):
        os.remove(manifest)
    build(path + ".partial")
    os.rename(path + ".partial", path)
    digest = datagen.dir_digest(path)
    with open(manifest, "w") as fh:
        json.dump({"key": key, "digest": digest}, fh)
    return path, digest


class BatchWorkload:
    entries = BATCH
    #: replicas of the sf0.1 base made by tools/gen_sf.py
    factor = 2
    #: steady pass time on 4 cores; sets how many passes fill --seconds
    nominal_pass_s = 4.2

    def __init__(self) -> None:
        self.sf_dir = ""
        self.digest = ""
        self.oracle: dict[str, tuple[int, str]] = {}

    def prepare(self, ctx: Context, seed: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        gen_sf = os.path.join(ctx.root, "tools", "gen_sf.py")
        key = _source_sha(os.path.join(here, "datagen.py"), gen_sf)
        base, _ = _cached_dataset(
            ctx, "base-sf0.1", lambda d: datagen.write_base(d, 0.1, DATA_SEED),
            key)

        def scale(dst: str) -> None:
            subprocess.run([sys.executable, gen_sf, base, dst, str(self.factor)],
                           check=True, stdout=subprocess.DEVNULL)

        self.sf_dir, self.digest = _cached_dataset(
            ctx, f"sf{0.1 * self.factor:g}", scale, key)

    def warm_path(self) -> str:
        return f"{self.sf_dir}/region.parquet"

    def compute_oracles(self, ctx: Context) -> None:
        """DuckDB result (rows, hash) per entry, cached per dataset digest
        and oracle SQL text."""
        import __spark_entry__ as entrymod

        sqls = entrymod.oracle_sql()
        path = os.path.join(ctx.cache_dir, f"oracles-{self.digest[:16]}.json")
        cache = {}
        if os.path.isfile(path):
            with open(path) as fh:
                cache = json.load(fh)
        con = None
        for name in self.entries:
            key = f"{name}:{_sha(sqls[name])}"
            if key not in cache:
                if con is None:
                    con = _duck()
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{self.sf_dir}/{t}.parquet'")
                res = con.execute(sqls[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                cache[key] = [len(rows), frame_hash(cols, rows)[0]]
            self.oracle[name] = tuple(cache[key])
        with open(path, "w") as fh:
            json.dump(cache, fh)

    def requests(self, ctx: Context, seed: int, pass_idx: int) -> list[Request]:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        order = list(self.entries)
        random.Random(seed).shuffle(order)
        spark, sf_dir = ctx.spark, self.sf_dir

        def make(name: str) -> Request:
            fn = qs[name]

            def run(runner, rid):
                df = runner.call(rid, "construct", "plans", lambda: fn(spark, sf_dir))
                rows = runner.collect(rid, "collect", df)
                return df.columns, rows

            def check(out):
                cols, rows = out
                n, h = self.oracle[name]
                got = frame_hash(cols, [tuple(r) for r in rows])[0]
                if len(rows) != n or got != h:
                    return f"{len(rows)} rows hash {got[:12]} vs oracle {n} rows hash {h[:12]}"
                return None

            return Request(name, run, check)

        return [make(n) for n in order]

    def finish_pass(self, ctx: Context) -> None:
        pass


# --------------------------------------------------------------------------
# load-qa-refresh
# --------------------------------------------------------------------------

#: scale of the generated extracts: one cycle is a few seconds on 4 cores
LOAD_SF = 0.02
#: rows per output file of the analytic write, the smaller of the two
#: values the registry's own writers use (200k for the z-ordered lineitem
#: fixture in plans/catalog_r5.py, 500k for the partitioned orders in
#: plans/catalog_r4.py); at LOAD_SF each yearly partition is one file
TARGET_FILE_ROWS = 200_000
#: merge batch per cycle as shares of the customer table, the mix of the
#: registry's MERGE fixture (plans/catalog_r7.py ``_ensure_versioned``:
#: keys % 10 updated, % 500 inserted, % 97 deleted)
UPDATE_SHARE, INSERT_SHARE, DELETE_SHARE = 0.10, 0.002, 0.01
CUSTOMER_ATTRS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
LINE_TIEBREAK = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus"]

_DIGEST = ("count(*), sum(l_orderkey), sum(l_linenumber), "
           "sum(CAST(round(l_extendedprice * 100) AS BIGINT))")


def _spark_digest(df):
    """The Spark side of ``_DIGEST``."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_linenumber"),
                  F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")))


def _csv_view(con, name: str, inputs: str, tsql: dict[str, str]) -> None:
    cols = ", ".join(f"'{c}': '{datagen.TSQL_TO_DUCK[t]}'" for c, t in tsql.items())
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_csv("
        f"'{inputs}/{name}_*.txt', delim='|', header=true, columns={{{cols}}})")


def _parquet_rows(con, path: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet', hive_partitioning=false)")
    return [d[0] for d in res.description], res.fetchall()


class LoadWorkload:
    #: steady pass (one cycle) time on 4 cores
    nominal_pass_s = 11.5

    def __init__(self) -> None:
        self.seed = 0
        self.cycle: dict = {}

    def prepare(self, ctx: Context, seed: int) -> None:
        self.seed = seed
        self.customer = datagen.base_tables(LOAD_SF, seed)["customer"]
        self.customer_path = os.path.join(ctx.work_dir, "customer.parquet")
        datagen.pq.write_table(self.customer, self.customer_path)
        # the extracts are rewritten at these paths every cycle
        self.inputs = os.path.join(ctx.work_dir, "inputs")

    def warm_path(self) -> str:
        return self.customer_path

    def compute_oracles(self, ctx: Context) -> None:
        """Every oracle of this workload depends on its cycle's inputs, so
        ``_new_cycle`` computes them."""

    def _new_cycle(self, ctx: Context, pass_idx: int) -> None:
        """Fresh extracts (same paths, new content), directory and merge
        batch for one cycle, with their DuckDB restatements; all outside
        every timed region."""
        import __spark_entry__ as entrymod

        self.finish_pass(ctx)
        cycle_seed = self.seed * 1000 + pass_idx
        lineitem = datagen.base_tables(LOAD_SF, cycle_seed)["lineitem"]
        shutil.rmtree(self.inputs, ignore_errors=True)
        d = os.path.join(ctx.work_dir, f"cycle{pass_idx}")
        os.makedirs(d)
        n_cust = self.customer.num_rows
        n_update = round(n_cust * UPDATE_SHARE)
        updates, deletes = datagen.customer_deltas(
            self.customer, cycle_seed, n_update,
            max(1, round(n_cust * INSERT_SHARE)), round(n_cust * DELETE_SHARE))
        c = {"dir": d, "updates": f"{d}/updates.parquet",
             "deletes": f"{d}/deletes.parquet", "customer": f"{d}/customer",
             "years": datagen.write_delimited_years(
                 lineitem, "lineitem", "l_shipdate", self.inputs),
             "vars": datagen.tsql_vars(lineitem),
             "input_bytes": dir_bytes(self.inputs)[0]}
        datagen.pq.write_table(updates, c["updates"])
        datagen.pq.write_table(deletes, c["deletes"])

        con = _duck()
        _csv_view(con, "lineitem", self.inputs, c["vars"])
        c["lineitem"] = con.execute(f"SELECT {_DIGEST} FROM lineitem").fetchone()
        order = ", ".join(f"{x} DESC" for x in ["l_shipdate", *LINE_TIEBREAK])
        c["keep_newest"] = con.execute(
            f"SELECT {_DIGEST} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY l_orderkey ORDER BY {order}) AS rn FROM lineitem) "
            "WHERE rn = 1").fetchone()
        res = con.execute(entrymod.oracle_sql()["qa_values_full"])
        rows = res.fetchall()
        c["qa_values"] = (len(rows), frame_hash([x[0] for x in res.description], rows)[0])
        keep = ", ".join(["c_custkey", *CUSTOMER_ATTRS])
        res = con.execute(
            f"SELECT {keep} FROM read_parquet('{c['updates']}') "
            f"WHERE c_custkey NOT IN (SELECT c_custkey FROM read_parquet('{c['deletes']}')) "
            f"UNION ALL SELECT {keep} FROM read_parquet('{self.customer_path}') "
            f"WHERE c_custkey NOT IN (SELECT c_custkey FROM read_parquet('{c['updates']}')) "
            f"AND c_custkey NOT IN (SELECT c_custkey FROM read_parquet('{c['deletes']}'))")
        rows = res.fetchall()
        c["merged"] = (len(rows), frame_hash([x[0] for x in res.description], rows)[0])
        del_keys = deletes["c_custkey"].to_pylist()
        new_keys = updates["c_custkey"].to_pylist()[n_update:]
        c["sync"] = (len(del_keys), sum(del_keys), len(new_keys), sum(new_keys))
        self.cycle = c

    def finish_pass(self, ctx: Context) -> None:
        if self.cycle:
            shutil.rmtree(self.cycle["dir"], ignore_errors=True)
            self.cycle = {}

    def requests(self, ctx: Context, seed: int, pass_idx: int) -> list[Request]:
        """One cycle: every request is one step of the nightly flow (one
        public call, or compaction with its vacuum), in order; later
        requests read what earlier ones loaded or wrote."""
        from pyspark.sql import functions as F

        from apde_etl_spark.operators.dedup import keep_newest, sync_diff
        from apde_etl_spark.plans.catalog import _qa_lineitem_cfg
        from apde_etl_spark.plans.qa_pipeline import run_qa_pipeline
        from apde_etl_spark.sources import lifecycle as L

        self._new_cycle(ctx, pass_idx)
        spark, c = ctx.spark, self.cycle
        cust = c["customer"]
        table = f"{c['dir']}/lineitem"
        loaded: dict = {}

        def expect(got, want, what):
            return None if got == want else f"{what}: {got} vs oracle {want}"

        def snapshot(v):
            cols, rows = _parquet_rows(_duck(), f"{cust}/v={v}")
            return len(rows), frame_hash(cols, rows)[0]

        config = {"file_path": f"{self.inputs}/lineitem_{{year}}.txt",
                  "field_term": "|", "first_row": 2, "vars": c["vars"]}

        def ingest(runner, rid):
            def load():
                loaded["lineitem"] = L.ingest_yearly_files(spark, config, c["years"])
                return tuple(_spark_digest(loaded["lineitem"]).collect()[0])
            return runner.call(rid, "ingest", "sources", load)

        def read_table(runner, rid):
            return runner.call(rid, "read", "sources", lambda: spark.read.parquet(table))

        def write(runner, rid):
            runner.call(rid, "write", "sources", lambda: L.write_analytic_table(
                loaded["lineitem"], table, partition_by="load_year",
                target_file_rows=TARGET_FILE_ROWS))
            runner.note(**_written(table), **{"sources.input_bytes": c["input_bytes"]})

        def check_write(_):
            got = _duck().execute(
                f"SELECT {_DIGEST} FROM read_parquet('{table}/*/*.parquet')").fetchone()
            return expect(got, c["lineitem"], "written digest")

        def write_customer(runner, rid):
            v = runner.call(rid, "write", "sources", lambda: L.versioned_write(
                spark.read.parquet(self.customer_path), cust))
            runner.note(**_written(f"{cust}/v={v}"))
            return v

        def merge(runner, rid):
            v = runner.call(rid, "merge", "sources", lambda: L.merge_into_versioned(
                spark, cust, spark.read.parquet(c["updates"]), "c_custkey",
                CUSTOMER_ATTRS, deletes=spark.read.parquet(c["deletes"])))
            runner.note(**_written(f"{cust}/v={v}"))
            return v

        def compact(runner, rid):
            res = runner.call(rid, "compact", "sources",
                              lambda: L.compact_table(spark, cust, 2))
            runner.note(**_written(f"{cust}/v={res[0]}"))
            vac = runner.call(rid, "vacuum", "sources",
                              lambda: L.vacuum_versions(cust, keep_last=2))
            return res, vac

        def dedup_keep_newest(runner, rid):
            li = read_table(runner, rid)
            kn = runner.call(rid, "keep_newest", "operators", lambda: _spark_digest(
                keep_newest(li, ["l_orderkey"], "l_shipdate", LINE_TIEBREAK)))
            return tuple(runner.collect(rid, "dedup_collect", kn)[0])

        def dedup_sync_diff(runner, rid):
            a, b = runner.call(rid, "sync_diff", "operators", lambda: sync_diff(
                spark.read.parquet(self.customer_path), L.read_version(spark, cust),
                ["c_custkey"]))
            both = a.agg(F.count(F.lit(1)), F.sum("c_custkey")).crossJoin(
                b.agg(F.count(F.lit(1)), F.sum("c_custkey")))
            return tuple(runner.collect(rid, "dedup_collect", both)[0])

        def qa(runner, rid):
            li = read_table(runner, rid)
            res = runner.call(rid, "run_qa_pipeline", "plans",
                              lambda: run_qa_pipeline(li, _qa_lineitem_cfg()))
            values = runner.collect(rid, "qa_collect", res.values)
            miss = runner.collect(rid, "qa_collect", res.missingness)
            runner.call(rid, "qa_release", "operators", res.release)
            return res.values.columns, values, miss

        def check_qa(out):
            cols, values, miss = out
            got = (len(values), frame_hash(cols, [tuple(r) for r in values])[0])
            return (expect(got, c["qa_values"], "qa values")
                    or expect(bool(miss), True, "qa missingness non-empty"))

        return [
            Request("ingest", ingest,
                    lambda r: expect(r, c["lineitem"], "loaded digest")),
            Request("write", write, check_write),
            Request("write_customer", write_customer, lambda v: expect(
                (v, snapshot(v)[0]), (1, self.customer.num_rows), "customer v=1")),
            Request("merge", merge, lambda v: expect(v, 2, "merged version")
                    or expect(snapshot(v), c["merged"], "merged snapshot")),
            Request("compact", compact, lambda r: expect(
                (r[0][0], r[0][2], r[1]), (3, 2, ([1], [2, 3])),
                "compacted version/files, vacuumed/kept versions")
                or expect(snapshot(r[0][0]), c["merged"], "compacted snapshot")),
            Request("keep_newest", dedup_keep_newest,
                    lambda r: expect(r, c["keep_newest"], "keep_newest digest")),
            Request("sync_diff", dedup_sync_diff,
                    lambda r: expect(r, c["sync"], "sync_diff deleted/inserted")),
            Request("qa", qa, check_qa),
        ]


def _written(*paths: str) -> dict:
    b, f = dir_bytes(*paths)
    return {"sources.bytes_written": b, "sources.files_written": f}


WORKLOADS = {
    "batch-sf0.2": BatchWorkload,
    "load-qa-refresh": LoadWorkload,
}
