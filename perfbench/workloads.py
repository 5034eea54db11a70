"""The benchmark's workloads.

Each workload stages its own inputs from the seed, warms up untimed, and
hands the runner a fixed list of operations (one query or one refresh
cycle each). After the timed loop it checks the outputs against DuckDB.
Spans are recorded around every call into a layer of the program:
``session``, ``catalog``, ``operators`` (the registry callables), the
Spark action (``exec``), ``plans.graph.ModelGraph`` and
``sources.deltalike.DeltaLikeTable``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
from gen import OrderBatches

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    label: str
    run: object  # () -> None
    prepare: object = None  # untimed, runs just before the op


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    scale: float
    units: int
    inputs: dict = field(default_factory=dict)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# The star fixture is read-only reference data, the same on every run,
# as the repository's test fixtures are (seed 42, ``TESTDATA.md``); the
# run's seed drives what the workload does with it.
FIXTURE_SEED = 42


def stage_star(ctx: Ctx, sf: float) -> str:
    """Write the star fixture in a child process, so the generator's
    memory stays out of the driver's peak RSS."""
    out = os.path.join(ctx.work, f"sf{sf:g}")
    with ctx.tracer.span("setup.stage"):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--out", out,
             "--seed", str(FIXTURE_SEED), "--sf", str(sf)],
            check=True, stdout=subprocess.DEVNULL,
        )
    ctx.inputs["fixture_bytes"] = du(out)
    ctx.inputs["fixture_rows"] = {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
        for f in sorted(os.listdir(out))
    }
    return out


class TpchInteractive:
    """The 22 ``tpch_*`` ids over the sf0.1 star fixture, one pass per
    unit, query order shuffled by the seed on every pass."""

    name = "tpch_interactive"
    unit_s = 30.0  # nominal seconds of one pass; sets the pass count

    def setup(self, ctx: Ctx) -> None:
        from dbt_local_duckdb_deltalake_project_spark import catalog
        from dbt_local_duckdb_deltalake_project_spark.operators import ORACLE, QUERIES

        self.queries, self.oracle = QUERIES, ORACLE
        self.ids = sorted(q for q in QUERIES if q.startswith("tpch_"))
        self.data = stage_star(ctx, 0.1 * ctx.scale)
        self.input_bytes = ctx.inputs["fixture_bytes"]
        with ctx.tracer.span("catalog.register"):
            catalog.register_views(ctx.spark, self.data)
        # one untimed pass: the first run of a query compiles its
        # generated code and warms the JVM's JIT, which users pay once.
        # Two queries at a time overlap one's compiling with the other's
        # tasks; the timed loop runs one at a time.
        with ctx.tracer.span("setup.warmup"), ThreadPoolExecutor(2) as pool:
            list(pool.map(lambda q: self.queries[q](ctx.spark, self.data).toArrow(), self.ids))
        self.outputs: dict[str, object] = {}

    def _query(self, ctx: Ctx, qid: str) -> None:
        with ctx.tracer.span("operators.build", qid=qid):
            df = self.queries[qid](ctx.spark, self.data)
        with ctx.tracer.span("exec.action", qid=qid):
            table = df.toArrow()
        self.outputs.setdefault(qid, table)

    def ops(self, ctx: Ctx) -> list[Op]:
        rng = np.random.default_rng([ctx.seed, 3])
        order = [self.ids[i] for _ in range(ctx.units) for i in rng.permutation(len(self.ids))]
        return [Op(q, functools.partial(self._query, ctx, q)) for q in order]

    def check(self, ctx: Ctx, ops: list[Op]) -> dict:
        from dbt_local_duckdb_deltalake_project_spark.catalog import TABLES

        con = check.duck_tables(self.data, TABLES)
        results = {}
        for qid in self.ids:
            want = check.duck_digest(con, self.oracle[qid])
            got = check.arrow_digest(self.outputs[qid]) if qid in self.outputs else None
            results[qid] = {"ok": got == want, "want": want, "got": got}
        con.close()
        bad = {q for q, r in results.items() if not r["ok"]}
        return {"failed_ops": {i for i, op in enumerate(ops) if op.label in bad}, "checks": results}

    def collect(self, ctx: Ctx) -> None:
        """Spark-side reads the check needs; the outputs are already held."""

    def metrics(self, ctx: Ctx, latencies: list[float]) -> dict:
        # every op is a read of the fixture, which is all the workload stores
        return {
            "read_p50_s": statistics.median(latencies),
            "bytes_stored_per_input_byte": du(self.data) / self.input_bytes,
        }

    def layer_metrics(self, ctx: Ctx) -> dict:
        return {}


SILVER_COLS = ["order_key", "cust_key", "status", "amount_cents", "updated_at", "_ingest_seq"]


class MedallionRefresh:
    """Seeded order batches landed one per cycle; each cycle runs the
    bronze → silver → gold ModelGraph, the silver schema tests, three
    DeltaLikeTable reads, and every ``maintain_every``-th cycle compacts
    and vacuums silver."""

    name = "medallion_refresh"
    # 8 cycles of about 20k-row batches in a 30 s run: the batch size and
    # count of the probe the workload was specified from. Maintenance on
    # every 4th cycle from the first warm-up refresh (cycles 1, 5, 9) warms
    # its path before timing and puts two compactions in the timed cycles.
    unit_s = 3.75  # nominal seconds of one cycle; sets the cycle count
    batch_rows = 20_000
    maintain_every = 4
    # the initial load, then two incremental refreshes: after one, the
    # first timed cycle was still the slowest of a run
    warmup_cycles = 3

    def setup(self, ctx: Ctx) -> None:
        from dbt_local_duckdb_deltalake_project_spark import catalog
        from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import DeltaLikeTable

        self.dlt = DeltaLikeTable
        self.data = stage_star(ctx, 0.001 * ctx.scale)
        n_cust = ctx.inputs["fixture_rows"]["customer"]
        self.landing = os.path.join(ctx.work, "landing")
        os.makedirs(self.landing)
        self.tables = os.path.join(ctx.work, "tables")
        with ctx.tracer.span("setup.stage"):
            gen = OrderBatches(ctx.seed, max(50, int(self.batch_rows * ctx.scale)), n_cust)
            look = np.random.default_rng([ctx.seed, 4])
            self.batches, self.n_keys, self.lookups = [], [], []
            for _ in range(self.warmup_cycles + ctx.units):
                batch, props = gen.next()
                self.batches.append(batch)
                self.n_keys.append(gen.n_keys)
                k = int(look.integers(0, gen.n_keys))
                self.lookups.append((k, int(gen.latest_ts[k])))
                ctx.inputs.setdefault("batches", []).append(props)
        # the one fixture table the graph reads; no other view is needed
        with ctx.tracer.span("catalog.register"):
            self.customer = catalog.read_table(ctx.spark, self.data, "customer")
        self.graph = self._graph(ctx)
        self.silver = DeltaLikeTable(os.path.join(self.tables, "silver"))
        self.gold = DeltaLikeTable(os.path.join(self.tables, "gold"))
        self.version_rows: dict[int, int] = {}
        self.reads: list[dict] = []
        self.read_latencies: list[float] = []
        self.reclaimed = 0
        if ctx.tracer.enabled:
            self._instrument(ctx.tracer)
        with ctx.tracer.span("setup.warmup"):
            for c in range(self.warmup_cycles):
                self._land(c)
                self._cycle(ctx, c)
        self.read_latencies.clear()
        self.reclaimed = 0

    def _graph(self, ctx: Ctx):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from dbt_local_duckdb_deltalake_project_spark.plans.graph import ModelGraph

        g = ModelGraph(self.tables)
        landing = self.landing
        silver_path = os.path.join(self.tables, "silver")
        hooks = {"pre_hook": [], "post_hook": []}
        if ctx.tracer.enabled:
            open_spans: dict[str, int] = {}

            def pre(spark, c):
                open_spans[c["node"]] = ctx.tracer.begin(f"graph.model.{c['node']}")

            def post(spark, c):
                ctx.tracer.end(open_spans.pop(c["node"]))

            hooks = {"pre_hook": [pre], "post_hook": [post]}

        @g.model("bronze", materialized="incremental", watermark_col="_ingest_seq", **hooks)
        def bronze(spark, deps):
            return spark.read.parquet(landing)

        @g.model("silver", deps=["bronze"], materialized="incremental",
                 unique_key="order_key", **hooks)
        def silver(spark, deps):
            # dbt is_incremental(): only bronze rows landed after the
            # newest one silver holds; latest version per key; and a row
            # must be strictly newer than silver's to replace it, so
            # re-landings and late rows never win.
            new, this = deps["bronze"], self.dlt(silver_path)
            current = this.read(spark) if this.latest_version >= 0 else None
            if current is not None:
                hw = current.agg(F.max("_ingest_seq")).collect()[0][0]
                new = new.filter(F.col("_ingest_seq") > F.lit(hw))
            w = Window.partitionBy("order_key").orderBy(
                F.col("updated_at").desc(), F.col("_ingest_seq").desc()
            )
            new = new.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
            if current is not None:
                cur = current.select("order_key", F.col("updated_at").alias("_cur_ts"))
                new = (
                    new.join(cur, "order_key", "left")
                    .filter(F.col("_cur_ts").isNull() | (F.col("updated_at") > F.col("_cur_ts")))
                    .drop("_cur_ts")
                )
            return new.select(*SILVER_COLS)

        @g.model("gold", deps=["silver", "customer"], materialized="table", **hooks)
        def gold(spark, deps):
            c = deps["customer"].select("c_custkey", "c_mktsegment")
            return (
                deps["silver"]
                .join(F.broadcast(c), F.col("cust_key") == F.col("c_custkey"))
                .groupBy("c_mktsegment", "status")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum("amount_cents").alias("amount_cents"),
                    F.max("updated_at").alias("last_update"),
                )
            )

        return g

    def _instrument(self, tracer) -> None:
        """Time every DeltaLikeTable call the graph and the reads make."""
        for meth in ("write", "merge", "read", "compact", "vacuum"):
            orig = getattr(self.dlt, meth)

            def wrapped(tbl, *a, _orig=orig, _name=f"deltalike.{meth}", **kw):
                with tracer.span(_name, table=os.path.basename(tbl.path)):
                    return _orig(tbl, *a, **kw)

            setattr(self.dlt, meth, functools.wraps(orig)(wrapped))

    def _land(self, c: int) -> None:
        pq.write_table(self.batches[c], os.path.join(self.landing, f"batch_{c:05d}.parquet"))

    def _timed_read(self, ctx: Ctx, kind: str, fn):
        t0 = time.perf_counter()
        with ctx.tracer.span(f"read.{kind}"):
            out = fn()
        self.read_latencies.append(time.perf_counter() - t0)
        return out

    def _cycle(self, ctx: Ctx, c: int) -> None:
        from pyspark.sql import functions as F

        spark = ctx.spark
        with ctx.tracer.span("graph.run"):
            out = self.graph.run(spark, {"customer": self.customer})
        self.version_rows[self.silver.latest_version] = self.n_keys[c]
        with ctx.tracer.span("graph.schema_test"):
            s = out["silver"]
            dups = s.groupBy("order_key").count().filter(F.col("count") > 1).count()
            keys = self.customer.select(F.col("c_custkey").alias("cust_key"))
            orphans = s.join(keys, "cust_key", "left_anti").count()
        if dups or orphans:
            raise AssertionError(f"silver schema tests: {dups} duplicate keys, {orphans} orphans")
        k, _ = self.lookups[c]
        point = self._timed_read(ctx, "point", lambda: self.silver.read(
            spark, stats_filter={"order_key": (k, k)}).filter(F.col("order_key") == k).toArrow())
        self._timed_read(ctx, "gold", lambda: self.gold.read(spark).toArrow())
        prev = self.silver.latest_version - 1
        if prev >= 0:  # time travel needs an earlier version
            n_prev = self._timed_read(
                ctx, "as_of", lambda: self.silver.read(spark, as_of=prev).count())
            self.reads.append({"cycle": c, "key": k, "point": point, "version": prev + 1,
                               "as_of": prev, "as_of_rows": n_prev})
        if c % self.maintain_every == 1:
            self.silver.compact(spark)
            self.version_rows[self.silver.latest_version] = self.n_keys[c]
            before = du(self.silver.path) if ctx.tracer.enabled else 0
            self.silver.vacuum(retention_ms=0)
            if ctx.tracer.enabled:
                self.reclaimed += before - du(self.silver.path)

    def ops(self, ctx: Ctx) -> list[Op]:
        first = self.warmup_cycles
        return [
            Op(f"cycle{c}", functools.partial(self._cycle, ctx, c), functools.partial(self._land, c))
            for c in range(first, first + ctx.units)
        ]

    def _expected_silver(self) -> str:
        return f"""
            SELECT {", ".join(SILVER_COLS)} FROM (
              SELECT *, row_number() OVER (
                PARTITION BY order_key ORDER BY updated_at DESC, _ingest_seq ASC) AS rn
              FROM read_parquet('{self.landing}/*.parquet'))
            WHERE rn = 1"""

    def collect(self, ctx: Ctx) -> None:
        """Read the final silver and gold tables for the check."""
        self.final = {"silver": self.silver.read(ctx.spark).toArrow(),
                      "gold": self.gold.read(ctx.spark).toArrow()}

    def check(self, ctx: Ctx, ops: list[Op]) -> dict:
        import duckdb

        con = duckdb.connect()
        silver_sql = self._expected_silver()
        gold_sql = f"""
            SELECT c_mktsegment, status, COUNT(*) AS n_orders,
                   SUM(amount_cents) AS amount_cents, MAX(updated_at) AS last_update
            FROM ({silver_sql}) s
            JOIN read_parquet('{self.data}/customer.parquet') c ON c.c_custkey = s.cust_key
            GROUP BY ALL"""
        checks = {
            name: {"want": check.duck_digest(con, sql), "got": check.arrow_digest(self.final[name])}
            for name, sql in (("silver", silver_sql), ("gold", gold_sql))
        }
        con.close()
        for v in checks.values():
            v["ok"] = v["want"] == v["got"]
        failed = set()
        if not (checks["silver"]["ok"] and checks["gold"]["ok"]):
            failed.add(len(ops) - 1)
        bad_reads = []
        for r in self.reads:
            got = list(zip(r["point"].column("order_key").to_pylist(),
                           r["point"].column("updated_at").cast(pa.int64()).to_pylist()))
            point_ok = got == [self.lookups[r["cycle"]]]
            as_of_ok = self.version_rows.get(r["as_of"]) == r["as_of_rows"]
            if not (point_ok and as_of_ok):
                bad_reads.append({"cycle": r["cycle"], "point": got, "as_of": r["as_of"],
                                  "as_of_rows": r["as_of_rows"]})
                if r["cycle"] >= self.warmup_cycles:
                    failed.add(r["cycle"] - self.warmup_cycles)
        checks["reads"] = {"ok": not bad_reads, "checked": len(self.reads), "bad": bad_reads[:5]}
        return {"failed_ops": failed, "checks": checks}

    def metrics(self, ctx: Ctx, latencies: list[float]) -> dict:
        return {
            "read_p50_s": statistics.median(self.read_latencies),
            "bytes_stored_per_input_byte": du(self.tables) / du(self.landing),
        }

    def layer_metrics(self, ctx: Ctx) -> dict:
        written = 0
        for name in ("bronze", "silver", "gold"):
            log = os.path.join(self.tables, name, "_delta_log")
            for f in sorted(os.listdir(log)):
                if f.endswith(".json"):
                    with open(os.path.join(log, f)) as fh:
                        written += sum(
                            a["add"].get("size", 0) for a in map(json.loads, fh) if "add" in a
                        )
        try:
            with open(os.path.join(self.silver.path, "_delta_log", "_last_checkpoint")) as f:
                cp = json.load(f)["version"]
        except OSError:
            cp = -1
        # files the point lookups' stats_filter pruned, from the log alone
        skipped = []
        for r in self.reads:
            if r["cycle"] >= self.warmup_cycles:
                k, v = r["key"], r["version"]
                kept = self.silver.live_files(as_of=v, stats_filter={"order_key": (k, k)})
                skipped.append(1 - len(kept) / len(self.silver.live_files(as_of=v)))
        return {
            "deltalike.bytes_written_per_input_byte": written / du(self.landing),
            "deltalike.bytes_reclaimed": self.reclaimed,
            "deltalike.commits_since_checkpoint": self.silver.latest_version - cp,
            "deltalike.live_files": len(self.silver.live_files()),
            "deltalike.files_skipped_ratio": statistics.fmean(skipped),
        }


WORKLOADS = {w.name: w for w in (TpchInteractive, MedallionRefresh)}
