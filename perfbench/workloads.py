"""The benchmark's workloads.

Each workload is one function taking a ``Context``.  It prepares its
inputs (timed three times; the median counts towards ``setup_s``),
warms the JVM with untimed runs of its own operations, then runs a
single closed-loop client that issues the next operation only after
the previous one returned, in whole passes or cycles, until
``ctx.seconds`` have passed.  Outputs are checked outside the timed
regions.  Every exception or wrong output counts as a failed
operation.

* ``bi_queries``: read-only dashboard traffic: a seeded schedule of
  registry faces interleaved with seeded-parameter SQL.
* ``table_dml``: MERGE / UPDATE / DELETE commits through
  ``statements.graft_sql`` on a CTAS'd ``orders`` manifest table,
  interleaved with point, aggregate and ``VERSION AS OF`` reads and a
  per-cycle OPTIMIZE + VACUUM, checked against a reference model.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import datagen

#: the engine package, imported from the checkout root
PKG = "data_engineering_pipeline_project_cloud_spark"

#: scale factor of each workload's generated input
SCALE = {"bi_queries": 0.002, "table_dml": 0.01}


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    sf: float
    cores: int
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: every end-to-end metric (value only; units live in run.py)
    e2e: dict[str, float] = field(default_factory=dict)
    #: per-layer metrics (traced runs)
    layer: dict[str, float] = field(default_factory=dict)
    #: named figures a reader wants beside the gated ones
    detail: dict = field(default_factory=dict)
    prep_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    #: op ids, and (latest Spark job id, tracer bookkeeping seconds),
    #: where the timed window opens and closes
    first_timed_op: int = 0
    last_timed_op: int = 0
    window_marks: list[tuple[int, float]] = field(default_factory=list)
    timed_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def release(self) -> None:
        """Drop the previous operation's scoped caches, as the engine's
        query registry does before each face."""
        from data_engineering_pipeline_project_cloud_spark import caching

        with self.tracer.span("caching.release_scoped") as rec:
            rec["released"] = caching.release_scoped()

    def timed(self):
        """Yield while the timed window is open; records its bounds."""
        tr = self.tracer
        self.first_timed_op = tr.op + 1
        self.window_marks.append((tr.latest_job_id(), tr.bookkeeping_s))
        start = time.perf_counter()
        while (elapsed := time.perf_counter() - start) < self.seconds:
            if "loadavg_mid" not in self.detail and \
                    elapsed >= self.seconds / 2:
                self.detail["loadavg_mid"] = os.getloadavg()[0]
            yield
        self.timed_s = time.perf_counter() - start
        self.detail.setdefault("loadavg_mid", os.getloadavg()[0])
        self.last_timed_op = tr.op
        self.window_marks.append((tr.latest_job_id(), tr.bookkeeping_s))

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {err}"[:300])

    def check(self, what: str, problems: list[str]) -> None:
        """Count a verification; any problem is a failed operation."""
        self.attempted += 1
        if problems:
            self.fail(what, "; ".join(problems))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    return {"value": sorted(xs)[n - 11],
            "percentile": int(100 * (n - 10) / n), "n": n}


def compact_bytes(ctx: Context, table) -> int:
    """Bytes of a one-file parquet rewrite of the arrow ``table``."""
    import pyarrow.parquet as pq

    out = ctx.path("compact.parquet")
    pq.write_table(table, out)
    size = os.path.getsize(out)
    os.remove(out)
    return size


def _duck(src: str):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(src, name)}')")
    return con


# --------------------------------------------------------------- bi_queries

#: registry faces the dashboard traffic runs (sink: Spark's noop writer)
BI_FACES = ("q1_pricing_summary", "q3_top_orders", "q5_region_volume",
            "q6_forecast_revenue", "q10_returned_revenue",
            "q18_large_orders", "pay_agg", "master_table",
            "window_running_totals", "sessionize_events",
            "tumbling_hourly_events", "asof_events_orders",
            "streaming_tumbling_hourly")
#: seeded-parameter dashboard SQL over the source tables (sink:
#: collect); the same text runs on Spark and on the DuckDB oracle
BI_SQL = {
    "month_revenue": (
        "SELECT l_returnflag, count(*) AS n_items, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
        "AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '{month} 00:00:00' "
        "AND l_shipdate < TIMESTAMP '{month} 00:00:00' + INTERVAL 1 MONTH "
        "GROUP BY l_returnflag"),
    "seller_kpis": (
        "SELECT n_name, count(*) AS n_items, "
        "count(DISTINCT l_suppkey) AS n_sellers, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
        "AS revenue FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = '{nation}' GROUP BY n_name"),
    "order_lookup": (
        "SELECT o_orderkey, o_orderstatus, o_totalprice, l_linenumber, "
        "l_quantity FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey = {order}"),
}


def bi_queries(ctx: Context) -> None:
    import numpy as np
    from data_engineering_pipeline_project_cloud_spark import plans, testing

    tr = ctx.tracer

    for i in range(3):
        t0 = time.perf_counter()
        src = ctx.path(f"src{i}")
        counts = datagen.generate(src, ctx.seed, ctx.sf, only=_BI_TABLES)
        ctx.prep_s.append(time.perf_counter() - t0)
    for i in range(2):
        shutil.rmtree(ctx.path(f"src{i}"), ignore_errors=True)
    for name in _BI_TABLES:
        ctx.spark.read.parquet(os.path.join(src, f"{name}.parquet")) \
            .createOrReplaceTempView(name)
    duck = _duck(src)
    rng = np.random.default_rng(ctx.seed)

    def params() -> dict:
        return {"month": f"{rng.integers(1995, 2002)}-"
                         f"{rng.integers(1, 13):02d}-01",
                "nation": f"NATION_{rng.integers(25)}",
                "order": int(rng.integers(counts["orders"]))}

    queries = plans.all_queries()
    oracle = plans.all_oracle_sql()

    def face(name: str, verify: bool) -> float:
        ctx.release()
        t0 = time.perf_counter()
        with tr.span(f"plans.{name}.build"):
            df = queries[name](ctx.spark, src)
        with tr.span(f"plans.{name}.exec"):
            if verify:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if verify:
            with tr.span("bench.verify"):
                orows = duck.execute(oracle[name]).fetchall()
                ocols = [d[0] for d in duck.description]
                ctx.check(name, testing.diff_results(
                    df.columns, rows, ocols, orows))
        return dt

    def sql(kind: str) -> float:
        ctx.release()
        text = BI_SQL[kind].format(**params())
        t0 = time.perf_counter()
        with tr.span(f"plans.sql.{kind}"):
            df = ctx.spark.sql(text)
            rows = df.collect()
        dt = time.perf_counter() - t0
        with tr.span("bench.verify"):
            orows = duck.execute(text).fetchall()
            ocols = [d[0] for d in duck.description]
            ctx.check(f"sql {kind}", testing.diff_results(
                df.columns, rows, ocols, orows))
        return dt

    def warm(name: str) -> list[str]:
        # the unscoped face: the registry's release of the previous
        # face's caches would race with the faces running beside it
        df = queries[name].__wrapped__(ctx.spark, src)
        rows = df.collect()
        cur = duck.cursor()
        orows = cur.execute(oracle[name]).fetchall()
        ocols = [d[0] for d in cur.description]
        cur.close()
        return testing.diff_results(df.columns, rows, ocols, orows)

    # warm-up: every face once, ``cores`` at a time, with its output
    # checked against the DuckDB oracle (the timed passes below use the
    # noop sink); a face that raised beside others is rerun alone
    t0 = time.perf_counter()
    tr.new_op()
    with ThreadPoolExecutor(ctx.cores) as pool:
        done = {name: pool.submit(warm, name) for name in BI_FACES}
    for name, fut in done.items():
        try:
            ctx.check(name, fut.result())
        except Exception:  # noqa: BLE001 - retried alone below
            try:
                face(name, verify=True)
            except Exception as e:  # noqa: BLE001 - counted
                ctx.attempted += 1
                ctx.fail(name, repr(e))
    for kind in BI_SQL:
        ctx.attempted += 1
        try:
            sql(kind)
        except Exception as e:  # noqa: BLE001 - counted
            ctx.fail(kind, repr(e))
    ctx.release()
    tr.stage_counters()  # the warm-up's stages belong to no span
    ctx.warmup_s = time.perf_counter() - t0

    lat: dict[str, list[float]] = {}
    schedule = BI_FACES + tuple(BI_SQL)
    for _ in ctx.timed():
        for i in rng.permutation(len(schedule)):
            name = schedule[i]
            tr.new_op()
            ctx.attempted += 1
            try:
                dt = sql(name) if name in BI_SQL else face(name, False)
            except Exception as e:  # noqa: BLE001 - counted, loop goes on
                ctx.fail(name, repr(e))
                continue
            lat.setdefault(name, []).append(dt)
    duck.close()

    allq = [x for v in lat.values() for x in v]
    ctx.e2e.update({
        "read_p50_s": median(allq),
        "ops_per_s": len(allq) / ctx.timed_s,
    })
    ctx.detail.update({
        "query_p50_s": median(allq), "query_tail_s": tail(allq),
        "queries_per_s": ctx.e2e["ops_per_s"],
        "query_p50_by_name_s": {k: median(v) for k, v in lat.items()},
    })
    if tr.enabled:
        f, last = ctx.first_timed_op, ctx.last_timed_op
        for name in BI_FACES:
            for part in ("build", "exec"):
                ctx.layer[f"plans.{name}.{part}_s"] = median(
                    tr.durations(f"plans.{name}.{part}", f))
        for kind in BI_SQL:
            ctx.layer[f"plans.sql.{kind}_s"] = median(
                tr.durations(f"plans.sql.{kind}", f))
        ctx.layer["sources.input_bytes"] = sum(
            s["counters"].get("input_bytes", 0) for s in tr.spans
            if f <= s["op"] <= last and s["name"].startswith("plans.")
        ) / max(1, len(allq))


_BI_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")


# ---------------------------------------------------------------- table_dml

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"]
_AGG = ("o_orderstatus, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue")
_TOTAL = ("count(*) AS n, "
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
          "AS revenue")
#: one maintenance cycle of the closed loop
CYCLE = ("merge", "point", "agg", "point", "update", "point",
         "time_travel", "point", "delete", "point", "agg", "point",
         "optimize", "vacuum")
COMMITS = ("merge", "update", "delete")
READS = ("point", "agg", "time_travel")


class _Table:
    """The manifest table under test plus the reference model of every
    MERGE, UPDATE and DELETE issued against it."""

    def __init__(self, ctx: Context, path: str, model, rng):
        from data_engineering_pipeline_project_cloud_spark import (
            statements,
            testing,
        )
        from data_engineering_pipeline_project_cloud_spark.sources import (
            manifest_source,
        )

        self.ctx = ctx
        self.path = path
        self.model = model.set_index("o_orderkey", drop=False)
        self.rng = rng
        self.next_key = int(model["o_orderkey"].max()) + 1
        self.versions: dict[int, tuple] = {}
        self.version = 0
        self.merge_version = 0
        self.files: set[str] = set()
        self.bytes_new: dict[str, list[int]] = {}
        self.statements = statements
        self.ms = manifest_source
        self.testing = testing

    def sql(self, kind: str, text: str):
        with self.ctx.tracer.span(f"statements.graft_sql.{kind}"):
            return self.statements.graft_sql(self.ctx.spark, text).collect()

    def _snapshot(self, kind: str) -> None:
        """Resolve the latest version after a commit; when tracing, also
        record the bytes of the files the commit added."""
        tr = self.ctx.tracer
        with tr.span("manifest.load_manifest") as rec:
            m = self.ms.load_manifest(self.path)
            rec["live_files"] = sum(1 for f in m["files"]
                                    if not f.get("dead"))
        self.version = m["version"]
        self.versions[self.version] = self._total()
        if tr.enabled:
            files = set(_files(self.path))
            self.bytes_new.setdefault(kind, []).append(sum(
                os.path.getsize(p) for p in files - self.files))
            self.files = files

    def _total(self) -> tuple:
        cents = (self.model["o_totalprice"] * 100).round().astype("int64")
        return len(self.model), int(cents.sum())

    # ------------------------------------------------------------ ops

    def run(self, kind: str) -> float:
        """Issue one operation, return its latency; reads are checked
        against the model outside the timed region."""
        return getattr(self, f"_{kind}")()

    def _merge(self) -> float:
        import pandas as pd

        live = self.model.index.to_numpy()
        keys = self.rng.choice(live, size=min(500, len(live)), replace=False)
        upd = self.model.loc[keys].copy()
        upd["o_orderstatus"] = self.rng.choice(["F", "O", "P"], len(upd))
        upd["o_totalprice"] = self._prices(len(upd))
        new_keys = list(range(self.next_key, self.next_key + 50))
        self.next_key += 50
        ins = pd.DataFrame({
            "o_orderkey": new_keys,
            "o_custkey": self.rng.integers(0, 1000, 50),
            "o_orderstatus": "O",
            "o_totalprice": self._prices(50),
            "o_orderdate": pd.Timestamp("2001-08-01"),
            "o_orderpriority": "1-URGENT"})
        batch = pd.concat([upd.reset_index(drop=True), ins],
                          ignore_index=True)[_COLS]
        self.ctx.spark.createDataFrame(batch, self._schema()) \
            .createOrReplaceTempView("perfbench_merge_batch")
        t0 = time.perf_counter()
        self.sql("merge", f"""
            MERGE INTO `{self.path}` AS t USING perfbench_merge_batch AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
        dt = time.perf_counter() - t0
        self.model.loc[keys, ["o_orderstatus", "o_totalprice"]] = \
            upd[["o_orderstatus", "o_totalprice"]].to_numpy()
        self.model = pd.concat([self.model,
                                ins.set_index("o_orderkey", drop=False)])
        self.rows_changed = len(batch)
        self._snapshot("merge")
        self.merge_version = self.version
        return dt

    def _update(self) -> float:
        lo = int(self.rng.integers(0, self.next_key))
        hi = lo + 1000
        t0 = time.perf_counter()
        self.sql("update", f"""
            UPDATE `{self.path}`
            SET o_totalprice = o_totalprice + 1.25,
                o_orderpriority = '1-URGENT'
            WHERE o_orderkey >= {lo} AND o_orderkey < {hi}""")
        dt = time.perf_counter() - t0
        k = self.model["o_orderkey"]
        hit = (k >= lo) & (k < hi)
        self.model.loc[hit, "o_totalprice"] += 1.25
        self.model.loc[hit, "o_orderpriority"] = "1-URGENT"
        self.rows_changed = int(hit.sum())
        self._snapshot("update")
        return dt

    def _delete(self) -> float:
        lo = int(self.rng.integers(0, self.next_key))
        hi = lo + 100
        t0 = time.perf_counter()
        self.sql("delete", f"""
            DELETE FROM `{self.path}`
            WHERE o_orderkey >= {lo} AND o_orderkey < {hi}""")
        dt = time.perf_counter() - t0
        k = self.model["o_orderkey"]
        hit = (k >= lo) & (k < hi)
        self.model = self.model[~hit]
        self.rows_changed = int(hit.sum())
        self._snapshot("delete")
        return dt

    def _point(self) -> float:
        key = int(self.rng.integers(0, self.next_key))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("manifest.point_read") as rec:
            rows = self.sql(
                "point", f"SELECT * FROM graft.`{self.path}` "
                         f"WHERE o_orderkey = {key}")
            rec["rows"] = len(rows)
        dt = time.perf_counter() - t0
        want = self.model[self.model["o_orderkey"] == key]
        self._compare("point read", _COLS, rows, want[_COLS])
        return dt

    def _agg(self) -> float:
        t0 = time.perf_counter()
        rows = self.sql("agg", f"SELECT {_AGG} FROM graft.`{self.path}` "
                               "GROUP BY o_orderstatus")
        dt = time.perf_counter() - t0
        cents = (self.model["o_totalprice"] * 100).round().astype("int64")
        g = cents.groupby(self.model["o_orderstatus"]).agg(["count", "sum"])
        want = [(s, int(r["count"]), int(r["sum"]) / 100)
                for s, r in g.iterrows()]
        self._compare_rows("aggregate read", ["o_orderstatus", "n",
                                              "revenue"], rows, want)
        return dt

    def _time_travel(self) -> float:
        v = self.merge_version
        t0 = time.perf_counter()
        rows = self.sql("time_travel",
                        f"SELECT {_TOTAL} FROM graft.`{self.path}` "
                        f"VERSION AS OF {v}")
        dt = time.perf_counter() - t0
        n, cents = self.versions[v]
        self._compare_rows("time-travel read", ["n", "revenue"], rows,
                           [(n, cents / 100)])
        return dt

    def _optimize(self) -> float:
        t0 = time.perf_counter()
        self.sql("optimize", f"OPTIMIZE `{self.path}`")
        dt = time.perf_counter() - t0
        self._snapshot("optimize")
        return dt

    def _vacuum(self) -> float:
        t0 = time.perf_counter()
        self.sql("vacuum", f"VACUUM `{self.path}`")
        return time.perf_counter() - t0

    # -------------------------------------------------------- helpers

    def _prices(self, n: int):
        return self.rng.integers(100_000, 50_000_000, n) / 100.0

    def _schema(self):
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType())])

    def _compare(self, what: str, cols, rows, want_df) -> None:
        want = [tuple(_plain(v) for v in r)
                for r in want_df.itertuples(index=False)]
        self._compare_rows(what, cols, rows, want)

    def _compare_rows(self, what: str, cols, rows, want) -> None:
        got = [tuple(_plain(v) for v in r) for r in rows]
        self.ctx.check(what, self.testing.diff_results(
            list(cols), got, list(cols), want))


def _plain(v):
    """Timestamps compare as naive wall-clock strings on both sides."""
    import pandas as pd

    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    if hasattr(v, "item"):
        v = v.item()
    return v


def _files(path: str) -> list[str]:
    return [os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns]


def table_dml(ctx: Context) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from data_engineering_pipeline_project_cloud_spark import statements
    from data_engineering_pipeline_project_cloud_spark.sources import (
        manifest_source as ms,
    )

    tr = ctx.tracer
    tr.wrap(ms, "optimize_manifest", "manifest.optimize_manifest")

    src = ctx.path("src")
    datagen.generate(src, ctx.seed, ctx.sf, only=("orders",))
    orders = os.path.join(src, "orders.parquet")
    ctx.spark.read.parquet(orders).createOrReplaceTempView("perfbench_orders")
    for i in range(3):
        path = ctx.path(f"orders{i}")
        t0 = time.perf_counter()
        with tr.span("statements.graft_sql.ctas"):
            statements.graft_sql(
                ctx.spark, f"CREATE TABLE `{path}` AS "
                           "SELECT * FROM perfbench_orders").collect()
            statements.graft_sql(
                ctx.spark, f"ALTER TABLE `{path}` SET TBLPROPERTIES "
                           "('retentionVersions' = '4', "
                           "'retentionHours' = '0')").collect()
        ctx.prep_s.append(time.perf_counter() - t0)
    for i in range(2):
        shutil.rmtree(ctx.path(f"orders{i}"), ignore_errors=True)

    model = pq.read_table(orders).to_pandas()
    t = _Table(ctx, path, model, np.random.default_rng(ctx.seed))
    t._snapshot("ctas")

    lat: dict[str, list[float]] = {k: [] for k in CYCLE}
    changed: list[int] = []

    def cycle(record: bool) -> None:
        for kind in CYCLE:
            tr.new_op()
            ctx.release()
            ctx.attempted += 1
            try:
                dt = t.run(kind)
            except Exception as e:  # noqa: BLE001 - counted, loop goes on
                ctx.fail(kind, repr(e))
                continue
            if record:
                lat[kind].append(dt)
                if kind in COMMITS:
                    changed.append(t.rows_changed)

    t0 = time.perf_counter()
    for _ in range(2):
        cycle(record=False)
    ctx.warmup_s = time.perf_counter() - t0
    warm_failed = ctx.failed
    first_version, cycles = t.version, 0
    for _ in ctx.timed():
        cycle(record=True)
        cycles += 1

    with tr.span("bench.verify"):
        final = ms.read_manifest(ctx.spark, t.path).select(*_COLS).toPandas()
        t._compare("final table", _COLS,
                   final.itertuples(index=False), t.model[_COLS])
        total = sum(os.path.getsize(p) for p in _files(t.path))
        compact = compact_bytes(
            ctx, pa.Table.from_pandas(final, preserve_index=False))

    commits = [x for k in COMMITS for x in lat[k]]
    reads = [x for k in READS for x in lat[k]]
    ctx.e2e.update({
        "read_p50_s": median(reads),
        "ops_per_s": sum(len(v) for v in lat.values()) / ctx.timed_s,
    })
    ctx.layer["manifest.space_amp"] = total / compact
    ctx.detail.update({
        "commit_p50_s": median(commits), "commit_tail_s": tail(commits),
        "rows_changed_per_s": sum(changed) / max(1e-9, sum(commits)),
        "table_read_p50_s": median(reads), "table_read_tail_s": tail(reads),
        "table_space_amp": total / compact,
        "p50_by_kind_s": {k: median(v) for k, v in lat.items()},
        "warmup_failed": warm_failed,
        "table_rows": len(t.model), "version": t.version,
    })
    _dml_layers(ctx, t, (t.version - first_version) / cycles)


def _dml_layers(ctx: Context, t: _Table, versions_per_cycle: float) -> None:
    tr = ctx.tracer
    if not tr.enabled:
        return
    f = ctx.first_timed_op
    for kind in CYCLE:
        ctx.layer[f"statements.graft_sql_s.{kind}"] = median(
            tr.durations(f"statements.graft_sql.{kind}", f))
    loads = [s for s in tr.spans
             if s["name"] == "manifest.load_manifest" and s["op"] >= f]
    ctx.layer["manifest.load_s"] = median(
        [s["end"] - s["start"] for s in loads])
    ctx.layer["manifest.versions_per_cycle"] = versions_per_cycle
    ctx.layer["manifest.live_files"] = median(
        [s["live_files"] for s in loads])
    points = [s for s in tr.spans
              if s["name"] == "manifest.point_read" and s["op"] >= f]
    ctx.layer["manifest.point_rows_examined"] = median([
        tr.subtree_counter(s, "input_records") / max(1, s["rows"])
        for s in points])
    ctx.layer["manifest.bytes_written_per_commit"] = median(
        [b for k in COMMITS for b in t.bytes_new.get(k, [])])
    ctx.layer["manifest.optimize_s"] = median(
        tr.durations("manifest.optimize_manifest", f))
    ctx.layer["manifest.bytes_rewritten"] = median(
        t.bytes_new.get("optimize", []))
