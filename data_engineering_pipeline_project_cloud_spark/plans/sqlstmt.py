"""SQL-statement-driven twin faces (round 9 — VERDICT r8 item 1).

Each face here drives the lakehouse surface through the SQL front-end
(``statements.graft_sql``) instead of the Python APIs, against the
SAME oracle semantics as the API-driven faces — so a hash-green row
proves the statement parser dispatches with zero behavior drift.  The
reference's own idiom is SQL (its whole transform is one SQL string,
reference ``transform-complex-full.py:14-224``); this is the surface a
reference user actually types.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frames import local_frame
from ..sources import load_table
from ..sources.manifest_source import (
    load_manifest,
    read_manifest,
    register,
)
from ..statements import graft_sql
from .scratch import scoped_scratch

SQL_MERGE_INSERT_BASE = 1_000_000_000
SQL_UPDATE_CUT_YEAR = 1997


def _orders_frame(spark: SparkSession, sf_dir: str,
                  with_year: bool = False) -> DataFrame:
    cols = [
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double")
        .alias("total_price")]
    if with_year:
        cols.append(F.year("o_orderdate").cast("int")
                    .alias("order_year"))
    return load_table(spark, sf_dir, "orders").select(*cols)


def _seed_orders_table(spark: SparkSession, sf_dir: str, path: str,
                       with_year: bool = False) -> None:
    """CTAS through the front-end itself: even the fixture layout is
    SQL-driven."""
    _orders_frame(spark, sf_dir, with_year) \
        .createOrReplaceTempView("sql_orders_src")
    graft_sql(spark,
              f"CREATE TABLE `{path}` AS SELECT * FROM sql_orders_src")


def sql_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE ... SET ... WHERE`` through graft_sql — the statement
    twin of ``manifest_update_where`` (same oracle shape): finished
    orders up to SQL_UPDATE_CUT_YEAR take a 10% markdown and an
    ``audited`` status in one copy-on-write commit, driven by the SQL
    string a Delta user would type."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        graft_sql(spark, f"""
            UPDATE `{path}`
            SET total_price = total_price * 0.9, status = 'audited'
            WHERE status = 'F' AND order_year <= {SQL_UPDATE_CUT_YEAR}
        """)

    root = scoped_scratch("sql_update_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DELETE FROM ... WHERE`` through graft_sql
    (sources/manifest_source.py:delete_where — predicate CoW DELETE):
    low-value open orders are deleted in one atomic commit that
    rewrites only the files containing matches; the oracle recomputes
    the survivors relationally, so the hash proves exactly the
    predicate's rows vanished and every other row survived."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        graft_sql(spark, f"""
            DELETE FROM `{path}`
            WHERE status = 'O' AND total_price < 50000.0
        """)

    root = scoped_scratch("sql_delete_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE INTO ... USING ... ON ... WHEN MATCHED THEN UPDATE SET *
    / WHEN NOT MATCHED THEN INSERT *`` through graft_sql — the
    statement twin of ``manifest_merge_upsert``: every 10th key flips
    to status U (+1.0 reprice), 5 brand-new keys insert, one atomic
    commit."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path)
        orders = _orders_frame(spark, sf_dir)
        updates = (orders.filter(F.col("o_orderkey") % 10 == 0)
                   .select("o_orderkey", F.lit("U").alias("status"),
                           (F.col("total_price") + F.lit(1.0))
                           .alias("total_price")))
        inserts = spark.range(5).select(
            (F.lit(SQL_MERGE_INSERT_BASE) + F.col("id"))
            .alias("o_orderkey"),
            F.lit("N").alias("status"),
            (F.col("id").cast("double") + F.lit(0.5))
            .alias("total_price"))
        updates.unionByName(inserts) \
            .createOrReplaceTempView("sql_merge_batch")
        graft_sql(spark, f"""
            MERGE INTO `{path}` AS t USING sql_merge_batch AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)

    root = scoped_scratch("sql_merge_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def sql_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard CDC-apply MERGE (round 10 — VERDICT r9 task 1):
    mixed, ordered, conditioned clauses through graft_sql →
    ``merge_apply`` (sources/manifest_source.py) — per-op DELETE,
    two ordered per-column UPDATE clauses, a conditional explicit-
    column INSERT, and a NOT MATCHED BY SOURCE UPDATE, all in ONE
    atomic commit.  Deterministic op assignment by key so the DuckDB
    oracle replays the same matrix in plain SQL."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path)
        orders = _orders_frame(spark, sf_dir)
        cdc = (orders
               .filter(F.col("o_orderkey") % 10 == 3)
               .select("o_orderkey", F.lit("D").alias("op"),
                       F.lit(0.0).alias("px"))
               .unionByName(
                   orders.filter(F.col("o_orderkey") % 10 == 4)
                   .select("o_orderkey", F.lit("U").alias("op"),
                           F.col("total_price").alias("px")))
               .unionByName(
                   spark.range(30).select(
                       (F.lit(SQL_MERGE_INSERT_BASE) + F.col("id"))
                       .alias("o_orderkey"),
                       F.lit("I").alias("op"),
                       F.col("id").cast("double").alias("px"))))
        cdc.createOrReplaceTempView("sql_cdc_batch")
        graft_sql(spark, f"""
            MERGE INTO `{path}` AS t USING sql_cdc_batch AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED AND s.op = 'U' AND s.px >= 100000.0 THEN
                 UPDATE SET status = 'hot',
                            total_price = s.px + 0.25
            WHEN MATCHED AND s.op = 'U' THEN
                 UPDATE SET status = 'warm',
                            total_price = s.px + 5.0
            WHEN NOT MATCHED AND s.op = 'I' THEN
                 INSERT (o_orderkey, status, total_price)
                 VALUES (s.o_orderkey, 'new', s.px)
            WHEN NOT MATCHED BY SOURCE AND t.status = 'P' THEN
                 UPDATE SET status = 'px'
        """)

    root = scoped_scratch("sql_merge_cdc_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def sql_delete_in_subquery(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """``DELETE ... WHERE <conjunct> AND k IN (SELECT ...)`` (round
    10 — VERDICT r9 task 2): the predicate carries a SUBQUERY, which
    the DML path plans through spark.sql as a distributed semi-join
    (``manifest_source._subquery_pred``) — F.expr cannot plan
    subqueries, and the r9 front-end refused them.  The simple
    conjunct still derives a stats-pruning filter."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path)
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_quantity").cast("double").alias("l_quantity")) \
            .createOrReplaceTempView("sql_del_lineitem")
        graft_sql(spark, f"""
            DELETE FROM `{path}`
            WHERE status = 'F' AND o_orderkey IN
                  (SELECT l_orderkey FROM sql_del_lineitem
                   WHERE l_quantity >= 49.0)
        """)

    root = scoped_scratch("sql_delete_subquery_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def sql_script_transaction(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """``BEGIN; CTAS; UPDATE; COMMIT`` as ONE transactional script
    (round 10 — VERDICT r9 task 3): the reference's flagship shape is
    exactly this multi-statement transaction (reference
    ``transform-complex-full.py:15-223``).  The COMMIT publishes one
    consistent-cut group snapshot (``table_group.pin_group``); the
    face reads the CTAS'd aggregate THROUGH the group, so a
    hash-green row proves the pinned cut is the script's atomic
    result.  Mid-script failure compensation is pinned by pytest
    (tests/test_sql_script.py)."""
    from ..sources.table_group import read_group_table
    from ..statements import graft_sql_script

    register(spark)

    def build(root: str) -> None:
        seed = os.path.join(root, "orders")
        agg = os.path.join(root, "agg")
        grp = os.path.join(root, "grp")
        _seed_orders_table(spark, sf_dir, seed, with_year=True)
        graft_sql_script(spark, f"""
            BEGIN;
            CREATE TABLE `{agg}` AS
                SELECT order_year, status, count(*) AS n_orders,
                       CAST(sum(CAST(total_price AS DECIMAL(18,2)))
                            AS DOUBLE) AS revenue
                FROM graft.`{seed}`
                GROUP BY order_year, status;
            UPDATE `{seed}` SET status = 'audited'
                WHERE status = 'F';
            COMMIT;
        """, group=grp)

    root = scoped_scratch("sql_script_txn", sf_dir, build)
    return read_group_table(
        spark, os.path.join(root, "grp"),
        os.path.abspath(os.path.join(root, "agg"))
    ).select("order_year", "status", "n_orders", "revenue")


def sql_script_flagship_master(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP SHAPE end to end (round 10): its
    entire transform engine is one transactional SQL script building
    the master table (reference ``transform-complex-full.py:15-223``
    — BEGIN → CTAS master → constraint → COMMIT).  This face runs
    exactly that shape through ``graft_sql_script``: the master-table
    ANSI SQL (the SAME text the DuckDB oracle executes, modulo
    ``EPOCH`` → ``unix_timestamp`` — DuckDB's epoch function vs
    Spark's) materializes as a manifest CTAS inside a BEGIN
    TRANSACTION span, gains a CHECK constraint, and publishes one
    consistent-cut group snapshot at COMMIT.  A hash-green row proves
    the engine's SQL path reproduces the reference's master build
    statement-for-statement."""
    from ..statements import graft_sql_script
    from .parity import ORACLE_SQL as PARITY_ORACLE

    register(spark)
    raw = ("lineitem", "orders", "nation", "region", "customer",
           "supplier", "part")

    def build(root: str) -> None:
        master = os.path.join(root, "master")
        grp = os.path.join(root, "grp")
        for t in raw:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        try:
            # two dialect seams: DuckDB's EPOCH() is Spark's
            # unix_timestamp(), and Spark parses the 86400.0 literal
            # as DECIMAL (DuckDB: DOUBLE) which would turn the delay
            # division into fixed-point — force the double division
            sql = (PARITY_ORACLE["master_table"]
                   .replace("EPOCH(", "unix_timestamp(")
                   .replace("/ 86400.0",
                            "/ CAST(86400 AS DOUBLE)"))
            graft_sql_script(spark, f"""
                BEGIN TRANSACTION 'flagship-build';
                CREATE OR REPLACE TABLE `{master}` AS {sql};
                ALTER TABLE `{master}` ADD CONSTRAINT pos_price
                    CHECK (item_price >= 0);
                COMMIT;
            """, group=grp)
        finally:
            for t in raw:
                spark.catalog.dropTempView(t)

    root = scoped_scratch("sql_flagship_master", sf_dir, build)
    return read_manifest(spark, os.path.join(root, "master"))


def sql_catalog_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-name addressing end to end (round 10 — VERDICT r9
    task 4, ``sources.metastore``): CREATE TABLE <name> LOCATION
    registers the seeded table, UPDATE addresses it BY NAME, a
    managed CTAS creates a second named table, and the face reads
    ``graft.<name>`` — the idiom the reference's own SQL uses
    (name-addressed tables, reference ``transform-complex-full.py``).
    Catalog state is CAS-versioned JSON under the face's scratch."""
    register(spark)

    def build(root: str) -> None:
        spark.conf.set("spark.graft.catalogDir",
                       os.path.join(root, "catalog"))
        seed = os.path.join(root, "orders")
        _seed_orders_table(spark, sf_dir, seed, with_year=True)
        graft_sql(spark, f"CREATE TABLE cat_orders_r10 "
                         f"LOCATION '{seed}'")
        graft_sql(spark, f"""
            UPDATE cat_orders_r10 SET status = 'audited'
            WHERE status = 'F'
                  AND order_year <= {SQL_UPDATE_CUT_YEAR}
        """)
        graft_sql(spark, """
            CREATE TABLE cat_yearly_r10 AS
            SELECT order_year, status, count(*) AS n_orders
            FROM graft.cat_orders_r10
            GROUP BY order_year, status
        """)
        graft_sql(spark, """
            CREATE VIEW cat_yearly_view_r10 AS
            SELECT order_year, status, n_orders
            FROM graft.cat_yearly_r10
        """)

    root = scoped_scratch("sql_catalog_names", sf_dir, build)
    spark.conf.set("spark.graft.catalogDir",
                   os.path.join(root, "catalog"))
    # read THROUGH the stored view: one hash-green row proves name
    # registration, name-addressed DML, managed CTAS, and view
    # expansion end to end
    return graft_sql(spark, "SELECT order_year, status, n_orders "
                            "FROM graft.cat_yearly_view_r10")


def sql_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY INTO ... FROM ... FILEFORMAT = PARQUET PATTERN = ...``
    through graft_sql: two landing files load once, an immediate
    re-run skips both (idempotent registry), a late file loads alone —
    the statement twin of ``manifest_copy_into``."""
    register(spark)

    def build(root: str) -> None:
        landing = os.path.join(root, "landing")
        table = os.path.join(root, "table")
        orders = _orders_frame(spark, sf_dir, with_year=True)

        def land(name: str, cond) -> None:
            import glob as _glob

            tmp = os.path.join(landing, "_t")
            (orders.filter(cond).coalesce(1)
             .write.mode("overwrite").parquet(tmp))
            part = _glob.glob(os.path.join(tmp, "*.parquet"))[0]
            os.replace(part, os.path.join(landing, name))

        land("early.parquet", F.col("order_year") <= 1996)
        land("mid.parquet", F.col("order_year").between(1997, 1998))
        r1 = graft_sql(spark, f"""
            COPY INTO `{table}` FROM '{landing}'
            FILEFORMAT = PARQUET PATTERN = '*.parquet'
        """).collect()[0]
        r2 = graft_sql(spark, f"""
            COPY INTO `{table}` FROM '{landing}'
            FILEFORMAT = PARQUET PATTERN = '*.parquet'
        """).collect()[0]
        assert (r1["loaded_files"], r2["loaded_files"]) == (2, 0)
        land("late.parquet", F.col("order_year") >= 1999)
        r3 = graft_sql(spark, f"""
            COPY INTO `{table}` FROM '{landing}'
            FILEFORMAT = PARQUET PATTERN = '*.parquet'
        """).collect()[0]
        assert (r3["loaded_files"], r3["skipped_files"]) == (1, 2)

    root = scoped_scratch("sql_copy_landing", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_table_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALTER TABLE contract surface through graft_sql: a CHECK
    constraint refuses a violating INSERT (atomically — nothing of the
    bad batch lands), a column DEFAULT fills an omitted column, and a
    GENERATED ALWAYS AS column backfills then stays computed on later
    inserts.  The oracle recomputes the surviving state relationally:
    hash-green proves the statements enforced exactly the declared
    contracts."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path)
        graft_sql(spark, f"ALTER TABLE `{path}` ADD CONSTRAINT "
                         f"pos_price CHECK (total_price > 0)")
        graft_sql(spark, f"ALTER TABLE `{path}` ADD COLUMN "
                         f"price_band bigint GENERATED ALWAYS AS "
                         f"(CAST(floor(total_price / 100000.0) "
                         f"AS BIGINT))")
        graft_sql(spark, f"ALTER TABLE `{path}` ALTER COLUMN status "
                         f"SET DEFAULT 'landed'")
        # violating insert refused atomically (CHECK pre-publish)
        try:
            graft_sql(spark, f"INSERT INTO `{path}` VALUES "
                             f"(2000000001, 'X', -1.0, -1)")
            raise AssertionError("CHECK constraint did not enforce")
        except ValueError:
            pass
        # compliant insert with an explicit column list omitting
        # status + price_band: DEFAULT fills, GENERATED computes
        graft_sql(spark, f"""
            INSERT INTO `{path}` (o_orderkey, total_price)
            VALUES (2000000002, 250000.5)
        """)

    root = scoped_scratch("sql_contract_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "price_band"))


def sql_ctas_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS + SELECT through graft_sql: an aggregation over a
    ``graft.`path``` reference materializes as a new manifest table
    (CREATE TABLE ... AS), and the face reads it back through the
    SELECT front-end — the full SQL read/write round trip."""
    register(spark)

    def build(root: str) -> None:
        src = os.path.join(root, "src")
        dst = os.path.join(root, "agg")
        _seed_orders_table(spark, sf_dir, src, with_year=True)
        graft_sql(spark, f"""
            CREATE TABLE `{dst}` AS
            SELECT order_year, status,
                   count(*) AS n_orders,
                   CAST(sum(CAST(total_price AS DECIMAL(18,2)))
                        AS DOUBLE) AS total_revenue
            FROM graft.`{src}`
            GROUP BY order_year, status
        """)

    root = scoped_scratch("sql_ctas_orders", sf_dir, build)
    return graft_sql(
        spark,
        f"SELECT order_year, status, n_orders, total_revenue "
        f"FROM graft.`{os.path.join(root, 'agg')}`")


def sql_restore_time_travel(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """``RESTORE TABLE ... TO VERSION AS OF`` + ``VERSION AS OF``
    reads through graft_sql: a destructive DELETE is rolled back by
    RESTORE (new commit, zero data movement), and the face reads the
    restored latest state — which the oracle checks equals the
    original data exactly."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        v0 = load_manifest(path)["version"]
        graft_sql(spark, f"DELETE FROM `{path}` WHERE order_year >= "
                         f"{SQL_UPDATE_CUT_YEAR}")
        # the damage is visible pre-restore, and time travel still
        # serves the old snapshot
        n_now = graft_sql(
            spark, f"SELECT count(*) AS n FROM graft.`{path}`"
        ).collect()[0]["n"]
        n_then = graft_sql(
            spark, f"SELECT count(*) AS n FROM graft.`{path}` "
                   f"VERSION AS OF {v0}").collect()[0]["n"]
        assert n_now < n_then
        graft_sql(spark,
                  f"RESTORE TABLE `{path}` TO VERSION AS OF {v0}")

    root = scoped_scratch("sql_restore_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_optimize_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-driven maintenance: TBLPROPERTIES sets the file-size
    policy, OPTIMIZE bin-packs the fragmented appends, VACUUM RETAIN 1
    VERSIONS trims history — and the data reads back byte-identical
    (the oracle is the plain union of everything inserted).  Content
    preservation through maintenance is the whole contract."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path)
        graft_sql(spark, f"ALTER TABLE `{path}` SET TBLPROPERTIES "
                         f"('targetFileRows' = '100000')")
        for i in range(3):
            graft_sql(spark, f"""
                INSERT INTO `{path}`
                SELECT CAST({SQL_MERGE_INSERT_BASE} + {i} * 100 + id
                            AS BIGINT),
                       'B', CAST(id AS DOUBLE) + 0.25
                FROM range(100)
            """)
        graft_sql(spark, f"OPTIMIZE `{path}`")
        graft_sql(spark, f"VACUUM `{path}` RETAIN 1 VERSIONS")

    root = scoped_scratch("sql_maint_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price"))


def manifest_dv_delete_where(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Merge-on-read predicate DELETE (round 9 —
    sources/manifest_source.py:delete_where_dv): with the
    ``enableDeletionVectors`` table property set, the SQL DELETE
    records doomed ROW POSITIONS as per-file bitmaps instead of
    rewriting files — the build asserts the file set is UNTOUCHED
    (pure metadata).  The face returns the masked read; the oracle
    recomputes the survivors relationally, so hash-green proves the
    deletion-vector mask hides exactly the predicate's rows through
    the ordinary read path."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        graft_sql(spark, f"ALTER TABLE `{path}` SET TBLPROPERTIES "
                         f"('enableDeletionVectors' = 'true')")
        files0 = {f["path"] for f in load_manifest(path)["files"]}
        graft_sql(spark, f"""
            DELETE FROM `{path}`
            WHERE status = 'F' AND order_year = 1996
        """)
        m = load_manifest(path)
        assert {f["path"] for f in m["files"]} == files0, \
            "DV delete must not rewrite or add files"
        assert any(int(f.get("dvRows", 0)) > 0 for f in m["files"]), \
            "no deletion vector landed"

    root = scoped_scratch("dv_delete_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def dv_delete_mask_debt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulated deletion-vector debt (round 10 — VERDICT r9 task
    5): three successive merge-on-read DELETEs mask positions in the
    SAME files, so each later delete must exclude every earlier
    mask's positions.  The exclusion set is decoded driver-side from
    the numpy bitmaps (``_dv_exclusion``, shared with the read path)
    and shipped to the JVM as one Arrow frame — and a hash-green row
    proves the masks compose without resurrection or double-delete."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        graft_sql(spark, f"ALTER TABLE `{path}` SET TBLPROPERTIES "
                         f"('enableDeletionVectors' = 'true')")
        for pred in ("o_orderkey % 10 = 1",
                     "o_orderkey % 10 = 2",
                     "status = 'F' AND order_year = 1995"):
            graft_sql(spark, f"DELETE FROM `{path}` WHERE {pred}")

    root = scoped_scratch("dv_mask_debt_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_truncate_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TRUNCATE TABLE`` through graft_sql (round 9 —
    sources/manifest_source.py:truncate_manifest): one metadata
    commit empties the table while schema and contracts survive, then
    a reload INSERT proves the table is immediately writable.  The
    face returns the post-reload state (reloaded slice only); the
    oracle recomputes it, so hash-green proves the truncate dropped
    every pre-existing row and ONLY those."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        graft_sql(spark, f"TRUNCATE TABLE `{path}`")
        graft_sql(spark, f"""
            INSERT INTO `{path}`
            SELECT o_orderkey, status, total_price, order_year
            FROM sql_orders_src WHERE order_year <= 1995
        """)

    root = scoped_scratch("sql_truncate_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CONVERT TO`` (round 9 —
    sources/manifest_source.py:convert_to_manifest, Delta's CONVERT TO
    DELTA): a plain-parquet orders directory is adopted IN PLACE (the
    build asserts zero rewrite — the adopted files ARE the table's
    entries), then the full surface works immediately: a CoW UPDATE
    marks low-value open orders.  The oracle recomputes the post-
    update state relationally, so hash-green proves footer-harvested
    adoption + DML on an adopted table end-to-end."""
    import glob as _glob

    register(spark)

    def build(root: str) -> None:
        plain = os.path.join(root, "plain")
        (_orders_frame(spark, sf_dir, with_year=True)
         .repartition(4).write.mode("overwrite").parquet(plain))
        for junk in _glob.glob(os.path.join(plain, "_SUCCESS")):
            os.remove(junk)
        before = set(_glob.glob(os.path.join(plain, "*.parquet")))
        graft_sql(spark, f"CONVERT TO GRAFT `{plain}`")
        m = load_manifest(plain)
        assert {f["path"] for f in m["files"]} == before, \
            "CONVERT must adopt in place, never rewrite"
        graft_sql(spark, f"""
            UPDATE `{plain}` SET status = 'cheap'
            WHERE status = 'O' AND total_price < 10000.0
        """)

    root = scoped_scratch("sql_convert_orders", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "plain"))
            .select("o_orderkey", "status", "total_price",
                    "order_year"))


def sql_create_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL-complete CREATE TABLE (round 11 — VERDICT r10 task 1): a
    DECLARED-schema table (column types, NOT NULL, DEFAULT) with a
    first-class partition column AND a hidden year() transform is
    created EMPTY (one v0 metadata commit carrying the whole
    contract, ``manifest_source.create_declared_table``), loaded via
    COPY INTO (which conforms to the contract and splits files under
    the declared layout), then read back through SQL with a
    partition-pruned predicate.  The oracle recomputes the filter
    relationally — hash-green proves declared DDL + conforming load +
    pruned read return exactly the right rows."""
    register(spark)

    def build(root: str) -> None:
        landing = os.path.join(root, "landing")
        table = os.path.join(root, "table")
        (load_table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                 F.col("o_orderstatus").alias("status"),
                 F.col("o_totalprice").cast("decimal(12,2)")
                 .cast("double").alias("total_price"),
                 F.col("o_orderdate").alias("odate"))
         .coalesce(2).write.mode("overwrite").parquet(landing))
        graft_sql(spark, f"""
            CREATE TABLE `{table}` (
              o_orderkey BIGINT NOT NULL,
              status STRING,
              total_price DOUBLE DEFAULT 0.0,
              odate TIMESTAMP
            ) USING GRAFT
            PARTITIONED BY (status, year(odate))
            TBLPROPERTIES ('owner' = 'round11')
        """)
        graft_sql(spark, f"""
            COPY INTO `{table}` FROM '{landing}'
            FILEFORMAT = PARQUET PATTERN = '*.parquet'
        """)

    root = scoped_scratch("sql_create_declared", sf_dir, build)
    table = os.path.join(root, "table")
    return graft_sql(spark, f"""
        SELECT o_orderkey, status, total_price, odate
        FROM graft.`{table}`
        WHERE status = 'F'
          AND odate < TIMESTAMP '1996-01-01 00:00:00'
    """)


def manifest_identity_insert(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """IDENTITY columns (round 11 — VERDICT r10 task 4): a declared
    table with ``GENERATED BY DEFAULT AS IDENTITY (START WITH 1000)``
    fills omitted ids on two successive appends (the second continues
    from the first's CAS-committed high-water mark) and passes
    EXPLICIT ids through on a third.  Appends are single-partition +
    key-sorted, so the distributed allocation is deterministic:
    ``id = 999 + row_number() over (order by o_orderkey)`` per
    append — exactly what the DuckDB oracle recomputes.  Hash-green
    proves value-exact allocation, not just uniqueness."""
    register(spark)
    from ..sources.manifest_source import write_frame

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        graft_sql(spark, f"""
            CREATE TABLE `{path}` (
              id BIGINT GENERATED BY DEFAULT AS IDENTITY
                 (START WITH 1000 INCREMENT BY 1),
              o_orderkey BIGINT,
              status STRING,
              total_price DOUBLE
            )
        """)
        orders = _orders_frame(spark, sf_dir)
        for st in ("F", "O"):  # two allocating appends, id omitted
            write_frame(orders.filter(F.col("status") == st)
                        .coalesce(1)
                        .sortWithinPartitions("o_orderkey"),
                        path, "append", statCols="o_orderkey")
        # BY DEFAULT accepts explicit values (no high-water move)
        explicit = local_frame(
            spark,
            [(-1, 1_000_000_001, "X", 1.0),
             (-2, 1_000_000_002, "X", 2.0)],
            "id BIGINT, o_orderkey BIGINT, status STRING, "
            "total_price DOUBLE").coalesce(1)
        write_frame(explicit, path, "append", statCols="o_orderkey")

    root = scoped_scratch("manifest_identity_insert", sf_dir, build)
    return (read_manifest(spark, os.path.join(root, "table"))
            .select("id", "o_orderkey", "status", "total_price"))


def sql_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS (round 11 — VERDICT r10 task 3): a declared
    table with first-class partition columns (status, order_year) is
    loaded through the conforming INSERT path, then SHOW PARTITIONS
    reads the per-partition row counts PURELY from manifest metadata
    (one row per live partition-value combo, DV-adjusted Σrows — no
    data file opened; `statements._stmt_show`).  The oracle is the
    relational GROUP BY COUNT(*) — hash-green proves the metadata
    ledger agrees with the data, partition by partition."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        graft_sql(spark, f"""
            CREATE TABLE `{path}` (
              o_orderkey BIGINT,
              status STRING,
              total_price DOUBLE,
              order_year INT
            ) PARTITIONED BY (status, order_year)
        """)
        _orders_frame(spark, sf_dir, with_year=True) \
            .createOrReplaceTempView("show_parts_src")
        graft_sql(spark, f"INSERT INTO `{path}` "
                         f"SELECT * FROM show_parts_src")

    root = scoped_scratch("sql_show_partitions", sf_dir, build)
    path = os.path.join(root, "table")
    return (graft_sql(spark, f"SHOW PARTITIONS `{path}`")
            .select("status", "order_year",
                    F.col("num_rows").alias("part_rows")))


def sql_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO .. REPLACE WHERE`` (round 11 — Delta's
    replaceWhere backfill through the SQL front-end): one atomic
    commit replaces exactly the ``order_year = 1995`` slice with a
    re-derived (discounted) build of that year; rows outside the
    scope are untouched, and stats pruning keeps the rewrite to the
    files that INTERSECT the scope (``overwrite_where``).  The
    oracle recomputes the post-backfill table relationally."""
    register(spark)

    def build(root: str) -> None:
        path = os.path.join(root, "table")
        _seed_orders_table(spark, sf_dir, path, with_year=True)
        _orders_frame(spark, sf_dir, with_year=True) \
            .filter(F.col("order_year") == 1995) \
            .withColumn("total_price",
                        F.col("total_price") * F.lit(0.5)) \
            .createOrReplaceTempView("rw_backfill_src")
        graft_sql(spark, f"""
            INSERT INTO `{path}` REPLACE WHERE order_year = 1995
            SELECT * FROM rw_backfill_src
        """)

    root = scoped_scratch("sql_replace_where", sf_dir, build)
    return read_manifest(spark, os.path.join(root, "table")) \
        .select("o_orderkey", "status", "total_price", "order_year")


def manifest_stats_minmax(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX (round 11 — VERDICT r10 task 5):
    `stats_minmax` answers MIN/MAX over stat-tracked integer columns
    from the manifest's live-entry stats — a driver metadata fold,
    no data file opened (`manifest_source.minmax_manifest`) — and
    `count_manifest` the row count.  The face PINS that the metadata
    path answered (raises if it fell back to a scan); the DuckDB
    oracle recomputes the extrema relationally.  The DV/missing-stats
    refusal + scan fallback is pinned by tests/test_stats_minmax.py."""
    register(spark)
    from ..sources.manifest_source import count_manifest, stats_minmax

    def build(root: str) -> None:
        _seed_orders_table(spark, sf_dir,
                           os.path.join(root, "table"),
                           with_year=True)

    root = scoped_scratch("manifest_stats_minmax", sf_dir, build)
    path = os.path.join(root, "table")
    mm, source = stats_minmax(spark, path,
                              ["o_orderkey", "order_year"])
    if source != "metadata":
        raise AssertionError(
            "expected the metadata fast path to serve a DV-free, "
            f"stat-tracked table (got {source!r})")
    return local_frame(
        spark,
        [(mm["o_orderkey"]["min"], mm["o_orderkey"]["max"],
          mm["order_year"]["min"], mm["order_year"]["max"],
          count_manifest(path))],
        "min_okey BIGINT, max_okey BIGINT, min_year INT, "
        "max_year INT, n_rows BIGINT")


QUERIES = {
    "sql_create_declared": sql_create_declared,
    "manifest_identity_insert": manifest_identity_insert,
    "sql_show_partitions": sql_show_partitions,
    "manifest_stats_minmax": manifest_stats_minmax,
    "sql_replace_where": sql_replace_where,
    "sql_convert_in_place": sql_convert_in_place,
    "manifest_dv_delete_where": manifest_dv_delete_where,
    "dv_delete_mask_debt": dv_delete_mask_debt,
    "sql_truncate_reload": sql_truncate_reload,
    "sql_update_where": sql_update_where,
    "sql_delete_where": sql_delete_where,
    "sql_merge_upsert": sql_merge_upsert,
    "sql_merge_cdc_apply": sql_merge_cdc_apply,
    "sql_delete_in_subquery": sql_delete_in_subquery,
    "sql_script_transaction": sql_script_transaction,
    "sql_catalog_names": sql_catalog_names,
    "sql_script_flagship_master": sql_script_flagship_master,
    "sql_copy_into": sql_copy_into,
    "sql_table_contracts": sql_table_contracts,
    "sql_ctas_select": sql_ctas_select,
    "sql_restore_time_travel": sql_restore_time_travel,
    "sql_optimize_vacuum": sql_optimize_vacuum,
}

def _flagship_oracle() -> str:
    from .parity import ORACLE_SQL as _PO

    return _PO["master_table"]


_FLAGSHIP_ORACLE = _flagship_oracle()

_ORDERS_PROJ = """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price,
               CAST(year(o_orderdate) AS INT) AS order_year
        FROM orders
"""

ORACLE_SQL = {
    "sql_show_partitions": """
        SELECT o_orderstatus AS status,
               CAST(CAST(YEAR(o_orderdate) AS INT) AS VARCHAR)
                   AS order_year,
               COUNT(*) AS part_rows
        FROM orders
        GROUP BY 1, 2
    """,
    "sql_replace_where": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CASE WHEN YEAR(o_orderdate) = 1995
                    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) * 0.5
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) END AS total_price,
               CAST(YEAR(o_orderdate) AS INT) AS order_year
        FROM orders
    """,
    "manifest_stats_minmax": """
        SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_okey,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_okey,
               CAST(MIN(YEAR(o_orderdate)) AS INT) AS min_year,
               CAST(MAX(YEAR(o_orderdate)) AS INT) AS max_year,
               COUNT(*) AS n_rows
        FROM orders
    """,
    "sql_create_declared": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price,
               o_orderdate AS odate
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    """,
    "manifest_identity_insert": """
        WITH proj AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total_price
            FROM orders
        ), f AS (
            SELECT CAST(999 + ROW_NUMBER() OVER (ORDER BY o_orderkey)
                        AS BIGINT) AS id, *
            FROM proj WHERE status = 'F'
        ), o AS (
            SELECT CAST((SELECT count(*) FROM proj WHERE status = 'F')
                        + 999
                        + ROW_NUMBER() OVER (ORDER BY o_orderkey)
                        AS BIGINT) AS id, *
            FROM proj WHERE status = 'O'
        )
        SELECT id, o_orderkey, status, total_price FROM f
        UNION ALL
        SELECT id, o_orderkey, status, total_price FROM o
        UNION ALL
        SELECT * FROM (VALUES
            (CAST(-1 AS BIGINT), CAST(1000000001 AS BIGINT), 'X', 1.0),
            (CAST(-2 AS BIGINT), CAST(1000000002 AS BIGINT), 'X', 2.0))
            AS t(id, o_orderkey, status, total_price)
    """,
    "sql_convert_in_place": f"""
        SELECT o_orderkey, CASE WHEN status = 'O'
                                     AND total_price < 10000.0
                                THEN 'cheap' ELSE status END AS status,
               total_price, order_year
        FROM ({_ORDERS_PROJ}) t
    """,
    "manifest_dv_delete_where": f"""
        SELECT * FROM ({_ORDERS_PROJ}) t
        WHERE NOT (status = 'F' AND order_year = 1996)
    """,
    "dv_delete_mask_debt": f"""
        SELECT * FROM ({_ORDERS_PROJ}) t
        WHERE NOT (o_orderkey % 10 = 1)
          AND NOT (o_orderkey % 10 = 2)
          AND NOT (status = 'F' AND order_year = 1995)
    """,
    "sql_truncate_reload": f"""
        SELECT * FROM ({_ORDERS_PROJ}) t
        WHERE order_year <= 1995
    """,
    "sql_update_where": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                         AND year(o_orderdate) <= 1997
                    THEN 'audited' ELSE o_orderstatus END AS status,
               CASE WHEN o_orderstatus = 'F'
                         AND year(o_orderdate) <= 1997
                    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) * 0.9
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) END AS total_price,
               CAST(year(o_orderdate) AS INT) AS order_year
        FROM orders
    """,
    "sql_delete_where": f"""
        SELECT * FROM ({_ORDERS_PROJ}) t
        WHERE NOT (status = 'O' AND total_price < 50000.0)
    """,
    "sql_merge_upsert": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 10 = 0
                    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) + 1.0
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS DOUBLE) END AS total_price
        FROM orders
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'N' AS status,
               CAST(i AS DOUBLE) + 0.5 AS total_price
        FROM range(5) AS t(i)
    """,
    "sql_merge_cdc_apply": """
        WITH base AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total_price
            FROM orders)
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 4
                         AND total_price >= 100000.0 THEN 'hot'
                    WHEN o_orderkey % 10 = 4 THEN 'warm'
                    WHEN status = 'P' THEN 'px'
                    ELSE status END AS status,
               CASE WHEN o_orderkey % 10 = 4
                         AND total_price >= 100000.0
                    THEN total_price + 0.25
                    WHEN o_orderkey % 10 = 4 THEN total_price + 5.0
                    ELSE total_price END AS total_price
        FROM base
        WHERE o_orderkey % 10 <> 3
        UNION ALL
        SELECT CAST(1000000000 + i AS BIGINT) AS o_orderkey,
               'new' AS status, CAST(i AS DOUBLE) AS total_price
        FROM range(30) AS t(i)
    """,
    "sql_delete_in_subquery": """
        WITH base AS (
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   o_orderstatus AS status,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS total_price
            FROM orders)
        SELECT * FROM base
        WHERE NOT (status = 'F' AND o_orderkey IN
                   (SELECT CAST(l_orderkey AS BIGINT) FROM lineitem
                    WHERE CAST(l_quantity AS DOUBLE) >= 49.0))
    """,
    "sql_script_transaction": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderstatus AS status,
               count(*) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                             AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1, 2
    """,
    "sql_script_flagship_master": _FLAGSHIP_ORACLE,
    "sql_catalog_names": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CASE WHEN o_orderstatus = 'F'
                         AND year(o_orderdate) <= 1997
                    THEN 'audited' ELSE o_orderstatus END AS status,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1, 2
    """,
    "sql_copy_into": _ORDERS_PROJ,
    "sql_table_contracts": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price,
               CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                               AS DOUBLE) / 100000.0) AS BIGINT)
                   AS price_band
        FROM orders
        UNION ALL
        SELECT CAST(2000000002 AS BIGINT), 'landed',
               CAST(250000.5 AS DOUBLE), CAST(2 AS BIGINT)
    """,
    "sql_ctas_select": """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderstatus AS status,
               count(*) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                             AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_revenue
        FROM orders
        GROUP BY 1, 2
    """,
    "sql_restore_time_travel": _ORDERS_PROJ,
    "sql_optimize_vacuum": """
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
                   AS total_price
        FROM orders
        UNION ALL
        SELECT CAST(1000000000 + i * 100 + j AS BIGINT),
               'B', CAST(j AS DOUBLE) + 0.25
        FROM range(3) AS a(i), range(100) AS b(j)
    """,
}
