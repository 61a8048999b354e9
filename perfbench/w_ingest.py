"""`snapshot_ingest`: one writer against a fresh SnapshotDatabase.

The database holds sf0.01 ``orders`` and ``lineitem`` (partitioned by
key range, 4096 keys per partition); a standalone snapshot table
``notes`` is fed by a Structured Streaming query through
``SnapshotUpsertSink``. The op script repeats one cycle:

    merge_upsert    staged batch into orders, seeded overlap of new
                    and existing keys (one single-statement transaction)
    update_where    a seeded key range of orders
    delete_where    a seeded key range of lineitem
    txn             two-table transaction: lineitem upsert + orders update
    stream_batch    one availableNow micro-batch into notes
    read_latest     orders at the current version, zone-map `ranges`
    read_time_travel orders at database version current-k
    read_changes    orders change feed from version current-k
    maintenance     database compact, then vacuum(keep_last)

Every statement is replayed on a DuckDB copy of the tables outside
the timed region. Reads are compared with the replay at the matching
version, writes by a table fingerprint, and at the end the database is
reopened from disk and its full live state compared with the replay.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import Op, collect, data_files, dir_files

SF = 0.01
BUCKET = 4096
KINDS = [
    "merge_upsert", "update_where", "delete_where", "txn", "stream_batch",
    "read_latest", "read_time_travel", "read_changes", "maintenance",
]
WRITE_KINDS = {"merge_upsert", "update_where", "delete_where", "txn", "maintenance"}
#: database versions kept by vacuum; time travel reaches back at most
#: KEEP_LAST - 1 versions
KEEP_LAST = 4
MAX_FILES_PER_PARTITION = 1
BATCH_ROWS = 200
NOTE_ROWS = 150
UPDATE_ROWS = 200
DELETE_ORDERS = 150
TXN_ORDERS = 100
READ_ROWS = 2000
#: versions back for time travel and the change feed
TRAVEL_BACK = 2
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: aggregate of an orders read, identical SQL for Spark and DuckDB
ORDERS_FP = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sk,
       CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent
FROM {t} {where} GROUP BY o_orderstatus
"""
CHANGES_SQL = """
WITH o AS (SELECT * FROM {old}), c AS (SELECT * FROM orders)
SELECT _change, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT 'insert' AS _change FROM c WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o)
  UNION ALL
  SELECT 'delete' FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c)
  UNION ALL
  SELECT unnest(['update_pre', 'update_post']) FROM o JOIN c USING (o_orderkey)
  WHERE (o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority)
        IS DISTINCT FROM (c.o_custkey, c.o_orderstatus, c.o_totalprice, c.o_orderdate,
                          c.o_orderpriority)
) GROUP BY _change
"""
NOTES_SCHEMA = "o_orderkey long, note string, amount double, n_bucket long"


class Workload:
    name = "snapshot_ingest"
    kinds = KINDS
    #: nominal seconds of one cycle on a 4-core box
    round_s = 10.0
    min_rounds = 1
    warmup_rounds = 1
    sf = SF

    def __init__(self, ctx):
        self.ctx = ctx

    # -- fixture -----------------------------------------------------------
    def setup(self, data_dir: str, fixture_dir: str) -> None:
        import duckdb
        from pyspark.sql import functions as F

        from herodb_spark.sources.database import SnapshotDatabase
        from herodb_spark.sources.snapshot import SnapshotTable
        from herodb_spark.streaming.sink import SnapshotUpsertSink

        spark = self.ctx.spark
        self.dir = fixture_dir
        os.makedirs(fixture_dir, exist_ok=True)
        orders = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
        lineitem = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
        self.db_path = os.path.join(fixture_dir, "db")
        self.db = SnapshotDatabase.create(spark, self.db_path)
        self.db.create_table(
            "orders", orders.withColumn("o_bucket", F.expr(f"o_orderkey div {BUCKET}")),
            key_cols=["o_orderkey"], partition_col="o_bucket",
        )
        self.db.create_table(
            "lineitem", lineitem.withColumn("l_bucket", F.expr(f"l_orderkey div {BUCKET}")),
            key_cols=["l_orderkey", "l_linenumber"], partition_col="l_bucket",
        )
        self.notes_path = os.path.join(fixture_dir, "notes")
        self.notes = SnapshotTable.create(
            spark, self.notes_path, spark.createDataFrame([], NOTES_SCHEMA),
            key_cols=["o_orderkey"], partition_col="n_bucket",
        )
        self.sink = SnapshotUpsertSink(self.notes, sink_id="notes")
        self.stream_in = os.path.join(fixture_dir, "stream_in")
        self.stream_ckpt = os.path.join(fixture_dir, "stream_ckpt")
        self.stage = os.path.join(fixture_dir, "stage")
        os.makedirs(self.stream_in)
        os.makedirs(self.stage)

        # the DuckDB replay of every statement
        con = self.ctx.con = duckdb.connect()
        con.execute(
            f"CREATE TABLE orders AS SELECT *, o_orderkey // {BUCKET} AS o_bucket "
            f"FROM read_parquet('{data_dir}/orders.parquet')"
        )
        con.execute(
            f"CREATE TABLE lineitem AS SELECT *, l_orderkey // {BUCKET} AS l_bucket "
            f"FROM read_parquet('{data_dir}/lineitem.parquet')"
        )
        con.execute(
            "CREATE TABLE notes (o_orderkey BIGINT, note VARCHAR, amount DOUBLE, n_bucket BIGINT)"
        )
        self.n_orders = con.sql("SELECT COUNT(*) FROM orders").fetchone()[0]
        self.next_key = self.n_orders
        self.versions: list[int] = []
        self._snapshot_version()
        self.layer = {"files_written": [], "bytes_written": 0,
                      "user_rows": {"orders": 0, "lineitem": 0, "notes": 0},
                      "files_per_read": [], "stream_batch_s": [], "compact_files": []}

    def _snapshot_version(self) -> None:
        """Record the database version now current and keep a DuckDB
        copy of orders at it, for time travel and change-feed checks."""
        v = self.db._load()["current"]
        if self.versions and self.versions[-1] == v:
            return
        self.versions.append(v)
        self.ctx.con.execute(f"CREATE OR REPLACE TABLE orders_v{v} AS SELECT * FROM orders")
        while len(self.versions) > KEEP_LAST + 1:
            old = self.versions.pop(0)
            self.ctx.con.execute(f"DROP TABLE orders_v{old}")

    # -- script ------------------------------------------------------------
    def ops(self, rng: random.Random, rounds: int) -> list[Op]:
        """`rounds` cycles. The seed picks which full partition each
        ranged statement hits and where in it; range widths are fixed,
        so every seed does the same shape of work."""
        out: list[Op] = []
        full = self.n_orders // BUCKET  # partitions holding BUCKET keys

        def in_partition(width: int) -> int:
            return rng.randrange(full) * BUCKET + rng.randrange(BUCKET - width)

        for _ in range(rounds):
            for k in KINDS:
                p: dict = {}
                if k == "update_where":
                    p = {"lo": in_partition(UPDATE_ROWS), "w": UPDATE_ROWS}
                elif k == "delete_where":
                    p = {"lo": in_partition(DELETE_ORDERS), "w": DELETE_ORDERS, "line": 5}
                elif k == "txn":
                    p = {"lo": in_partition(TXN_ORDERS), "w": TXN_ORDERS,
                         "prio": rng.choice(PRIORITIES)}
                elif k == "read_latest":
                    p = {"lo": in_partition(READ_ROWS), "w": READ_ROWS}
                elif k in ("read_time_travel", "read_changes"):
                    p = {"k": TRAVEL_BACK}
                p["seed"] = rng.randrange(2**31)
                out.append(Op(k, p))
        return out

    def prepare(self, op: Op) -> None:
        """Untimed: stage the op's input files and take the directory
        listing that a traced run measures files written against."""
        rng = np.random.default_rng(op.params["seed"])
        con = self.ctx.con
        if op.kind == "merge_upsert":
            keys = np.array(sorted(r[0] for r in con.sql("SELECT o_orderkey FROM orders").fetchall()))
            old = rng.choice(keys, BATCH_ROWS // 2, replace=False)
            new = np.arange(self.next_key, self.next_key + BATCH_ROWS // 2)
            self.next_key += BATCH_ROWS // 2
            k = np.sort(np.concatenate([old, new])).astype("int64")
            n = len(k)
            d0 = np.datetime64("1995-01-01", "us")
            self.batch = os.path.join(self.stage, f"orders_{op.idx}.parquet")
            pq.write_table(pa.table({
                "o_orderkey": k,
                "o_custkey": rng.integers(0, 1500, n),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
                "o_orderdate": (d0 + rng.integers(0, 2400, n) * np.timedelta64(1, "D")),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
                "o_bucket": k // BUCKET,
            }), self.batch)
            self.user_rows = ("orders", n)
        elif op.kind == "txn":
            p = op.params
            k = np.arange(p["lo"], p["lo"] + p["w"], dtype="int64")
            n = len(k)
            self.batch = os.path.join(self.stage, f"lines_{op.idx}.parquet")
            pq.write_table(pa.table({
                "l_orderkey": k,
                "l_partkey": rng.integers(0, 2000, n),
                "l_suppkey": rng.integers(0, 100, n),
                "l_linenumber": pa.array(np.full(n, 8), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": (np.datetime64("1995-02-01", "us")
                               + rng.integers(0, 2400, n) * np.timedelta64(1, "D")),
                "l_bucket": k // BUCKET,
            }), self.batch)
            self.user_rows = ("lineitem", n)
        elif op.kind == "stream_batch":
            k = np.sort(rng.choice(self.n_orders, NOTE_ROWS, replace=False)).astype("int64")
            self.batch = os.path.join(self.stream_in, f"notes_{op.idx}.parquet")
            pq.write_table(pa.table({
                "o_orderkey": k,
                "note": np.char.add("note-", rng.integers(0, 10_000, NOTE_ROWS).astype(str)),
                "amount": np.round(rng.uniform(0.0, 1000.0, NOTE_ROWS), 2),
                "n_bucket": k // BUCKET,
            }), self.batch)
            self.user_rows = ("notes", NOTE_ROWS)
        elif op.kind == "update_where":
            p = op.params
            n = con.sql(f"SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN {p['lo']} "
                        f"AND {p['lo'] + p['w']}").fetchone()[0]
            self.user_rows = ("orders", n)
        else:
            self.user_rows = None
        if op.kind in WRITE_KINDS or op.kind == "stream_batch":
            self.before = self._files()

    def _files(self) -> dict[str, int]:
        return {**{f"db/{p}": s for p, s in data_files(dir_files(self.db_path)).items()},
                **{f"notes/{p}": s for p, s in data_files(dir_files(self.notes_path)).items()}}

    # -- ops ---------------------------------------------------------------
    def execute(self, op: Op):
        from pyspark.sql import functions as F

        spark, db, p = self.ctx.spark, self.db, op.params
        k = op.kind
        if k == "merge_upsert":
            with db.transaction() as t:
                t.merge_upsert("orders", spark.read.parquet(self.batch))
            return None
        if k == "update_where":
            with db.transaction() as t:
                t.update_where(
                    "orders", F.col("o_orderkey").between(p["lo"], p["lo"] + p["w"]),
                    {"o_totalprice": F.col("o_totalprice") + F.lit(1.0),
                     "o_orderstatus": F.lit("U")},
                )
            return None
        if k == "delete_where":
            with db.transaction() as t:
                t.delete_where(
                    "lineitem",
                    F.col("l_orderkey").between(p["lo"], p["lo"] + p["w"])
                    & (F.col("l_linenumber") >= p["line"]),
                )
            return None
        if k == "txn":
            with db.transaction() as t:
                t.merge_upsert("lineitem", spark.read.parquet(self.batch))
                t.update_where(
                    "orders", F.col("o_orderkey").between(p["lo"], p["lo"] + p["w"] - 1),
                    {"o_orderpriority": F.lit(p["prio"])},
                )
            return None
        if k == "stream_batch":
            q = (
                spark.readStream.schema(NOTES_SCHEMA).parquet(self.stream_in)
                .writeStream.foreachBatch(self.sink)
                .option("checkpointLocation", self.stream_ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            self.progress = q.recentProgress
            return None
        if k == "read_latest":
            lo, hi = p["lo"], p["lo"] + p["w"]
            df = db.read("orders", ranges={"o_orderkey": (lo, hi)}).where(
                F.col("o_orderkey").between(lo, hi))
            return self._read(df)
        if k == "read_time_travel":
            df = db.read("orders", db_version=self.versions[-1 - p["k"]])
            return self._read(df)
        if k == "read_changes":
            v_from = self.db.tables(db_version=self.versions[-1 - p["k"]])["orders"]
            v_to = self.db.tables()["orders"]
            df = db.table("orders").read_changes(v_from, v_to).groupBy("_change").agg(
                F.count(F.lit(1)).cast("long").alias("n"))
            self.read_df = df
            return self.ctx.action(df)
        if k == "maintenance":
            report = db.compact(max_files_per_partition=MAX_FILES_PER_PARTITION)
            db.vacuum(keep_last=KEEP_LAST)
            return report
        raise KeyError(k)

    def _read(self, df):
        self.read_df = df
        df.createOrReplaceTempView("perfbench_read")
        return self.ctx.action(
            self.ctx.spark.sql(ORDERS_FP.format(t="perfbench_read", where=""))
        )

    # -- checks and replay -------------------------------------------------
    def check(self, op: Op, result) -> tuple[bool, str]:
        con, p, k = self.ctx.con, op.params, op.kind
        traced = self.ctx.tracer.enabled
        if traced and (k in WRITE_KINDS or k == "stream_batch"):
            self._account_write(op, result)
        if k == "merge_upsert":
            con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{self.batch}')")
            con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute("INSERT INTO orders SELECT * FROM b")
        elif k == "update_where":
            con.execute(f"UPDATE orders SET o_totalprice = o_totalprice + 1.0, o_orderstatus = 'U' "
                        f"WHERE o_orderkey BETWEEN {p['lo']} AND {p['lo'] + p['w']}")
        elif k == "delete_where":
            con.execute(f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {p['lo']} AND "
                        f"{p['lo'] + p['w']} AND l_linenumber >= {p['line']}")
        elif k == "txn":
            con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{self.batch}')")
            con.execute("DELETE FROM lineitem WHERE (l_orderkey, l_linenumber) IN "
                        "(SELECT (l_orderkey, l_linenumber) FROM b)")
            con.execute("INSERT INTO lineitem SELECT * FROM b")
            con.execute(f"UPDATE orders SET o_orderpriority = '{p['prio']}' "
                        f"WHERE o_orderkey BETWEEN {p['lo']} AND {p['lo'] + p['w'] - 1}")
        elif k == "stream_batch":
            con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM read_parquet('{self.batch}')")
            con.execute("DELETE FROM notes WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute("INSERT INTO notes SELECT * FROM b")
            if traced:
                self.layer["stream_batch_s"].extend(
                    prog["durationMs"].get("triggerExecution", 0) / 1000.0
                    for prog in self.progress if prog.get("numInputRows", 0) > 0
                )
        if k in WRITE_KINDS:
            self._snapshot_version()
        if k in WRITE_KINDS or k == "stream_batch":
            # writes are verified by the full-state check in finish()
            return True, ""
        if traced:
            self.layer["files_per_read"].append(len(self.read_df.inputFiles()))
        if k == "read_latest":
            sql = ORDERS_FP.format(t="orders", where=f"WHERE o_orderkey BETWEEN {p['lo']} "
                                                     f"AND {p['lo'] + p['w']}")
        elif k == "read_time_travel":
            sql = ORDERS_FP.format(t=f"orders_v{self.versions[-1 - p['k']]}", where="")
        else:
            sql = CHANGES_SQL.format(old=f"orders_v{self.versions[-1 - p['k']]}")
        return self.ctx.compare(result, sql)

    def _account_write(self, op: Op, result) -> None:
        after = self._files()
        new = {p: s for p, s in after.items() if p not in self.before}
        if op.kind == "maintenance":
            self.layer["compact_files"].append(
                sum(r.get("files_before", 0) for r in (result or {}).values()))
            return
        self.layer["files_written"].append(len(new))
        self.layer["bytes_written"] += sum(new.values())
        if self.user_rows is not None:
            table, n = self.user_rows
            self.layer["user_rows"][table] += n

    # -- end of run --------------------------------------------------------
    def finish(self) -> dict:
        """Reopen the database from disk and compare its whole live
        state with the replay; measure space amplification."""
        from herodb_spark.sources.database import SnapshotDatabase
        from herodb_spark.sources.snapshot import SnapshotTable

        spark, con = self.ctx.spark, self.ctx.con
        fresh = SnapshotDatabase(spark, self.db_path)
        failures = []
        live_files = 0
        for table in ("orders", "lineitem"):
            df = fresh.read(table)
            live_files += len(df.inputFiles())
            ok, why = self.ctx.compare(collect(df), f"SELECT * FROM {table}")
            if not ok:
                failures.append(f"final {table}: {why}")
        notes = SnapshotTable(spark, self.notes_path).read()
        live_files += len(notes.inputFiles())
        ok, why = self.ctx.compare(collect(notes), "SELECT * FROM notes")
        if not ok:
            failures.append(f"final notes: {why}")

        # live rows written once, as one parquet file per table, by
        # DuckDB; its bytes per row also price the rows users supplied
        L = self.layer
        once = 0
        user_bytes = 0.0
        for table in ("orders", "lineitem", "notes"):
            path = os.path.join(self.dir, f"once_{table}.parquet")
            con.execute(f"COPY {table} TO '{path}' (FORMAT parquet)")
            size = os.path.getsize(path)
            os.remove(path)
            once += size
            rows = con.sql(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
            user_bytes += L["user_rows"][table] * size / max(1, rows)
        on_disk = sum(dir_files(self.db_path).values()) + sum(dir_files(self.notes_path).values())

        return {
            "failures": failures,
            "space_amp": on_disk / once,
            "detail": {"db_bytes": on_disk, "live_bytes_once": once,
                       "db_versions_seen": len(self.versions)},
            "layer": {
                "snapshot.files_written_per_commit": (
                    sum(L["files_written"]) / max(1, len(L["files_written"])), "count"),
                "snapshot.write_amp": (L["bytes_written"] / max(1.0, user_bytes), "ratio"),
                "snapshot.files_per_read": (
                    sum(L["files_per_read"]) / max(1, len(L["files_per_read"])), "count"),
                "snapshot.compact_files_rewritten": (
                    sum(L["compact_files"]) / max(1, len(L["compact_files"])), "count"),
                "snapshot.live_files": (live_files, "count"),
                "streaming.batch_s": (
                    sum(L["stream_batch_s"]) / max(1, len(L["stream_batch_s"])), "s"),
            },
        }
