"""``lake_dml``: the reference's JSON-to-table ingest loop grown into a
table-format workload on one growing ``SnapshotTable``.

Each cycle appends one seeded JSON-lines landing batch, then runs the
changes ``CYCLE_DML`` names for it (a MERGE upsert, copy-on-write and
merge-on-read DELETEs and UPDATEs), one DELETE that matches nothing
(merge-on-read), a metadata-only scan plan, a pruned point read and a full
aggregate read; a compaction ends the round. DuckDB
applies the same operations to its own table from the same generated rows,
and the two tables must agree after every cycle.
"""

from __future__ import annotations

import json
import os
import statistics

import duckdb
import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from workloads import Workload

# The table changes between landing batches: cycle i runs the operations
# CYCLE_DML[i] names, then a no-op DELETE and the reads. A compaction ends
# the round.
CYCLE_DML = (
    ("merge_into", "delete_cow", "update_mor"),
    ("delete_mor", "update_cow"),
)
CYCLES = len(CYCLE_DML)
BATCH_ROWS = 10_000
MERGE_ROWS = 1_000
NEW_ID_BASE = 1_000_000_000

COMMIT = "sources.snapshots.commit"
DML = "sources.snapshots.dml"
STATS = "sources.snapshots.stats"
MAINT = "sources.snapshots.maintenance"

LAKE_METRICS = (
    "lake.commit_p50_s",
    "lake.read_p50_s",
    "lake.ingest_rows_per_s",
    "lake.bytes_written_mb",
    "lake.table_mb",
    "sources.snapshots.files_added",
    "sources.snapshots.bytes_added_mb",
    "sources.snapshots.manifest_mb",
    "sources.snapshots.files_pruned_ratio",
)
COMMIT_KINDS = {"append", "merge_into", "delete_cow", "delete_mor", "update",
                "compact"}
DUCK_DDL = (
    "CREATE OR REPLACE TABLE t (event_id BIGINT, ts TIMESTAMP, "
    "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
)
AGG_SQL = (
    "SELECT event_type, count(*) AS n, "
    "sum(CAST(round(value * 100) AS BIGINT)) AS v100, max(ts) AS ts_max "
    "FROM t GROUP BY event_type"
)


def _json_lines(table) -> str:
    cols = table.to_pydict()
    lines = []
    for i in range(table.num_rows):
        row = {k: cols[k][i] for k in cols}
        row["ts"] = row["ts"].isoformat()
        lines.append(json.dumps(row))
    return "\n".join(lines) + "\n"


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class LakeDml(Workload):
    def setup(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        self.cycles = []
        for i in range(CYCLES):
            lo_id = i * BATCH_ROWS
            batch = datagen.events_table(rng, lo_id, BATCH_ROWS)
            landing = os.path.join(ctx.work, "landing", f"batch={i}")
            os.makedirs(landing)
            with open(os.path.join(landing, "part-0.json"), "w") as f:
                f.write(_json_lines(batch))
            n_old = MERGE_ROWS // 2
            src = datagen.events_table(rng, 0, MERGE_ROWS)
            ids = np.concatenate([
                rng.choice(lo_id + BATCH_ROWS, n_old, replace=False),
                NEW_ID_BASE + i * MERGE_ROWS + np.arange(MERGE_ROWS - n_old),
            ])
            src = src.set_column(0, "event_id", [ids.astype(np.int64)])
            src_path = os.path.join(ctx.work, "merge", f"m{i}.parquet")
            os.makedirs(os.path.dirname(src_path), exist_ok=True)
            pq.write_table(src, src_path)

            def in_batch(width):
                lo = lo_id + int(rng.integers(0, BATCH_ROWS - width))
                return lo, lo + width - 1

            self.cycles.append({
                "batch": batch, "landing": landing,
                "src": src, "src_path": src_path,
                "delete": (*in_batch(2_000),
                           datagen.EVENT_TYPES[int(rng.integers(5))],
                           int(rng.integers(7))),
                "update": (*in_batch(2_000),
                           datagen.EVENT_TYPES[int(rng.integers(5))]),
                "point": in_batch(400),
            })
        spark = self.build_session()
        from pyspark.sql import types as T

        self.schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ])
        self.duck = duckdb.connect()
        self.stats = {"files_added": 0, "bytes_added": 0, "bytes_written": 0,
                      "pruned": [], "table": 0, "manifest": 0, "rows_in": 0}
        self.checkpoints: list[tuple] = []
        # Warm-up on a throwaway table: the JSON reader, a commit and a
        # read, so the first timed append and read do not pay for the
        # first use of those code paths.
        from iceberg_insert_spark.sources.snapshots import SnapshotTable

        warm = SnapshotTable(os.path.join(ctx.work, "warm"),
                             stats_cols=["event_id", "user_id"])
        warm.append(spark.read.schema(self.schema).json(self.cycles[0]["landing"]))
        warm.read(spark, where=("event_id", 0, 1000)).collect()

    # -- helpers ---------------------------------------------------------
    def _commit(self, kind, layer, fn, duck_sql, matches_sql=None):
        """Run one committing operation and mirror it in DuckDB."""
        ctx, t = self.ctx, self.table
        expect = 1
        if matches_sql is not None:
            expect = int(self.timed_check(
                lambda: self.duck.execute(matches_sql).fetchone()[0] > 0))
        before = self.timed_check(t.snapshots)
        v = ctx.run_op(kind, layer, fn)
        if v is None:
            return
        self.timed_check(self._after_commit, kind, before, v, duck_sql, expect)

    def _after_commit(self, kind, before, v, duck_sql, expect):
        after = self.table.snapshots()
        if expect:
            self.ctx.check(checks.check_head_advance(before, after, v), kind)
        elif after != before:
            self.ctx.errors.append(f"{kind}: committed though nothing matched")
        for stmt in duck_sql:
            self.duck.execute(stmt)
        self._scan_files()

    def _scan_files(self) -> None:
        now = _files(self.table.path)
        for p, size in now.items():
            if p not in self.seen:
                self.seen[p] = size
                self.stats["bytes_written"] += size
                if "/_manifests/" not in p:
                    self.stats["files_added"] += 1
                    self.stats["bytes_added"] += size

    def _digest_spark(self, as_of=None):
        return checks.table_digest(
            self.table.read(self.ctx.spark, as_of=as_of).toArrow())

    def _digest_duck(self):
        return checks.table_digest(self.duck.execute("SELECT * FROM t").arrow())

    def _read(self, what, build, sql):
        ctx = self.ctx
        res = ctx.run_op("read", STATS, build,
                         lambda df: (df.columns, df.collect()))
        if res is None:
            return
        self.timed_check(self._compare_read, what, res, sql)

    def _compare_read(self, what, res, sql):
        cur = self.duck.execute(sql)
        expected = checks.digest([d[0] for d in cur.description], cur.fetchall())
        self.ctx.check(checks.compare_result(checks.digest(*res), expected), what)

    def _checkpoint(self, label: str) -> None:
        spark, t = self.ctx.spark, self.table
        got, want = self._digest_spark(), self._digest_duck()
        self.ctx.check(checks.compare_table(got, want, label), "contents")
        meta = t.count_rows(spark)[0]
        scanned = got[0]  # the rows of the full scan just digested
        oracle = self.duck.execute("SELECT count(*) FROM t").fetchone()[0]
        self.ctx.check(checks.check_counts(meta, scanned, oracle), label)
        self.checkpoints.append((t.snapshots()[-1], want, label))

    # -- the timed round ---------------------------------------------------
    def round(self, r: int) -> None:
        from iceberg_insert_spark.sources.snapshots import SnapshotTable

        path = os.path.join(self.ctx.work, f"table_r{r}")
        self.table = SnapshotTable(path, stats_cols=["event_id", "user_id"])
        self.seen: dict[str, int] = {}
        self.duck.execute(DUCK_DDL)
        self.checkpoints = []
        for i, c in enumerate(self.cycles):
            self._append(c)
            for kind in CYCLE_DML[i]:
                getattr(self, f"_{kind}")(c)
            self._delete_noop()
            self._reads(c)
            self.timed_check(self._checkpoint, f"cycle {i}")
        self._commit("compact", MAINT,
                     lambda: self.table.compact(self.ctx.spark, target_files=2),
                     [])
        self.timed_check(self._checkpoint, "after compact")
        self.timed_check(self._end_of_round)

    def _append(self, c) -> None:
        spark, t = self.ctx.spark, self.table
        self.duck.register("batch", c["batch"])
        self._commit(
            "append", COMMIT,
            lambda: t.append(spark.read.schema(self.schema).json(c["landing"])),
            ["INSERT INTO t SELECT * FROM batch"],
        )
        self.stats["rows_in"] += BATCH_ROWS

    def _merge_into(self, c) -> None:
        spark, t = self.ctx.spark, self.table
        self.duck.register("src", c["src"])
        self._commit(
            "merge_into", DML,
            lambda: t.merge_into(
                spark, spark.read.parquet(c["src_path"]), "event_id",
                matched=[("update", None,
                          {"value": "s.value", "props": "s.props"})],
                not_matched=("insert", None),
            ),
            ["UPDATE t SET value = s.value, props = s.props FROM src s "
             "WHERE t.event_id = s.event_id",
             "INSERT INTO t SELECT * FROM src "
             "WHERE event_id NOT IN (SELECT event_id FROM t)"],
        )

    def _delete(self, c, strategy: str) -> None:
        lo, hi, et, k = c["delete"]
        cond = (f"event_id BETWEEN {lo} AND {hi} AND "
                + (f"event_type = '{et}'" if strategy == "cow"
                   else f"user_id % 7 = {k}"))
        self._commit(
            f"delete_{strategy}", DML,
            lambda: self.table.delete_where(
                self.ctx.spark, cond, stats_hint=("event_id", lo, hi),
                strategy=strategy),
            [f"DELETE FROM t WHERE {cond}"],
            f"SELECT count(*) FROM t WHERE {cond}",
        )

    def _delete_cow(self, c) -> None:
        self._delete(c, "cow")

    def _delete_mor(self, c) -> None:
        self._delete(c, "mor")

    def _update(self, c, strategy: str) -> None:
        lo, hi, et = c["update"]
        cond = f"event_id BETWEEN {lo} AND {hi} AND event_type = '{et}'"
        self._commit(
            "update", DML,
            lambda: self.table.update_where(
                self.ctx.spark, cond, {"value": "value + 1.5"},
                stats_hint=("event_id", lo, hi), strategy=strategy),
            [f"UPDATE t SET value = value + 1.5 WHERE {cond}"],
            f"SELECT count(*) FROM t WHERE {cond}",
        )

    def _update_cow(self, c) -> None:
        self._update(c, "cow")

    def _update_mor(self, c) -> None:
        self._update(c, "mor")

    def _delete_noop(self) -> None:
        t = self.table
        before = self.timed_check(
            lambda: (t.snapshots(), len(t.plan_files()[0])))
        self.ctx.run_op("delete_noop", DML,
                        lambda: t.delete_where(self.ctx.spark, "event_id < 0",
                                               strategy="mor"))
        self.timed_check(self._check_noop, before)

    def _reads(self, c) -> None:
        from pyspark.sql import functions as F

        spark, t = self.ctx.spark, self.table
        lo, hi = c["point"]
        planned = self.ctx.run_op(
            "plan_files", STATS, lambda: t.plan_files(where=("event_id", lo, hi)))
        if planned is not None:
            kept, total = planned
            self.stats["pruned"].append((total - len(kept)) / max(total, 1))
        self._read(
            "point read",
            lambda: t.read(spark, where=("event_id", lo, hi)),
            f"SELECT * FROM t WHERE event_id BETWEEN {lo} AND {hi}",
        )
        self._read(
            "aggregate read",
            lambda: t.read(spark).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v100"),
                F.max("ts").alias("ts_max"),
            ),
            AGG_SQL,
        )

    def _check_noop(self, before) -> None:
        snaps, files = before
        t = self.table
        self.ctx.check(
            checks.check_noop(snaps, t.snapshots(), files, len(t.plan_files()[0])),
            "delete_noop",
        )
        self._scan_files()

    def _end_of_round(self) -> None:
        # Time travel: the first checkpoint reads back exactly as DuckDB
        # had the table then.
        v, want, label = self.checkpoints[0]
        got = self._digest_spark(as_of=v)
        self.ctx.check(checks.compare_table(got, want, label), "time travel")
        sizes = _files(self.table.path)
        self.stats["table"] += sum(sizes.values())
        self.stats["manifest"] += sum(
            s for p, s in sizes.items() if "/_manifests/" in p)

    def check(self) -> None:
        """Everything is checked as the round runs."""

    # -- metrics -------------------------------------------------------------
    def lake_values(self, rounds: int) -> dict:
        recs = self.ctx.records
        commits = [r["latency"] for r in recs if r["kind"] in COMMIT_KINDS]
        reads = [r["latency"] for r in recs if r["kind"] == "read"]
        append_s = sum(r["latency"] for r in recs if r["kind"] == "append")
        st, mb = self.stats, 1024.0 * 1024.0
        return {
            "lake.commit_p50_s": statistics.median(commits),
            "lake.read_p50_s": statistics.median(reads),
            "lake.ingest_rows_per_s": st["rows_in"] / append_s,
            "lake.bytes_written_mb": st["bytes_written"] / mb / rounds,
            "lake.table_mb": st["table"] / mb / rounds,
            "sources.snapshots.files_added": st["files_added"] / rounds,
            "sources.snapshots.bytes_added_mb": st["bytes_added"] / mb / rounds,
            "sources.snapshots.manifest_mb": st["manifest"] / mb / rounds,
            "sources.snapshots.files_pruned_ratio": statistics.mean(st["pruned"]),
        }

    def extra_layer_metrics(self, rounds: int) -> dict:
        return self.lake_values(rounds)
