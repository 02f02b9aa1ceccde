"""``lakehouse_commits``: a seeded sequence of commits on one commit-log
table, with snapshot reads and change-feed polls between writes and a
mirror table kept in sync by the streaming CDF apply.

The table starts with ``lake_rows`` rows over ``lake_files`` files laid out
by key range, and every DML targets a narrow key window, so a copy-on-write
rewrite touches a minority of files. A Python model of the table follows
the same operation sequence; snapshot reads are checked against it as they
happen, and at the end the whole snapshot is checked against it and the
mirror against the snapshot.
"""

from __future__ import annotations

import os
import random
import shutil

from .harness import Op, dir_bytes, fail, median, tail

# One round of operations. Reads follow writes; the round ends with the
# mirror catching up, so the mirror check holds at any round boundary.
# The DV merge is left out for the run budget: the DV delete covers
# deletion-vector writes and the COW merge covers merge_into_txlog.
ROUND = (
    "append", "merge_cow", "read", "delete_cow", "poll", "delete_dv",
    "update", "sql_dml", "read", "optimize", "read", "mirror",
)
WRITE_OPS = ("append", "merge_cow", "delete_cow", "delete_dv", "update", "sql_dml", "optimize")
SCHEMA = "k bigint, g int, v bigint, s string"

LAYER_UNITS = {
    f"txlog.{op}.{m}": unit
    for op in WRITE_OPS
    for m, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("files_added", "count"), ("files_removed", "count"))
}
LAYER_UNITS.update({
    "txlog.snapshot_read.s": "s", "txlog.snapshot_read.jobs": "count",
    "txlog.read_changes.s": "s", "txlog.read_changes.jobs": "count",
    "txlog.files_live": "count", "txlog.log_bytes": "bytes", "txlog.data_bytes": "bytes",
    "txlog.bytes_per_live_byte": "ratio", "txlog.rows_changed_per_file_rewritten": "ratio",
    "streaming.cdf_apply.s": "s", "streaming.cdf_apply.jobs": "count",
    "streaming.cdf_apply.rows": "count",
})


class LakehouseCommits:
    """One cycle is one :data:`ROUND`."""

    def __init__(self, h, work: str, seed: int, scale: dict):
        self.h, self.work, self.seed = h, work, seed
        self.n_rows = scale["lake_rows"]
        self.n_files = scale["lake_files"]
        self.window = scale["lake_window"]
        self.rng = random.Random(seed)
        self.round_no = 0
        self.model: dict[int, tuple] = {}
        self.next_key = 0
        self.polled = 0
        self.op_versions: list[tuple[str, int, int, int]] = []  # (op, v0, v1, rows changed)
        self.mirror_rows = 0
        self.corrupt = False  # self-test: spoil what the output checks read

    # ------------------------------------------------------------ set-up
    def make_inputs(self, dest: str) -> None:
        """Write the seeded initial rows as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(self.seed)
        rows = [(k, k % 10, rng.randrange(1_000_000), f"r{k % 97}") for k in range(self.n_rows)]
        os.makedirs(dest, exist_ok=True)
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "k": pa.array(cols[0], pa.int64()), "g": pa.array(cols[1], pa.int32()),
            "v": pa.array(cols[2], pa.int64()), "s": pa.array(cols[3], pa.string()),
        }), os.path.join(dest, "rows.parquet"))
        self.model = {r[0]: r[1:] for r in rows}
        self.next_key = self.n_rows

    def prepare(self, spark) -> None:
        """Create the table (version 0) over ``lake_files`` key-range files."""
        from airbnb_listings_data_pipelines_spark.functions.tx_sql import TxSqlSession
        from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable
        from airbnb_listings_data_pipelines_spark.sources import txlog_source

        self.spark = spark
        txlog_source.register(spark)
        base = os.path.join(self.work, "inputs")
        self.path = os.path.join(base, "table")
        self.mirror_path = os.path.join(base, "mirror")
        self.ckpt = os.path.join(base, "mirror_ckpt")
        rows = spark.read.parquet(os.path.join(base, "rows.parquet"))
        self.t = TxLogTable.create(spark, self.path, rows.repartitionByRange(self.n_files, "k"))
        self.sql = TxSqlSession(spark, {"t": self.t})

    def expect(self) -> None:
        """The model is built as the operations are issued."""

    def warm_up(self) -> None:
        """None: a writer process commits a few times and exits, so the cold
        round is what it pays. The first mirror apply also builds the mirror."""

    # ------------------------------------------------------------ the loop
    def cycle(self) -> None:
        self.round_no += 1
        for op in ROUND:
            getattr(self, f"_op_{op}")()

    def _window(self) -> tuple[int, int]:
        lo = self.rng.randrange(0, max(1, self.next_key - self.window))
        return lo, lo + self.window

    def _write(self, name: str, fn, changed: int) -> None:
        v0 = self.t.version() if self.h.trace else -1
        with self.h.op("write", f"txlog.{name}"):
            fn()
        if self.h.trace:
            self.op_versions.append((name, v0, self.t.version(), changed))

    def _op_append(self) -> None:
        rows = [(k, k % 10, self.rng.randrange(1_000_000), "new")
                for k in range(self.next_key, self.next_key + self.window // 4)]
        self.next_key += len(rows)
        df = self.spark.createDataFrame(rows, SCHEMA)
        self._write("append", lambda: self.t.append(df), len(rows))
        self.model.update({r[0]: r[1:] for r in rows})

    def _op_merge_cow(self) -> None:
        from airbnb_listings_data_pipelines_spark.operators.txlog import merge_into_txlog

        lo, hi = self._window()
        keys = [k for k in range(lo, hi) if k in self.model][: self.window // 2]
        new = list(range(self.next_key, self.next_key + self.window // 10))
        self.next_key += len(new)
        rows = [(k, k % 10, self.rng.randrange(1_000_000), "m") for k in keys + new]
        src = self.spark.createDataFrame(rows, SCHEMA)
        self._write("merge_cow", lambda: merge_into_txlog(self.spark, self.t, src, ["k"],
                                                          mode="cow"), len(rows))
        self.model.update({r[0]: r[1:] for r in rows})

    def _delete(self, name: str, mode: str) -> None:
        lo, hi = self._window()
        g = self.rng.randrange(10)
        doomed = [k for k in range(lo, hi) if k in self.model and self.model[k][0] != g]
        cond = f"k >= {lo} AND k < {hi} AND g <> {g}"
        self._write(name, lambda: self.t.delete_where(cond, mode=mode), len(doomed))
        for k in doomed:
            del self.model[k]

    def _op_delete_cow(self) -> None:
        self._delete("delete_cow", "cow")

    def _op_delete_dv(self) -> None:
        self._delete("delete_dv", "dv")

    def _op_update(self) -> None:
        from pyspark.sql import functions as F

        lo, hi = self._window()
        hit = [k for k in range(lo, hi) if k in self.model and self.model[k][0] % 2 == 0]
        self._write("update", lambda: self.t.update_where(
            f"k >= {lo} AND k < {hi} AND g % 2 = 0", {"v": F.col("v") + 1}), len(hit))
        for k in hit:
            g, v, s = self.model[k]
            self.model[k] = (g, v + 1, s)

    def _op_sql_dml(self) -> None:
        """DML sent as SQL text, rotating UPDATE / DELETE / INSERT."""
        lo, hi = self._window()
        kind = self.round_no % 3
        if kind == 0:
            hit = [k for k in range(lo, hi) if k in self.model and self.model[k][0] == 3]
            stmt = f"UPDATE t SET v = v * 2, s = 'sql' WHERE k >= {lo} AND k < {hi} AND g = 3"
            for k in hit:
                g, v, _s = self.model[k]
                self.model[k] = (g, v * 2, "sql")
        elif kind == 1:
            hit = [k for k in range(lo, hi) if k in self.model and self.model[k][0] == 5]
            stmt = f"DELETE FROM t WHERE k >= {lo} AND k < {hi} AND g = 5"
            for k in hit:
                del self.model[k]
        else:
            hit = list(range(self.next_key, self.next_key + 5))
            self.next_key += 5
            stmt = "INSERT INTO t VALUES " + ", ".join(
                f"({k}, {k % 10}, {k * 3}, 'ins')" for k in hit)
            for k in hit:
                self.model[k] = (k % 10, k * 3, "ins")
        self._write("sql_dml", lambda: self.sql.execute(stmt), len(hit))

    def _op_optimize(self) -> None:
        self._write("optimize", lambda: self.t.optimize(
            target_files=self.n_files, zorder_by=["k"]), 0)

    def _op_read(self) -> None:
        """Snapshot read: count and sum of v, checked against the model."""
        from pyspark.sql import functions as F

        with self.h.op("read", "txlog.snapshot_read"):
            row = self.t.read().agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")).first()
        want = (len(self.model) + self.corrupt, sum(r[1] for r in self.model.values()))
        if row is not None and (row["n"], row["sv"]) != want:
            fail(self.h.last_op, f"snapshot read {(row['n'], row['sv'])} != model {want}")

    def _op_poll(self) -> None:
        """Change-feed poll of the commits since the previous poll."""
        latest = self.t.version()
        lo = min(self.polled + 1, latest)
        with self.h.op("read", "txlog.read_changes"):
            self.t.read_changes(lo, latest).count()
        self.polled = latest

    def _op_mirror(self) -> None:
        from airbnb_listings_data_pipelines_spark.streaming.upsert import cdf_apply_stream_txlog

        with self.h.op("write", "streaming.cdf_apply") as sp:
            stream = (self.spark.readStream.format("txlog")
                      .option("readChangeFeed", "true").load(self.path))
            q = cdf_apply_stream_txlog(stream, self.mirror_path, ["k"], self.ckpt,
                                       app_id="perfbench-mirror")
            if sp is not None:
                sp.stream_group = str(q.runId)
            try:
                q.awaitTermination(120)
            finally:
                if q.isActive:
                    q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"mirror stream failed: {q.exception()}")
            rows = sum(p.get("numInputRows", 0) for p in q.recentProgress)
        self.mirror_rows += rows
        if sp is not None:
            sp.extra["rows"] = rows

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        """Final snapshot against the model; mirror against the snapshot.
        Each check is an attempted op of its own."""
        from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable

        snap = sorted(tuple(r) for r in self.t.read().collect())
        want = sorted((k, *rest) for k, rest in self.model.items())[self.corrupt:]
        op = Op("check", "check.snapshot_vs_model", 0.0)
        self.h.ops.append(op)
        if snap != want:
            fail(op, f"final snapshot ({len(snap)} rows) != model ({len(want)} rows)")
        mirror = sorted(tuple(r) for r in TxLogTable(self.spark, self.mirror_path).read().collect())
        mirror = mirror[self.corrupt:]
        op = Op("check", "check.mirror_vs_upstream", 0.0)
        self.h.ops.append(op)
        if mirror != snap:
            fail(op, f"mirror ({len(mirror)} rows) != upstream ({len(snap)} rows)")
        self.sizes = self._sizes()

    # ------------------------------------------------------------ metrics
    def _sizes(self) -> dict:
        """Bytes under the table (log and data) and of the live snapshot
        written once as parquet."""
        log_bytes = dir_bytes(os.path.join(self.path, "_txlog"))
        live = os.path.join(self.work, "live_once")
        self.t.read().write.mode("overwrite").parquet(live)
        live_bytes = sum(os.path.getsize(os.path.join(live, f))
                         for f in os.listdir(live) if f.endswith(".parquet"))
        shutil.rmtree(live, ignore_errors=True)
        return {"log_bytes": log_bytes, "data_bytes": dir_bytes(self.path) - log_bytes,
                "live_bytes": live_bytes, "files_live": len(self.t.files())}

    def layer_metrics(self) -> dict:
        h, out = self.h, {}
        hist = {r["version"]: r for r in self.t.history()}
        changed = rewritten = 0
        for name in WRITE_OPS:
            f = h.fold(f"txlog.{name}")
            adds = removes = 0
            for op, v0, v1, rows in self.op_versions:
                if op != name:
                    continue
                commits = [hist.get(v, {}) for v in range(v0 + 1, v1 + 1)]
                adds += sum(c.get("n_adds", 0) for c in commits)
                op_removes = sum(c.get("n_removes", 0) for c in commits)
                removes += op_removes
                if op_removes and name != "optimize":  # a copy-on-write rewrite
                    changed += rows
                    rewritten += op_removes
            out.update({f"txlog.{name}.s": f["s"], f"txlog.{name}.jobs": f["jobs"],
                        f"txlog.{name}.tasks": f["tasks"],
                        f"txlog.{name}.files_added": adds,
                        f"txlog.{name}.files_removed": removes})
        for name in ("snapshot_read", "read_changes"):
            f = h.fold(f"txlog.{name}")
            out[f"txlog.{name}.s"] = f["s"]
            out[f"txlog.{name}.jobs"] = f["jobs"]
        sizes = self.sizes
        out["txlog.files_live"] = sizes["files_live"]
        out["txlog.log_bytes"] = sizes["log_bytes"]
        out["txlog.data_bytes"] = sizes["data_bytes"]
        out["txlog.bytes_per_live_byte"] = self._bytes_per_live_byte()
        out["txlog.rows_changed_per_file_rewritten"] = changed / rewritten if rewritten else 0.0
        f = h.fold("streaming.cdf_apply")
        out["streaming.cdf_apply.s"] = f["s"]
        out["streaming.cdf_apply.jobs"] = f["jobs"]
        out["streaming.cdf_apply.rows"] = self.mirror_rows
        return out

    def _bytes_per_live_byte(self) -> float:
        s = self.sizes
        return (s["log_bytes"] + s["data_bytes"]) / max(1, s["live_bytes"])

    def named_metrics(self, stats: dict) -> dict:
        value, pct, n = tail(stats["writes"])
        return {"commit_p50_s": {"value": median(stats["writes"]), "unit": "s"},
                "commit_tail_s": {"value": value, "unit": "s", "percentile": pct, "samples": n},
                "read_p50_s": {"value": median(stats["reads"]), "unit": "s"},
                "lake_ops_per_min": {"value": stats["ops_per_min"], "unit": "1/min"},
                "bytes_per_live_byte": {"value": self._bytes_per_live_byte(), "unit": "ratio"}}

    def report(self) -> dict:
        return {
            "files_live": self.sizes["files_live"], "rows": len(self.model),
            "initial_rows": self.n_rows, "initial_files": self.n_files,
            "version": self.t.version(),
        }
