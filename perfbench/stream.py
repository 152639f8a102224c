"""Stream operations: ``sol_spark.streaming.pipelines`` driven over
deterministic micro-batch files, plus their batch-mode checks."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from check import rows_diff
from measure import median, quantile

PIPELINES = ("tumbling_counts", "purchases_with_recent_view", "running_user_totals", "minhash_ingest")
EVENTS_SRC = "stream_events"
DOCS_SRC = "stream_docs"


def write_sources(tables: dict, data_dir: str, n_batches: int, n_doc_batches: int, seed: int) -> None:
    """Split ``events`` (ts-sorted) at seeded exact quantiles and the ingest
    split of ``documents`` (doc_id % 10 >= 8) at seeded cut points, one
    parquet file per micro-batch, with mtimes staggered in replay order."""
    ev = tables["events"].sort_by("ts")
    ts = ev.column("ts").cast("int64").to_numpy()
    docs = tables["documents"].select(["doc_id", "text"])
    ingest = docs.filter(np.asarray(docs.column("doc_id")) % 10 >= 8)
    doc_cuts = np.sort(np.random.default_rng([seed, 98]).choice(
        np.arange(1, ingest.num_rows), max(0, n_doc_batches - 1), replace=False))
    sources = [(EVENTS_SRC, ev, datagen.split_points(ts, n_batches, seed))]
    if n_doc_batches:
        sources.append((DOCS_SRC, ingest, doc_cuts))
    for sub, table, cuts in sources:
        out = os.path.join(data_dir, sub)
        os.makedirs(out, exist_ok=True)
        base = time.time() - 3600
        bounds = [0, *cuts.tolist(), table.num_rows]
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            path = os.path.join(out, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(lo, hi - lo), path)
            os.utime(path, (base + i, base + i))


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` of the session, via the
    public listener interface."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                with log._cv:
                    log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                with log._cv:
                    log.terminated += 1
                    log._cv.notify_all()

        spark.streams.addListener(_Listener())

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait until ``n`` queries
        have reported termination so their progress is complete."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout_s):
                raise TimeoutError("streaming listener did not report termination")


class StreamOps:
    """One pipeline run = a fresh checkpoint, a full availableNow drain of the
    micro-batch files, and the sink's rows for the check."""

    def __init__(self, spark, data_dir: str, work_dir: str) -> None:
        from sol_spark.tables import load_tables

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.events_schema = load_tables(spark, data_dir)["events"].schema
        self.log = ProgressLog(spark)
        self.runs = 0

    def _events(self, streaming: bool):
        from pyspark.sql import functions as F

        reader = self.spark.readStream if streaming else self.spark.read
        reader = reader.schema(self.events_schema)
        if streaming:
            reader = reader.option("maxFilesPerTrigger", "1")
        # Watermarks need TIMESTAMP; the session time zone is UTC, so the
        # values equal the batch side's TIMESTAMP_NTZ (as in events_stream).
        return reader.parquet(os.path.join(self.data_dir, EVENTS_SRC)).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    def run(self, name: str, tag: str) -> tuple[float, float, dict]:
        """Returns (build_s, exec_s, handle) where ``handle`` locates the
        output for :meth:`check` and :meth:`cleanup`."""
        from sol_spark.streaming import pipelines as P

        ckpt = os.path.join(self.work_dir, f"ckpt-{tag}")
        handle = {"name": name, "ckpt": ckpt, "progress_from": len(self.log.progress)}
        t0 = time.perf_counter()
        if name == "minhash_ingest":
            out = os.path.join(self.work_dir, f"out-{tag}")
            handle["out"] = out
            t1 = time.perf_counter()
            P.run_minhash_ingest_stream(
                self.spark, self.data_dir, os.path.join(self.data_dir, DOCS_SRC),
                "doc_id bigint, text string", out, ckpt,
            )
        else:
            transform, mode = {
                "tumbling_counts": (P.tumbling_counts, "append"),
                "purchases_with_recent_view": (P.purchases_with_recent_view, "append"),
                "running_user_totals": (P.running_user_totals, "update"),
            }[name]
            sink = f"sink_{tag.replace('-', '_')}"
            handle["sink"] = sink
            query = (
                transform(self._events(streaming=True)).writeStream.format("memory")
                .queryName(sink).outputMode(mode).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            t1 = time.perf_counter()
            if not query.awaitTermination(120):
                query.stop()
                raise TimeoutError(f"{name} did not drain within 120 s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        t2 = time.perf_counter()
        self.runs += 1
        self.log.wait_terminated(self.runs)
        handle["progress"] = self.log.progress[handle["progress_from"]:]
        return t1 - t0, t2 - t1, handle

    def check(self, handle: dict) -> str | None:
        """Final per-key stream output vs the same transform in batch mode
        over the same files (the MinHash twin vs dedup_minhash_incremental)."""
        from pyspark.sql import functions as F

        from sol_spark.streaming import pipelines as P

        def rows(df, cols):
            df = df.select(*[
                F.col(c).cast("string") if "timestamp" in df.schema[c].dataType.simpleString() else F.col(c)
                for c in cols
            ])
            return [tuple(r) for r in df.collect()]

        name = handle["name"]
        if name == "minhash_ingest":
            from sol_spark.operators.dedup import dedup_minhash_incremental

            cols = ["doc_id", "near_dup", "exact_dup", "verdict"]
            got = rows(self.spark.read.parquet(handle["out"]), cols)
            want = rows(dedup_minhash_incremental(self.spark, self.data_dir), cols)
            return rows_diff(got, want)
        got_df = self.spark.table(handle["sink"])
        batch = self._events(streaming=False)
        if name == "tumbling_counts":
            # Append mode emits a window once the watermark passes its end.
            wm = handle["progress"][-1]["eventTime"].get("watermark", "1970-01-01T00:00:00.000Z")
            want_df = P.tumbling_counts(batch).filter(
                F.col("window_end") <= F.to_timestamp(F.lit(wm[:-1].replace("T", " ")))
            )
            cols = ["window_start", "window_end", "event_type", "n", "sum_value"]
            return rows_diff(rows(got_df, cols), rows(want_df, cols))
        if name == "purchases_with_recent_view":
            cols = ["event_id", "user_id", "ts", "value", "v_ts"]
            return rows_diff(rows(got_df, cols), rows(P.purchases_with_recent_view(batch), cols))
        # running_user_totals: update mode re-emits a user per batch; the
        # final state is the emission with the largest running count.
        latest: dict[int, tuple] = {}
        for uid, n, total in rows(got_df, ["user_id", "n", "total"]):
            if uid not in latest or n > latest[uid][1]:
                latest[uid] = (uid, n, total)
        want_df = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
        )
        return rows_diff(list(latest.values()), rows(want_df, ["user_id", "n", "total"]))

    def cleanup(self, handle: dict) -> None:
        if "sink" in handle:
            self.spark.catalog.dropTempView(handle["sink"])
        for key in ("ckpt", "out"):
            if key in handle:
                shutil.rmtree(handle[key], ignore_errors=True)


def stream_layer(handles_per_pass: list[list[dict]], exec_s_per_pass: list[float]) -> dict[str, float]:
    """``stream.*`` metrics over the warm passes, from query progress."""
    batches = [p for hs in handles_per_pass for h in hs for p in h["progress"]]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    out = {
        "stream.batch_ms_p50": median(trig),
        "stream.batch_ms_p90": quantile(trig, 0.9),
        "stream.rows_per_s": (
            sum(p.get("numInputRows", 0) for p in batches) / sum(exec_s_per_pass)
            if sum(exec_s_per_pass) > 0 else 0.0
        ),
    }
    for part in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        out[f"stream.{part}_ms_p50"] = median(p["durationMs"].get(part, 0) for p in batches)
    rows_end, mem_end, dropped = [], [], []
    for hs in handles_per_pass:
        r = m = d = 0
        for h in hs:
            prog = h["progress"]
            if prog:
                for op in prog[-1].get("stateOperators", []):
                    r += op.get("numRowsTotal", 0)
                    m += op.get("memoryUsedBytes", 0)
            d += sum(op.get("numRowsDroppedByWatermark", 0) for p in prog for op in p.get("stateOperators", []))
        rows_end.append(r)
        mem_end.append(m / (1024.0 * 1024.0))
        dropped.append(d)
    out["stream.state_rows_end"] = median(rows_end)
    out["stream.state_mem_mb_end"] = median(mem_end)
    out["stream.rows_dropped_late"] = median(dropped)
    return out
