"""``stream``: time-ordered event files replayed through Structured Streaming.

``stream_from_parquet_dir`` → ``tumbling_counts`` →
``write_foreach_batch_parquet``, the only workload that writes: a
parquet sink, the checkpoint and the state store. One op is one
micro-batch (one file). Files are released into the source directory a
few at a time and each release is drained by a fresh query resuming
from the same checkpoint, the recurring-job pattern that API serves.
At the end the sink must equal a DuckDB batch aggregation of the same
events over every window the final watermark has closed.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import check, datagen

ROWS_PER_FILE = 2000
#: files released, and micro-batches run, per drain. Fixed, so a pass is
#: the same work at any speed; files are made as drains need them, so a
#: faster program runs more drains in the window instead of running out
#: of input.
FILES_PER_DRAIN = 3
WATERMARK_MINUTES = 30
PROGRESS_KEYS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


class Stream:
    ops_per_pass = 1  # one drain
    warm_passes = 2

    def __init__(self, root, seed, tracer):
        self.root, self.seed, self.tr = root, seed, tracer
        self.src, self.out, self.ckpt = root / "source", root / "sink", root / "checkpoint"
        self.staging = root / "staging"
        self.late_share = float(0.02 + 0.08 * np.random.default_rng([seed, 30]).random())
        self.staged: list = []
        self.released: list = []
        self.progress: list[dict] = []
        self.run_ids: list[str] = []

    def _stage(self, n: int) -> None:
        i = len(self.released) + len(self.staged)
        self.staged += [
            datagen.event_file(self.staging, self.seed, i + k, ROWS_PER_FILE, self.late_share)
            for k in range(n)
        ]

    def _release(self) -> None:
        for p in self.staged:
            os.rename(p, self.src / p.name)  # keeps the ordering mtime
        self.released += [self.src / p.name for p in self.staged]
        self.staged = []

    def generate(self) -> None:
        """The first file goes straight to the source directory: the
        stream source needs one present to probe its schema."""
        self.src.mkdir(parents=True, exist_ok=True)
        self._stage(1)
        self._release()

    def register(self, ctx) -> None:
        from spark_query_engine import streaming

        streaming.stream_from_parquet_dir(ctx.spark, str(self.src))

    def prepare(self, duck) -> None:
        self.duck = duck

    def before_pass(self) -> None:
        """Write the next drain's files, outside the timed pass."""
        self._stage(FILES_PER_DRAIN)

    def _drain(self, spark) -> list[dict]:
        from spark_query_engine import streaming

        with self.tr.span("streaming.build"):
            events = streaming.stream_from_parquet_dir(spark, str(self.src))
            counts = streaming.tumbling_counts(events, watermark=f"{WATERMARK_MINUTES} minutes")
        with self.tr.span("streaming.drain"):
            q = streaming.write_foreach_batch_parquet(counts, str(self.out), str(self.ckpt))
        self.run_ids.append(str(q.runId))
        batches = []
        for p in q.recentProgress:
            p = json.loads(p.json) if hasattr(p, "json") else p
            self.progress.append(p)
            if p.get("numInputRows", 0) > 0:
                batches.append(p)
        return batches

    def first_pass(self, spark) -> dict:
        t0 = time.perf_counter()
        batches = self._drain(spark)
        return {"ok": len(batches) == 1, "elapsed": time.perf_counter() - t0}

    def run_op(self, i: int, spark) -> list[dict]:
        """One drain; returns one record per micro-batch it ran."""
        self._release()
        batches = self._drain(spark)
        return [
            {
                "ok": True,
                "rows_in": int(b["numInputRows"]),
                "latency_s": b["durationMs"]["triggerExecution"] / 1e3,
            }
            for b in batches
        ] or [{"ok": False, "rows_in": 0}]

    def sink_bytes_files(self) -> tuple[int, int]:
        files = [p for p in self.out.glob("*.parquet")] if self.out.exists() else []
        return sum(p.stat().st_size for p in files), len(files)

    def input_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.released)

    def final_check(self) -> bool:
        """Sink rows == batch aggregation over every closed window."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = [str(p) for p in self.released]
        want = self.duck.execute(
            f"""
            WITH e AS (SELECT * FROM read_parquet({files!r})),
            wm AS (SELECT MAX(ts) - INTERVAL {WATERMARK_MINUTES} MINUTE AS w FROM e),
            agg AS (
                SELECT date_trunc('hour', ts) AS ws, event_type,
                       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
                FROM e GROUP BY 1, 2
            )
            SELECT epoch_us(ws), event_type, n_events, total_value FROM agg
            WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wm)
            """
        ).fetchall()
        t = pq.read_table(self.out, columns=["window_start", "event_type", "n_events", "total_value"])
        got = zip(
            t.column("window_start").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist(),
            t.column("event_type").to_pylist(),
            t.column("n_events").to_pylist(),
            t.column("total_value").to_pylist(),
        )
        return check.same_rows(list(got), check.normalize(want))

    def layer_metrics(self, progress: list[dict]) -> dict[str, float]:
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        n = max(1, len(data))
        out = {
            f"streaming.{_snake(k)}_s": sum(p["durationMs"].get(k, 0) for p in data) / 1e3 / n
            for k in PROGRESS_KEYS
        }
        state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        out["streaming.state_rows"] = float(np.median([s["numRowsTotal"] for s in state])) if state else 0.0
        out["streaming.state_bytes"] = float(np.median([s["memoryUsedBytes"] for s in state])) if state else 0.0
        return out


def _snake(key: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in key)
