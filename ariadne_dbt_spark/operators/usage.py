"""Usage telemetry: append-only log + analytics (SURVEY §2.1 S8, §2.4 A10,
§2.5 O6).

Reference behavior (src/ariadne_dbt/usage.py): one row per tool call;
stats = count/avg over a trailing window grouped by tool, intent and day;
top-10 focus models; recent queries. Spark shape: `mode("append")`
parquet writes (date-partitioned so stat queries prune), time-bucketed
groupBys. The streaming twin lives in streaming/usage_stream.py.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.session import local_frame


class UsageLog:
    def __init__(self, spark: SparkSession, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir

    def record(
        self,
        tool_name: str,
        *,
        task_text: str = "",
        intent: str = "",
        focus_model: str = "",
        pivot_count: int = 0,
        token_estimate: int = 0,
        duration_ms: int = 0,
        ts: datetime | None = None,
    ) -> int:
        """Append one usage row; returns its log id (reference:
        usage.py:21-45 returns ``lastrowid`` so rate_capsule can target
        the row later)."""
        ts = ts or datetime.now(timezone.utc).replace(tzinfo=None)
        log_id = int(time.time_ns())
        row = [(
            log_id,
            ts,
            tool_name,
            task_text,
            intent,
            focus_model,
            int(pivot_count),
            int(token_estimate),
            int(duration_ms),
        )]
        df = local_frame(
            self.spark,
            row,
            "id long, ts timestamp, tool_name string, task_text string, intent string,"
            " focus_model string, pivot_count int, token_estimate int, duration_ms int",
        ).withColumn("dt", F.to_date("ts"))
        # date-partitioned append → stats queries prune to the window
        df.write.mode("append").partitionBy("dt").parquet(self.log_dir)
        return log_id

    def rate(self, log_id: int, rating: int, notes: str = "") -> None:
        """Attach a 1-5 rating to a logged call (reference: usage.py:47-53
        UPDATEs the row in place; an append-only parquet log instead
        appends a rating event and reconciles latest-per-log_id on read —
        the scale-correct shape, no rewrite of immutable data). The
        ``_ratings`` subdir is underscore-prefixed so Hadoop's hidden-file
        filter keeps it out of ``spark.read.parquet(log_dir)``."""
        row = [(
            int(log_id),
            max(1, min(5, int(rating))),
            notes or "",
            datetime.now(timezone.utc).replace(tzinfo=None),
        )]
        df = local_frame(
            self.spark, row, "log_id long, rating int, notes string, rated_at timestamp"
        )
        df.write.mode("append").parquet(os.path.join(self.log_dir, "_ratings"))

    def _read(self) -> DataFrame | None:
        if not os.path.isdir(self.log_dir) or not os.listdir(self.log_dir):
            return None
        return self.spark.read.parquet(self.log_dir)

    def _read_ratings(self) -> DataFrame | None:
        d = os.path.join(self.log_dir, "_ratings")
        if not os.path.isdir(d) or not os.listdir(d):
            return None
        from pyspark.sql import Window

        df = self.spark.read.parquet(d)
        # latest rating per log_id wins (re-rating overwrites, like the
        # reference's UPDATE)
        w = Window.partitionBy("log_id").orderBy(F.desc("rated_at"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "rated_at")
        )

    def stats(self, *, days: int = 30) -> dict:
        """A10: counts/averages by tool, intent, day over the window."""
        df = self._read()
        if df is None:
            return {"total_calls": 0}
        df = df.where(F.col("ts") >= F.date_sub(F.current_timestamp(), days))
        total = df.count()
        by_tool = {
            r.tool_name: r.n
            for r in df.groupBy("tool_name").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        by_intent = {
            r.intent: r.n
            for r in df.where(F.col("intent") != "")
            .groupBy("intent")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        daily = {
            str(r.d): r.n
            for r in df.groupBy(F.to_date("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("d")
            .collect()
        }
        avgs = df.agg(
            F.avg("token_estimate").alias("avg_tokens"),
            F.avg("duration_ms").alias("avg_ms"),
        ).first()
        top_focus = [
            (r.focus_model, r.n)
            for r in df.where(F.col("focus_model") != "")
            .groupBy("focus_model")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "focus_model")
            .limit(10)
            .collect()
        ]
        out = {
            "total_calls": total,
            "by_tool": by_tool,
            "by_intent": by_intent,
            "daily": daily,
            "avg_token_estimate": float(avgs.avg_tokens) if avgs.avg_tokens else 0.0,
            "avg_duration_ms": float(avgs.avg_ms) if avgs.avg_ms else 0.0,
            "top_focus_models": top_focus,
        }
        ratings = self._read_ratings()
        if ratings is not None:
            # only ratings whose call falls inside the stats window
            r = ratings.join(
                df.select(F.col("id").alias("log_id")), "log_id", "left_semi"
            ).agg(F.count(F.lit(1)).alias("n"), F.avg("rating").alias("avg"))
            row = r.first()
            out["rated_calls"] = int(row.n)
            out["avg_rating"] = round(float(row.avg), 2) if row.avg is not None else 0.0
        return out

    def recent(self, *, limit: int = 20) -> list[dict]:
        """O6: last N calls, id-descending."""
        df = self._read()
        if df is None:
            return []
        return [
            r.asDict()
            for r in df.orderBy(F.desc("id")).limit(limit).collect()
        ]


class SessionEventLog:
    """Append-only session-events feedback log (reference:
    schema.sql:185-196 — ``session_events(session_id, event_type,
    tool_name, payload JSON, created_at)``; table reserved in v0.1, the
    sink here is the live implementation). Partitioned by session so
    per-session replay prunes to one partition."""

    SCHEMA = (
        "id long, session_id string, event_type string, tool_name string,"
        " payload string, created_at timestamp"
    )

    def __init__(self, spark: SparkSession, events_dir: str):
        self.spark = spark
        self.events_dir = events_dir

    def record(
        self,
        session_id: str,
        event_type: str,
        *,
        tool_name: str = "",
        payload: dict | None = None,
        ts: datetime | None = None,
    ) -> int:
        import json as _json

        ts = ts or datetime.now(timezone.utc).replace(tzinfo=None)
        eid = int(time.time_ns())
        df = local_frame(
            self.spark,
            [(eid, session_id, event_type, tool_name, _json.dumps(payload or {}), ts)],
            self.SCHEMA,
        )
        df.write.mode("append").partitionBy("session_id").parquet(self.events_dir)
        return eid

    def _read(self) -> DataFrame | None:
        if not os.path.isdir(self.events_dir) or not os.listdir(self.events_dir):
            return None
        return self.spark.read.parquet(self.events_dir)

    def for_session(self, session_id: str) -> list[dict]:
        """Replay one session in event order (partition-pruned scan)."""
        df = self._read()
        if df is None:
            return []
        return [
            r.asDict()
            for r in df.where(F.col("session_id") == session_id)
            .orderBy("id")
            .collect()
        ]
