"""Deterministic synthetic event generator — the reference's producer
re-expressed as column expressions (SURVEY.md §2.1 S1/S2).

Reference semantics (``producer/producer.py:23-51``):
- event_type uniform over 5 enum values;
- per-event error probability drawn U(0, 0.5), then status=ERROR with
  that probability (lines 33-34, 48);
- request_latency_ms ~ U[50, 1500] (line 47);
- error_code ~ U[400, 599] iff ERROR, else null (line 49);
- product_id ~ U[1, 10000] iff type in {VIEW_PRODUCT, ADD_TO_CART}
  (line 50);
- user/session UUIDs rotate with p=0.01 per event (lines 118-121).

Spark-first: ``spark.range(n)`` + ``F.rand(seed)`` column exprs — the
whole generator is one codegen'd projection, partition-parallel, and
deterministic per seed (the multi-process produce loop becomes range
partitioning; no processes, no Kafka). UUID identities are portable
md5-derived strings so reruns are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EVENT_TYPES = ("VIEW_PRODUCT", "ADD_TO_CART", "CHECKOUT", "PAYMENT", "SEARCH")
SESSION_ROTATE_P = 0.01
LATENCY_MIN, LATENCY_MAX = 50, 1500
ERROR_CODE_MIN, ERROR_CODE_MAX = 400, 599
PRODUCT_ID_MAX = 10_000


def _fake_uuid(prefix: str, expr: F.Column) -> F.Column:
    """Deterministic uuid-shaped string from an integer identity."""
    h = F.md5(F.concat(F.lit(prefix), expr.cast("string")))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def generate_events(
    spark: SparkSession,
    n: int,
    n_users: int = 100,
    seed: int = 42,
    start_ts: str = "2024-01-01 00:00:00",
    events_per_second: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Batch-generate ``n`` events with the reference's value domains.

    Event times advance at ``events_per_second`` from ``start_ts`` —
    the reference's ~100 ev/s producer rate (BASELINE.md). Sessions
    rotate per-user with p=0.01 via a windowed running count of
    Bernoulli flags (one shuffle on user_id; at scale this is the same
    partitioning the downstream session analytics reuse).
    """
    df = spark.range(0, n, numPartitions=num_partitions or spark.sparkContext.defaultParallelism)
    r = lambda off: F.rand(seed + off)  # noqa: E731
    df = (
        df.withColumn("user_idx", F.floor(r(1) * n_users).cast("long"))
        .withColumn("event_type", F.element_at(F.array(*[F.lit(t) for t in EVENT_TYPES]), (F.floor(r(2) * len(EVENT_TYPES)) + 1).cast("int")))
        .withColumn("error_prob", r(3) * 0.5)
        .withColumn("status", F.when(r(4) < F.col("error_prob"), "ERROR").otherwise("SUCCESS"))
        .withColumn(
            "request_latency_ms",
            (LATENCY_MIN + F.floor(r(5) * (LATENCY_MAX - LATENCY_MIN + 1))).cast("int"),
        )
        .withColumn(
            "error_code",
            F.when(
                F.col("status") == "ERROR",
                (ERROR_CODE_MIN + F.floor(r(6) * (ERROR_CODE_MAX - ERROR_CODE_MIN + 1))).cast("int"),
            ),
        )
        .withColumn(
            "product_id",
            F.when(
                F.col("event_type").isin("VIEW_PRODUCT", "ADD_TO_CART"),
                (1 + F.floor(r(7) * PRODUCT_ID_MAX)).cast("int"),
            ),
        )
        .withColumn(
            "event_timestamp",
            F.timestamp_millis(
                F.unix_millis(F.lit(start_ts).cast("timestamp"))
                + (F.col("id") * (1000 // events_per_second)).cast("long")
            ),
        )
        .withColumn("rotate", (r(8) < SESSION_ROTATE_P).cast("int"))
    )
    w = Window.partitionBy("user_idx").orderBy("id")
    df = df.withColumn("session_idx", F.sum("rotate").over(w))
    return df.select(
        _fake_uuid("event", F.col("id")).alias("event_id"),
        _fake_uuid("user", F.col("user_idx")).alias("user_id"),
        _fake_uuid(
            "session", F.col("user_idx") * 1_000_000 + F.col("session_idx")
        ).alias("session_id"),
        "event_type",
        "event_timestamp",
        "request_latency_ms",
        "status",
        "error_code",
        "product_id",
        F.date_trunc("minute", "event_timestamp").alias("event_minute"),
    )


def write_warehouse(df: DataFrame, path: str) -> None:
    """The reference's MergeTree layout as partitioned Parquet
    (``db/clickhouse_table_schema.sql:15-20``): PARTITION BY
    event_minute, rows clustered by event_type within partitions so
    row-group stats enable min/max skipping. The sort leads with the
    partition column: a partitioned write requires that ordering and
    replaces any sort that lacks it (a bare ``event_type`` sort was
    planned away), so one (partition, event_type) sort serves both."""
    (
        df.repartition("event_minute")
        .sortWithinPartitions("event_minute", "event_type")
        .write.mode("overwrite")
        .partitionBy("event_minute")
        .parquet(path)
    )


def stream_events(
    spark: SparkSession,
    rows_per_second: int = 100,
    n_users: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Streaming flavor of :func:`generate_events` over the ``rate``
    source — the always-on replacement for the reference's producer
    processes (S1/S2 streaming form): the rate source emits
    (timestamp, value) rows at ``rows_per_second`` with backpressure
    built in; the same seeded column expressions shape them into
    events.

    Session rotation differs from batch: a running per-user window is
    unbounded state in a stream, so the session id re-derives from the
    event index instead (rotation points are the indices where the
    Bernoulli flag fires; index-hash sessions approximate the same
    p=0.01 geometric session lengths without state).
    """
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .withColumnRenamed("value", "id")
    )
    r = lambda off: F.rand(seed + off)  # noqa: E731
    df = (
        df.withColumn("user_idx", F.floor(r(1) * n_users).cast("long"))
        .withColumn(
            "event_type",
            F.element_at(
                F.array(*[F.lit(t) for t in EVENT_TYPES]),
                (F.floor(r(2) * len(EVENT_TYPES)) + 1).cast("int"),
            ),
        )
        .withColumn("error_prob", r(3) * 0.5)
        .withColumn(
            "status", F.when(r(4) < F.col("error_prob"), "ERROR").otherwise("SUCCESS")
        )
        .withColumn(
            "request_latency_ms",
            (LATENCY_MIN + F.floor(r(5) * (LATENCY_MAX - LATENCY_MIN + 1))).cast(
                "int"
            ),
        )
        .withColumn(
            "error_code",
            F.when(
                F.col("status") == "ERROR",
                (
                    ERROR_CODE_MIN
                    + F.floor(r(6) * (ERROR_CODE_MAX - ERROR_CODE_MIN + 1))
                ).cast("int"),
            ),
        )
        .withColumn(
            "product_id",
            F.when(
                F.col("event_type").isin("VIEW_PRODUCT", "ADD_TO_CART"),
                (1 + F.floor(r(7) * PRODUCT_ID_MAX)).cast("int"),
            ),
        )
        # geometric-ish session index without state: a user's events
        # arrive ~n_users global ids apart, so the span must cover
        # n_users/p ids for the user to see ~1/p events per session
        .withColumn(
            "session_idx",
            F.floor(F.col("id") * SESSION_ROTATE_P / n_users).cast("long"),
        )
    )
    return df.select(
        _fake_uuid("event", F.col("id")).alias("event_id"),
        _fake_uuid("user", F.col("user_idx")).alias("user_id"),
        _fake_uuid(
            "session", F.col("user_idx") * 1_000_000 + F.col("session_idx")
        ).alias("session_id"),
        "event_type",
        F.col("timestamp").alias("event_timestamp"),
        "request_latency_ms",
        "status",
        "error_code",
        "product_id",
    )
