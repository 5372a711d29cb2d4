"""SparkSession factory.

Pins session timezone to UTC so ``to_date``/``hour`` over naive
timestamps agree with the oracle (DuckDB treats parquet timestamps as
naive); the reference's SQLite ``date()``/``strftime`` are likewise
naive-local (reference: src/compute_daily_metrics.py:51,58).

Scale posture: AQE on (runtime shuffle-partition coalescing + skew-join
splitting), small default shuffle partitions for local runs — a real
cluster deployment overrides ``spark.sql.shuffle.partitions`` /
relies on AQE to right-size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wroclaw-bike-stats-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    Defaults are local-mode friendly; on a cluster, pass ``master=None``
    with an externally-configured spark-submit and only the SQL confs
    below apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Parsed before the (process-global) builder is touched, so a bad
    # value fails without leaving half a config behind.
    env_conf = _env_conf()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas_udf / applyInPandas path (the slow-path
        # escape hatch; hot paths stay in native expressions).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet vectorized reader + pushdown are on by default; keep
        # explicit so a misconfigured deployment can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Some producers write INT64 TIMESTAMP(NANOS), which Spark
        # otherwise rejects (PARQUET_TYPE_ILLEGAL); surface as long
        # and convert with timestamp_micros at read time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode the driver JVM IS the cluster: all 32 task
        # threads share this one heap for execution + storage +
        # broadcast build. 8g is the LIBRARY default (tests, CLI,
        # small interactive runs — a bigger default would invite
        # swap/OOM-killer pressure on smaller hosts); the sf10+ scale
        # harnesses, which OOM'd a broadcast build at 8g, export
        # SPARK_DRIVER_MEMORY=24g themselves (scale_bench.py,
        # tools/make_scale_data.py). On a real cluster this setting
        # governs only the driver — executors size independently.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Deployment config layer (r16): a JSON dict of spark confs in
    # $SPARK_GRAFT_EXTRA_CONF is applied LAST, so a cluster deployment
    # (or an A/B harness) can override any default above without code
    # edits — the "scale-dependent settings stay parameterised" rule.
    for k, v in env_conf.items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()


def _env_conf() -> dict:
    """``$SPARK_GRAFT_EXTRA_CONF`` parsed: a JSON object of spark confs
    ({} when unset or empty)."""
    text = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if not text:
        return {}
    try:
        conf = json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(f"SPARK_GRAFT_EXTRA_CONF is not valid JSON: {e}") from e
    if not isinstance(conf, dict):
        raise ValueError(
            "SPARK_GRAFT_EXTRA_CONF must be a JSON object of spark confs, "
            f"got {type(conf).__name__}"
        )
    return conf
