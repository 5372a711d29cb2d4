"""SparkSession factory.

Pins session timezone to UTC so ``to_date``/``hour`` over naive
timestamps agree with the oracle (DuckDB treats parquet timestamps as
naive); the reference's SQLite ``date()``/``strftime`` are likewise
naive-local (reference: src/compute_daily_metrics.py:51,58).

Scale posture: AQE on (runtime shuffle-partition coalescing + skew-join
splitting), small default shuffle partitions for local runs — a real
cluster deployment overrides ``spark.sql.shuffle.partitions`` /
relies on AQE to right-size.

**Cold start.** Every CLI command is a fresh process and the status
track runs as a per-minute cron, so each run pays the driver JVM's
class loading and linking: about half of a 13 s set-up. When PySpark
launches its own gateway JVM, ``get_spark`` maps a JDK dynamic
class-data-sharing (CDS) archive of the classes an earlier launch
loaded (``-XX:SharedArchiveFile``), or, when there is none, has this
launch record one at exit (``-XX:ArchiveClassesAtExit``). The archive
lives under one cache root (``cache_root()``), keyed on the JDK, the
Spark version, every jar's name, size and mtime and the conf dir on
the classpath. A mapped archive the JVM finds stale is rejected by the
JVM itself and startup falls back to normal. A *truncated* one is not:
mapping it kills the JVM with SIGBUS even under ``-Xshare:auto``. So
the JVM dumps to a temporary name, Python renames it into place only
after that JVM exited with status 0, the final name carries the file's
size, and a file whose size disagrees with its name is never passed to
a JVM. What the launch did is stored in the session conf ``CDS_CONF``:
``hit``, ``miss`` or ``off``, each followed by a short reason.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# session conf holding what this driver JVM's launch did with the archive
CDS_CONF = "spark.wbs.cds"
_JAVA_OPTS = "spark.driver.extraJavaOptions"
# JVM log lines go to stderr, where the JVM's default is stdout: the CLI
# and the benchmark print JSON there. Warnings of the bare ``cds`` tag are
# dropped (a dump logs ~600 "Skipping ...: Signed JAR" lines); a rejected
# archive's ``cds,dynamic`` warning still shows.
_LOG_OPTS = "-Xlog:disable -Xlog:all=warning,cds=error:stderr"
# environment and conf that put more on the driver classpath than the
# jars and the conf dir the key covers
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")


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
    # Deployment config layer (r16): a JSON dict of spark confs in
    # $SPARK_GRAFT_EXTRA_CONF overrides extra_conf and every default
    # below, so a cluster deployment (or an A/B harness) needs no code
    # edits — the "scale-dependent settings stay parameterised" rule.
    # Parsed before the (process-global) builder is touched, so a bad
    # value fails without leaving half a config behind.
    conf = {**(extra_conf or {}), **{k: str(v) for k, v in _env_conf().items()}}
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
    for k, v in conf.items():
        builder = builder.config(k, v)
    launch = _cds_launch(conf)
    if launch.opts:
        builder = builder.config(_JAVA_OPTS, f"{conf.get(_JAVA_OPTS, '')} {launch.opts}".strip())
    builder = builder.config(CDS_CONF, launch.state)
    with _conf_dir(launch.conf_dir):
        spark = builder.getOrCreate()
    # the gateway keeps the state of its launch for later calls (not
    # getattr: an unknown attribute of a py4j gateway is a JVM package)
    gateway = SparkContext._gateway
    gateway.__dict__.setdefault("wbs_cds", launch.state)
    if launch.dump is not None:
        atexit.register(_publish, gateway.proc, launch.dump)
    return spark


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


# -- the driver JVM's class-data-sharing archive --------------------------------


class _Launch(NamedTuple):
    """What one ``get_spark`` call does with the archive: its ``CDS_CONF``
    state, the JVM flags to append, the conf dir to launch with and the
    temporary file the JVM dumps to (``None`` where they do not apply)."""

    state: str
    opts: str = ""
    conf_dir: str | None = None
    dump: str | None = None


def cache_root() -> str:
    """``$SPARK_GRAFT_CACHE_DIR``, else ``wroclaw_bike_stats_spark`` under
    ``$XDG_CACHE_HOME`` (default ``~/.cache``). Never under the repo nor
    under ``$TMPDIR``, which a benchmark run points at a directory it
    deletes."""
    root = os.environ.get("SPARK_GRAFT_CACHE_DIR")
    if not root:
        xdg = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
        root = os.path.join(xdg, "wroclaw_bike_stats_spark")
    return os.path.abspath(root)


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def archive_key(java_home: str, spark_home: str, conf_dir: str) -> str:
    """The JDK (home, release file, libjvm), the Spark version, every jar's
    (name, size, mtime) and the conf dir on the classpath, hashed."""
    try:
        with open(os.path.join(java_home, "release"), encoding="utf-8") as f:
            release = f.read()
    except OSError:
        release = ""
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        jars = sorted((e.name, st.st_size, st.st_mtime_ns) for e in it for st in (e.stat(),))
    parts = [
        java_home, release, _stat(os.path.join(java_home, "lib", "server", "libjvm.so")),
        pyspark.__version__, conf_dir, jars,
    ]
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:16]


def _java_home() -> str | None:
    """The JDK ``bin/spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _cds_launch(conf: dict) -> _Launch:
    """Decide hit, miss or off for the driver JVM this call may launch."""
    gateway = SparkContext._gateway
    if gateway is not None:
        return _Launch(gateway.__dict__.get("wbs_cds", "off: driver JVM launched outside get_spark"))
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return _Launch("off: PYSPARK_GATEWAY_PORT names a running driver JVM")
    for name in _CLASSPATH_ENV:
        if os.environ.get(name):
            return _Launch(f"off: ${name} extends the driver classpath")
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return _Launch("off: $PYSPARK_SUBMIT_ARGS is set")
    if "spark.driver.extraClassPath" in conf:
        return _Launch("off: spark.driver.extraClassPath extends the driver classpath")
    if any(f in conf.get(_JAVA_OPTS, "") for f in ("Xshare", "SharedArchiveFile", "ArchiveClassesAt")):
        return _Launch(f"off: {_JAVA_OPTS} sets its own CDS flags")
    java_home = _java_home()
    if java_home is None:
        return _Launch("off: no JDK found")
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    root = cache_root()
    empty_conf = os.path.join(root, "conf")
    try:
        # The dump refuses a non-empty directory on the classpath, so the
        # JVM launches with an empty conf dir, which is only the same
        # configuration when the real one holds nothing but templates.
        with os.scandir(conf_dir) as it:
            used = sorted(e.name for e in it if not e.name.endswith(".template"))
        if used:
            return _Launch(f"off: conf dir {conf_dir} holds {used[0]}")
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(root, os.W_OK | os.X_OK) or os.listdir(empty_conf):
            return _Launch(f"off: cache root {root} is not writable or its conf dir is not empty")
        if any(c.isspace() or c in "'\"" for c in root):
            return _Launch(f"off: cache root {root} has blanks or quotes")
        prefix = os.path.join(root, f"cds-{archive_key(java_home, spark_home, empty_conf)}")
        found = glob.glob(glob.escape(prefix) + "-*.jsa")
    except OSError as e:
        return _Launch(f"off: {e}")
    for path in found:
        st = _stat(path)
        if st is not None and path.endswith(f"-{st[0]}.jsa"):
            return _Launch(f"hit: {path}", f"-XX:SharedArchiveFile={path} -Xshare:auto {_LOG_OPTS}", empty_conf)
    dump = f"{prefix}.{os.getpid()}-{time.time_ns()}.tmp"
    why = f"{os.path.basename(found[0])} is truncated" if found else "no archive for this key"
    return _Launch(
        f"miss: {why}; recording {dump}", f"-XX:ArchiveClassesAtExit={dump} {_LOG_OPTS}", empty_conf, dump
    )


@contextmanager
def _conf_dir(path: str | None):
    """``$SPARK_CONF_DIR`` set to ``path`` for the gateway launch (the
    JVM inherits the environment), then restored; nothing when ``None``."""
    saved = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if path is not None:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved


def _publish(proc, dump: str) -> None:
    """At exit: end the dumping driver JVM (it exits when its stdin
    closes) and wait for its dump; rename a clean exit's archive into
    place under a name carrying its size, then prune every other
    archive under the root. A failed or killed dump is deleted."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=600)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode != 0:
            os.remove(dump)
            return
        final = f"{dump.rsplit('.', 2)[0]}-{os.path.getsize(dump)}.jsa"
        os.replace(dump, final)
        prune(os.path.dirname(final), keep=final)
    except OSError:
        pass


def _dumping(name: str) -> bool:
    """Whether the process of a ``cds-<key>.<pid>-<ns>.tmp`` dump lives."""
    try:
        os.kill(int(name.split(".")[1].split("-")[0]), 0)
    except PermissionError:
        return True
    except (ValueError, IndexError, OSError):
        return False
    return True


def prune(root: str, keep: str) -> None:
    """Delete every archive under ``root`` but ``keep``, and every
    temporary dump whose process is gone, so an upgraded jar or JDK
    leaves no stale archive of ~145 MB behind."""
    for path in glob.glob(os.path.join(glob.escape(root), "cds-*")):
        name = os.path.basename(path)
        if path == keep or (name.endswith(".tmp") and _dumping(name)):
            continue
        try:
            os.remove(path)
        except OSError:
            pass
