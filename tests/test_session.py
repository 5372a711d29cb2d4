"""``get_spark``'s ``$SPARK_GRAFT_EXTRA_CONF`` layer fails loudly, naming
the variable, before it touches the shared session builder; and its
class-data-sharing archive never stops a driver JVM from starting.

Each archive test launches its own driver JVM in a subprocess with
``SPARK_GRAFT_CACHE_DIR`` pointing at a temporary root, from the repo
root as working directory, so what it writes and where is visible."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from wroclaw_bike_stats_spark import session
from wroclaw_bike_stats_spark.session import CDS_CONF, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One session, one job; the last stdout line is the only one allowed.
_PROBE = """
import json
from wroclaw_bike_stats_spark.session import CDS_CONF, get_spark
s = get_spark(master="local[2]", shuffle_partitions=2)
n = s.range(1000).selectExpr("sum(id)").collect()[0][0]
print(json.dumps({"state": s.conf.get(CDS_CONF), "sum": n}))
"""


def test_malformed_extra_conf_names_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "{spark.sql.x: 1")
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF"):
        get_spark()


def test_non_object_extra_conf_names_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", '["spark.sql.x", "1"]')
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF"):
        get_spark()


def test_running_session_reports_its_launch_state(spark):
    state = spark.conf.get(CDS_CONF)
    assert state.split(":")[0] in {"hit", "miss", "off"}
    # a later call on the same driver JVM keeps the state of its launch
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert get_spark(shuffle_partitions=parts).conf.get(CDS_CONF) == state


# -- the archive's key and pruning (no JVM) ------------------------------------


def _fake_homes(tmp_path):
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (java_home / "lib" / "server").mkdir(parents=True)
    (java_home / "release").write_text('JAVA_VERSION="17.0.1"\n')
    (java_home / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    (spark_home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"0123")
    return str(java_home), str(spark_home)


def test_key_follows_each_jar_jdk_and_conf_dir(tmp_path):
    java_home, spark_home = _fake_homes(tmp_path)
    conf = str(tmp_path / "conf")
    key = session.archive_key(java_home, spark_home, conf)
    assert session.archive_key(java_home, spark_home, conf) == key
    jar = os.path.join(spark_home, "jars", "b.jar")
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = session.archive_key(java_home, spark_home, conf)
    assert touched != key
    with open(jar, "ab") as f:
        f.write(b"4")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    grown = session.archive_key(java_home, spark_home, conf)
    assert grown not in (key, touched)
    assert session.archive_key(java_home, spark_home, conf + "2") != grown
    with open(os.path.join(java_home, "release"), "w") as f:
        f.write('JAVA_VERSION="17.0.2"\n')
    assert session.archive_key(java_home, spark_home, conf) != grown


class _ExitedJvm:
    def __init__(self, code):
        self.returncode = code

    def poll(self):
        return self.returncode


def test_publish_renames_a_clean_dump_and_prunes_other_keys(tmp_path):
    old = tmp_path / "cds-0000000000000000-5.jsa"
    old.write_bytes(b"12345")
    dead = tmp_path / "cds-0000000000000000.999999999-1.tmp"  # no such pid
    dead.write_bytes(b"1")
    live = tmp_path / f"cds-1111111111111111.{os.getpid()}-1.tmp"  # a dump in progress
    live.write_bytes(b"1")
    dump = tmp_path / f"cds-2222222222222222.{os.getpid()}-2.tmp"
    dump.write_bytes(b"archive")
    session._publish(_ExitedJvm(0), str(dump))
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["cds-2222222222222222-7.jsa", live.name]
    )


def test_publish_drops_a_failed_dump(tmp_path):
    kept = tmp_path / "cds-0000000000000000-5.jsa"
    kept.write_bytes(b"12345")
    dump = tmp_path / f"cds-2222222222222222.{os.getpid()}-3.tmp"
    dump.write_bytes(b"half")
    session._publish(_ExitedJvm(134), str(dump))
    assert [p.name for p in tmp_path.iterdir()] == [kept.name]


# -- driver JVMs with an archive (one subprocess each) -------------------------


def _tree(root):
    return {
        os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, _, names in os.walk(root)
        for n in names
    }


def _launch(root):
    """(state, stderr) of one probe run with its cache under ``root``."""
    env = dict(
        os.environ, SPARK_GRAFT_CACHE_DIR=str(root), PYTHONDONTWRITEBYTECODE="1", SPARK_DRIVER_MEMORY="1g"
    )
    env["PYTHONPATH"] = os.pathsep.join([REPO] + [p for p in [env.get("PYTHONPATH")] if p])
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    # no JVM log line (CDS or other) reaches stdout: only the probe's JSON
    assert len(lines) == 1, lines[:5]
    out = json.loads(lines[0])
    assert out["sum"] == 499500
    return out["state"], proc.stderr


def _archives(root):
    return sorted(p for p in os.listdir(root) if p.startswith("cds-"))


@pytest.fixture(scope="module")
def archived(tmp_path_factory):
    """A cache root after one miss: (root, the miss's state, repo files
    added or changed by it)."""
    root = tmp_path_factory.mktemp("cds")
    before = _tree(REPO)
    state, _ = _launch(root)
    after = _tree(REPO)
    changed = sorted(p for p in after if before.get(p) != after[p])
    return root, state, changed


def test_miss_then_hit(archived):
    root, state, _ = archived
    assert state.startswith("miss: no archive"), state
    (name,) = _archives(root)
    assert name.endswith(".jsa")
    state, _ = _launch(root)
    assert state == f"hit: {os.path.join(root, name)}"


def test_archive_writes_nothing_under_the_repo(archived):
    root, _, changed = archived
    assert changed == []
    assert not str(root).startswith(REPO + os.sep)


def test_truncated_archive_still_starts_a_session(archived):
    root, _, _ = archived
    (name,) = _archives(root)
    path = os.path.join(root, name)
    size = os.path.getsize(path)
    os.chmod(path, 0o644)
    with open(path, "r+b") as f:
        f.truncate(size // 2)
    state, _ = _launch(root)
    assert state.startswith(f"miss: {name} is truncated"), state
    # the miss recorded a complete archive again and pruned the torn one
    (again,) = _archives(root)
    assert again.endswith(f"-{os.path.getsize(os.path.join(root, again))}.jsa")


def test_foreign_archive_still_starts_a_session(archived, tmp_path):
    """An archive recorded with another conf dir on the classpath, at the
    path this launch's key names: the JVM rejects it and starts without."""
    root, _, _ = archived
    (name,) = _archives(root)
    key = session.archive_key(session._java_home(), _find_spark_home(), str(tmp_path / "conf"))
    foreign = tmp_path / f"cds-{key}-{os.path.getsize(os.path.join(root, name))}.jsa"
    shutil.copyfile(os.path.join(root, name), foreign)
    state, err = _launch(tmp_path)
    assert state == f"hit: {foreign}"
    assert "Unable to use shared archive" in err
