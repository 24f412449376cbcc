"""The driver JVM's class-data-sharing archive.

``get_spark`` starts a new driver JVM from a dynamic CDS archive keyed by
the JDK build and the Spark jar list; a process that finds none builds it
in a detached process and publishes it atomically.  Each case that starts
a JVM runs in its own Python process with its own ``XDG_CACHE_HOME``,
since only a process's first JVM start reads the archive; the suite's own
session is never stopped.  The file starts five JVMs in all: a miss, a
corrupt archive and a real conf directory at once, the build the miss
leaves behind, and a hit.
"""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from df_to_azure_spark import session

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 300

# One process: start a session with a caller's JVM option, report what the
# JVM mapped and saw, and with "pins", check that a protected pin of a
# stopped context does not shield the RDD that reuses its id in the next.
SCRIPT = r"""
import json, os, sys
from df_to_azure_spark.session import get_spark, protect_pin, release_pins

conf_dir = os.environ.get("SPARK_CONF_DIR")
# C1 only: a cheaper JVM start
conf = {"spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Ddf2az.probe=1 -XX:TieredStopAtLevel=1"}
spark = get_spark(app_name="cds-probe", cpus=1, extra_conf=conf)
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({line.split(None, 5)[5] for line in fh
                     if line.rstrip().endswith(".jsa")})
mx = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {
    "count": spark.range(3).count(),
    "probe": jvm.java.lang.System.getProperty("df2az.probe"),
    "conf_probe": spark.conf.get("spark.df2az.probe", None),
    "mapped": [m.rstrip("\n") for m in mapped],
    "jvm_args": list(mx.getInputArguments()),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
}
if "pins" in sys.argv:
    kept = protect_pin(spark.range(10).localCheckpoint())
    pin_id = kept._jdf.queryExecution().analyzed().rdd().id()
    spark.stop()
    spark = get_spark(app_name="cds-probe", cpus=1, extra_conf=conf)
    jsc = spark.sparkContext._jsc
    level = jvm.org.apache.spark.storage.StorageLevel.MEMORY_ONLY()
    for _ in range(1000):
        if jsc.emptyRDD().persist(level).id() >= pin_id:
            break
    before = {int(k) for k in jsc.getPersistentRDDs().keys()}
    release_pins(spark)
    after = {int(k) for k in jsc.getPersistentRDDs().keys()}
    out["pin"] = {"id": pin_id, "reused": pin_id in before, "kept": pin_id in after}
print(json.dumps(out))
"""


def _probe(tmp: Path, cache: Path, *args: str, conf_dir: Path | None = None):
    """Start SCRIPT in its own process, its output going to files in ``tmp``."""
    tmp.mkdir(parents=True, exist_ok=True)
    script = tmp / "probe.py"
    script.write_text(SCRIPT)
    env = dict(os.environ, XDG_CACHE_HOME=str(cache))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    with open(tmp / "stdout", "w") as out, open(tmp / "stderr", "w") as err:
        return subprocess.Popen(
            [sys.executable, str(script), *args], cwd=tmp, env=env,
            stdout=out, stderr=err,
        )


def _result(proc: subprocess.Popen, tmp: Path) -> dict:
    assert proc.wait(timeout=RUN_TIMEOUT_S) == 0, (tmp / "stderr").read_text()[-4000:]
    stdout = (tmp / "stdout").read_text()
    assert "[cds" not in stdout, stdout[-4000:]
    return json.loads(stdout.strip().splitlines()[-1])


def _run(tmp: Path, cache: Path, *args: str) -> dict:
    return _result(_probe(tmp, cache, *args), tmp)


def _prefix(cache: Path) -> str:
    (cache / "df_to_azure_spark").mkdir(parents=True, exist_ok=True)
    return session._archive_prefix(_find_spark_home(), str(cache / "df_to_azure_spark"))


def _plant(cache: Path) -> Path:
    """Random bytes under this key's archive name for their size."""
    path = Path(f"{_prefix(cache)}{1 << 20}.jsa")
    path.write_bytes(os.urandom(1 << 20))
    return path


def _archives(cache: Path) -> list[Path]:
    return sorted((cache / "df_to_azure_spark").glob("*.jsa"))


def _temps(cache: Path) -> list[Path]:
    return sorted((cache / "df_to_azure_spark").glob("*.tmp"))


def _wait_for_build(cache: Path) -> None:
    """Until an archive is published and the builder has released the
    cache directory's lock, i.e. exited."""
    fd = os.open(cache / "df_to_azure_spark", os.O_RDONLY)
    try:
        deadline = time.monotonic() + RUN_TIMEOUT_S
        while time.monotonic() < deadline:
            if _archives(cache):
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    return
                except BlockingIOError:
                    pass
            time.sleep(0.5)
        raise AssertionError(f"no archive built in {RUN_TIMEOUT_S} s")
    finally:
        os.close(fd)


@pytest.fixture(scope="module")
def probes(tmp_path_factory):
    """Three first starts at once, each with its own cache: a miss, with a
    temp file of a killed build waiting in its cache; random bytes under
    the archive's name; and a real conf directory next to such a file."""
    tmp = tmp_path_factory.mktemp("cds")
    caches = {name: tmp / name / "cache" for name in ("miss", "corrupt", "conf")}
    Path(f"{_prefix(caches['miss'])}99999999.tmp").write_bytes(b"\0" * 4096)
    planted = {name: _plant(caches[name]) for name in ("corrupt", "conf")}
    conf_dir = tmp / "conf" / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.df2az.probe true\n")
    procs = {
        "miss": _probe(tmp / "miss", caches["miss"], "pins"),
        "corrupt": _probe(tmp / "corrupt", caches["corrupt"]),
        "conf": _probe(tmp / "conf", caches["conf"], conf_dir=conf_dir),
    }
    out = {"miss": _result(procs["miss"], tmp / "miss")}
    # the process did not wait for the build: a JVM start alone outlasts it
    out["published_at_exit"] = _archives(caches["miss"])
    for name in ("corrupt", "conf"):
        out[name] = _result(procs[name], tmp / name)
    return out, caches, planted


@pytest.fixture(scope="module")
def built(probes):
    """The cache of the miss, once the detached build has published."""
    cache = probes[1]["miss"]
    _wait_for_build(cache)
    return cache


def test_miss_publishes_one_archive(probes, built):
    out = probes[0]["miss"]
    assert out["count"] == 3
    assert out["probe"] == "1"  # the caller's JVM option still reaches the JVM
    assert not any(str(built) in m for m in out["mapped"])
    assert probes[0]["published_at_exit"] == []
    (archive,) = _archives(built)
    assert archive.name.endswith(f"-{archive.stat().st_size}.jsa")
    assert _temps(built) == []


def test_protected_pin_does_not_outlive_its_context(probes):
    pin = probes[0]["miss"]["pin"]
    assert pin["reused"], pin  # the next context persisted an RDD with that id
    assert not pin["kept"], pin


def test_hit_maps_archive(built, tmp_path):
    (archive,) = _archives(built)
    out = _run(tmp_path, built)
    assert out["count"] == 3
    assert out["probe"] == "1"
    assert str(archive) in out["mapped"]
    assert _archives(built) == [archive]


def test_corrupt_archive_never_fails_session(probes):
    """Random bytes: the JVM is given them and rejects them itself."""
    out, _, planted = probes
    out = out["corrupt"]
    assert out["count"] == 3
    assert any(str(planted["corrupt"]) in a for a in out["jvm_args"])
    assert str(planted["corrupt"]) not in out["mapped"]


def test_real_conf_dir_is_left_alone(probes):
    out, caches, planted = probes
    out = out["conf"]
    assert out["count"] == 3
    assert out["conf_probe"] == "true"
    assert out["conf_dir_kept"]
    assert not any(str(caches["conf"]) in m for m in out["mapped"])
    assert not any("Archive" in a for a in out["jvm_args"])
    assert _archives(caches["conf"]) == [planted["conf"]]  # nor a build
    assert _temps(caches["conf"]) == []


def test_truncated_archive_never_reaches_the_jvm(built, tmp_path, monkeypatch):
    """The JVM dies of SIGBUS mapping a truncated archive, so the plan
    drops a file shorter than its name says and counts a miss."""
    (good,) = _archives(built)
    cache = tmp_path / "cache"
    short = cache / "df_to_azure_spark" / good.name
    short.parent.mkdir(parents=True)
    with open(good, "rb") as src:
        short.write_bytes(src.read(good.stat().st_size // 2))
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    empty_conf, prefix, archive = session._archive_plan("")
    assert archive is None
    assert not short.exists()
    assert str(good.name).startswith(Path(prefix).name)


def test_unwritable_cache_starts_without_archive(spark, tmp_path, monkeypatch):
    """A cache that cannot be created means no archive and no error.  A
    regular file stands in the cache path, which stops root too (a
    read-only mode bit does not)."""
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    with pytest.raises(OSError):
        session._archive_plan("")
    # the running JVM stands for a fresh one here: _launch ends in the
    # plain getOrCreate when the plan fails
    assert session._launch(SparkSession.builder, "").range(3).count() == 3
    assert not blocker.read_text()


@pytest.mark.parametrize("var", ["HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"])
def test_classpath_conf_dir_means_no_archive_and_no_build(spark, var, tmp_path, monkeypatch):
    """The launcher puts these on the classpath as they are, and CDS
    refuses a non-empty directory: no archive flag and no build, which
    would fail for every process that misses."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "core-site.xml").write_text("<configuration/>\n")
    monkeypatch.setenv(var, str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._archive_plan("") is None
    spawned = []
    monkeypatch.setattr(session, "_spawn_build", lambda: spawned.append(1))
    # the running JVM stands for a fresh one, as above
    assert session._launch(SparkSession.builder, "").range(3).count() == 3
    assert spawned == []
    assert not (tmp_path / "cache").exists()


def test_archive_key_follows_jar_size_and_mtime(tmp_path):
    """The JVM rejects an archive whose jars changed size or mtime, so a
    reinstalled jar must give a new key, not a silently rejected hit."""
    (tmp_path / "jars").mkdir()
    jar = tmp_path / "jars" / "a.jar"
    jar.write_bytes(b"x")
    key = session._archive_prefix(str(tmp_path), "c")
    os.utime(jar, ns=(0, 10**18))
    touched = session._archive_prefix(str(tmp_path), "c")
    jar.write_bytes(b"xy")
    os.utime(jar, ns=(0, 10**18))
    grown = session._archive_prefix(str(tmp_path), "c")
    assert len({key, touched, grown}) == 3


def test_build_removes_stale_archives_of_other_keys(tmp_path):
    """An archive of another key (a changed JDK or jar list) is never
    mapped again, so a build removes it once it is older than the age
    bound; a fresh one of another key and this key's own stay."""
    prefix = str(tmp_path / "driver-aaaa-")
    own = tmp_path / "driver-aaaa-4.jsa"
    old = tmp_path / "driver-bbbb-4.jsa"
    fresh = tmp_path / "driver-cccc-4.jsa"
    for path in (own, old, fresh):
        path.write_bytes(b"jsa!")
    past = time.time() - session._STALE_ARCHIVE_S - 60
    for path in (own, old):
        os.utime(path, (past, past))
    session._remove_stale_archives(prefix)
    assert sorted(p.name for p in tmp_path.iterdir()) == [own.name, fresh.name]
