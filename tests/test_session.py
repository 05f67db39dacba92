"""The driver JVM's class-data-sharing archive (`_cds`): when `get_spark`
maps or skips it, how a process without one writes it at exit and
publishes it, and that the JVM's CDS logging stays off stdout."""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from siddhi_execution_unique_spark import _cds, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ENV_OFF = ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
            "SPARK_DIST_CLASSPATH", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
            "PYSPARK_SUBMIT_ARGS")


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A `SPARK_HOME` with one jar and a template-only conf dir, a cache
    under `tmp_path`, and no JVM running in this process."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k in _ENV_OFF:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def _plan(extra_conf=None):
    return _cds.plan(session.spark_conf(extra_conf=extra_conf))


def _dead_pid():
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_set_conf_dir_is_left_alone(fake_home, tmp_path, monkeypatch):
    mine = tmp_path / "myconf"
    mine.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(mine))
    conf = session.spark_conf()
    p = _cds.plan(conf)
    assert (p.mode, p.java_opts, p.conf_dir) == ("off", "", None)
    assert _cds.with_java_opts(conf, p) == conf
    with _cds.launching(p):
        assert os.environ["SPARK_CONF_DIR"] == str(mine)
    assert os.environ["SPARK_CONF_DIR"] == str(mine)


def test_real_spark_defaults_adds_no_flag(fake_home):
    (fake_home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    p = _plan()
    assert p.mode == "off" and "spark-defaults.conf" in p.reason
    assert p.java_opts == "" and p.conf_dir is None


def test_user_cds_flags_win(fake_home):
    p = _plan({"spark.driver.extraJavaOptions": "-Xshare:off"})
    assert p.mode == "off" and p.java_opts == ""


def test_changed_jar_gives_new_key(fake_home):
    first = _plan()
    with open(fake_home / "jars" / "core.jar", "ab") as f:
        f.write(b"more")
    second = _plan()
    assert first.mode == second.mode == "dump"
    assert first.key != second.key


def _fake_archive(key, size=64):
    """A file that passes for a published archive of ``key``."""
    path = os.path.join(_cds.cache_root(), f"{key}.{size}.jsa")
    with open(path, "wb") as f:
        f.write(_cds._DYNAMIC_MAGIC + b"\0" * (size - 4))
    return path


def test_caller_default_java_options_are_merged(fake_home):
    conf = session.spark_conf(extra_conf={"spark.driver.defaultJavaOptions": "-Dcaller=1",
                                          "spark.driver.extraJavaOptions": "-Dextra=1"})
    archive = _fake_archive(_cds.plan(conf).key)
    p = _cds.plan(conf)
    assert p.mode == "use" and p.archive == archive
    merged = _cds.with_java_opts(conf, p)
    opts = merged["spark.driver.defaultJavaOptions"].split()
    assert opts == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off", "-Dcaller=1"]
    assert merged["spark.driver.extraJavaOptions"] == "-Dextra=1"


def test_a_session_without_archive_starts_without_cds_flags(fake_home):
    conf = session.spark_conf()
    p = _cds.plan(conf)
    assert p.mode == "dump" and p.java_opts == "" and p.conf_dir is None
    assert _cds.with_java_opts(conf, p) == conf
    assert p.keyed_conf == {"spark.driver.memory": conf["spark.driver.memory"]}


def test_lock_of_dead_pid_is_taken_over(fake_home):
    lock = os.path.join(_cds.cache_root(), "k.lock")
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as f:
        f.write(str(_dead_pid()))
    assert _cds._take_lock(lock) and _cds._read_pid(lock) == os.getpid()
    # a live holder keeps its lock
    with open(lock, "w") as f:
        f.write(str(os.getppid()))
    assert not _cds._take_lock(lock)


def test_lock_of_reused_pid_is_taken_over(fake_home):
    """A lock left by a holder that died without cleaning up, whose pid
    now belongs to a process started after the lock was written."""
    lock = os.path.join(_cds.cache_root(), "k.lock")
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    later = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                             stdin=subprocess.PIPE)
    try:
        with open(lock, "w") as f:
            f.write(str(later.pid))
        assert _cds._holder_alive(lock)
        written = time.time() - 3600
        os.utime(lock, (written, written))
        assert not _cds._holder_alive(lock)
        assert _cds._take_lock(lock) and _cds._read_pid(lock) == os.getpid()
    finally:
        later.stdin.close()
        later.wait()


def _gateway_stand_in(code):
    """A process that, like the gateway JVM, exits on EOF of its stdin."""
    return subprocess.Popen([sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"],
                            stdin=subprocess.PIPE)


def test_publish_only_after_clean_exit(fake_home):
    key = _plan().key
    root = _cds.cache_root()

    def dump():
        path = os.path.join(root, f"{key}.{os.getpid()}.dump")
        with open(path, "wb") as f:
            f.write(_cds._DYNAMIC_MAGIC + b"\0" * 60)
        return path

    assert _cds.publish(dump(), key, _gateway_stand_in(1)) is None
    assert _plan().mode == "dump"

    for stale in (f"{'0' * 16}.64.jsa", f"{'1' * 16}.{_dead_pid()}.dump", f"{key}.failed"):
        with open(os.path.join(root, stale), "wb") as f:
            f.write(_cds._DYNAMIC_MAGIC + b"\0" * 60)
    final = _cds.publish(dump(), key, _gateway_stand_in(0))
    # published under its key and length; another key's archive, a
    # dead process's dump and a failure mark are gone
    assert set(os.listdir(root)) == {"conf", f"{key}.64.jsa"}
    assert _plan().archive == final
    # a truncated archive is never handed to the JVM
    with open(final, "r+b") as f:
        f.truncate(10)
    assert _plan().mode == "dump" and not os.path.exists(final)


def test_failed_write_is_not_retried(fake_home):
    """The fake `SPARK_HOME` cannot start a JVM, so the writer fails:
    the key is marked, and later sessions start without trying again."""
    p = _plan()
    assert _cds.write(p) is None
    root = _cds.cache_root()
    assert os.path.exists(os.path.join(root, f"{p.key}.failed"))
    assert not [n for n in os.listdir(root) if n.endswith((".lock", ".dump")) or n.startswith("write-")]
    again = _plan()
    assert again.mode == "off" and "failed before" in again.reason


def test_bench_keeps_the_launch_record_out_of_the_tail_line():
    import bench

    payload = {"value": 1.0, "queries": {"q": 1.0},
               "session": {"cds": "use", "archive": "/x/" + "a" * 200, "reason": "cached archive"}}
    out = bench._tail_budgeted(payload, ["q"])
    assert "session" not in out and out["queries"] == {"q": 1.0}
    assert payload["session"]["cds"] == "use"


_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from siddhi_execution_unique_spark.operators import ever
from siddhi_execution_unique_spark.session import get_spark, launch_record
spark = get_spark(app_name="cds-child", shuffle_partitions=2, extra_conf=json.loads(sys.argv[1]))
spark.sparkContext.setLogLevel("ERROR")
df = spark.createDataFrame([(1, 1, "a", 1.0), (2, 2, "b", 2.0), (3, 3, "a", 3.0),
                            (4, 4, "c", 4.0), (5, 5, "b", 5.0)], "ts long, event_id long, k string, v double")
rows = sorted(tuple(r) for r in ever(df, "k", ts="ts", tiebreak="event_id").select("k", "ts").collect())
print("RESULT " + json.dumps({{"record": launch_record(), "rows": rows}}), flush=True)
"""
EVER_ROWS = [["a", 3], ["b", 5], ["c", 4]]


def _run_child(cache, extra_conf=None):
    """`get_spark` plus a small `unique:ever` call in a fresh process with
    its cache under `cache`; returns (its result, its whole stdout)."""
    env = {k: v for k, v in os.environ.items() if k not in _ENV_OFF}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2")
    conf = {"spark.driver.memory": "1g", **(extra_conf or {})}
    out = subprocess.run([sys.executable, "-c", _CHILD.format(repo=REPO), json.dumps(conf)],
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):]), out.stdout


def _cds_root(cache):
    return os.path.join(cache, "siddhi_execution_unique_spark", "cds")


def _log_opt(path):
    return {"spark.driver.extraJavaOptions": f"-Xlog:cds=info:file={path}"}


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache primed by one run that found no archive."""
    cache = tmp_path_factory.mktemp("cds_cache")
    result, stdout = _run_child(cache)
    return cache, result, stdout


def test_first_run_publishes_the_archive(dumped):
    cache, result, stdout = dumped
    assert result["record"]["cds"] == "dump"
    assert result["rows"] == EVER_ROWS
    assert "[cds" not in stdout
    # the archive was written at exit by a child whose output went to
    # train.log: no temp, lock or work file is left
    root = _cds_root(cache)
    names = set(os.listdir(root)) - {"conf", "train.log"}
    assert len(names) == 1 and _cds._ARCHIVE.fullmatch(names.pop()), names
    assert not os.listdir(os.path.join(root, "conf"))
    log = open(os.path.join(root, "train.log")).read()
    assert "published " in log and "[cds" not in log


def test_second_run_maps_the_archive(dumped, tmp_path):
    cache = dumped[0]
    log = tmp_path / "cds.log"
    result, stdout = _run_child(cache, _log_opt(log))
    assert result["record"]["cds"] == "use"
    assert result["rows"] == EVER_ROWS
    assert "Mapped dynamic region" in log.read_text()
    assert "[cds" not in stdout


def test_mismatched_archive_is_skipped(dumped, tmp_path):
    """An archive the key does not tell apart from a valid one (here: a
    copy under another classpath's key) is refused by the JVM, which
    starts without it."""
    cache = tmp_path / "cache"
    shutil.copytree(dumped[0], cache)
    root = _cds_root(cache)
    archive = next(n for n in os.listdir(root) if n.endswith(".jsa"))
    cp = str(tmp_path / "absent.jar")
    key = _cds._key(_find_spark_home(), cp, "1g")
    os.replace(os.path.join(root, archive), os.path.join(root, key + archive[16:]))
    log = tmp_path / "cds.log"
    result, stdout = _run_child(cache, {"spark.driver.extraClassPath": cp, **_log_opt(log)})
    assert result["record"]["cds"] == "use"
    assert result["rows"] == EVER_ROWS
    # the JVM maps the archive, checks it against the classpath, and unmaps it
    assert "shared class paths mismatch" in log.read_text()
    assert "[cds" not in stdout


def test_truncated_archive_falls_back(dumped, tmp_path):
    cache = tmp_path / "cache"
    shutil.copytree(dumped[0], cache)
    root = _cds_root(cache)
    archive = next(n for n in os.listdir(root) if n.endswith(".jsa"))
    with open(os.path.join(root, archive), "r+b") as f:
        f.truncate(1 << 20)
    result, stdout = _run_child(cache)
    assert result["record"]["cds"] == "dump"
    assert result["rows"] == EVER_ROWS
    assert "[cds" not in stdout
    # the run wrote a whole archive again at exit
    assert _cds._cached(root, archive[:16]) is not None
