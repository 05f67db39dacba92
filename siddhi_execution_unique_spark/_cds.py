"""Class-data sharing (CDS) for the driver JVM that ``get_spark`` launches.

:func:`plan` decides, before the gateway JVM starts, how it shares class
data:

- ``use``: a valid archive for this JDK and classpath is cached, and the
  JVM maps it with ``-XX:SharedArchiveFile``;
- ``dump``: none is cached, so the JVM starts as it would without this
  module, and when the process exits an ``atexit`` hook writes the
  archive in a child process (``python -m
  siddhi_execution_unique_spark._cds``). The child starts its own JVM
  with ``-XX:ArchiveClassesAtExit``, runs the package's set-up path and
  each operator tier on a few rows, and publishes the archive once that
  JVM has exited cleanly. Dumping slows a JVM's start-up, so no session
  that does user work ever dumps;
- ``off``: no JVM is launched here, or the caller's set-up cannot be
  archived without changing it.

The archive key covers the java binary and its ``lib/modules``, the jar
listing of ``$SPARK_HOME/jars``, the pyspark version,
``spark.driver.extraClassPath`` and whether the heap is under 32 GB
(compressed oops select the JDK's base archive). What the key misses,
the JVM's own check at start-up catches: under the default
``-Xshare:auto`` a mismatched archive is skipped and the JVM loads its
classes as usual. A truncated archive is the exception: the JVM maps
it without checking its length and crashes, so an archive's name
carries the length it was published with, checked before each use.

The launcher puts ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``)
first on the classpath, and the dump refuses a non-empty directory
there. When that directory holds only ``*.template`` files, reading it
changes nothing, so the gateway launches with ``SPARK_CONF_DIR``
pointing at an empty directory in the cache, both when dumping and when
using the archive (the classpaths must match). In every other case CDS
stays off, so a user's ``spark-defaults.conf``, ``spark-env.sh`` or
``log4j2.properties`` is never hidden.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

# the header of a JDK dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC, little-endian)
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# options that already steer the JVM's class-data sharing: the caller's choice stands
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# environment variables whose Java options reach the gateway JVM
_JAVA_OPT_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
                 "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS")
# environment variables the launcher adds to the classpath (a non-empty
# directory there fails the dump)
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# The JVM shares its Python process's stdout, where unified logging
# prints its warnings: a dump logs one line per signed jar class it
# skips, a mismatched archive one more. Other JVM warnings stay on.
_QUIET = "-Xlog:cds*=off"
# the dump runs at JVM exit: about 12 s on a 4-core host
_DUMP_WAIT_S = 120.0
# the whole child (JVM start, exercise, dump): about 40 s on a 4-core host
_WRITE_WAIT_S = 300.0
# a session's JVM ends within seconds of EOF on its stdin
_JVM_EXIT_WAIT_S = 60.0
# the writer's exit code when it found nothing to do (another process
# holds the lock, or the archive appeared meanwhile)
_SKIPPED = 3
# a published archive, <key>.<size in bytes>.jsa, and one being dumped, <key>.<pid>.dump
_ARCHIVE = re.compile(r"([0-9a-f]{16})\.(\d+)\.jsa")
_DUMP = re.compile(r"[0-9a-f]{16}\.(\d+)\.dump")
# the driver settings the archive's key and classpath depend on
_KEYED_CONF = ("spark.driver.memory", "spark.driver.extraClassPath")


@dataclass
class Plan:
    mode: str  # "use" | "dump" | "off"
    reason: str
    archive: str | None = None  # the archive mapped
    java_opts: str = ""
    conf_dir: str | None = None  # SPARK_CONF_DIR while the gateway launches
    key: str | None = None
    keyed_conf: dict[str, str] = field(default_factory=dict)  # what the writer needs of conf
    launched: bool = False  # set once the gateway JVM has started

    def record(self) -> dict:
        return {"cds": self.mode, "archive": self.archive, "reason": self.reason}


def cache_root() -> str:
    return os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                        "siddhi_execution_unique_spark", "cds")


def _setting(conf: dict[str, str]) -> tuple[str, str] | str:
    """``(key, conf_dir)`` for a JVM launched with ``conf``, or why it
    gets no class-data sharing. Creates the cache's conf dir."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        return "a JVM is already running in this process"
    env = os.environ
    if "PYSPARK_GATEWAY_PORT" in env:
        return "the JVM was started outside this process (PYSPARK_GATEWAY_PORT)"
    user_opts = [conf.get("spark.driver.extraJavaOptions", ""),
                 conf.get("spark.driver.defaultJavaOptions", "")]
    user_opts += [env.get(k, "") for k in _JAVA_OPT_ENV]
    if any(flag in opts for opts in user_opts for flag in _CDS_FLAGS):
        return "the Java options already set class-data sharing"
    if env.get("SPARK_CONF_DIR"):
        return "SPARK_CONF_DIR is set"
    on_classpath = [k for k in _CLASSPATH_ENV if env.get(k)]
    if on_classpath:
        return f"{on_classpath[0]} adds to the classpath"
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_home = os.path.join(spark_home, "conf")
    if os.path.isdir(conf_home):
        kept = sorted(n for n in os.listdir(conf_home) if not n.endswith(".template"))
        if kept:
            return f"$SPARK_HOME/conf holds {kept[0]}"
    extra_cp = conf.get("spark.driver.extraClassPath", "")
    if any(os.path.isdir(p) and os.listdir(p) for p in extra_cp.split(os.pathsep) if p):
        return "spark.driver.extraClassPath holds a non-empty directory"
    try:
        key = _key(spark_home, extra_cp, conf.get("spark.driver.memory", "1g"))
    except OSError as e:
        return f"no archive key: {e}"
    root = cache_root()
    conf_dir = os.path.join(root, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(root, os.W_OK):
            return f"cache unusable: {root} is not writable"
        if os.listdir(conf_dir):
            return f"{conf_dir} is not empty"
    except OSError as e:
        return f"cache unusable: {e}"
    return key, conf_dir


def plan(conf: dict[str, str]) -> Plan:
    """How the gateway JVM for ``conf`` (the driver's Spark conf) shares
    class data."""
    s = _setting(conf)
    if isinstance(s, str):
        return Plan("off", s)
    key, conf_dir = s
    root = os.path.dirname(conf_dir)
    try:
        archive = _cached(root, key)
    except OSError as e:
        return Plan("off", f"cache unusable: {e}")
    if archive:
        return Plan("use", "cached archive", archive,
                    f"-XX:SharedArchiveFile={shlex.quote(archive)} {_QUIET}", conf_dir, key)
    if os.path.exists(_failed(root, key)):
        return Plan("off", f"writing this archive failed before (see {_log(root)})", key=key)
    keyed = {k: conf[k] for k in _KEYED_CONF if k in conf}
    return Plan("dump", "no cached archive: one is written when this process exits",
                key=key, keyed_conf=keyed)


def with_java_opts(conf: dict[str, str], p: Plan) -> dict[str, str]:
    """``conf`` with the plan's flags ahead of the caller's own
    ``spark.driver.defaultJavaOptions`` (the JVM appends
    ``spark.driver.extraJavaOptions`` after both)."""
    if not p.java_opts:
        return conf
    key = "spark.driver.defaultJavaOptions"
    return {**conf, key: " ".join(filter(None, [p.java_opts, conf.get(key)]))}


@contextmanager
def launching(p: Plan):
    """Wrap the call that may launch the gateway JVM: redirect
    ``SPARK_CONF_DIR`` while it starts and, on a ``dump`` plan, have
    the archive written when this process exits."""
    from pyspark import SparkContext

    before = SparkContext._gateway
    saved = os.environ.get("SPARK_CONF_DIR")
    if p.conf_dir:
        os.environ["SPARK_CONF_DIR"] = p.conf_dir
    try:
        yield
    finally:
        if p.conf_dir:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        gateway = SparkContext._gateway
        p.launched = before is None and gateway is not None
        proc = getattr(gateway, "proc", None) if p.launched else None
        if p.mode == "dump" and proc is not None:
            atexit.register(_write_at_exit, p, proc)


def _write_at_exit(p: Plan, proc: subprocess.Popen) -> None:
    """End this process's JVM (it exits on EOF of its stdin), so two
    JVMs do not hold memory at once, then write the archive."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=_JVM_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            pass
    write(p)


def write(p: Plan) -> str | None:
    """Write the archive for a ``dump`` plan in a child process and wait
    for it; returns the published path. Skipped when the archive exists
    or another process is writing it. The child's output goes to
    ``train.log`` in the cache. A child that fails or outlives
    ``_WRITE_WAIT_S`` marks the key failed, so later processes do not
    retry it until the cache is reset."""
    root = cache_root()
    try:
        if _cached(root, p.key) or _holder_alive(os.path.join(root, f"{p.key}.lock")):
            return None
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "PYTHONPATH": os.pathsep.join(
            [pkg_parent] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])}
        with open(_log(root), "wb") as log:
            child = subprocess.Popen(
                [sys.executable, "-m", __name__, p.key, json.dumps(p.keyed_conf)],
                env=env, cwd=root, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = child.wait(timeout=_WRITE_WAIT_S)
            except subprocess.TimeoutExpired:
                child.kill()
                rc = child.wait()
        published = _cached(root, p.key)
        if published is None and rc != _SKIPPED:
            open(_failed(root, p.key), "w").close()
        return published
    except OSError:
        return None


def _main(key: str, keyed_conf: dict[str, str]) -> int:
    """The writer: start a JVM that dumps its classes at exit, run the
    package on a few rows, end the JVM and publish its archive."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from siddhi_execution_unique_spark import session

    root = cache_root()
    work = tempfile.mkdtemp(prefix="write-", dir=root)
    os.environ.update(TMPDIR=work, SPARK_GRAFT_CPUS="2")
    conf = session.spark_conf("siddhi-cds-archive", 2, {
        **keyed_conf, "spark.master": "local[2]",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}"})
    lock = os.path.join(root, f"{key}.lock")
    s = _setting(conf)
    if isinstance(s, str) or s[0] != key or _cached(root, key) or not _take_lock(lock):
        shutil.rmtree(work, ignore_errors=True)
        print(f"nothing to do: {s if isinstance(s, str) else 'archive present or being written'}")
        return _SKIPPED
    dump = os.path.join(root, f"{key}.{os.getpid()}.dump")
    conf["spark.driver.defaultJavaOptions"] = f"-XX:ArchiveClassesAtExit={shlex.quote(dump)} {_QUIET}"
    os.environ["SPARK_CONF_DIR"] = s[1]
    try:
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        proc = SparkContext._gateway.proc
        try:
            _exercise(spark, work)
        except Exception:  # a partial exercise still archives what it loaded
            traceback.print_exc()
        spark.stop()
        published = publish(dump, key, proc)
        print(f"published {published}" if published else "the dump failed")
        return 0 if published else 1
    finally:
        for path in (dump, lock):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
        shutil.rmtree(work, ignore_errors=True)


_APP = """
from events[value > 10]#window.unique:ever(user_id)
select event_type, count() as n, max(value) as vmax
group by event_type
insert into agg;
"""


def _exercise(spark, work: str) -> None:
    """The package's set-up path and each operator tier once on a few
    rows (a parquet load, the Catalyst operators, the pandas replay
    tier, a SiddhiQL app and a streaming twin), so the archive holds
    the classes a session loads for them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_execution_unique_spark import operators as ops
    from siddhi_execution_unique_spark import siddhiql, streaming
    from siddhi_execution_unique_spark.sources import load_table
    from siddhi_execution_unique_spark.streaming.sources import stream_table

    n, hour = 64, 3_600_000
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([1_704_067_200_000_000 + 600_000_000 * i for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
        "event_type": pa.array([("click", "view", "purchase")[i % 3] for i in range(n)]),
        "value": pa.array([float(i) for i in range(n)]),
        "props": pa.array(['{"k": 1}'] * n),
    })
    sf, stream_dir = os.path.join(work, "sf"), os.path.join(work, "stream")
    for d in (sf, stream_dir):
        os.makedirs(d)
    pq.write_table(table, os.path.join(sf, "events.parquet"))
    pq.write_table(table, os.path.join(stream_dir, "part-0.parquet"))

    def touch(batches):
        import siddhi_execution_unique_spark.operators  # noqa: F401

        yield from batches

    spark.range(0, 2, 1, 2).mapInPandas(touch, "id long").write.format("noop") \
        .mode("overwrite").save()
    ev = load_table(spark, sf, "events")
    kw = {"ts": "ts", "tiebreak": "event_id"}
    for df in (ops.ever(ev, "user_id", **kw),
               ops.time_batch(ev, "user_id", hour, **kw),
               ops.time_window(ev, "user_id", 24 * hour, **kw),
               ops.length_window(ev, "user_id", 10, **kw),
               ops.deduplicate(ev, "user_id", hour, **kw),
               ops.length_batch(ev.select("event_id", "ts", "user_id"), "user_id", 5, **kw),
               siddhiql.run_app(_APP, {"events": ev}, tiebreak="event_id")["agg"]):
        df.toArrow()
    sdf = stream_table(spark, stream_dir, spark.read.parquet(stream_dir).schema)
    q = (streaming.deduplicate_exact_stream(sdf, "user_id", hour, ts="ts")
         .writeStream.format("memory").queryName("cds_exercise").outputMode("append")
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    spark.table("cds_exercise").toArrow()


def publish(dump: str, key: str, proc: subprocess.Popen) -> str | None:
    """End the dumping gateway JVM (it exits on EOF of its stdin) and,
    if it exited with code 0 and wrote a dynamic archive, publish the
    archive under its key and size. Every other archive is removed, and
    so is the dump of a process that died before publishing its own.
    Returns the published path."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not _is_dynamic_archive(dump):
        return None
    root = os.path.dirname(dump)
    final = os.path.join(root, f"{key}.{os.path.getsize(dump)}.jsa")
    os.replace(dump, final)
    for name in os.listdir(root):
        other = _DUMP.fullmatch(name)
        if (name.endswith(".jsa") and name != os.path.basename(final)
                or other and not _pid_alive(int(other.group(1)))
                or name.endswith(".failed")):
            os.remove(os.path.join(root, name))
    return final


def _failed(root: str, key: str) -> str:
    return os.path.join(root, f"{key}.failed")


def _log(root: str) -> str:
    return os.path.join(root, "train.log")


def _key(spark_home: str, extra_cp: str, driver_memory: str) -> str:
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("no java binary")
    java = os.path.realpath(java)
    modules = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"))
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it if e.is_file())
    import pyspark

    parts = [java, modules.st_size, modules.st_mtime_ns, jars, pyspark.__version__,
             extra_cp, _heap_below_32g(driver_memory)]
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:16]


def _heap_below_32g(memory: str) -> bool | None:
    """Whether a Spark memory string (MiB without a suffix) is under
    32 GiB; ``None`` when it does not parse."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", memory.lower())
    if not m:
        return None
    shift = {"k": 10, "": 20, "m": 20, "g": 30, "t": 40, "p": 50}[m.group(2)]
    return int(m.group(1)) << shift < 32 << 30


def _cached(root: str, key: str) -> str | None:
    """The published archive for ``key``. An archive whose length is not
    the one it was published with is removed: the JVM maps the file
    without checking its length, and a truncated one crashes it
    (SIGBUS) at start-up."""
    found = None
    for name in os.listdir(root):
        m = _ARCHIVE.fullmatch(name)
        if not m or m.group(1) != key:
            continue
        path = os.path.join(root, name)
        if os.path.getsize(path) == int(m.group(2)) and _is_dynamic_archive(path):
            found = path
        else:
            os.remove(path)
    return found


def _is_dynamic_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _DYNAMIC_MAGIC
    except OSError:
        return False


def _take_lock(path: str) -> bool:
    """Create ``path`` exclusively with this pid in it; a lock whose
    holder has died is taken over."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _holder_alive(path):
                return False
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _holder_alive(lock: str) -> bool:
    """Whether the process that wrote ``lock`` still runs. A live pid
    whose process started after the lock was written is a later process
    that reuses the dead holder's pid."""
    pid = _read_pid(lock)
    if not _pid_alive(pid):
        return False
    started = _start_time(pid)
    try:
        # /proc/stat's boot time has whole seconds: allow for rounding
        return started is None or started <= os.stat(lock).st_mtime + 2.0
    except FileNotFoundError:
        return False


def _start_time(pid: int) -> float | None:
    """When process ``pid`` started, in seconds since the epoch, from
    ``/proc``; ``None`` where that cannot be read."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the fields after the parenthesised command; starttime is field 22
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            boot = next(int(line.split()[1]) for line in f if line.startswith("btime "))
        return boot + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return None


def _read_pid(path: str) -> int:
    try:
        with open(path) as f:
            return int(f.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _pid_alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1], json.loads(sys.argv[2])))
