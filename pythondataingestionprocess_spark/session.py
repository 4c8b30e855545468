"""SparkSession factory with scale-oriented defaults.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (single JVM),
but every config here is chosen to also make sense on a multi-executor
cluster at ~100 TB:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to core count locally; on a real cluster the
  AQE coalesce makes the initial number far less sensitive
- Arrow enabled for the (rare) Pandas-UDF paths
- UTC session timezone so timestamp semantics are stable across
  environments (and match the DuckDB oracle)

Streaming state store: local runs keep the default HDFS-backed
provider (in-heap, fastest at test-sized state). At cluster scale set
``spark.sql.streaming.stateStore.providerClass`` to the bundled
``RocksDBStateStoreProvider`` — keyed state then lives on executor
local disk (block-cache reads) instead of heap, so dedup/session/
funnel state scales with SSD, not memory. Engine compatibility is
proven by tests/test_streaming.py::test_streaming_agg_on_rocksdb_state_store.

Lean driver launch. The driver JVM starts from a cached view of
``$SPARK_HOME``, ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/home-<key>/``,
instead of the install itself:

- *Contents.* Symlinks to every top-level entry of the install except
  ``jars/`` and ``conf/``; ``conf`` links to the empty conf dir below;
  ``jars/`` links every jar except :data:`LEAN_EXCLUDED_JARS` (each
  with its reason). The key hashes the install's path, its top-level
  names, the exclusion list and every jar's name, size and mtime, so
  an install change builds a new view beside the old.
- *Build.* Into a temp dir renamed into place, so a concurrent builder
  or a crash never leaves a partial view. Any error launches from the
  plain install instead.
- *Overlap.* PySpark imports ``pyspark.testing.utils``, and pandas
  with it, on the first py4j call that carries an argument
  (``NumpyArrayConverter.can_convert``, first reached in
  ``SparkConf.__init__``). A launch starts that import on a daemon
  thread, so it runs while the main thread waits for the JVM.

Driver class-data sharing. Most of a fresh session's start is the
driver JVM loading and verifying ~10k Spark/Netty/Janino classes. When
:func:`get_spark` launches the process's driver JVM, it maps a dynamic
AppCDS archive (JEP 350) of those classes instead:

- *Location and key.* ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/<key>.jsa``,
  where the key hashes the JDK (``java.home`` and its ``release``
  file, which names the version), the launch's jars dir (the view's,
  or the install's on a fallback) by path and by every jar in it
  (name, size, mtime), the other classpath
  sources the launcher reads (the trainer launches with the same
  ``spark.driver.extraClassPath``), and the driver heap setting (it
  fixes the compressed-pointer mode an archive is tied to).
- *Classpath.* JDK 17 dumps no archive while a non-empty directory is
  on the classpath, and the launcher puts the Spark conf dir there.
  So the JVM is launched with ``SPARK_CONF_DIR`` pointing at the
  empty ``spark-graft/conf/``, but only when the effective conf dir
  holds nothing Spark reads (every file a ``*.template``, as in a
  stock install). The same gate applies to the view, and both
  ``SPARK_HOME`` and ``SPARK_CONF_DIR`` are restored once the session
  is up. A conf dir with real files keeps the unchanged launch:
  plain install, unshared.
- *Flag.* ``-XX:SharedArchiveFile`` goes through
  ``spark.driver.defaultJavaOptions``, which the JVM takes together
  with any caller ``spark.driver.extraJavaOptions``.
- *Life cycle.* On a key miss one bounded child process trains the
  archive: it starts a session with ``-XX:ArchiveClassesAtExit``,
  runs a small parquet round-trip / shuffle aggregate / broadcast
  join, stops, waits for its JVM to exit (the dump runs in the JVM's
  exit hook) and validates the dump (checksums, and the classpath it
  was launched with). Only then is the file moved into place, with
  its byte size in ``<key>.size``. The trainer's output goes to
  ``<key>.log`` beside the archive. A failed training leaves
  ``<key>.failed`` and is not retried; a session that finds another
  process training (``<key>.lock`` held) starts unshared.
- *Fallback.* A stale or mismatched archive costs only the speedup:
  the JVM prints one ``[cds]`` warning and starts without sharing. A
  truncated one would crash JDK 17 (SIGBUS), so an archive whose size
  differs from its record is not passed at all. An unusable cache dir
  starts unshared from the plain install, unredirected.
- *Pruning.* A new key (a JDK or Spark update) trains a new archive
  beside the old. Every launch that maps ``<key>.jsa`` touches
  ``<key>.size``, and after a successful training the files of every
  other key unused for :data:`PRUNE_AFTER_S` are deleted, unless
  another process holds its lock. The ``home-*`` views stay: a running
  JVM opens jars from its view lazily.

Driver heap. ``spark.driver.memory`` defaults to half the memory this
process may use (the cgroup limit when one is set, else ``MemTotal``),
between 1g and 16g; ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the trainer took 40-50 s on a 4-core host; past this it is killed and marked failed
TRAIN_TIMEOUT_S = 300
# an archive key no launch has used for this long is deleted after the next training
PRUNE_AFTER_S = 14 * 24 * 3600
# the files one archive key owns in the cache dir
_KEY_FILES = (".jsa", ".size", ".log", ".failed", ".lock")

# Name prefixes of the jars the lean view leaves off the driver
# classpath. No face, pipeline or test uses pyspark.ml, VectorUDT,
# graphx or the image/libsvm sources they carry.
LEAN_EXCLUDED_JARS = (
    # its SparkSessionExtensionsProvider registers mllib's SQL functions
    # in every session (~85% of the session build), and no conf turns
    # it off
    "spark-mllib_",
    # mllib's local linear algebra, reached only through spark-mllib
    "spark-mllib-local_",
    # Scala numerics, reached only through mllib
    "breeze_",
    "breeze-macros_",
    # the graph library; no Python API
    "spark-graphx_",
    # the JDBC/ODBC server; in a driver it only registers a
    # history-server plugin
    "spark-hive-thriftserver_",
)

# this process's cgroup memory limit: v2, then v1
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or len(os.sched_getaffinity(0)))
    except ValueError:
        return len(os.sched_getaffinity(0))


def sql_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The runtime-settable SQL confs of an engine session, defined
    once: :func:`get_spark` builds with them, and the driver contract
    (``__spark_entry__._tune``) sets them on a session it does not
    own. ``shuffle_partitions`` defaults to the local core count — at
    real cluster scale size it to ~2-3x total executor cores and let
    AQE coalesce small post-shuffle partitions."""
    return {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or default_parallelism()
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # spill-awareness: 128 MiB scan splits keep a task's working set
        # well under executor memory even after decode amplification
        # (parquet → row ~2-4×); at the 100 TB target this is the knob
        # that bounds per-task memory together with AQE's
        # advisoryPartitionSizeInBytes for post-shuffle partitions
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024 * 1024),
        # A handful of day-rollup windows use a constant partition key
        # to declare a tiny single-partition window INTENTIONAL (one
        # row per day) instead of tripping WindowExec's
        # no-partition-defined warning on every run. This rule would
        # fold the constant away and resurrect the warning; its only
        # effect is removing foldable window partitions, so excluding
        # it costs nothing.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
        ),
    }


def _builder(app_name: str, conf: dict[str, str]) -> SparkSession.Builder:
    builder = SparkSession.builder.master(f"local[{default_parallelism()}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "pythondataingestionprocess-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session: :func:`sql_conf` plus the confs
    only a new SparkContext can take, then ``extra_conf``. A launch of
    the driver JVM starts from the lean view and maps the class-data
    archive (module docstring)."""
    conf = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory(),
        "spark.ui.enabled": "false",
        **sql_conf(shuffle_partitions),
        **(extra_conf or {}),
    }
    env: dict[str, str] = {}
    # a process launches its driver JVM once; later contexts reuse it
    if SparkContext._gateway is None:
        launch = _driver_launch(conf)
        if launch is not None:
            env, archive = launch
            if archive is not None:
                conf["spark.driver.defaultJavaOptions"] = " ".join(
                    filter(None, [f"-XX:SharedArchiveFile={archive}",
                                  conf.get("spark.driver.defaultJavaOptions")])
                )
        threading.Thread(target=_import_numpy_bridge, daemon=True).start()
    with _environ(env):
        spark = _builder(app_name, conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _driver_memory(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = _CGROUP_MEMORY_LIMITS
) -> str:
    """Half the memory this process may use, between 1g and 16g: the
    smaller of ``MemTotal`` and a cgroup limit (``max``, or a v1 limit
    above ``MemTotal``, means none)."""
    limits = []
    with contextlib.suppress(OSError, ValueError), open(meminfo) as f:
        limits += [int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:")]
    for path in cgroup_limits:
        with contextlib.suppress(OSError, ValueError), open(path) as f:  # absent, or "max"
            limits.append(int(f.read()))
    mib = min(limits) // 2**21 if limits else 16384
    return f"{max(1024, min(16384, mib))}m"


def _import_numpy_bridge() -> None:
    """Import what PySpark imports on its first py4j call with an
    argument (module docstring, *Overlap*)."""
    with contextlib.suppress(ImportError):
        import pyspark.testing.utils  # noqa: F401


@contextlib.contextmanager
def _environ(values: dict[str, str]):
    """Set ``values`` in ``os.environ`` for the block, then restore
    each key as it was (unset when it was unset)."""
    saved = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


# ---- driver class-data sharing ------------------------------------------------

def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "spark-graft")


def _holds_only_templates(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _lean_home(spark_home: str, root: str) -> str | None:
    """The lean view of ``spark_home`` under ``root`` (module
    docstring), built on first use; None when it cannot be built."""
    spark_home = os.path.abspath(spark_home)
    try:
        names = sorted(os.listdir(spark_home))
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        h = hashlib.sha256(f"{spark_home}\n{names}\n{LEAN_EXCLUDED_JARS}\n".encode())
        for jar in jars:
            st = jar.stat()
            h.update(f"{jar.name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        view = os.path.join(root, f"home-{h.hexdigest()[:24]}")
        if os.path.isdir(view):
            return view
        tmp = f"{view}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "jars"))
        os.symlink(os.path.join(os.pardir, "conf"), os.path.join(tmp, "conf"))
        for name in names:
            if name not in ("conf", "jars"):
                os.symlink(os.path.join(spark_home, name), os.path.join(tmp, name))
        for jar in jars:
            if not jar.name.startswith(LEAN_EXCLUDED_JARS):
                os.symlink(jar.path, os.path.join(tmp, "jars", jar.name))
        try:
            os.rename(tmp, view)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(view):  # else a concurrent builder won
                raise
        return view
    except OSError:
        return None


def _archive_key(spark_home: str, conf: dict[str, str]) -> str | None:
    """The hash that names the archive of a launch from ``spark_home``,
    or None when the JDK cannot be found. Inputs as spark-class resolves
    them."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    # CDS checks the classpath strings, so the dir the launcher names
    # the jars by is part of the key, not only what is in it
    jars_dir = os.path.join(os.path.abspath(spark_home), "jars")
    h = hashlib.sha256(f"{jars_dir}\n".encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        for jar in sorted(os.scandir(jars_dir), key=lambda e: e.name):
            st = jar.stat()
            h.update(f"{jar.name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    for part in (
        java_home,
        conf["spark.driver.memory"],
        conf.get("spark.driver.extraClassPath", ""),
        *(os.environ.get(v, "") for v in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")),
    ):
        h.update(f"{part}\n".encode())
    return h.hexdigest()[:24]


def _driver_launch(conf: dict[str, str]) -> tuple[dict[str, str], str | None] | None:
    """The environment a new driver JVM launched with ``conf`` starts
    under (``SPARK_HOME`` the lean view, or the install when the view
    cannot be built; ``SPARK_CONF_DIR`` the empty conf dir) and the
    archive it maps, trained on a key miss. None when the launch keeps
    the caller's environment (real conf files, unusable cache dir); the
    archive is None when it cannot share (no JDK, failed or concurrent
    training, an archive no longer its recorded size)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    if not _holds_only_templates(
        os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    ):
        return None
    root = _cache_dir()
    empty_conf_dir = os.path.join(root, "conf")
    try:
        os.makedirs(empty_conf_dir, exist_ok=True)
    except OSError:
        return None
    home = _lean_home(spark_home, root) or spark_home
    env = {"SPARK_HOME": home, "SPARK_CONF_DIR": empty_conf_dir}
    key = _archive_key(home, conf)
    if key is None:
        return env, None
    base = os.path.join(root, key)
    try:
        if not os.path.exists(f"{base}.jsa"):
            _train_archive(base, env, conf["spark.driver.memory"],
                           conf.get("spark.driver.extraClassPath", ""))
        # JDK 17 dies with SIGBUS on a truncated archive instead of
        # falling back, so a launch maps only the size it was validated at
        with open(f"{base}.size") as f:
            intact = int(f.read()) == os.path.getsize(f"{base}.jsa")
    except (OSError, ValueError):
        return env, None
    if not intact:
        return env, None
    with contextlib.suppress(OSError):
        os.utime(f"{base}.size")  # the key's last use, for _prune_keys
    return env, f"{base}.jsa"


def _train_archive(base: str, launch_env: dict[str, str], heap: str, class_path: str) -> None:
    """Build and validate ``<base>.jsa`` (its size in ``<base>.size``)
    in one bounded child process that launches under ``launch_env``,
    or leave ``<base>.failed``. Returns
    at once if either exists or another process holds ``<base>.lock``."""
    archive, failed = f"{base}.jsa", f"{base}.failed"
    with open(f"{base}.lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return
        if os.path.exists(archive) or os.path.exists(failed):
            return
        tmp = f"{base}.{os.getpid()}.tmp"
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {
            **os.environ,
            **launch_env,
            "PYTHONPATH": os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")])),
        }
        code = f"from {__package__}.session import _train; _train()"
        with open(f"{base}.log", "w") as log:
            # its own process group: whatever it leaves running (its JVM
            # after a failure or timeout) is killed with it
            proc = subprocess.Popen(
                [sys.executable, "-c", code, tmp, heap, class_path], env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                ok = proc.wait(timeout=TRAIN_TIMEOUT_S) == 0
            except subprocess.TimeoutExpired:
                ok = False
            finally:
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if ok:
            with open(f"{base}.size", "w") as f:
                f.write(str(os.path.getsize(tmp)))
            os.replace(tmp, archive)
            with contextlib.suppress(OSError):
                _prune_keys(os.path.dirname(base), keep=os.path.basename(base))
        else:
            open(failed, "w").close()
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)


def _prune_keys(root: str, keep: str) -> None:
    """Delete the files of every archive key in ``root`` but ``keep``
    whose newest file is older than :data:`PRUNE_AFTER_S`, skipping a
    key whose lock another process holds."""
    last_use: dict[str, float] = {}
    with os.scandir(root) as entries:
        for e in entries:
            key, _, ext = e.name.partition(".")
            if f".{ext}" in _KEY_FILES and key != keep and e.is_file(follow_symlinks=False):
                last_use[key] = max(last_use.get(key, 0.0), e.stat().st_mtime)
    cutoff = time.time() - PRUNE_AFTER_S
    for key in (k for k, t in last_use.items() if t < cutoff):
        base = os.path.join(root, key)
        with open(f"{base}.lock", "a") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                continue
            for ext in _KEY_FILES:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(base + ext)


def _train() -> None:
    """Trainer child (``argv``: dump path, the launch's driver heap and
    extra classpath): exercise the classes a typical session loads, let
    the JVM dump them, and exit 0 only if the dump validates (checksums
    and classpath) against the launch it was made for."""
    from pyspark.sql import functions as F

    dump, heap, extra_class_path = sys.argv[1:4]
    conf = {
        "spark.driver.memory": heap,
        "spark.ui.enabled": "false",
        **sql_conf(),
        "spark.driver.defaultJavaOptions": (
            f"-XX:ArchiveClassesAtExit={dump} -XX:+VerifySharedSpaces"
        ),
    }
    if extra_class_path:
        conf["spark.driver.extraClassPath"] = extra_class_path
    spark = _builder("spark-graft-class-data", conf).getOrCreate()
    jvm = spark.sparkContext._gateway.proc
    props = spark._jvm.System
    java, class_path = (
        os.path.join(props.getProperty("java.home"), "bin", "java"),
        props.getProperty("java.class.path"),
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        spark.range(20_000).selectExpr(
            "id", "id % 97 AS k", "CAST(id AS STRING) AS s", "id * 0.5 AS x"
        ).write.parquet(path)
        facts = spark.read.parquet(path)
        dim = spark.range(97).selectExpr("id AS k", "concat('n', CAST(id AS STRING)) AS name")
        (
            facts.groupBy("k").agg(F.sum("x").alias("x"), F.countDistinct("s").alias("n"))
            .join(F.broadcast(dim), "k")
            .orderBy("k")
            .toPandas()
        )
    spark.stop()
    # the JVM exits on stdin EOF and dumps the archive in its exit hook
    jvm.stdin.close()
    if jvm.wait(timeout=TRAIN_TIMEOUT_S) != 0:
        sys.exit(1)
    check = subprocess.run(
        [java, f"-Xmx{heap}", f"-XX:SharedArchiveFile={dump}", "-XX:+VerifySharedSpaces",
         "-XX:+PrintSharedArchiveAndExit", "-cp", class_path],
        capture_output=True, text=True, timeout=TRAIN_TIMEOUT_S,
    )
    print(check.stdout[-500:], check.stderr[-2000:])
    sys.exit(0 if check.returncode == 0 and "archive is valid" in check.stdout else 1)
