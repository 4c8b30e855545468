"""``session``: the local parallelism, the default driver heap, the
lean launch view and driver class-data sharing in ``get_spark``. A
fresh-cache launch starts from the view, without the excluded jars. A
cache miss trains an archive that validates against
the launch classpath; a later launch maps it next to the caller's own
java options (and, trained under it, the caller's extra classpath) and
records its use, and a training prunes other keys unused for two weeks; a
stale or truncated archive, a conf dir with real
config, or an unusable cache dir each start an unchanged, unshared
session. Every JVM check starts a fresh driver in a subprocess against
a cache dir of its own."""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import pytest

from pythondataingestionprocess_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one fresh session: the answer to a small query, what the JVM was
# launched with, and the process env after get_spark returned
_PROBE = r"""
import json, os, sys
from pythondataingestionprocess_spark.session import get_spark
spark = get_spark(extra_conf=json.loads(sys.argv[1]))
jvm = spark._jvm
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
print("RESULT " + json.dumps({
    "answer": sorted([r["k"], r["count"]] for r in rows),
    "jvm_args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "class_path": jvm.System.getProperty("java.class.path"),
    "java_home": jvm.System.getProperty("java.home"),
    "probe_prop": jvm.System.getProperty("graft.probe"),
    "probe_conf": spark.conf.get("spark.graft.probe", None),
    "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
    "spark_home_after": os.environ.get("SPARK_HOME"),
}))
spark.stop()
"""

ANSWER = sorted([k, sum(1 for i in range(1000) if i % 7 == k)] for k in range(7))


def _session(cache: str, extra_conf: dict | None = None, conf_dir: str | None = None,
             cwd: str | None = None) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env["XDG_CACHE_HOME"] = cache
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = conf_dir
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(conf)], env=env, cwd=cwd or cache,
        capture_output=True, text=True, timeout=2 * session.TRAIN_TIMEOUT_S,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return {**json.loads(lines[-1][len("RESULT "):]), "stdout": proc.stdout, "stderr": proc.stderr}


def _files(cache: str) -> dict[str, int]:
    root = os.path.join(cache, "spark-graft")
    return {n: os.path.getsize(os.path.join(root, n)) for n in os.listdir(root)} if os.path.isdir(root) else {}


def _archive(cache: str) -> str:
    (name,) = [n for n in _files(cache) if n.endswith(".jsa")]
    return os.path.join(cache, "spark-graft", name)


def _install() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.abspath(_find_spark_home())


def _jar_names(class_path: str) -> set[str]:
    return {os.path.basename(p) for p in class_path.split(os.pathsep) if p.endswith(".jar")}


def _shared_classes(log_path: str) -> int:
    with open(log_path) as f:
        return sum("shared objects file (top)" in line for line in f)


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache dir after one session that found it empty."""
    cache = str(tmp_path_factory.mktemp("cds"))
    return cache, _session(cache)


def test_cache_miss_trains_an_archive_that_validates_against_the_launch_classpath(trained):
    cache, first = trained
    assert first["answer"] == ANSWER
    names = _files(cache)
    assert not [n for n in names if n.endswith((".failed", ".tmp"))], names
    archive = _archive(cache)
    assert names[os.path.basename(archive)] > 0
    with open(archive[:-4] + ".size") as f:
        assert int(f.read()) == os.path.getsize(archive)
    # the trainer's output went to its log, not to the caller
    assert names[os.path.basename(archive)[:-4] + ".log"] > 0
    assert "Signed JAR" not in first["stderr"]
    # the launch ran with the empty conf dir, and the caller's env is back
    empty = os.path.join(cache, "spark-graft", "conf")
    assert first["class_path"].split(os.pathsep)[0].rstrip("/") == empty
    assert os.listdir(empty) == []
    assert first["conf_dir_after"] is None
    heap = [a for a in first["jvm_args"] if a.startswith("-Xmx")]
    check = subprocess.run(
        [os.path.join(first["java_home"], "bin", "java"), *heap,
         f"-XX:SharedArchiveFile={archive}", "-XX:+PrintSharedArchiveAndExit",
         "-cp", first["class_path"]],
        capture_output=True, text=True, timeout=120,
    )
    assert check.returncode == 0 and "archive is valid" in check.stdout, check.stdout[-2000:]


def test_fresh_cache_session_launches_from_the_lean_view(trained):
    cache, first = trained
    assert first["answer"] == ANSWER
    install = sorted(os.listdir(os.path.join(_install(), "jars")))
    excluded = [n for n in install if n.startswith(session.LEAN_EXCLUDED_JARS)]
    assert {p.split("_")[0] for p in session.LEAN_EXCLUDED_JARS} <= {n.split("_")[0] for n in excluded}
    kept = {n for n in install if n.endswith(".jar") and n not in excluded}
    assert _jar_names(first["class_path"]) == kept
    (view,) = [n for n in _files(cache) if n.startswith("home-")]
    jars = [p for p in first["class_path"].split(os.pathsep) if p.endswith(".jar")]
    assert {os.path.dirname(p) for p in jars} == {os.path.join(cache, "spark-graft", view, "jars")}
    # SPARK_HOME and SPARK_CONF_DIR pointed at the view only for the launch
    assert first["spark_home_after"] == os.environ.get("SPARK_HOME")
    assert first["conf_dir_after"] is None


def test_later_session_maps_the_archive_beside_caller_java_options(trained, tmp_path):
    cache, _ = trained
    before = _files(cache)
    size_file = _archive(cache)[:-4] + ".size"
    os.utime(size_file, (0, 0))
    log = tmp_path / "class-load.log"
    out = _session(cache, {
        "spark.driver.extraJavaOptions": f"-Dgraft.probe=1 -Xlog:class+load=info:file={log}",
    })
    assert out["answer"] == ANSWER
    assert out["probe_prop"] == "1"
    assert f"-XX:SharedArchiveFile={_archive(cache)}" in out["jvm_args"]
    assert _shared_classes(str(log)) > 1000
    assert _files(cache) == before  # no second training
    # the launch that mapped the archive recorded its use
    assert os.path.getmtime(size_file) > time.time() - 3600


def test_training_prunes_only_other_keys_unused_for_the_window(tmp_path):
    root = str(tmp_path)
    old = time.time() - session.PRUNE_AFTER_S - 3600
    recent = time.time() - session.PRUNE_AFTER_S + 3600
    stale, failed, used, locked, trained = (c * 24 for c in "abcde")
    for key, exts in {
        stale: (".jsa", ".size", ".log", ".lock"),
        failed: (".failed", ".log", ".lock"),
        used: (".jsa", ".size"),  # a launch touched .size within the window
        locked: (".jsa", ".size", ".lock"),  # another process holds its lock
        trained: (".jsa", ".size", ".log", ".lock"),  # the key that just trained
    }.items():
        for ext in exts:
            open(os.path.join(root, key + ext), "w").close()
            os.utime(os.path.join(root, key + ext), (old, old))
    os.utime(os.path.join(root, used + ".size"), (recent, recent))
    # a view and a crashed trainer's temp file are not key files
    view, tmp = os.path.join(root, "home-" + "f" * 24), os.path.join(root, f"{stale}.123.tmp")
    os.mkdir(view)
    open(tmp, "w").close()
    for path in (view, tmp):
        os.utime(path, (old, old))
    with open(os.path.join(root, locked + ".lock")) as held:
        fcntl.flock(held, fcntl.LOCK_EX | fcntl.LOCK_NB)
        session._prune_keys(root, keep=trained)
    assert sorted(os.listdir(root)) == sorted([
        f"{used}.jsa", f"{used}.size",
        f"{locked}.jsa", f"{locked}.size", f"{locked}.lock",
        f"{trained}.jsa", f"{trained}.size", f"{trained}.log", f"{trained}.lock",
        os.path.basename(view), os.path.basename(tmp),
    ])


def test_launch_with_extra_class_path_maps_the_archive_it_trained(tmp_path):
    """The trainer launches with the caller's extra classpath, so the
    archive keyed by it validates against the launch that maps it."""
    cache, jar = str(tmp_path / "cache"), str(tmp_path / "extra.jar")
    os.makedirs(cache)
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    conf = {"spark.driver.extraClassPath": jar}
    assert _session(cache, conf)["answer"] == ANSWER  # trains the archive
    before = _files(cache)
    log = tmp_path / "class-load.log"
    out = _session(cache, {
        **conf, "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}",
    })
    assert out["answer"] == ANSWER
    assert jar in out["class_path"].split(os.pathsep)
    assert "Unable to use shared archive" not in out["stdout"] + out["stderr"]
    assert _shared_classes(str(log)) > 1000
    assert _files(cache) == before  # no second training


def _rekey(copy: str, monkeypatch) -> None:
    """Rename a copied cache's archive files to the key a launch from
    the copy computes: it hashes the view's jars dir, which moved with
    the cache."""
    monkeypatch.setenv("XDG_CACHE_HOME", copy)
    root = session._cache_dir()
    view = session._lean_home(_install(), root)
    assert view is not None and view.startswith(root)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session._driver_memory()
    new = session._archive_key(view, {"spark.driver.memory": heap})
    old = os.path.basename(_archive(copy))[:-4]
    for name in os.listdir(root):
        if name.startswith(old + "."):
            os.rename(os.path.join(root, name), os.path.join(root, new + name[len(old):]))


@pytest.mark.parametrize("damage", ["truncated", "stale"])
def test_damaged_archive_starts_an_unshared_session_that_answers(trained, tmp_path, monkeypatch, damage):
    cache, _ = trained
    copy = str(tmp_path / "cache")
    shutil.copytree(cache, copy, symlinks=True)
    _rekey(copy, monkeypatch)
    archive = _archive(copy)
    if damage == "truncated":
        os.chmod(archive, 0o644)
        with open(archive, "r+b") as f:
            f.truncate(os.path.getsize(archive) // 2)
    # "stale": the copy's empty conf dir and view have new paths, so the
    # classpath the archive recorded no longer matches the launch
    before = _files(copy)
    log = tmp_path / "class-load.log"
    out = _session(copy, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert out["answer"] == ANSWER
    assert _shared_classes(str(log)) == 0
    assert _files(copy) == before  # a bad archive is not retrained


def test_conf_dir_with_real_config_gets_no_redirect(tmp_path):
    cache, conf_dir = str(tmp_path / "cache"), tmp_path / "conf"
    os.makedirs(cache)
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.graft.probe  42\n")
    (conf_dir / "spark-env.sh.template").write_text("")
    out = _session(cache, conf_dir=str(conf_dir))
    assert out["answer"] == ANSWER
    assert out["probe_conf"] == "42"
    assert out["class_path"].split(os.pathsep)[0].rstrip("/") == str(conf_dir)
    assert not [a for a in out["jvm_args"] if "SharedArchive" in a or "ArchiveClasses" in a]
    assert out["conf_dir_after"] == str(conf_dir)
    assert _files(cache) == {}  # nothing trained, nothing cached


def test_unusable_cache_dir_shares_nothing(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._driver_launch({"spark.driver.memory": "1g"}) is None


def test_unwritable_cache_root_starts_from_the_plain_install(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    out = _session(str(blocker), cwd=str(tmp_path))
    assert out["answer"] == ANSWER
    install = {n for n in os.listdir(os.path.join(_install(), "jars")) if n.endswith(".jar")}
    assert _jar_names(out["class_path"]) == install
    assert [n for n in install if n.startswith("spark-mllib_")]
    assert not [a for a in out["jvm_args"] if "SharedArchive" in a or "ArchiveClasses" in a]
    assert out["spark_home_after"] == os.environ.get("SPARK_HOME")
    assert out["conf_dir_after"] is None


def test_lean_view_links_the_install_minus_the_excluded_jars(tmp_path):
    home, root = tmp_path / "spark", tmp_path / "cache"
    (home / "jars").mkdir(parents=True)
    (home / "bin").mkdir()
    (home / "conf").mkdir()
    (home / "RELEASE").write_text("Spark\n")
    for name in ("spark-core_2.13-4.1.2.jar", "spark-mllib_2.13-4.1.2.jar",
                 "spark-mllib-local_2.13-4.1.2.jar", "breeze_2.13-2.1.0.jar", "derby-10.16.1.1.jar"):
        (home / "jars" / name).write_text(name)
    root.mkdir()
    view = session._lean_home(str(home), str(root))
    assert view is not None and os.path.dirname(view) == str(root)
    assert sorted(os.listdir(view)) == ["RELEASE", "bin", "conf", "jars"]
    assert os.readlink(os.path.join(view, "conf")) == os.path.join(os.pardir, "conf")
    assert os.path.realpath(os.path.join(view, "bin")) == os.path.realpath(home / "bin")
    assert sorted(os.listdir(os.path.join(view, "jars"))) == [
        "derby-10.16.1.1.jar", "spark-core_2.13-4.1.2.jar"]
    assert session._lean_home(str(home), str(root)) == view  # cached
    assert not [n for n in os.listdir(root) if n.endswith(".tmp")]
    # a changed install gets a view of its own
    (home / "jars" / "extra.jar").write_text("x")
    assert session._lean_home(str(home), str(root)) not in (None, view)
    # a root that cannot hold a view builds none
    assert session._lean_home(str(home), str(tmp_path / "spark" / "RELEASE")) is None


def test_archive_key_tells_apart_homes_with_equal_jars(tmp_path):
    homes = [tmp_path / "a", tmp_path / "b"]
    for home in homes:
        (home / "jars").mkdir(parents=True)
        jar = home / "jars" / "spark-core_2.13-4.1.2.jar"
        jar.write_text("same bytes")
        os.utime(jar, ns=(1_700_000_000_000_000_000,) * 2)
    conf = {"spark.driver.memory": "1g"}
    keys = [session._archive_key(str(h), conf) for h in homes]
    assert None not in keys and keys[0] != keys[1]
    assert session._archive_key(str(homes[0]), conf) == keys[0]


def test_default_driver_memory_is_half_of_what_the_process_may_use(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:       16479424 kB\n")
    v2, v1, missing = tmp_path / "memory.max", tmp_path / "limit_in_bytes", str(tmp_path / "none")

    def heap(*cgroups):
        return session._driver_memory(str(meminfo), tuple(str(c) for c in cgroups))

    assert heap(missing) == "8046m"
    v2.write_text("max\n")
    assert heap(v2, missing) == "8046m"
    v2.write_text(f"{6 * 2**30}\n")
    assert heap(v2) == "3072m"
    v1.write_text("9223372036854771712\n")  # v1's "no limit"
    assert heap(missing, v1) == "8046m"
    v2.write_text(f"{512 * 2**20}\n")
    assert heap(v2, v1) == "1024m"  # floor
    meminfo.write_text("MemTotal:       67108864 kB\n")
    assert heap(missing) == "16384m"  # cap
    assert session._driver_memory(missing, ()) == "16384m"


def test_only_template_conf_dirs_are_redirected(tmp_path):
    (tmp_path / "spark-defaults.conf.template").write_text("")
    assert session._holds_only_templates(str(tmp_path))
    (tmp_path / "log4j2.properties").write_text("")
    assert not session._holds_only_templates(str(tmp_path))
    assert session._holds_only_templates(str(tmp_path / "missing"))
    assert not session._holds_only_templates(str(tmp_path / "log4j2.properties"))


def test_default_parallelism_counts_the_cpus_this_process_may_run_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
