"""The driver JVM starts from a class-data-sharing archive (session.py).

The pure tests pin when CDS applies and what names an archive. The JVM
tests run sessions in subprocesses under a temporary ``XDG_CACHE_HOME``:
the first records the classes it loads and dumps the archive at exit, the
second starts from it; a conf dir with a ``spark-defaults.conf`` keeps the
plain launch; a truncated archive is never published.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from blink_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One session: print the JVM's input arguments, one conf value and the
# driver JVM description the archive is dumped with, as the last line.
_PROBE = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from blink_spark.session import _driver_jvm, get_spark
spark = get_spark("cds_probe", cores=1)
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({{"args": args, "marker": spark.conf.get("spark.blinktest.marker", None),
                  "jvm": _driver_jvm(spark)}}))
"""


def _templates_only(path):
    os.makedirs(path)
    for name in ("spark-defaults.conf.template", "log4j2.properties.template"):
        open(os.path.join(path, name), "w").close()


def test_cds_needs_a_template_only_conf_dir(tmp_path, monkeypatch):
    for var in session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    conf = str(tmp_path / "conf")
    _templates_only(conf)
    monkeypatch.setenv("SPARK_CONF_DIR", conf)
    assert session._cds_usable(str(tmp_path))
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert not session._cds_usable(str(tmp_path))
    monkeypatch.delenv("HADOOP_CONF_DIR")
    open(os.path.join(conf, "spark-defaults.conf"), "w").close()
    assert not session._cds_usable(str(tmp_path))
    # without SPARK_CONF_DIR the launcher reads $SPARK_HOME/conf
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert not session._cds_usable(str(tmp_path))
    _templates_only(str(tmp_path / "home" / "conf"))
    assert session._cds_usable(str(tmp_path / "home"))


def test_cds_key_follows_each_jar(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)
        os.utime(jars / name, ns=(10**18, 10**18))
    key = session._cds_key(str(tmp_path))
    assert key and key == session._cds_key(str(tmp_path))
    (jars / "b.jar").write_bytes(b"x" * 11)
    os.utime(jars / "b.jar", ns=(10**18, 10**18))
    sized = session._cds_key(str(tmp_path))
    assert sized != key
    os.utime(jars / "a.jar", ns=(10**18, 10**18 + 1))
    assert session._cds_key(str(tmp_path)) not in (key, sized)


def _session(env):
    r = subprocess.run([sys.executable, "-c", _PROBE], env=env, cwd=REPO,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.splitlines()[-1])


def _jvms_under(path):
    """Live processes whose command line names ``path``."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if path.encode() in f.read():
                    found.append(pid)
        except OSError:
            pass
    return found


@pytest.fixture(scope="module")
def cds_runs(tmp_path_factory):
    """Two sessions under one fresh cache: the first records and dumps,
    the second starts from the archive."""
    xdg = str(tmp_path_factory.mktemp("xdg"))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV)}
    env["XDG_CACHE_HOME"] = xdg
    cache = os.path.join(xdg, "blink_spark", "cds")
    first = _session(env)
    after_first = sorted(os.listdir(cache))
    second = _session(env)
    yield cache, first, after_first, second
    shutil.rmtree(xdg, ignore_errors=True)


def test_first_session_records_and_leaves_one_archive(cds_runs):
    cache, first, after_first, _ = cds_runs
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in first["args"])
    archives = [n for n in after_first if n.endswith(".jsa")]
    assert len(archives) == 1 and after_first == sorted(["conf", *archives]), after_first
    assert os.listdir(os.path.join(cache, "conf")) == []
    assert _jvms_under(cache) == []


def test_second_session_starts_from_the_archive(cds_runs):
    cache, _, after_first, second = cds_runs
    archive = os.path.join(cache, next(n for n in after_first if n.endswith(".jsa")))
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert not any("DumpLoadedClassList" in a for a in second["args"])
    assert sorted(os.listdir(cache)) == after_first


def test_truncated_archive_is_never_published(cds_runs, tmp_path):
    cache, _, after_first, second = cds_runs
    archive = os.path.join(cache, next(n for n in after_first if n.endswith(".jsa")))
    tmp, final = str(tmp_path / "t.jsa.tmp"), str(tmp_path / "t.jsa")
    with open(archive, "rb") as src, open(tmp, "wb") as dst:
        dst.write(src.read(os.path.getsize(archive) // 3))
    assert not session._publish(second["jvm"], tmp, final)
    assert os.listdir(tmp_path) == []
    # the whole archive passes the same check
    shutil.copyfile(archive, tmp)
    assert session._publish(second["jvm"], tmp, final)
    assert os.listdir(tmp_path) == ["t.jsa"]


def test_conf_dir_with_defaults_keeps_the_plain_launch(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.blinktest.marker  from-defaults\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV)}
    env.update(SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(tmp_path / "xdg"))
    got = _session(env)
    assert got["marker"] == "from-defaults"
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a for a in got["args"])
    assert not os.path.exists(tmp_path / "xdg")


def test_default_cpus_follow_the_affinity_mask():
    taskset = shutil.which("taskset")
    if taskset is None:
        pytest.skip("taskset not installed")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    r = subprocess.run(
        [taskset, "-c", "0", sys.executable, "-c",
         f"import sys; sys.path.insert(0, {REPO!r}); "
         "from blink_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        env=env, capture_output=True, text=True, timeout=120, check=True)
    assert r.stdout.split() == ["1"]
