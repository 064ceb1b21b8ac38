"""SparkSession factory.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one you
would set on a 1000-executor cluster too: AQE on (runtime coalesce + skew-join
splitting), shuffle partitions sized to parallelism, Arrow enabled for the
vectorized pandas-UDF path (the only Python in the hot path).

The whole-stage-codegen class cache is sized to hold every generated class
one session's pipeline runs and queries produce, so a warm run compiles
nothing: Spark's default of 100 entries is smaller than one checkpointed
run's classes, and an LRU cache under that cyclic access misses every time.

A Python task's fixed cost was mostly neither Arrow nor closure
unpickling: PySpark's worker calls ``importlib.invalidate_caches()`` before
every task, and before CPython 3.13 that re-parses the central directory of
every zip on the worker's ``sys.path`` (pyspark.zip, py4j, the spark-core
jar: ~26.7k entries, 0.14-0.28 s of one core per task on a 4-core host).
Importing ``blink_spark``, which every UDF and kernel it ships does in the
worker, makes that re-read conditional on the archive having changed, so in
a reused worker the call takes ~0.2 ms.

The driver JVM loads ~21k classes before its first pass. When ``get_spark``
launches that JVM it starts it from a class-data-sharing (CDS) archive of
the classes an earlier run loaded (``-XX:SharedArchiveFile``); with no
archive yet, the JVM records the classes it loads and, at interpreter exit,
``java -Xshare:dump`` builds the archive from that list. On 4 CPUs this cut
perfbench ``retrieve_topk``'s session start from 5.5 to 2.5 s and its
``setup_s`` (start plus one cold pass) from 14.8 to 8.8 s. The archive
lives in ``$XDG_CACHE_HOME/blink_spark/cds`` (``~/.cache`` by default),
named by a hash of the java binary and the Spark jars; deleting that
directory resets it. CDS refuses a classpath that holds a non-empty
directory, and Spark's launcher puts its conf dir on the classpath, so the
driver gets an empty conf dir instead. That is done only when it changes
nothing: the real conf dir holds nothing but ``*.template`` files and no
other classpath entry is set (``_CLASSPATH_ENV``). Otherwise the launch is
the plain one.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Spark's launcher adds each of these to the driver's classpath.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# Seconds: `java -Xshare:dump` takes 25-35 s on 4 CPUs; the driver JVM's exit.
_DUMP_TIMEOUT, _JVM_EXIT_TIMEOUT = 600, 60


def _cds_usable(spark_home: str) -> bool:
    """True when the driver may run with an empty conf dir: Spark's own conf
    dir holds only templates (no spark-defaults.conf, spark-env.sh or
    log4j2.properties to lose) and nothing else joins the classpath."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return False
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(n.endswith(".template") for n in os.listdir(conf))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _cds_key(spark_home: str) -> str | None:
    """Hash of the driver's java binary, its JDK's class image and the Spark
    jars (path, size, mtime): an archive is valid only for the classes it
    was dumped from."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    java = os.path.realpath(java)
    modules = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")
    jars = os.path.join(spark_home, "jars")
    h = hashlib.blake2b(digest_size=12)
    try:
        for path in (java, modules, *(os.path.join(jars, n) for n in sorted(os.listdir(jars)))):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return h.hexdigest()


class _CdsPlan(NamedTuple):
    conf_dir: str  # empty; the driver's SPARK_CONF_DIR
    archive: str
    classlist: str  # where a recording JVM lists the classes it loads
    record: bool  # no archive yet: record the classes, dump at exit


def _cds_plan() -> _CdsPlan | None:
    """How to start a JVM this process is about to launch, or None to
    launch it as Spark would."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    if not _cds_usable(spark_home) or (key := _cds_key(spark_home)) is None:
        return None
    xdg = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(xdg, "blink_spark", "cds")
    conf = os.path.join(cache, "conf")
    try:
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf) or not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    return _CdsPlan(conf, archive, os.path.join(cache, f"{key}.{os.getpid()}.classlist"),
                    not os.path.exists(archive))


@contextlib.contextmanager
def _spark_conf_dir(path: str):
    """SPARK_CONF_DIR is ``path`` for the block (the gateway launch)."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _run_java(jvm: tuple[str, str, list[str]], cwd: str, *opts: str) -> None:
    """Run the driver's java with its classpath and flags (``jvm``, from
    ``_driver_jvm``) and ``opts``, quietly: stdout belongs to the caller,
    and a dump prints hundreds of signed-jar warnings. ``cwd`` is the cache
    dir, so a crash log lands where the next dump sweeps it away."""
    java, cp, flags = jvm
    subprocess.run([java, "-cp", cp, *flags, *opts], cwd=cwd,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=_DUMP_TIMEOUT, check=True)


def _driver_jvm(spark: SparkSession) -> tuple[str, str, list[str]]:
    """The driver's java binary, expanded classpath and the flags that
    shape an archive: module options and the heap size (which fixes the
    compressed-oops mode the archive must match)."""
    jvm = spark.sparkContext._jvm
    prop = jvm.java.lang.System.getProperty
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    flags = [a for a in args if a.startswith(("--add-", "-Xmx"))
             or a == "-XX:+IgnoreUnrecognizedVMOptions"]
    java = os.path.join(prop("java.home"), "bin", "java")
    return java, prop("java.class.path"), flags


def _publish(jvm: tuple[str, str, list[str]], tmp: str, archive: str) -> bool:
    """Move the dumped archive ``tmp`` to ``archive`` if a JVM starts from
    it; remove it otherwise. Atomic, because a JVM that maps a truncated
    archive can die with SIGBUS."""
    try:
        _run_java(jvm, os.path.dirname(archive),
                  "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", "-version")
        os.replace(tmp, archive)
        return True
    except (OSError, subprocess.SubprocessError):
        _remove(tmp)
        return False


def _dump_archive(jvm: tuple[str, str, list[str]], classlist: str, archive: str) -> None:
    """Build ``archive`` from ``classlist`` and publish it, then leave the
    cache holding only it and ``conf/``. One process dumps at a time (a
    lock on the cache dir); the others leave it to that one."""
    cache = os.path.dirname(archive)
    fd = os.open(cache, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return
    try:
        if not os.path.exists(archive) and os.path.exists(classlist):
            tmp = f"{archive}.{os.getpid()}.tmp"
            _run_java(jvm, cache, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
                      f"-XX:SharedArchiveFile={tmp}")
            _publish(jvm, tmp, archive)
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        for name in os.listdir(cache):
            if name not in ("conf", os.path.basename(archive)):
                _remove(os.path.join(cache, name))
        os.close(fd)


def _record_at_exit(pid: int, proc, jvm: tuple[str, str, list[str]],
                    classlist: str, archive: str) -> None:
    """At interpreter exit: stop the driver JVM, which completes its class
    list, then dump the archive from it."""
    if os.getpid() != pid:
        return
    try:
        if proc.poll() is None:
            # stopping the context first shuts the accumulator server down
            # before its connection from the JVM drops (else: an EOFError)
            sc = SparkContext._active_spark_context
            if sc is not None:
                with contextlib.suppress(Exception):
                    sc.stop()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=_JVM_EXIT_TIMEOUT)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _dump_archive(jvm, classlist, archive)
    finally:
        _remove(classlist)


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a max heap above
    physical memory lets G1 grow the JVM until the kernel OOM-kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, total >> 31))}g"


def get_spark(
    app_name: str = "blink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls ``local[N]``; it defaults to ``DEFAULT_CPUS``, the
    CPUs this process may run on unless ``SPARK_GRAFT_CPUS`` overrides it.
    A call that launches the driver JVM starts it from the CDS archive
    (module docstring).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's default, pinned: integer overflow raises
        # ARITHMETIC_OVERFLOW (bcubed's n_cl²·10⁹ has no other guard)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split big parquet files at row-group boundaries: a single-file
        # input must not serialize the scan through one task
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # static: read once, at the JVM's first codegen. Distinct classes
        # measured in one session: checkpointed run_pipeline 160, fused 63,
        # dedup 44, retrieve_topk 18 (~285 in all). At the default 100 a
        # warm checkpointed run recompiled ~151 classes (12.5 ms each in
        # Janino, then interpreted bytecode); 1000 leaves ~3.5x headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    cds = _cds_plan()
    if cds:
        builder = builder.config(
            "spark.driver.defaultJavaOptions",
            f"-XX:DumpLoadedClassList={cds.classlist}" if cds.record
            else f"-XX:SharedArchiveFile={cds.archive}")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    with _spark_conf_dir(cds.conf_dir) if cds else contextlib.nullcontext():
        spark = builder.getOrCreate()
    if cds and cds.record:
        atexit.register(_record_at_exit, os.getpid(), SparkContext._gateway.proc,
                        _driver_jvm(spark), cds.classlist, cds.archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark
