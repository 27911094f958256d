"""SparkSession construction and runtime configuration.

The driver-generated parquet stores TIMESTAMP(NANOS) which Spark cannot read
natively, so every session that touches the testdata needs
``spark.sql.legacy.parquet.nanosAsLong=true`` — a *runtime* SQL conf we set
defensively in the loader path too (the correctness driver supplies its own
session). All time arithmetic in query outputs is done on integer epoch
values so Spark and the DuckDB oracle agree bit-for-bit regardless of
timezone or timestamp-precision differences.

Scale posture (tuned for a real cluster even though tests run local[N]):
AQE on (runtime coalescing, skew-join splitting), broadcast threshold left
to Spark's default, shuffle partitions sized from the local core budget.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import struct
import subprocess
import time
import uuid
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on any session.
RUNTIME_CONFS: dict[str, str] = {
    # testdata parquet uses TIMESTAMP(NANOS); read them as epoch-nano longs
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic time semantics across engines
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: runtime partition coalescing + skew-join handling
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # arrow for any pandas-UDF path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # surface sorted-bucket ordering to the planner (bucketed_colocated_join
    # writes one file per bucket, making the sort elimination sound). Set
    # here at construction rather than mutated mid-run by the layout entry
    # (ADVICE r6) — it only affects bucketed scans, and the only bucketed
    # tables in this engine are the layout tier's own.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def _runtime_confs() -> dict[str, str]:
    confs = dict(RUNTIME_CONFS)
    # size shuffles to the local core budget (Spark's 200 default makes
    # 200-task micro-batches on small replays); AQE still coalesces further
    confs["spark.sql.shuffle.partitions"] = str(
        max(int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))), 8)
    )
    return confs


# runtime-conf marker: set the first time configure_runtime touches a
# session, so repeat calls can tell "stock 200 default" from "a caller
# deliberately set 200 after we configured" (ADVICE r3: value-matching
# alone stomped exactly that case)
_CONFIGURED_MARKER = "spark.nexmarkVanillaFlinkSpark.runtimeConfigured"


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours).

    ``spark.sql.shuffle.partitions`` is only resized on the FIRST call per
    session, and then only when it still carries Spark's stock 200 default:
    callers that tuned it (bench.py's SF-sized value, a test, a per-query
    pin) must keep their choice — this function runs on EVERY
    streaming-source construction, and an unconditional reset silently
    stomped the session tuning mid-sweep (found in r3: every bench
    streaming entry reset the remaining sweep, and the stream-stream join
    replays ran 3× slower at the reset value — 8 state partitions: 2.6 s,
    32: 6.3 s on the QX replay at sf0.1). After the first call a marker
    conf records that this session was configured, so a caller that LATER
    deliberately sets 200 is never mistaken for the stock default.
    Residual edge (documented): a session tuned to exactly 200 BEFORE our
    first touch is indistinguishable from the stock default and gets
    resized once — such a caller should set the value after construction
    or pass ``shuffle_partitions`` explicitly."""
    try:
        already = spark.conf.get(_CONFIGURED_MARKER, "0") == "1"
    except Exception:
        already = False
    for key, value in _runtime_confs().items():
        if key == "spark.sql.shuffle.partitions":
            try:
                if already or spark.conf.get(key) != "200":
                    continue
            except Exception:
                pass
        try:
            spark.conf.set(key, value)
        except Exception:
            # immutable in this session build; trust the session default
            pass
    try:
        spark.conf.set(_CONFIGURED_MARKER, "1")
    except Exception:
        pass
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


# -- driver-JVM start-up archive (HotSpot AppCDS) ---------------------------
#
# Every process launches a fresh driver JVM, and loading its ~16 K classes is
# most of session start and of the first query. The first session for an
# install records the classes it loaded into a dynamic CDS archive
# (-XX:ArchiveClassesAtExit, written when the JVM exits); every later session
# maps that archive (-XX:SharedArchiveFile). The archive is named by a
# fingerprint of the install, so a new JDK, Spark or jar set records afresh.

# a caller whose spark.driver.extraJavaOptions carry any of these owns CDS
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# JDK 17 CDS_DYNAMIC_ARCHIVE_MAGIC, the file's first 4 bytes (native order).
# The JVM writes the header last, so a file that carries it is complete.
_DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8
# HotSpot turns compressed oops off at this max heap, and an archive recorded
# in one mode does not map in the other
_COOPS_MAX_HEAP = 32 << 30
# a recording is written in ~10-15 s at JVM exit; an older one was abandoned
_STALE_RECORDING_S = 600
# how long interpreter exit waits for a recording JVM to write its archive
_DUMP_WAIT_S = 120
# Spark splits extraJavaOptions on whitespace and -Xlog on ':'
_UNSAFE_PATH = re.compile(r"[\s:'\"]")


@dataclass(frozen=True)
class ArchiveLaunch:
    """How the next driver JVM is launched with the start-up archive."""

    java_options: str  # the whole spark.driver.extraJavaOptions value
    conf_dir: str  # SPARK_CONF_DIR for the launch only
    archive: str  # the archive this install maps
    recording: str | None  # per-process file the JVM records to at exit


def archive_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "nexmark_vanilla_flink_spark", "jvm")


def _private_dir(path: str) -> bool:
    """Create ``path`` 0700 if missing; True only if this uid owns it and no
    one else can write to it (a mapped archive is trusted code)."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


def _java_home() -> str | None:
    """The JDK spark-class launches: $JAVA_HOME, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return os.path.realpath(home)


def _heap_bytes(spec: str) -> int:
    """spark.driver.memory in bytes (a bare number is MiB, as in Spark)."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", spec.strip().lower())
    if m is None:
        return 0
    shift = {"": 20, "b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}
    return int(m.group(1)) << shift[m.group(2)]


def _fingerprint(
    java_home: str,
    release: str,
    spark_home: str,
    extra_class_path: str,
    compressed_oops: bool,
) -> str:
    """Names the archive: everything the JVM checks before mapping it."""
    parts = [java_home, release, spark_home, extra_class_path, str(compressed_oops)]
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        parts.append(f"{os.path.basename(jar)} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _remove_other_archives(cache: str, fingerprint: str) -> None:
    """Keep one archive: drop other fingerprints' files and this one's
    abandoned recordings (each archive is ~180 MB)."""
    now = time.time()
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        try:
            if name.startswith(fingerprint + "."):
                age = now - os.path.getmtime(path)
                if not name.endswith(".part") or age < _STALE_RECORDING_S:
                    continue
            elif not os.path.isfile(path):
                continue
            os.remove(path)
        except OSError:
            pass


def plan_archive_launch(confs: dict[str, str]) -> ArchiveLaunch | None:
    """Decide how a new driver JVM uses the start-up archive for ``confs``
    (the session's builder confs); None launches it exactly as before.

    Left off when the caller's spark.driver.extraJavaOptions already carry
    a CDS flag, when the JDK is older than 17, when the Spark conf dir holds
    any real file (JDK 17 refuses to archive with a non-empty directory on
    the class path, and spark-submit puts the conf dir first), and when the
    cache dir is not private to this uid."""
    options = confs.get("spark.driver.extraJavaOptions", "")
    if any(flag in options for flag in _CDS_FLAGS):
        return None
    java_home = _java_home()
    if java_home is None:
        return None
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
    except OSError:
        return None
    version = re.search(r'^JAVA_VERSION="(\d+)', release, re.M)
    if version is None or int(version.group(1)) < 17:
        return None
    spark_home = os.path.realpath(_find_spark_home())
    spark_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        conf_files = os.listdir(spark_conf)
    except FileNotFoundError:
        conf_files = []
    except OSError:
        return None
    if any(not name.endswith(".template") for name in conf_files):
        return None
    cache = archive_cache_dir()
    if _UNSAFE_PATH.search(cache) or not all(
        _private_dir(d) for d in (os.path.dirname(cache), cache)
    ):
        return None
    # an empty stand-in for a conf dir that holds only templates
    conf_dir = os.path.join(cache, "conf")
    if not _private_dir(conf_dir) or os.listdir(conf_dir):
        return None
    fingerprint = _fingerprint(
        java_home,
        release,
        spark_home,
        confs.get("spark.driver.extraClassPath", ""),
        _heap_bytes(confs.get("spark.driver.memory", "1g")) < _COOPS_MAX_HEAP,
    )
    archive = os.path.join(cache, f"{fingerprint}.jsa")
    if os.path.isfile(archive):
        recording = None
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        # per-process name: the JVM writes the file in place, header last,
        # so only a finished recording is promoted to ``archive``
        recording = os.path.join(
            cache, f"{fingerprint}.{os.getpid()}-{uuid.uuid4().hex[:8]}.part"
        )
        _remove_other_archives(cache, fingerprint)
        flag = f"-XX:ArchiveClassesAtExit={recording}"
    # CDS logs to a file: a recording run would print hundreds of warnings
    # (the signed Janino jar's classes are skipped) to stdout
    log = os.path.join(cache, f"{fingerprint}.log")
    ours = f"{flag} -Xlog:cds*=off -Xlog:cds*=info:file={log}::filecount=0"
    return ArchiveLaunch(f"{options} {ours}".strip(), conf_dir, archive, recording)


def is_finished_archive(path: str) -> bool:
    """True if ``path`` is a dynamic CDS archive the JVM finished writing."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except OSError:
        return False
    return len(head) == 4 and struct.unpack("=I", head)[0] == _DYNAMIC_ARCHIVE_MAGIC


def _promote_at_exit(proc, recording: str, archive: str) -> None:
    """At interpreter exit, let the recording JVM write its archive, then
    move it into place atomically."""

    def promote() -> None:
        if proc.poll() is None:
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.stop()  # else its accumulator server sees the JVM go
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                return  # still writing; a later recording removes it
        if is_finished_archive(recording):
            os.replace(recording, archive)
        else:
            try:
                os.remove(recording)
            except FileNotFoundError:
                pass

    atexit.register(promote)


@contextlib.contextmanager
def _environ(name: str, value: str):
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = saved


def get_session(
    app_name: str = "nexmark-vanilla-flink-spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized from SPARK_GRAFT_CPUS.

    On a real cluster the same code runs unchanged: only master/partition
    counts change, and those come from the environment. A session that
    launches the driver JVM also gets the start-up archive
    (``plan_archive_launch``).
    """
    cores = default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    }
    if master.startswith("local"):
        # local-mode I/O: skip Hadoop's .crc sidecar files for file:// —
        # every streaming WAL/offset/commit write otherwise pays a second
        # ChecksumFileSystem write (FileSystem API) / ChecksumFs write
        # (FileContext API, what CheckpointFileManager uses). Measured on
        # the bounded-replay floor: 0.59 -> 0.38 s. Irrelevant on a real
        # cluster (checkpoints live on HDFS/S3, not file://), so gated on
        # a local master; parquet carries its own page checksums either way.
        confs["spark.hadoop.fs.file.impl"] = "org.apache.hadoop.fs.RawLocalFileSystem"
        confs["spark.hadoop.fs.AbstractFileSystem.file.impl"] = (
            "org.apache.hadoop.fs.local.RawLocalFs"
        )
    confs.update(RUNTIME_CONFS)
    confs.update(extra_confs or {})
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = plan_archive_launch(confs)
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in confs.items():
        builder = builder.config(key, value)
    if launch is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.extraJavaOptions", launch.java_options)
        with _environ("SPARK_CONF_DIR", launch.conf_dir):
            spark = builder.getOrCreate()
        if launch.recording is not None:
            proc = SparkContext._gateway.proc
            _promote_at_exit(proc, launch.recording, launch.archive)
    configure_runtime(spark)
    if shuffle_partitions is not None:
        # explicit caller choice wins over the runtime default
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
