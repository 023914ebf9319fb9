"""SparkSession construction tuned for this engine.

Local testing runs on local[N] single-JVM; the same settings are the
ones we'd ship on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (vectorized
Python interop), UTC session timezone (parity with the DuckDB oracle
and with naive parquet timestamps).

Python workers start from `worker_daemon`, not from Spark's own
daemon. Spark puts `pyspark.zip`, the py4j zip and the `spark-core`
jar on every worker's `sys.path`, and each Python task calls
`importlib.invalidate_caches()`, which on CPython 3.11 makes every
cached `zipimporter` re-read its archive's central directory: about
160 ms per task, against under 1 ms of UDF work on a small
micro-batch. The daemon drops the archives whose packages already
import from a directory at the same version, so pyspark and py4j
import from site-packages and a task re-reads nothing. It reaches every
Python-worker task of a `get_spark` session: the pipeline's
`mapInPandas`, the `applyInPandas`/`mapInPandas` query kernels, UDFs.

The JVM reaches its Python workers over Unix domain sockets
(`spark.python.unix.domain.socket.enabled`), not loopback TCP. Over
TCP, a worker waited about 40 ms per task in `pyarrow.ipc.open_stream`
for the JVM's first Arrow message: Nagle's algorithm holding a small
write until Linux's 40 ms delayed ACK. Over a Unix socket that wait is
0.2 ms, and a 2-row `mapInPandas` task runs in 17.5 ms of executor time
instead of 52.5 ms (medians of 30 tasks, `local[2]` on a 4-core box; a
2-row JVM-only task runs in 1 ms). Every Python task of a `get_spark`
session gains: the pipeline's `mapInPandas` (one per micro-batch), the
query kernels, UDFs, collect-to-Python and accumulator updates. Over a
Unix socket Spark's daemon skips its secret handshake, so the socket
directory is the access control: `get_spark` makes a new one (mode
0700, this user only) for each SparkContext it starts, where a socket
path fits AF_UNIX's 107 bytes (the temporary directory, else /tmp),
and removes it when the process exits. A session built elsewhere and
passed in keeps TCP with its secret.

The package ships to workers as a zip named by a hash of its sources
(`ensure_package_on_workers`), so a session never ships another
tree's code and repeated runs of one tree share one file.

Streaming checkpoints go through Spark's
`FileSystemBasedCheckpointFileManager`, not its default
`FileContextBasedCheckpointFileManager`. Without libhadoop, the default
on `file://` forks processes through Hadoop's `Shell` for every log
file: 8 `readlink` (renames) and 2 `chmod` (creates). The two
checkpoint-log writes (offsets, commits) of a micro-batch took about
80 ms of a 270 ms trigger on a 4-core box. The FileSystem-based manager
writes temp-then-rename through the same checksummed `LocalFileSystem`,
so `.crc` files are still written and verified, and skips the
`readlink` forks. The remaining ~12 ms per log write are the two
`chmod` forks from `ChecksumFileSystem.create`; they stay, because
`RawLocalFileSystem` would drop checksum verification. A session built
elsewhere and passed in keeps its own manager.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable SQL confs that every entry point (re)applies, so the
# engine behaves identically whether it built the session or received
# one from the driver harness.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # The corpus's events.ts is a parquet TIMESTAMP(NANOS) column, which
    # Spark's vectorized reader rejects; read it as raw int64 nanos and
    # convert in tables.table() (ns DIV 1000 -> microseconds, matching
    # DuckDB's ns->us truncation — verified exact on the corpus).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Recursive-CTE row guard: the default 1M aborts LEGITIMATE
    # linear-growth recursions (subq_bom_rollup's ancestor closure is
    # depth x |part| ~= 1.4M rows at sf1).  50M keeps the runaway
    # protection (a diverging recursion still dies) while covering
    # every corpus this harness runs; the level limit (100) stays at
    # its default.
    "spark.sql.cteRecursionRowLimit": "50000000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI stays ON (Spark 4 default) — deliberately: the DuckDB
    # oracle ALSO errors on bad casts/overflow, so ANSI matches the
    # correctness contract, and erroring early beats silently nulling
    # data at 100 TB. The reference's permissive no-schema posture is
    # honored per-EXPRESSION via the try_* family (fn_try) and the
    # pipeline's dead-letter quarantine, not by a global silent mode.
    # (Measured: ANSI on is also ~3% faster on the headline bench —
    # the non-ANSI null-wrapping costs more than the overflow checks.)
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (the driver
    hands us its own session; these are all safe to set post-start)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — skip
    return spark


def _package_zip() -> str:
    """Zip of this package's sources in the temporary directory, named
    by their hash: a process finds a zip only where a tree with the
    same sources wrote it, and repeated runs of one tree share it."""
    import hashlib
    import zipfile

    import py_pubsub_pipeline_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    sources = sorted(
        os.path.relpath(os.path.join(dirpath, fn), root)
        for dirpath, _, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(root, rel), "rb") as fh:
            digest.update(rel.encode() + b"\0" + fh.read() + b"\0")
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"py_pubsub_pipeline_spark_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        # Write aside and rename, so a concurrent session never ships
        # a half-written zip.
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=os.path.dirname(zpath))
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
                for rel in sources:
                    z.write(os.path.join(root, rel), rel)
            os.replace(tmp, zpath)
        except BaseException:
            os.remove(tmp)
            raise
    return zpath


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers.

    Anything crossing the driver->worker boundary by module reference
    (the custom DataSource class, the default codecs in pipeline.py)
    needs `py_pubsub_pipeline_spark` importable inside the worker. When
    the driver program doesn't run from the repo root (any real
    deployment), that's not a given — so zip the package once per
    session and addPyFile it."""
    if spark.conf.get("spark.py_pubsub_pipeline.pkg_shipped", None) == "true":
        return
    spark.sparkContext.addPyFile(_package_zip())
    spark.conf.set("spark.py_pubsub_pipeline.pkg_shipped", "true")


# Longest AF_UNIX socket path on Linux: sun_path is 108 bytes, NUL included.
_SUN_PATH_MAX = 107
# A socket Spark binds in the directory: "/.<uuid4>.sock".
_SOCKET_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")


def _socket_dir() -> str:
    """A new directory for a session's Unix domain sockets, readable
    and writable by this user only and removed when the process exits.

    It lives in the temporary directory when a socket path in it fits
    AF_UNIX's limit, else in /tmp; either way, under a name no other
    user can pre-create (`mkdtemp`)."""
    base = tempfile.gettempdir()
    if len(os.fsencode(os.path.join(base, "pps-uds-XXXXXXXX"))) + _SOCKET_NAME_LEN > _SUN_PATH_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix="pps-uds-", dir=base)
    os.chmod(path, 0o700)  # mkdtemp's mode is masked by the umask
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(app_name: str = "py_pubsub_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a local session.

    shuffle_partitions defaults to the local core count: at local scale
    the 200-partition default just adds scheduling overhead; on a real
    cluster you size it to ~2-3x total cores and let AQE coalesce.
    """
    # The python-streaming-source runner is spawned by the driver JVM
    # with the JVM's env: it needs this package on PYTHONPATH (addPyFile
    # reaches executor workers only). Must happen before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    n_shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "py_pubsub_pipeline_spark.worker_daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
    )
    if SparkContext._active_spark_context is None:
        # Read only when a SparkContext starts: an existing session
        # keeps its transport, and no directory is made for it.
        builder = (
            builder.config("spark.python.unix.domain.socket.enabled", "true")
            .config("spark.python.unix.domain.socket.dir", _socket_dir())
        )
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
