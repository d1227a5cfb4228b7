"""SparkSession construction and runtime tuning.

The driver contract passes us an already-built SparkSession, so anything
scale-critical that can be set at *runtime* lives in :func:`tune` (called
from every query entry point); :func:`get_spark` is for tests/bench where
we own the session.

Scale notes (local[32] here, 1000-executor cluster in spirit):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a higher initial number, so we set initialPartitionNum.
- Arrow enabled for the few Pandas-UDF paths (similarity/multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tytodb_spark.storage.warehouse import MAX_APPENDED_FILES

# Shuffle width is SCALE-DEPENDENT: 32 is sized for the local[32]
# bench (200 default-config tasks multiply Python-worker batch overhead
# on the pandas-UDF paths); a cluster deployment must NOT inherit it —
# set TYTO_SHUFFLE_PARTITIONS to ~2x total executor cores there (AQE
# coalesces down from it per advisory size, but can never split a
# too-coarse non-skewed shuffle up).
_SHUFFLE_PARTITIONS = os.environ.get("TYTO_SHUFFLE_PARTITIONS", "32")

# Runtime-settable SQL confs applied to any session we receive.
_RUNTIME_CONF = {
    "spark.sql.shuffle.partitions": _SHUFFLE_PARTITIONS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~10MB broadcast threshold is default; dims here are tiny, AQE will
    # convert to broadcast joins from runtime stats anyway.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark has no
    # native type for; read as long and convert in the catalog layer.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# SQL confs of the AQL engine's session, on top of _RUNTIME_CONF: its
# statements evaluate expressions interpreted (see statement_session).
_STATEMENT_CONF = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    # A SEARCH collects limit(n): with one initial partition, Spark
    # scans one and then the rest in a second job, so a SEARCH over
    # several files or sources ran 2 jobs. The first job now takes up to
    # as many partitions as a snapshot holds files (MAX_APPENDED_FILES
    # + 1), which covers a container's scan whatever the parallelism
    # (with many cores, each small file is a partition of its own). A
    # scan with more partitions (several sources at the cap, or a table
    # large enough to be split) still takes a second job. Each partition
    # of the first job may send the driver n rows, as compressed
    # UnsafeRows: n rows of a held result take at most engine.HELD_BYTES
    # (16 MB) in Python, so the driver JVM takes in at most 17 x 16 MB
    # of rows, of which it decodes n.
    "spark.sql.limit.initialNumPartitions": str(MAX_APPENDED_FILES + 1),
}


def statement_session(spark: SparkSession) -> SparkSession:
    """A session for short statements with literal values (the AQL
    engine): it shares ``spark``'s context and cached data, carries
    _RUNTIME_CONF, and evaluates expressions interpreted.

    Spark inlines each numeric literal into the Java it generates and
    caches generated classes by their source, so a SEARCH or COMMIT with
    values not seen before compiled two new classes (Janino), which the
    JIT then compiled again; only repeated values hit the cache. A
    server's cost per statement kept falling for as long as it ran: in a
    closed loop of the benchmark's statements (4-vCPU VM, local[2]),
    blocks of 31 statements still made 22 compilations and 1.2-1.9 s of
    JIT after ten seconds. Interpreted evaluation runs the same, already
    compiled code for every statement, and over those 100,000-row
    containers it is faster too (point SEARCH ~85 -> ~72 ms). Both confs are
    internal to Spark; they are read when a plan is built and when its
    tasks run, so they hold for this session only. One such session is
    made per ``spark`` and shared by its engines.
    """
    session = getattr(spark, "_tyto_statement_session", None)
    if session is None:
        session = tune(spark.newSession())
        for k, v in _STATEMENT_CONF.items():
            session.conf.set(k, v)
        spark._tyto_statement_session = session
    return session


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build. Idempotent."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — fine
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make `tytodb_spark` importable on Python WORKERS. Module-level
    functions referenced from mapInPandas/applyInPandas/UDTF closures
    are cloudpickled BY REFERENCE, so workers must import the package —
    which fails when the driver found it via a sys.path hack (the
    driver-contract import runs with cwd outside the repo). Shipping a
    zip via addPyFile covers local workers and real executors alike."""
    sc = spark.sparkContext
    if getattr(sc, "_tyto_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="tytodb_spark_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._tyto_pkg_shipped = True


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned in executor storage (cached
    or checkpointed)."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.iterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def release_persistent_rdds(spark: SparkSession, keep: set[int]) -> int:
    """Explicitly unpersist every persistent RDD whose id is not in
    ``keep``. Returns the number released.

    Why this exists: the registry's reuse barriers are
    ``localCheckpoint(eager=False)``, whose blocks are supposed to be
    reclaimed by the ContextCleaner once the plan is garbage — and for
    a SINGLE checkpoint they are (~25 s after GC, measured). But a
    checkpoint whose plan reads ANOTHER checkpoint (q378/q436/q466's
    edge -> orientation -> adjacency chains) is never reclaimed: the
    truncated-lineage RDDs keep each other reachable and the weak-ref
    cleanup never fires (measured: pinned through 60+ s of explicit
    driver+JVM GC). A registry-iterating driver (bench, sweeps, a
    resident query service) must therefore release a finished query's
    blocks EXPLICITLY — only after its action completes; unpersisted
    local checkpoints cannot recompute."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.iterator()
    n = 0
    while it.hasNext():
        kv = it.next()
        if kv._1() not in keep:
            kv._2().unpersist(False)
            n += 1
    return n


class checkpoint_scope:
    """Context manager: release every persistent RDD a block of work
    pins (its localCheckpoint barriers) once it finishes — the
    per-query janitor for registry-iterating drivers. Use around a
    COMPLETED query (define + act + read result inside the scope);
    blocks released on exit cannot be recomputed."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self._before = persistent_rdd_ids(self.spark)
        return self

    def __exit__(self, *exc):
        release_persistent_rdds(self.spark, self._before)
        return False


def _default_heap() -> str:
    """A quarter of physical memory, 1-16 GB (16 GB from a 64 GB box up):
    the driver heap shares a local box with up to one Python worker per
    core. On a 4-vCPU, 16 GB box a 16 GB heap thrashed the test suite."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total // 4 // 2**30))}g"


def get_spark(app_name: str = "tytodb_spark", cpus: str | None = None) -> SparkSession:
    """Build a local session for tests/bench (driver owns its own)."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _SHUFFLE_PARTITIONS)
        .config("spark.driver.memory", os.environ.get("TYTO_DRIVER_MEM") or _default_heap())
        .config("spark.ui.enabled", "false")
        # Progress bars interleave \r-terminated fragments with stdout in
        # captured logs (the round driver keeps a tail of combined output
        # and parses the bench's one JSON line from it) and cost a redraw
        # timer; a non-interactive harness has no use for them.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/tyto_spark_warehouse")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
