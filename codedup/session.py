"""SparkSession construction with the engine's execution settings.

Centralizes the knobs SURVEY §4.2 calls out: AQE (+skew join), Arrow
batch size, shuffle partitions.  Tests use ``local[4]``; the scaling
bench uses ``local[8]`` vs ``local[32]``; a real deployment passes
``master=None`` and lets spark-submit decide.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import SparkSession

# bounds Arrow batch memory: `content` rows are wide
ARROW_MAX_RECORDS = 2048


def _local_cores(master: str | None) -> int | None:
    """N of a ``local[N]`` master; None for any other master (a cluster
    manager, ``local[*]``, or spark-submit deciding)."""
    if master and master.startswith("local["):
        n = master[6:].rstrip("]")
        if n.isdigit():
            return int(n)
    return None


def _driver_memory(master: str | None) -> str:
    """Driver heap sizing.  In local mode the driver JVM IS every
    executor: all shuffle blocks, broadcast builds and checkpointed
    partitions live in this one heap, so sizing it like a lone driver
    (8g) leaves a local[32] run GC-bound — measured ~25-30% wall lost
    and 2x run-to-run variance on the shuffle-heavy sweep queries.
    Scale with the local core count (~0.75 GB/core, floor 8g); a real
    cluster driver (master=None -> spark-submit decides, or any
    non-local master) keeps the lean 8g default because executors bring
    their own heaps.  Override with CODEDUP_DRIVER_MEMORY."""
    env = os.environ.get("CODEDUP_DRIVER_MEMORY")
    if env:
        return env
    n = _local_cores(master)
    return f"{max(8, min(n * 3 // 4, 48))}g" if n else "8g"


def default_jvm_opts(master: str | None) -> str:
    """The JVM options ``build_session`` gives the driver and executors
    unless CODEDUP_JVM_OPTS replaces the whole string.

    ``-XX:UseAVX=2`` caps the vector ISA: OpenJDK 17's AVX-512
    arraycopy stubs (jlong_disjoint_arraycopy_avx3) segfaulted
    intermittently on a virtualized CPU when copying multi-MB primitive
    arrays (twice under the blocked-sweep shuffle, SEGV_MAPERR inside
    the stub); AVX2 copies are within noise for this workload.

    ``local[N]`` with N <= 4 adds ``-XX:CICompilerCount=2``, one C1 and
    one C2 JIT thread (why: ``build_session``).  2 is the least tiered
    compilation accepts and the least HotSpot picks itself, so the flag
    never raises HotSpot's count on any host.  A larger N, and any
    other master, keeps HotSpot's own sizing."""
    n = _local_cores(master)
    return "-XX:UseAVX=2" + (" -XX:CICompilerCount=2" if n and n <= 4 else "")


def build_session(
    master: str | None = "local[4]",
    app_name: str = "codedup",
    shuffle_partitions: int = 32,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession.  ``master=None`` leaves the master to
    spark-submit.

    For ``local[N]`` the driver heap (``_driver_memory``) and the JIT
    compiler threads (``default_jvm_opts``) follow N, because in local
    mode the driver JVM is every executor.  A run of seconds spends much
    of its CPU compiling, mostly in C2.  HotSpot sizes its compiler
    threads from the host's cores, not from N: 4 cores get one C1 and
    two C2 threads, and the second C2 thread compiles code that then
    runs for only seconds.  So N <= 4 runs one C2 thread.  Only N = 4 on
    a 4-core host was measured (see README); a larger N keeps HotSpot's
    sizing.
    CODEDUP_JVM_OPTS replaces the whole option string."""
    # One BLAS thread per task slot (guide §4.5): every executor core
    # runs one Python worker, and numpy's OpenBLAS otherwise spawns
    # nproc threads PER WORKER — on a 32-slot host that is 32x32 = 1024
    # compute threads thrashing each other during the matmul kernels
    # (blocked sweep, ANN blocks).  Parallelism belongs to Spark; the
    # kernel gets one core.  Parameterised via CODEDUP_BLAS_THREADS for
    # deployments whose executors run fewer, fatter tasks.
    blas = os.environ.get("CODEDUP_BLAS_THREADS", "1")
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, blas)
    jvm_opts = os.environ.get("CODEDUP_JVM_OPTS", default_jvm_opts(master))
    b = SparkSession.builder.appName(app_name)
    # the same pinning must reach remote executors' Python workers when
    # running under a real cluster manager (local mode inherits the
    # driver env set above)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "codedup_warehouse"))
        .config("spark.driver.memory", _driver_memory(master))
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    missing_jvm_opts(spark, jvm_opts)
    return spark


def missing_jvm_opts(spark: SparkSession, opts: str) -> list[str]:
    """The flags of ``opts`` the driver JVM is NOT running with, warned
    on stderr.  Java options only apply when a JVM launches: a
    getOrCreate that joins a JVM started earlier without them (another
    session, a bare ``pyspark`` shell) silently leaves the AVX2 cap
    above off."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    active = set(bean.getInputArguments())
    missing = [o for o in opts.split() if o not in active]
    if missing:
        print(f"codedup: WARNING: driver JVM runs without {' '.join(missing)} "
              "(it was started before build_session set them)", file=sys.stderr)
    return missing
