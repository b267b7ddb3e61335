"""SparkSession construction and runtime tuning.

The reference boots a Flink MiniCluster with `parallelism.default: 2`
(reference: flink-runtime/conf/flink-conf.yaml:14). Our equivalent is a
local-mode SparkSession; on a real deployment the same code runs unchanged on
a 1000-executor cluster — all operators in this repo are expressed
declaratively (DataFrame/SQL) so Catalyst/AQE pick physical strategies that
scale with the cluster, not with these local defaults.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session we are handed (including
# the driver's). These are semantic (timezone, nanos decoding) or
# scale-robustness (AQE) settings — safe and desirable at every scale.
RUNTIME_CONFS = {
    # Deterministic wall-clock semantics; testdata timestamps are NTZ so most
    # operators are timezone-independent, but functions on TimestampType
    # (streaming windows) honor this.
    "spark.sql.session.timeZone": "UTC",
    # If an events vintage stores TIMESTAMP(NANOS) (which Spark's reader
    # rejects), read as long nanos and convert ourselves — io._events_ts_cols
    # dispatches on the dtype actually read, so µs-timestamp vintages ignore
    # this entirely.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, dynamic broadcast — the "survives 100× scale-up" switches.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (vectorized Python interchange).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI arithmetic is load-bearing, not just Spark 4's default: the
    # integer-cents aggregates (q20_cube and every *100-as-long sum) rely on
    # long overflow RAISING rather than wrapping silently. Pin it so a
    # driver/session that flipped the default can't turn an overflow into a
    # wrong answer.
    "spark.sql.ansi.enabled": "true",
}


_TUNE_WARNED: set[str] = set()

# Opt-in RocksDB state store for the stateful streaming operators
# (SPARK_GRAFT_STATE_PROVIDER=rocksdb). The r15 A/B at sf0.1 measured it
# flat-to-slower than the default HDFS-backed provider (heaviest entry
# 15.0 vs 13.0 s; others within noise) because these replays' state fits
# in memory and their checkpoints already sit on fast scratch — so it is
# NOT the default. At 100 TB-class state (keyed state ≫ executor heap) the
# RocksDB provider with changelog checkpointing is the right call: state
# lives off-heap/on-disk and per-trigger commits upload a changelog
# instead of a full snapshot. The conf is runtime-settable and captured at
# each query start, so tune() is enough for driver-provided sessions too.
_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def _state_store_confs() -> dict:
    prov = os.environ.get("SPARK_GRAFT_STATE_PROVIDER", "").strip().lower()
    if prov in ("", "hdfs", "default"):
        return {}
    if prov == "rocksdb":
        return dict(_ROCKSDB_CONFS)
    raise ValueError(
        f"SPARK_GRAFT_STATE_PROVIDER={prov!r}: expected 'rocksdb', 'hdfs', "
        "or unset"
    )


def _ckpt_checksum_confs() -> dict:
    """Spark 4.1 writes a CHECKSUM SIDECAR next to every streaming
    checkpoint file (``spark.sql.streaming.checkpoint.fileChecksum.enabled``
    defaults true) — offsets log, commit log, and each partition's state
    delta all pay a second small-file create plus an awaitResult hop per
    trigger. Small-file metadata latency is the exact dimension this host
    class is slow at (round-14 finding: 27× between hosts), and the r15
    per-trigger probe shows stateCommit/walCommit floors consistent with
    it. Default here: OFF — the pre-4.1 checkpoint format, bit-compatible
    reads, integrity checking only is lost; ``SPARK_GRAFT_CKPT_CHECKSUM=on``
    restores Spark's default for deployments on storage where silent
    corruption is a live risk. Runtime-settable and captured at query
    start, so tune() covers driver-provided sessions too."""
    env = os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "").strip().lower()
    if env in ("on", "true", "1"):
        return {}
    return {"spark.sql.streaming.checkpoint.fileChecksum.enabled": "false"}


def _scratch_local_dir(min_free_bytes: int = 8 * 1024**3) -> str | None:
    """Resolve ``spark.local.dir`` (shuffle files, spill, DISK_ONLY blocks).

    Priority: ``$SPARK_GRAFT_LOCAL_DIR`` (the production knob — point it at
    the fast local NVMe/SSD scratch array, exactly what spark.local.dir is
    for on a real cluster) → ``/dev/shm`` when writable with at least
    ``min_free_bytes`` free → ``None`` (keep Spark's default tempdir).

    Why (guide §6 — I/O placement; measured on the round-14 bench host):
    every Exchange writes one data + one index file per map task, so a
    stage's wall has a floor of 2·M file *creations*. On that host the
    default tempdir (ext4) measured ~0.46 ms per small-file create vs
    ~0.017 ms on the RAM fs — a trivial 2-stage shuffle (32 tasks) ran
    545 ms vs 204 ms, and the fixed-code shuffle calibration 920 ms vs
    548 ms, identical plans. The data here is scratch by definition
    (shuffle blocks are re-creatable from lineage), so placement is free to
    chase latency; the free-space floor keeps big-spill jobs off the RAM fs
    unless the operator explicitly opts in via the env knob.

    Spill-safety at scale (ADVICE r14 medium): the free-space check runs
    ONCE at session start, and a RAM fs competes with the page cache and
    the JVM heap for physical memory — a job whose shuffle/spill volume
    approaches the headroom must NOT land here. Hardening:

    * the RAM-fs default additionally requires headroom ≥ 1/8 of physical
      RAM (not just the absolute floor) — the "margin relative to total
      RAM" option from the advice; an r15 probe of a fast-NVMe host still
      measured the RAM fs ~25% faster on a 64-task shuffle (0.60 vs
      0.80 s), so making it opt-in would tax every host to protect the
      big-spill case the margin + contract below already covers;
    * ``SPARK_GRAFT_LOCAL_DIR=none`` (or ``default``) is an explicit
      opt-out — Spark's default tempdir, no RAM fs, no probing;
    * the production contract is documented in NOTES.md/README: **any
      big-spill workload must set $SPARK_GRAFT_LOCAL_DIR to the node's
      NVMe scratch array** — on a real cluster that is what
      spark.local.dir is for, and tmpfs is never the right answer there.

    A per-process subdirectory is used and reclaimed at interpreter exit:
    Spark cleans its blockmgr-*/spark-* dirs on SparkContext.stop(), but a
    killed process would otherwise leak RAM-fs pages until reboot — so
    stale ``fns-spark-local-<pid>-*`` siblings whose owning process is gone
    are swept at startup (the pid rides the dir name).
    """
    import atexit
    import shutil
    import tempfile

    base = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if base is not None and not base.strip():
        base = None  # empty/whitespace value means unset, not CWD
    if base is not None and base.strip().lower() in ("none", "default"):
        return None  # explicit opt-out: keep Spark's default tempdir
    if base is not None:
        # an explicit operator choice: create it if missing, and fail with
        # the env var named instead of a bare mkdtemp FileNotFoundError
        try:
            os.makedirs(base, exist_ok=True)
        except OSError as exc:
            raise OSError(
                f"SPARK_GRAFT_LOCAL_DIR={base!r} is not a usable directory: {exc}"
            ) from exc
    else:
        shm = "/dev/shm"
        if not os.access(shm, os.W_OK):
            return None
        st = os.statvfs(shm)
        free = st.f_bavail * st.f_frsize
        if free < max(min_free_bytes, _phys_ram_bytes() // 8):
            return None
        base = shm
    _sweep_stale_scratch(base)
    d = tempfile.mkdtemp(prefix=f"fns-spark-local-{os.getpid()}-", dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _phys_ram_bytes() -> int:
    """Physical RAM, 0 when not determinable (then only the absolute
    free-space floor gates the RAM-fs choice)."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 0


def _sweep_stale_scratch(base: str) -> None:
    """Remove fns-spark-local-<pid>-* siblings whose owning pid is gone —
    atexit cleanup never runs on SIGKILL, and leaked RAM-fs pages both eat
    memory and erode the startup free-space check (ADVICE r14)."""
    import shutil

    try:
        names = os.listdir(base)
    except OSError:
        return
    for name in names:
        if not name.startswith("fns-spark-local-"):
            continue
        pid_part = name[len("fns-spark-local-"):].split("-", 1)[0]
        if not pid_part.isdigit():
            continue  # pre-r15 layout (no pid) — age unknown, leave it
        pid = int(pid_part)
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except OSError:
            continue  # pid exists under another uid, or not inspectable


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Called at the top of every query builder so the driver-provided session
    gets the same semantics as one we build ourselves. A conf that fails to
    apply (removed/renamed in a newer Spark, or locked in this session) is
    warned about ONCE — environment drift must be loud, not a silent source
    of wrong answers.
    """
    confs = {**RUNTIME_CONFS, **_state_store_confs(), **_ckpt_checksum_confs()}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if k not in _TUNE_WARNED:
                _TUNE_WARNED.add(k)
                import warnings

                warnings.warn(
                    f"runtime conf {k}={v} could not be applied: {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


# Source rows per state partition below one task wave. From a 1/2/4/8
# state-partition sweep on a 4-core host (NOTES.md, "State partitions"):
# the smallest sf0.1 source (2,000 embedding rows) ran fastest at 2 and
# 1.6x slower at 1, and every larger source ran fastest at or near one
# wave (4), never above it: each state partition is a task and a
# state-store commit on every trigger, whether or not it holds rows.
ROWS_PER_STATE_PARTITION = 1_000

_STATE_CONF = "spark.sql.shuffle.partitions"
_STATE_CONF_LOCK = threading.Lock()


def state_partitions(spark: SparkSession, rows: int | None = None) -> int:
    """State-partition count for a streaming query over ``rows`` source rows:
    one task wave (``defaultParallelism``) at most, fewer when the data is
    small, and one wave when the row count is unknown.

    Streaming state has no AQE coalescing: each state partition is a task
    and a state-store commit on every trigger, so the count is sized to the
    data and the cores, never to a literal."""
    par = spark.sparkContext.defaultParallelism
    if rows is None:
        return par
    return max(1, min(par, -(-int(rows) // ROWS_PER_STATE_PARTITION)))


@contextmanager
def state_partitions_at_start(spark: SparkSession, rows: int | None = None):
    """Run a streaming query's ``start()`` inside this block: the session's
    shuffle-partition count is :func:`state_partitions` while the query
    captures it, and the previous value is restored on exit, so batch
    queries keep theirs. A query restarted from an existing checkpoint
    keeps the count recorded in its offset log (Spark restores it), so the
    rule sizes new checkpoints only. The lock keeps two concurrent starts
    on one session from restoring each other's value."""
    with _STATE_CONF_LOCK:
        prev = spark.conf.get(_STATE_CONF)
        spark.conf.set(_STATE_CONF, str(state_partitions(spark, rows)))
        try:
            yield
        finally:
            spark.conf.set(_STATE_CONF, prev)


def get_spark(app_name: str = "flink-notebooks-spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to 2× cores locally; AQE coalesces down as needed. On a real
    cluster you would size this to ~2-3× total executor cores instead.
    Streaming state has no such coalescing, so every streaming query start
    scopes its own count (:func:`state_partitions_at_start`).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # a rare java.util.regex backtracking StackOverflowError was observed
        # in stream-execution threads under rapid query churn (Spark-internal
        # path matching); a deeper thread stack removes the flake when we own
        # the JVM. Driver-provided sessions can't be changed at runtime.
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes to stderr; disabled to reduce log
        # noise in bench/test runs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # shuffle/spill scratch on the fastest local storage (static conf — must
    # be set before the JVM starts; see _scratch_local_dir for the measured
    # rationale and the $SPARK_GRAFT_LOCAL_DIR production knob)
    local_dir = _scratch_local_dir()
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
