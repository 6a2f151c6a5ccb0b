"""SparkSession factory.

The reference tunes its physical layer purely via SparkConf on a
Spark 3.2.1 image (reference: workflow-examples/spark-operator-taxi.yaml:17-31);
we do the same for local/cluster Spark 4.x: AQE on (join-strategy switch,
skew split, partition coalesce at runtime), Arrow on (vectorized
Python<->JVM transfer for pandas UDFs), UTC session timezone so
timestamp semantics are deterministic and oracle-comparable.

At 100 TB the only numbers that change are ``spark.sql.shuffle.partitions``
(set ~2-3x total executor cores; AQE coalesces down) and
``spark.sql.files.maxPartitionBytes`` — both exposed here as arguments so a
cluster deployment can size them without code changes.

Local masters also run the Python workers under this package's own
daemon, ``etl_spark_eks_spark.daemon`` (Spark's
``spark.python.daemon.module``), with the package's parent directory
merged into ``spark.executorEnv.PYTHONPATH`` so the daemon starts
whatever the driver's working directory is. PySpark invalidates the
import caches before every task, and on CPython 3.11/3.12 that re-reads
pyspark.zip and the Spark jar in full: 200+ ms of CPU per task, far more
than a 1,000-row Arrow-batched UDF computes. The daemon skips the re-read
while the archive is unchanged. Other masters keep Spark's default
daemon, because their executors may not have this package installed;
a cluster that does install it sets the same conf through
``SPARK_GRAFT_EXTRA_CONF``.

Local masters also move the executor <-> Python worker transport from
loopback TCP to a Unix domain socket
(``spark.python.unix.domain.socket.enabled``). Over TCP a Python task
spent most of its run time waiting on the JVM's side of the socket
before its first Arrow batch arrived: a trivial pandas UDF job of 4
tasks (local[4], 4 vCPUs) summed 202-244 ms of task run time over TCP
and 38-88 ms over the socket, with 11-20 ms of JVM CPU in both. PySpark
names each socket ``.<uuid4>.sock`` (42 characters) inside
``spark.python.unix.domain.socket.dir``, an AF_UNIX path holds at most
107 bytes, and Spark refuses a directory of 61 or more characters. So
the directory is chosen here (:func:`_socket_dir`) rather than left to
Spark's ``java.io.tmpdir``, which a deep ``-Djava.io.tmpdir`` would
push past the limit and fail every Python UDF. A cluster opts in
through ``SPARK_GRAFT_EXTRA_CONF`` with both keys, as it does for the
daemon.

``spark.python.sql.dataFrameDebugging.enabled`` is off in
:data:`ENGINE_CONF`. With it on, every ``Column`` method and ``F.col``
captures the Python call site for the JVM (``getActiveSession``, a
conf read, ``PySparkCurrentOrigin.set``/``clear`` and a stack walk):
``col == col`` issued 37 py4j commands instead of 7 and took ~2.2 ms
instead of ~0.7 ms (local[4], 4 vCPUs). What is lost is the "called
from" line of an ``AnalysisException``, which for an engine query
points into the engine anyway; error classes and messages are
unchanged. The setting is static, and PySpark reads it once per
process, from the active session, at the first decorated call.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# The directory holding this package; local Python workers import the
# daemon (and every engine UDF's module) from it.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Configuration profile applied to every session this engine creates.
# Mirrors the *semantic* knobs of the reference's sparkConf; object-store
# tuning (s3a fadvise/readahead/committers, reference
# spark-operator-taxi.yaml:20-31) applies only on a real cluster and is
# documented in README instead of hard-coded here.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # below every explode; filter pushdown then substitutes the FULL
    # generator-input expression through the projections, so an expensive
    # array (e.g. 32-seed MinHash bands over tokenized text) is evaluated
    # a second time per join side in a scan-adjacent Filter. Higher-order
    # lambdas are interpreted (no codegen CSE), so this is pure overhead:
    # measured 4x on q_c8_minhash_bands at sf0.1. The rule only ever ADDS
    # redundant filters — excluding it never changes results.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Parquet: keep footer-based schema + vectorized reader defaults.
    "spark.sql.parquet.compression.codec": "snappy",
    # Spark 4 refuses to read parquet TIMESTAMP(NANOS); read it as int64
    # nanos instead (catalog.load_table and the event streams truncate
    # to microseconds). Set once here, so no query changes session conf.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic float formatting across runs.
    "spark.sql.legacy.allowUntypedScalaUDF": "false",
    # Streaming micro-batch: keep state store files local & small in tests.
    "spark.sql.streaming.stateStore.compression.codec": "lz4",
    # Generated-class cache (static: set at session start). Spark's 100
    # entries are fewer than one sql_star pass uses (86 after its cold
    # pass), so the LRU evicted classes that the next pass recompiled,
    # and the JIT compiled each new class again: 20-22 Janino compiles
    # per warm pass at sf0.01 on local[4], and none at 2,000 entries. A
    # class averages ~2.3 KB of bytecode, so 2,000 cost a few MB.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # No Python call-site capture per Column op (module docstring).
    # Static: it takes effect at session start, so apply_engine_conf
    # cannot set it on a driver's running session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Spark rejects a spark.python.unix.domain.socket.dir of 61 or more
# characters, which keeps "<dir>/.<uuid4>.sock" within the 107 bytes of
# an AF_UNIX path.
_SOCKET_DIR_MAX = 60


@functools.cache
def _socket_dir() -> str:
    """This process's directory for the Python transport's Unix domain
    sockets, ``<base>/sg-XXXXXXXX``: under its temp dir when that fits
    Spark's limit, else under ``/tmp``. It is removed at exit: a driver
    that exits without ``spark.stop()`` leaves its accumulator socket
    behind."""
    base = tempfile.gettempdir()
    if len(os.fsencode(base)) + len("/sg-XXXXXXXX") > _SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix="sg-", dir=base)
    atexit.register(shutil.rmtree, path, True)
    return path


def _derived_shuffle_partitions(cpus: int) -> int:
    """Size-derived shuffle-partition default (round 13, guide §2.2).

    The default used to be a constant (= cpus). At bench scale that
    constant dominates the suite: sf0.1 is ~17 MB of parquet, so every
    exchange fanned KB-scale data out to 32 sub-MB partitions whose
    per-task scheduling latency was ~40% of total bench seconds — and
    streaming state stores (which AQE never coalesces) paid it per
    micro-batch. Derive the default from the INPUT size instead:

        partitions = clamp(input_bytes / 2 MiB, 4, 2 * parallelism)

    2 MiB of compressed input per partition is the smallest slice
    whose task outlives its scheduling overhead (compressed shuffle
    bytes are the same ballpark as compressed parquet input; AQE's own
    useful-partition floor, ``coalescePartitions.minPartitionSize``,
    is 1 MiB). The rule is scale-adaptive, not local tuning: at sf0.1
    it derives ~9, at 10x probe scale ~64+, and on any real corpus it
    saturates the cap immediately — at which point the deployment sets
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (the documented knob, ~2-3x
    total executor cores, partitions sized 100 MB-1 GB per guide §2.2)
    and this default never engages. AQE coalescing stays on above it.

    Reads ``$SPARK_GRAFT_SF_DIR`` (the same contract bench.py and the
    driver use); unreadable/absent dir falls back to the legacy
    constant (= cpus) so nothing breaks off-bench.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    if total <= 0:
        return cpus
    return max(4, min(2 * cpus, -(-total // (2 << 20))))


def get_spark(
    app_name: str = "etl-spark-eks-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str = "128m",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine profile applied.

    Defaults come from env: ``SPARK_GRAFT_CPUS`` (local parallelism) and
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (explicit deployment override;
    otherwise derived from the input size — see
    :func:`_derived_shuffle_partitions`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # In local mode the driver JVM is the whole cluster; Spark's 1g
    # default is sized for a thin cluster driver, not 32 executor threads
    # sharing one heap. On a real cluster this maps to executor memory
    # (reference sizes 4g+4g per 1-core executor,
    # spark-operator-taxi.yaml:120-124).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    if shuffle_partitions is None:
        env_p = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = (
            int(env_p) if env_p else _derived_shuffle_partitions(cpus)
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.driver.memory"] = driver_mem
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.sql.files.maxPartitionBytes"] = max_partition_bytes
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        conf.setdefault("spark.python.daemon.module", "etl_spark_eks_spark.daemon")
        conf.setdefault("spark.python.unix.domain.socket.enabled", "true")
        if "spark.python.unix.domain.socket.dir" not in conf:
            conf["spark.python.unix.domain.socket.dir"] = _socket_dir()
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")))
        )
    # Deployment escape hatch: ';'-separated key=value pairs applied
    # LAST — after programmatic extra_conf — so a cluster (or a
    # robustness run, e.g. AQE off) can override any engine or
    # call-site default without code changes.
    extra_env = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra_env.split(";"))):
        k, _, v = pair.partition("=")
        conf[k.strip()] = v.strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def scoped(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A session for one query's non-default SQL settings: ``spark``'s
    effective runtime conf and temp views, with ``conf`` on top, in a
    SQLConf of its own, so nothing set here is ever seen by ``spark``
    or by a concurrent query on it (the reference scopes settings the
    same way: one sparkConf per job, spark-operator-taxi.yaml:17-31).

    This is the only way a query changes SQL settings. It clones the
    JVM session (``cloneSession``, under 1 ms a call on local[2]),
    wrapped the way PySpark wraps ``newSession``. ``newSession()``
    would start from the SparkConf instead and drop whatever was set at
    runtime (on a driver's plain session: the whole
    ``apply_engine_conf`` profile); copying ``conf.getAll`` in Python
    costs ~20 ms a call. SparkContext, catalog and cache stay shared. A
    frame built on the returned session keeps its settings through the
    caller's action.

    A clone has its own ``StreamingQueryManager``, so the caller's
    ``StreamingQueryListener``s are registered on it too: a stream the
    query starts on the scoped session reaches them once per event
    (each manager forwards only its own session's queries)."""
    jsess = spark._jsparkSession
    jclone = jsess.cloneSession()
    listeners = jsess.streams().listListeners()
    if listeners:
        streams = jclone.streams()
        for listener in listeners:
            streams.addListener(listener)
    sess = spark.__class__(spark.sparkContext, jclone)
    for k, v in conf.items():
        sess.conf.set(k, v)
    return sess


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of the engine profile to an
    externally-created session (e.g. the driver's)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
