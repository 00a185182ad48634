"""SparkSession factory.

One place to pin every conf that correctness or reproducibility depends on:

- ``spark.sql.session.timeZone=UTC`` — the reference stamps wall-clock Thailand-tz
  datetimes (reference: backend/api/models.py:11-16); we instead make every timestamp
  an explicit run parameter and pin the session TZ so Spark/DuckDB oracle comparisons
  are stable.
- ``spark.sql.shuffle.partitions`` — sized to cores for local runs; on a real cluster
  this is set per-job (or left to AQE coalescing).
- AQE on, with skew-join handling: skewed hosts are a first-class concern of the
  frontier (Zipfian host distribution), handled by explicit salting for the window
  operator plus AQE for the join side.
- ``spark.python.daemon.module`` — local sessions run their Python workers from
  the installed pyspark, not Spark's zips (``_daemon.py``,
  ``worker_daemon_module``).
"""

from __future__ import annotations

import contextlib as _contextlib
import glob
import os
import re

import pyspark
from pyspark.sql import SparkSession

DAEMON_CONF = "spark.python.daemon.module"
DAEMON_MODULE = "web_crawler_spark._daemon"
# the directory the package is imported from: a worker can run
# ``python -m web_crawler_spark._daemon`` only with it on its path
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_module(
    master: str | None,
    extra_conf: dict[str, str] | None,
    *,
    pyspark_file: str,
    pyspark_version: str,
    jvm_version: str | None,
    worker_path: list[str],
) -> str | None:
    """The ``spark.python.daemon.module`` to set, or None for Spark's own.

    ``DAEMON_MODULE`` only when the workers share this host (``local`` or
    ``local[...]`` master), the driver's pyspark is not inside a zip and is
    the JVM's version, the package's parent dir is on ``worker_path`` (the
    workers' PYTHONPATH and cwd) and the caller passed no daemon module of
    its own."""
    if extra_conf and DAEMON_CONF in extra_conf:
        return None
    ok = (
        re.fullmatch(r"local(\[[^\]]*\])?", master or "") is not None
        and ".zip" + os.sep not in pyspark_file
        and pyspark_version == jvm_version
        and PACKAGE_PARENT in {os.path.abspath(p) for p in worker_path}
    )
    return DAEMON_MODULE if ok else None


def daemon_facts() -> dict:
    """This process's facts for ``worker_daemon_module``. In local mode
    the workers start in the JVM's cwd with the JVM's PYTHONPATH behind
    Spark's own entries: this process's, or those a JVM launched earlier
    (before a chdir) still has."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH")
    else:
        cwd = jvm.System.getProperty("user.dir")
        pythonpath = jvm.System.getenv("PYTHONPATH")
    return {
        "pyspark_file": pyspark.__file__,
        "pyspark_version": pyspark.__version__,
        "jvm_version": _jvm_version(),
        "worker_path": [cwd, *filter(None, (pythonpath or "").split(os.pathsep))],
    }


def _jvm_version() -> str | None:
    """The Spark version the JVM runs: ``$SPARK_HOME/RELEASE``'s first line,
    else the ``spark-core`` jar's name."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    try:
        with open(os.path.join(home, "RELEASE")) as f:
            m = re.match(r"Spark (\S+)", f.readline())
    except OSError:
        m = None
    if m is None:
        jars = glob.glob(os.path.join(home, "jars", "spark-core_*-*.jar"))
        m = re.search(r"spark-core_[^-]+-(.+)\.jar$", jars[0]) if jars else None
    return m.group(1) if m else None


def get_spark(
    app_name: str = "web-crawler-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``parallelism`` sets ``local[N]`` when no master is configured externally —
    on a real cluster you spark-submit with ``--py-files`` and this function
    simply inherits the session master.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    builder = SparkSession.builder.appName(app_name)
    # never override an externally configured master: spark-submit --master
    # lands in the JVM-side conf (visible via SparkConf), SPARK_MASTER is
    # the env-var route; only then fall back to local[N]
    from pyspark import SparkConf

    master = SparkConf().get("spark.master", os.environ.get("SPARK_MASTER"))
    if cpus is not None and master is None:
        master = f"local[{cpus}]"
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or cpus or 32
    confs = {
        # local-mode driver == executor JVM; 1g default heap cannot sort a
        # multi-million-row frontier. Honored only at JVM launch.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        "spark.driver.maxResultSize": "4g",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # parallelism-first coalescing (the default) stays GLOBAL: compressed
        # shuffle sizes under-estimate row volume on repetitive data, so
        # size-based coalescing can under-partition a large scan and idle
        # 3/4 of the cluster (measured: N→4N efficiency 0.895 → 0.64 when
        # size-first was global). The crawl ROUND flips to size-based
        # coalescing for its own jobs only (plans/round.py:run_round) —
        # orchestration stages are tiny and task latency dominates there.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas UDF / mapInPandas / toPandas hop.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        # Broadcast threshold: robots/mapping tables are small dims by design.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    daemon = worker_daemon_module(master, extra_conf, **daemon_facts())
    if daemon:
        confs[DAEMON_CONF] = daemon
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Size-based AQE coalescing for small-stage operators (the crawl round,
# the connected-components loop below 5M edges): dozens of tiny stages
# where task-launch latency dominates, so partitions follow data volume,
# not core count — measured ~25% off the round's fixed cost. Globally this
# is wrong (see the parallelism-first note in get_spark), so it is only
# ever applied through ``scoped_confs``.
SMALL_STAGE_CONFS = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


@_contextlib.contextmanager
def scoped_confs(spark, confs: dict):
    """Temporarily set SQLConf entries, restoring previous values on exit.

    The flip is visible to ANYTHING planning on the same session while the
    scope is open (SQLConf is session-global), so callers either own a
    private session (the crawl round) or hold the scope only around
    materialization points of an operator that is not run concurrently
    with other planning (the connected-components loop). Conf effects
    land at EXECUTION time — a lazy frame built inside the scope but
    acted on after it closes planes under the restored confs."""
    conf = spark.conf
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = conf.get(k)
        except Exception:
            prev[k] = None
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def release_frame(df, deep: bool = False, blocking: bool = False) -> None:
    """Free a materialized frame's storage deterministically.

    ``DataFrame.unpersist()`` only drops CacheManager entries, so it is a
    silent no-op on a ``localCheckpoint``ed frame: those MEMORY_AND_DISK
    blocks belong to the internal checkpointed RDD (a ``LogicalRDD``
    leaf) and are otherwise freed only when the JVM-side object happens
    to be GC'd. A long-lived driver that checkpoints per round / per
    micro-batch (the crawl loop, the pair-admission stream) accumulates
    dead blocks nondeterministically between GCs; this releases them at
    the caller's documented cleanup point instead.

    ``deep=True`` walks the analyzed plan and releases EVERY LogicalRDD
    leaf under it — for a derived frame (projection/join over one or more
    checkpoints) after its outputs are fully materialized. Only safe when
    the caller owns every checkpoint in the plan; a shared checkpoint
    (another live frame reading the same blocks) would be torn down with
    it. In either mode the frame must never be read again afterwards —
    lineage was truncated at the checkpoint, so there is nothing left to
    recompute from.

    ``df.unpersist()`` runs unconditionally as well (a no-op on uncached
    frames): a frame can hold BOTH storages at once — e.g.
    ``createDataFrame([]).persist()`` analyzes to a LogicalRDD root yet
    its materialization lives in the CacheManager — and releasing only
    the RDD blocks would strand the cache entry.

    ``blocking=True`` waits for the block drop to complete before
    returning — for callers whose contract is "storage is back to
    baseline when I return" (the streaming end-of-batch release). The
    default stays non-blocking: per-round crawl cleanup overlaps the
    drop with the next round's work."""
    try:
        _release_plan(df._jdf.queryExecution().analyzed(), deep, blocking)
    except Exception:  # Connect or API drift: the cache path still runs
        pass
    df.unpersist(blocking)


def _release_plan(plan, deep: bool, blocking: bool = False) -> bool:
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(blocking)
        return True
    if not deep:
        return False
    hit = False
    it = plan.children().iterator()
    while it.hasNext():
        hit = _release_plan(it.next(), True, blocking) or hit
    return hit


def truncate_plan(df):
    """``localCheckpoint(eager=True)`` that also DROPS the inherited plan
    statistics — the materialization point for iterative operators.

    ``Dataset.localCheckpoint`` truncates lineage but carries the source
    plan's estimated statistics onto the new ``LogicalRDD`` leaf
    (``LogicalRDD.rewriteStatsAndConstraints``). Under the default
    size-only estimator a join's ``sizeInBytes`` is the uncapped BigInt
    PRODUCT of its children (``SizeInBytesOnlyStatsPlanVisitor.default``),
    so an iterative loop that joins each round's checkpoint into the next
    round's plan DOUBLES the estimate's bit-length every round — by round
    ~25 the number itself exceeds java.math.BigInteger's 2^31-bit ceiling
    and plan-time stats estimation throws ``ArithmeticException:
    BigInteger would overflow supported range`` (observed in
    ``connected_components`` on a 40k-image near-dup graph; any
    mapInPandas-rooted loop seeds this with ``defaultSizeInBytes`` =
    Long.MaxValue). Rewrapping the ALREADY-MATERIALIZED checkpoint RDD via
    ``internalCreateDataFrame`` builds the same ``LogicalRDD`` leaf with
    no stats override, so each round restarts from ``defaultSizeInBytes``
    and the estimate stays bounded no matter how many rounds run. Falls
    back to the plain checkpoint if the internal constructor ever drifts
    (the loop then still works for bounded iteration counts)."""
    ckpt = df.localCheckpoint(eager=True)
    try:
        jdf = ckpt._jdf
        analyzed = jdf.queryExecution().analyzed()
        # take the LogicalRDD's OWN rdd (the persisted blocks), not
        # queryExecution().toRdd() (a derived MapPartitionsRDD) — the
        # wrapper must hold the materialized RDD itself so
        # ``release_frame`` on the wrapper still unpersists the blocks
        if analyzed.getClass().getSimpleName() != "LogicalRDD":
            return ckpt
        jrdd = analyzed.rdd()
        jschema = jdf.schema()
        spark = ckpt.sparkSession
        jdf2 = spark._jsparkSession.internalCreateDataFrame(jrdd, jschema, False)
        from pyspark.sql import DataFrame as _DF

        return _DF(jdf2, spark)
    except Exception:  # Connect or internal-API drift
        return ckpt
