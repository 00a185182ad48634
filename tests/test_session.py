"""session.truncate_plan — the materialization point for iterative loops.

Pins the three properties the iterative operators (connected_components,
pagerank) rely on:

1. value identity — the wrapper reads the same materialized blocks the
   checkpoint produced;
2. stats reset — a plain ``localCheckpoint`` inherits the source plan's
   estimated ``sizeInBytes`` (``LogicalRDD.rewriteStatsAndConstraints``),
   and under the size-only estimator a join estimate is the uncapped
   BigInt PRODUCT of its children, so a loop that joins each round's
   checkpoint into the next round's plan grows the estimate's bit-length
   geometrically until ``java.math.BigInteger`` overflows (observed:
   ``ArithmeticException: BigInteger would overflow supported range`` in
   ``connected_components`` on a 40k-image phash graph). ``truncate_plan``
   must restart every round from a bounded default;
3. releasability — ``release_frame`` on the wrapper still unpersists the
   checkpoint's blocks (the wrapper must hold the LogicalRDD's OWN rdd,
   not a derived one).

The worker daemon shim (``_daemon.py``) and the decision that sets it
(``worker_daemon_module``) are pinned at the end of the file.
"""

from __future__ import annotations

import os
import sys
import zipfile

import pyspark
import pytest
from pyspark.sql import functions as F

from web_crawler_spark import _daemon
from web_crawler_spark.session import (
    DAEMON_CONF,
    DAEMON_MODULE,
    PACKAGE_PARENT,
    _jvm_version,
    daemon_facts,
    release_frame,
    truncate_plan,
    worker_daemon_module,
)


def _size_bits(df) -> int:
    # py4j converts the scala BigInt straight to a Python int
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()).bit_length()


def _loop_round(df):
    # the connected-components plan shape: the previous round's
    # materialization enters the next round's plan on BOTH sides of a join
    return (
        df.alias("a")
        .join(df.alias("b"), F.col("a.k") == F.col("b.k"))
        .select(F.col("a.k").alias("k"), F.greatest("a.v", "b.v").alias("v"))
    )


def test_truncate_plan_value_identity(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = truncate_plan(df)
    assert out.schema == df.schema
    assert sorted(r.k for r in out.collect()) == list(range(100))
    release_frame(out)


def test_truncate_plan_resets_inherited_stats(spark):
    base = spark.range(64).select(F.col("id").alias("k"), F.lit(1).alias("v"))

    plain = base.localCheckpoint(eager=True)
    bits0 = _size_bits(plain)
    for _ in range(3):
        plain = _loop_round(plain).localCheckpoint(eager=True)
    grown = _size_bits(plain)
    # the inherited product estimate compounds per round …
    assert grown > bits0 * 2, (bits0, grown)

    trunc = truncate_plan(base)
    for _ in range(3):
        trunc = truncate_plan(_loop_round(trunc))
    # … the truncated one restarts from the bounded default every round
    assert _size_bits(trunc) <= 64
    release_frame(plain)
    release_frame(trunc)


def test_truncate_plan_deep_loop_does_not_overflow(spark):
    # 40 rounds of the compounding shape: without the stats reset the
    # bit-length doubles per round (2^40 × the seed — far past BigInteger's
    # 2^31-bit ceiling had it been inherited); with it the loop is flat
    df = truncate_plan(
        spark.range(32).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    )
    for _ in range(40):
        nxt = truncate_plan(_loop_round(df).limit(32))
        release_frame(df)
        df = nxt
    assert df.count() == 32
    assert _size_bits(df) <= 64
    release_frame(df)


def test_release_frame_frees_truncated_blocks(spark):
    jsc = spark.sparkContext._jsc.sc()
    df = truncate_plan(spark.range(1000).select(F.col("id").alias("k")))
    df.count()
    n_before = jsc.getPersistentRDDs().size()
    release_frame(df)
    assert jsc.getPersistentRDDs().size() < n_before


# ---------------------------------------------------------------------------
# the worker daemon shim: local sessions run their Python workers from the
# installed pyspark, so no task's ``importlib.invalidate_caches()`` re-reads
# Spark's zips
# ---------------------------------------------------------------------------


def test_workers_import_the_installed_pyspark(spark):
    """With the shim, a task's pyspark is not inside a zip and its
    ``sys.path_importer_cache`` holds no zipimporter."""
    expected = worker_daemon_module("local[8]", None, **daemon_facts())
    assert spark.sparkContext.getConf().get(DAEMON_CONF, None) == expected
    if expected is None:
        pytest.skip("this environment keeps Spark's daemon (see worker_daemon_module)")

    def probe(it):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in it:
            pass
        cache = sys.path_importer_cache.values()
        yield pd.DataFrame({
            "file": [pyspark.__file__],
            "zips": [sum(isinstance(v, zipimport.zipimporter) for v in cache)],
        })

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "file string, zips int").collect()
    assert len(rows) == 4
    assert all(".zip" + os.sep not in r.file for r in rows), rows
    assert all(r.zips == 0 for r in rows), rows


def test_daemon_facts_follow_a_running_jvm(spark, tmp_path, monkeypatch):
    """A JVM that is already up keeps the cwd it started in, and so do its
    workers: a later chdir must not put a dir on the facts' worker path."""
    jvm_cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    monkeypatch.chdir(tmp_path)
    path = daemon_facts()["worker_path"]
    assert path[0] == jvm_cwd and str(tmp_path) not in path


_LOCAL = dict(
    pyspark_file=pyspark.__file__,
    pyspark_version="4.1.2",
    jvm_version="4.1.2",
    worker_path=[PACKAGE_PARENT],
)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2, 3]"])
def test_daemon_module_set_for_local_sessions(master):
    assert worker_daemon_module(master, {"x": "y"}, **_LOCAL) == DAEMON_MODULE


@pytest.mark.parametrize(
    "master, extra_conf, facts",
    [
        ("local[4]", None, {"pyspark_file": "/s/python/lib/pyspark.zip/pyspark/__init__.py"}),
        ("local[4]", None, {"jvm_version": "4.0.1"}),
        ("local[4]", None, {"jvm_version": None}),
        ("spark://host:7077", None, {}),
        ("local-cluster[2,1,1024]", None, {}),
        (None, None, {}),
        ("local[4]", None, {"worker_path": [os.path.join(PACKAGE_PARENT, "tests")]}),
        ("local[4]", {DAEMON_CONF: "pyspark.daemon"}, {}),
    ],
    ids=[
        "zipped-pyspark", "version-mismatch", "unknown-jvm", "cluster-master",
        "local-cluster", "no-master", "package-not-on-worker-path", "caller-module",
    ],
)
def test_daemon_module_keeps_spark_default(master, extra_conf, facts):
    assert worker_daemon_module(master, extra_conf, **{**_LOCAL, **facts}) is None


def test_jvm_version_from_release_then_jar(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    assert _jvm_version() is None
    (tmp_path / "jars").mkdir()
    (tmp_path / "jars" / "spark-core_2.13-4.0.1.jar").write_bytes(b"")
    assert _jvm_version() == "4.0.1"
    (tmp_path / "RELEASE").write_text("Spark 4.1.2 (git revision f0bb2e6a47d)\n")
    assert _jvm_version() == "4.1.2"


def _spark_entries(root, version_py: bytes | None) -> list[str]:
    """A fake ``$SPARK_HOME``'s worker path entries: pyspark.zip holding
    ``version_py`` (if any), the py4j zip and the spark-core jar."""
    lib, jars = root / "python" / "lib", root / "jars"
    lib.mkdir(parents=True, exist_ok=True)
    jars.mkdir(exist_ok=True)
    entries = [lib / "pyspark.zip", lib / "py4j-0.10.9.9-src.zip", jars / "spark-core_2.13-4.1.2.jar"]
    for e in entries:
        with zipfile.ZipFile(e, "w") as z:
            if e.name == "pyspark.zip" and version_py is not None:
                z.writestr("pyspark/version.py", version_py)
    return [str(e) for e in entries]


def _run_shim(monkeypatch, path: list[str]):
    """``unzip_path`` over ``path`` with Spark's three entries, a jar
    subpath and another zip in the importer cache; returns (dropped?,
    path after, those cache keys left, those cache keys)."""
    cache = {p: object() for p in path[:3]}
    cache[path[0] + "-other"] = object()
    cache[os.path.join(path[2], "org")] = object()
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    dropped = _daemon.unzip_path()
    return dropped, list(sys.path), set(sys.path_importer_cache) & set(cache), set(cache)


def test_shim_drops_spark_entries_when_pyspark_is_installed(tmp_path, monkeypatch):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        entries = _spark_entries(tmp_path, f.read())
    dropped, path, kept, _ = _run_shim(monkeypatch, [*entries, site])
    assert dropped and path == [site]
    assert kept == {entries[0] + "-other"}


@pytest.mark.parametrize("case", ["other-version", "zip-without-version", "pyspark-not-installed"])
def test_shim_restores_spark_entries(case, tmp_path, monkeypatch):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    version_py = None if case == "zip-without-version" else b"__version__: str = '0.0.1'\n"
    entries = _spark_entries(tmp_path, version_py)
    path = [*entries, str(tmp_path) if case == "pyspark-not-installed" else site]
    dropped, after, kept, cache = _run_shim(monkeypatch, path)
    assert not dropped and after == path and kept == cache
