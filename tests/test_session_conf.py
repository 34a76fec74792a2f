"""Deployment-guard tests for session conf (VERDICT r03 #8): the 16 MB
scan splits and 64 KB AQE minPartitionSize are LOCAL-mode ergonomics;
a cluster session must keep its cluster-sized defaults. The non-local
branch can't be executed against a real cluster here, so it is driven
through a stub session exposing exactly the surface pin_session_conf
touches (conf.set + sparkContext.master)."""

from __future__ import annotations

from aim357_2019_etl_and_ml_workshop_spark.session import (
    _RUNTIME_CONF,
    pin_session_conf,
)

SPLIT_KEY = "spark.sql.files.maxPartitionBytes"
MINPART_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


class _StubConf:
    def __init__(self):
        self.set_calls: dict[str, str] = {}

    def set(self, k, v):
        self.set_calls[k] = v


class _StubContext:
    """Exposes exactly the SparkContext surface pin_session_conf touches:
    master, defaultParallelism, and getConf().contains()."""

    def __init__(self, master, default_parallelism=32, conf_keys=()):
        self.master = master
        self.defaultParallelism = default_parallelism
        self._keys = set(conf_keys)

    def getConf(self):
        return self

    def contains(self, key):
        return key in self._keys


class _StubSession:
    def __init__(self, master, default_parallelism=32, conf_keys=()):
        self.conf = _StubConf()
        self.sparkContext = _StubContext(
            master, default_parallelism, conf_keys
        )


def test_cluster_master_keeps_cluster_scan_and_coalesce_defaults():
    for master in ("spark://host:7077", "yarn", "k8s://https://api:6443"):
        s = _StubSession(master)
        pin_session_conf(s)
        assert SPLIT_KEY not in s.conf.set_calls, master
        assert MINPART_KEY not in s.conf.set_calls, master
        # the portable runtime conf is still applied everywhere
        for k, v in _RUNTIME_CONF.items():
            assert s.conf.set_calls[k] == v


def test_local_master_gets_small_splits_and_min_partition_size():
    for master in ("local[32]", "local[*]", "local"):
        s = _StubSession(master)
        pin_session_conf(s)
        assert s.conf.set_calls[SPLIT_KEY] == str(16 * 1024 * 1024), master
        assert s.conf.set_calls[MINPART_KEY] == str(64 * 1024), master


SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def test_shuffle_width_from_cluster_parallelism_not_driver_cpus():
    """r13 (ADVICE): the width must come from the CLUSTER's core budget
    (sparkContext.defaultParallelism), never the driver machine's
    cpu_count — on a multi-executor deployment the latter would clamp
    shuffle width to the driver box."""
    s = _StubSession("spark://host:7077", default_parallelism=400)
    pin_session_conf(s)
    assert s.conf.set_calls[SHUFFLE_KEY] == "400"
    # tiny deployments still get the floor of 8
    s2 = _StubSession("local", default_parallelism=1)
    pin_session_conf(s2)
    assert s2.conf.set_calls[SHUFFLE_KEY] == "8"


def test_shuffle_width_respects_caller_set_value():
    """A width set explicitly at submit/builder time (visible in the
    SparkContext conf) is the operator's sizing decision — not stomped."""
    s = _StubSession(
        "spark://host:7077",
        default_parallelism=400,
        conf_keys=(SHUFFLE_KEY,),
    )
    pin_session_conf(s)
    assert SHUFFLE_KEY not in s.conf.set_calls


def test_real_local_session_conf_applied(spark):
    """End-to-end on the live test session: the local branch actually
    landed in the JVM conf."""
    pin_session_conf(spark)
    assert spark.conf.get(SPLIT_KEY) == str(16 * 1024 * 1024)
    assert spark.conf.get(MINPART_KEY) == str(64 * 1024)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_codegen_cache_holds_a_warm_plan_working_set(spark):
    """get_spark sizes the generated-class cache above the plan working
    set (Spark's default keeps 100 classes). A second sweep over more
    than 100 distinct code-generated plans must compile nothing: every
    class comes from the cache. Each integer literal is inlined into the
    generated Java source, so each projection is a distinct class.
    Executing the physical plan compiles its whole-stage class on the
    driver, as every action does first; the RDD is not run, which keeps
    the sweep to planning and compilation."""
    from pyspark.sql import functions as F

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    base = spark.range(1)

    def sweep():
        for i in range(110):
            df = base.select((F.col("id") * 7 + F.lit(1000 + i)).alias("x"))
            df._jdf.queryExecution().executedPlan().execute()

    sweep()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    sweep()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
