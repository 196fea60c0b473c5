"""``session.conf_scope``: one book per (JVM session, conf key), and the
last exit on a key restores the value the first entry saw — across the
scopes built on it, Python wrappers, sessions and threads."""

import threading

import pytest
from pyspark.sql import SparkSession

from datayours_spark.functions.similarity import _training_exec_conf
from datayours_spark.io import one_job_collect, static_construct
from datayours_spark import session
from datayours_spark.session import conf_scope

AQE = "spark.sql.adaptive.enabled"


def test_interleaved_training_and_guard_restore_original(spark):
    orig = spark.conf.get(AQE)
    train = _training_exec_conf(spark, 10)
    guard = one_job_collect(spark)
    train.__enter__()
    guard.__enter__()
    train.__exit__(None, None, None)
    # the guard is still open: AQE stays off
    assert spark.conf.get(AQE) == "false"
    guard.__exit__(None, None, None)
    assert spark.conf.get(AQE) == orig


def test_wrappers_share_a_counter_and_sessions_do_not(spark):
    orig = spark.conf.get(AQE)
    wrapper = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert wrapper is not spark
    outer = one_job_collect(spark)
    outer.__enter__()
    with one_job_collect(wrapper):
        outer.__exit__(None, None, None)
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(AQE) == orig

    other = spark.newSession()
    with one_job_collect(other):
        assert other.conf.get(AQE) == "false"
        assert spark.conf.get(AQE) == orig
    assert spark.conf.get(AQE) == orig


def test_two_thread_overlap_restores_original(spark):
    orig = spark.conf.get(AQE)
    entered = threading.Event()
    release = threading.Event()

    def worker():
        with static_construct(spark, True):
            entered.set()
            release.wait(10)

    t = threading.Thread(target=worker)
    with one_job_collect(spark):
        t.start()
        assert entered.wait(10)
    # the main thread exited first; the worker's scope still holds
    assert spark.conf.get(AQE) == "false"
    release.set()
    t.join(10)
    assert spark.conf.get(AQE) == orig


def test_unset_key_is_unset_again(spark):
    key = "spark.datayours.test.scopedKey"
    assert spark.conf.get(key, None) is None
    with conf_scope(spark, {key: "1"}):
        with conf_scope(spark, {key: "2"}):
            assert spark.conf.get(key) == "2"
        assert spark.conf.get(key) == "2"
    assert spark.conf.get(key, None) is None


def test_failed_set_books_nothing(spark):
    """A set that raises (here: a static conf) leaves no booked key, so
    the keys entered before it are restored and later scopes on them
    still restore."""
    orig = spark.conf.get(AQE)
    static = "spark.sql.warehouse.dir"  # static: runtime set raises
    with pytest.raises(Exception, match="STATIC_CONFIG"):
        with conf_scope(spark, {AQE: "false", static: "elsewhere"}):
            pass
    sid = spark._jsparkSession.sessionUUID()
    assert not [k for k in session._scope_state if k[0] == sid]
    assert spark.conf.get(AQE) == orig
    with one_job_collect(spark):
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(AQE) == orig
