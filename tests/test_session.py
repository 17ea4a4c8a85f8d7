"""Session construction: the Unix domain socket path-length decision
and refusing ``extra_conf`` overrides of the engine's runtime confs
(no session needed), and the width of the session the tests run on."""

from __future__ import annotations

import os

import pytest

from remote_storage_adapter_spark import session as S

ON = {S._UDS_ENABLED: "true"}


def _dir(n: int) -> str:
    """An absolute directory path of exactly ``n`` bytes."""
    return "/" + "d" * (n - 1)


def test_socket_path_limit_is_107_bytes():
    # "<dir>/.<uuid4>.sock": 64 + 1 + 42 = 107 fits, one byte more not
    assert S._UDS_NAME_LEN == 42
    assert S._uds_fits(_dir(64))
    assert not S._uds_fits(_dir(65))
    # bytes, not characters
    assert not S._uds_fits("/" + "é" * 32)


def test_short_tmpdir_keeps_spark_default():
    assert S._uds_conf(ON, "/tmp") == {}
    assert S._uds_conf(ON, _dir(64)) == {}


def test_deep_tmpdir_names_short_dir(tmp_path):
    short = str(tmp_path)
    assert S._uds_fits(short)
    assert S._uds_conf(ON, _dir(65), short_dir=short) == {S._UDS_DIR: short}


def test_deep_tmpdir_without_short_dir_falls_back_to_tcp(tmp_path):
    assert S._uds_conf(ON, _dir(65), short_dir=_dir(65)) == \
        {S._UDS_ENABLED: "false"}
    missing = str(tmp_path / "missing")
    assert S._uds_conf(ON, _dir(90), short_dir=missing) == \
        {S._UDS_ENABLED: "false"}


def test_caller_socket_dir_or_tcp_wins():
    deep = _dir(120)
    assert S._uds_conf({**ON, S._UDS_DIR: deep}, deep) == {}
    assert S._uds_conf({S._UDS_ENABLED: "false"}, deep) == {}
    assert S._uds_conf({S._UDS_ENABLED: False}, deep) == {}


def test_jvm_tmpdir_follows_java_option_order():
    assert S._jvm_tmpdir({}, {}) == "/tmp"
    conf = {"spark.driver.extraJavaOptions":
            "-Xms1g -Djava.io.tmpdir=/deep/conf -XX:-UsePerfData"}
    assert S._jvm_tmpdir(conf, {}) == "/deep/conf"
    # the command line overrides JAVA_TOOL_OPTIONS; _JAVA_OPTIONS wins
    env = {"JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=/tool"}
    assert S._jvm_tmpdir(conf, env) == "/deep/conf"
    assert S._jvm_tmpdir({}, env) == "/tool"
    env["_JAVA_OPTIONS"] = "-Djava.io.tmpdir=/last"
    assert S._jvm_tmpdir(conf, env) == "/last"


@pytest.mark.parametrize("key", [
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
])
def test_extra_conf_refuses_runtime_conf(key):
    # raised before any session is built
    with pytest.raises(ValueError, match=key):
        S.get_spark("refused", extra_conf={key: "x"})


def test_session_width_is_the_cpu_affinity(spark):
    """A default session runs one task thread per CPU this process may
    run on, and as many shuffle partitions; ``SPARK_GRAFT_CPUS`` (and
    ``SPARK_MASTER``, as perfbench sets both) still override it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    sc = spark.sparkContext
    assert sc.master == os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    assert sc.getConf().get("spark.sql.shuffle.partitions") == cpus
