"""``session.session_conf``: the confs ``get_spark`` sets, Spark-free.

The local-FS shim jar goes onto the driver classpath, joined to any class
path already configured, and the ``fs.*impl`` confs that name its classes
are set only when the call launches the JVM with the jar on it."""

from __future__ import annotations

import os

import pytest

from stellar_etl_airflow_spark import session as S

CP = "spark.driver.extraClassPath"
FS = ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl")

pytestmark = pytest.mark.skipif(not os.path.exists(S._JAR), reason="fastlocalfs.jar is not built")


def _env(tmp_path, **extra) -> dict:
    """An environment whose spark-defaults.conf is an empty temp dir's."""
    return {"SPARK_CONF_DIR": str(tmp_path), **extra}


def test_launching_session_puts_jar_and_fs_confs(tmp_path):
    conf = S.session_conf(None, launching=True, environ=_env(tmp_path))
    assert conf[CP] == S._JAR
    assert all(k in conf for k in FS)
    assert conf["spark.sql.session.timeZone"] == "UTC"


def test_existing_jvm_gets_no_classpath_or_fs_confs(tmp_path):
    conf = S.session_conf(None, launching=False, environ=_env(tmp_path))
    assert CP not in conf and not any(k in conf for k in FS)
    assert conf["spark.python.daemon.module"] == "stellar_etl_airflow_spark.pydaemon"


def test_jar_joins_extra_conf_classpath(tmp_path):
    conf = S.session_conf({CP: "/jars/a.jar"}, launching=True, environ=_env(tmp_path))
    assert conf[CP] == os.pathsep.join(["/jars/a.jar", S._JAR])


def test_jar_joins_spark_defaults_classpath(tmp_path):
    (tmp_path / "spark-defaults.conf").write_text(
        "# site defaults\nspark.driver.memory 4g\nspark.driver.extraClassPath=/jars/site.jar\n"
    )
    conf = S.session_conf(None, launching=True, environ=_env(tmp_path))
    assert conf[CP] == os.pathsep.join(["/jars/site.jar", S._JAR])


def test_submit_args_classpath_wins_so_no_fs_confs(tmp_path):
    """spark-submit takes --driver-class-path over any --conf: the jar
    would not be on the classpath, so its classes must not be named."""
    env = _env(tmp_path, PYSPARK_SUBMIT_ARGS="--driver-class-path /jars/b.jar pyspark-shell")
    conf = S.session_conf(None, launching=True, environ=env)
    assert CP not in conf and not any(k in conf for k in FS)


def test_extra_conf_overrides_base_and_fs_confs(tmp_path):
    extra = {"spark.sql.shuffle.partitions": "3", FS[0]: "org.apache.hadoop.fs.LocalFileSystem"}
    conf = S.session_conf(extra, launching=True, environ=_env(tmp_path))
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf[FS[0]] == "org.apache.hadoop.fs.LocalFileSystem"
