"""The static confs ``get_spark`` sets to cut each trigger's fixed cost.
(a) Python workers talk to the JVM over Unix-domain sockets in an
owner-only directory, and both a Python UDF and a Python DataSource read
run there; where a socket path would not fit ``sun_path`` no directory
is made.  (b) A stream's offset and commit logs go through the FileSystem
API checkpoint manager and keep their ``.crc`` checksums."""

from __future__ import annotations

import os
import stat
import tempfile

from go_pulsar_elasticsearch_spark import session
from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import make_server
from go_pulsar_elasticsearch_spark.sources.es_reader_sim import EsSearchDataSource


def test_worker_sockets_live_in_an_owner_only_directory(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700

    from pyspark.sql import functions as F

    @F.udf("string")
    def worker_mode(_):
        import os

        return os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()

    (row,) = spark.range(1, numPartitions=1).select(worker_mode("id")).collect()
    assert row[0] == "true"
    # the daemon's listening socket sits in the directory
    assert any(n.endswith(".sock") for n in os.listdir(sock_dir))

    srv, state, url = make_server()
    try:
        for i in range(10):
            state.docs[str(i)] = {"uuid": str(i)}
            state.doc_index[str(i)] = "index_data"
        spark.dataSource.register(EsSearchDataSource)
        read = spark.read.format("es_search_sim").schema("uuid string")
        assert read.option("endpoint", url).load().count() == 10
    finally:
        srv.shutdown()


def test_no_socket_directory_where_a_socket_path_would_not_fit(monkeypatch, tmp_path):
    deep = tmp_path / ("d" * (session._SUN_PATH_BYTES - len(str(tmp_path))))
    deep.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    assert session._worker_socket_dir.__wrapped__() is None
    assert os.listdir(deep) == []


def test_stream_logs_use_filesystem_manager_and_keep_checksums(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.range(5).write.parquet(src)
    q = (
        spark.readStream.schema("id bigint").parquet(src)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ckpt),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(ckpt, log))
        assert "0" in names and ".0.crc" in names, (log, names)
