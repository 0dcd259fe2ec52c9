"""``get_spark`` reads its environment knobs when it builds the conf."""

from __future__ import annotations

from parallelcovertree_spark import session

_CODEC = "spark.io.compression.codec"


def test_io_codec_read_when_conf_is_built(monkeypatch):
    monkeypatch.delenv("COVERGRID_IO_CODEC", raising=False)
    assert _CODEC not in session._session_conf()
    # set after the module was imported: still seen
    monkeypatch.setenv("COVERGRID_IO_CODEC", "zstd")
    assert session._session_conf()[_CODEC] == "zstd"
    # an explicit extra_conf still wins over the environment
    conf = session._session_conf(8, {_CODEC: "lz4"})
    assert conf[_CODEC] == "lz4"
    assert conf["spark.sql.shuffle.partitions"] == "8"
