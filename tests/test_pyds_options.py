"""Option validation of the synthetic events source (sources/pyds.py):
a key the source does not parse must fail the read, not fall back to
the 8x1000-row defaults. Fast tier."""

from __future__ import annotations

import pytest

from covid_data_pipeline_spark.sources.pyds import _Opts, register_synthetic_source


def test_unknown_option_message_names_key_and_accepted_keys():
    with pytest.raises(ValueError) as err:
        _Opts({"n_rows": "5", "numpartitions": "2"})
    msg = str(err.value)
    assert "n_rows" in msg and "rowsperpartition" in msg and "maxrows" in msg


def test_unknown_option_fails_batch_read(spark):
    register_synthetic_source(spark)
    df = spark.read.format("synthetic_events").option("n_rows", 5).load()
    with pytest.raises(Exception, match="n_rows"):
        df.count()


def test_unknown_option_fails_streaming_read(spark):
    register_synthetic_source(spark)
    stream = spark.readStream.format("synthetic_events").option("n_rows", 5).load()
    with pytest.raises(Exception, match="n_rows"):
        q = stream.writeStream.format("noop").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
