"""Session factory configuration errors."""

from __future__ import annotations

import pytest

from fifa_data_pipeline_spark.session import get_spark


def test_extra_conf_segment_without_equals_names_var_and_segment(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "spark.io.compression.codec=zstd;bogus"
    )
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF.*'bogus'"):
        get_spark("extra-conf-error")
