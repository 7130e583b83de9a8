from __future__ import annotations

import pytest

from magshield_data_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("magshield-tests", master="local[8]", shuffle_partitions="8")
    yield s


def cdc_reader(path: str, **opts):
    """The ``ledger_cdc`` stream reader over *path*, and its data
    source (option names lower-cased, as Spark passes them)."""
    from magshield_data_pipeline_spark.sources import cdc_stream

    src = cdc_stream.LedgerCdcDataSource(options={
        "path": path, **{k.lower(): str(v) for k, v in opts.items()}})
    return src.streamReader(src.schema()), src


def cdc_drain(reader, start: dict, end: dict | None = None):
    """The rows one trigger delivers between offsets *start* and *end*
    (default: ``latestOffset()``), asked for the way Spark asks: the
    partition plan, then each partition's rows in plan order.  Returns
    ``(rows, end)``."""
    end = end or reader.latestOffset()
    rows = [r for p in reader.partitions(start, end) for r in reader.read(p)]
    return rows, end
