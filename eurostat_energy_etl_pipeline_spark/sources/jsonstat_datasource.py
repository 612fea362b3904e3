"""`spark.read.format("jsonstat")` — a Spark 4 Python DataSource for
JSON-stat dense-cube documents (SURVEY §2.1 S1's "idiomatic form").

`decode_jsonstat` (sources/jsonstat.py) is the single-document path: the
payload is already in driver memory, so it is decoded there and shipped as
an Arrow local relation. This DataSource is the multi-document ingest
path: every *.json file under the load path becomes one input partition,
so a directory of saved API responses (the natural shape of a scheduled
extract at scale) decodes executor-side in parallel with no driver
involvement per document. Both paths run the one kernel,
`jsonstat.decode_document`, and produce the same 9-column observation
schema, so downstream plans are source-agnostic.

Usage:
    register_jsonstat_source(spark)   # once per session
    spark.read.format("jsonstat").load("/path/to/responses/")
    # options: indicators="GEP,FC_E" (allow-list),
    #          dataset_code="nrg_cb_e" (default: file stem)
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from eurostat_energy_etl_pipeline_spark.sources.jsonstat import (
    DEFAULT_INDICATORS,
    OBSERVATION_SCHEMA,
    decode_document,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str, dataset_code: str):
        self.path = path
        self.dataset_code = dataset_code


class JsonStatReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        self.dataset_code = options.get("dataset_code")
        inds = options.get("indicators")
        self.indicators = (
            tuple(s.strip() for s in inds.split(",")) if inds else DEFAULT_INDICATORS
        )

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if f.endswith(".json")
            )
        else:
            files = [self.path]
        return [
            _FilePartition(
                f, self.dataset_code or os.path.splitext(os.path.basename(f))[0]
            )
            for f in files
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        with open(partition.path) as fh:
            payload = json.load(fh)
        yield from decode_document(payload, partition.dataset_code, self.indicators)


class JsonStatDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonstat"

    def schema(self) -> StructType:
        return OBSERVATION_SCHEMA

    def reader(self, schema) -> JsonStatReader:
        return JsonStatReader(self.options)


def register_jsonstat_source(spark: SparkSession) -> None:
    """Idempotent format registration."""
    spark.dataSource.register(JsonStatDataSource)
