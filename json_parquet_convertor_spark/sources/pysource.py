"""Custom Python data source (Spark 4 DataSource API, SURVEY.md §2 B1).

The PySpark 4 extension point the reference's SQS poller would target
today: instead of a driver-side loop feeding files (the reference's
`convertor/convertor.go:44-57` poll loop), a DataSource declares its
schema and partitioning and the engine schedules one reader task per
partition — parallel, retryable, and visible to Catalyst like any other
relation.

The synthetic "sensor" source here is deterministic (reading =
sensor_id·100003 + tick·17) so the DuckDB oracle can restate the
generator as a formula over generate_series.

The source and reader classes are defined inside a function, so
cloudpickle ships them to the Python workers by value: a worker runs the
reader without importing this package, whatever its working directory
or ``PYTHONPATH``.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _sensor_source() -> type[DataSource]:
    class SensorReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.n_sensors = int(options.get("sensors", "8"))
            self.n_ticks = int(options.get("ticks", "250"))

        def partitions(self):
            # one partition per sensor: the engine schedules these as
            # independent tasks — the parallelism contract of the API
            return [InputPartition(s) for s in range(self.n_sensors)]

        def read(self, partition):
            s = partition.value
            for t in range(self.n_ticks):
                yield (s, t, s * 100003 + t * 17)

    class SensorDataSource(DataSource):
        """Deterministic synthetic sensor feed; one input partition per
        sensor, so read parallelism scales with the `sensors` option."""

        @classmethod
        def name(cls) -> str:
            return "jpc_sensors"

        def schema(self) -> str:
            return "sensor_id int, tick int, reading bigint"

        def reader(self, schema) -> SensorReader:
            return SensorReader(self.options)

    return SensorDataSource


SensorDataSource = _sensor_source()
