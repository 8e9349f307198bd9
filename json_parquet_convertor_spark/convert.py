"""Reference-parity JSON→Parquet conversion (SURVEY.md §1, §2 A3-A6).

Reproduces the reference's exact conversion semantics
(``/root/reference/convertor/struct.go:4-28``, ``convertor/convertor.go:137-153``):

- fixed compiled-in schema; unknown JSON keys silently dropped;
- missing keys → zero values ("" / 0), NOT null — the Go structs are
  non-pointer and every parquet column is ``required``;
- a type-mismatched record is skipped (DROPMALFORMED);
- output columns renamed per the parquet tags (``ID``→``id`` style) and age
  narrowed to an 8-bit int (INT32/INT_8 → reads back as TINYINT);
- snappy compression, dictionary-encoded strings.

The reference does this one row per file via an SQS-notified worker pool;
here it is one declarative job that scales to any number of files/rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from json_parquet_convertor_spark.sources.io import (
    read_json,
    read_parquet_policy,
    write_parquet,
)

# the reference's input schema: convertor/struct.go:4-9
PERSON_JSON_SCHEMA = StructType(
    [
        StructField("ID", StringType(), True),
        StructField("name", StringType(), True),
        StructField("nationality", StringType(), True),
        StructField("age", IntegerType(), True),
    ]
)


def person_to_parquet_df(df: DataFrame) -> DataFrame:
    """The reference's ``toParquet`` row-map (convertor/struct.go:20-28) as a
    projection: rename + zero-fill + narrowing cast to tinyint (INT_8)."""
    return df.select(
        F.coalesce(F.col("ID"), F.lit("")).alias("id"),
        F.coalesce(F.col("name"), F.lit("")).alias("name"),
        F.coalesce(F.col("nationality"), F.lit("")).alias("nationality"),
        F.coalesce(F.col("age"), F.lit(0)).cast("tinyint").alias("age"),
    )


def json_to_parquet(spark: SparkSession, src: str, dst: str) -> DataFrame:
    """End-to-end A3→A5→A6: read JSON, apply conversion semantics, write
    snappy parquet, return the read-back DataFrame."""
    converted = person_to_parquet_df(read_json(spark, src, PERSON_JSON_SCHEMA))
    write_parquet(converted, dst)
    # read-back honors the partial-file policy: our own write is
    # commit-protocol-atomic, but a REUSED dst may carry foreign dirt (the
    # reference's non-atomic loop leaves exactly that). It reads under the
    # schema just written, so no footer-inference job runs.
    return read_parquet_policy(spark, dst, schema=converted.schema)


# The reference's sample inputs (sample_json/person{2,3,4}.json), embedded so
# parity tests don't depend on the read-only reference checkout at runtime.
SAMPLE_PERSONS: dict[str, str] = {
    "person2.json": '{\n "ID": "1234",\n "name": "Jon",\n "nationality": "CM",\n "age": 12\n}\n',
    "person3.json": '{\n "ID": "12",\n "name": "AMY",\n "nationality": "AC",\n "age": 56\n}\n',
    "person4.json": '{\n "ID": "1122",\n "name": "KIM",\n "nationality": "CM",\n "age": 34\n}\n',
}


def write_sample_json(dirpath: str) -> str:
    """Materialize the embedded reference samples into ``dirpath``."""
    import os

    os.makedirs(dirpath, exist_ok=True)
    for name, body in SAMPLE_PERSONS.items():
        with open(os.path.join(dirpath, name), "w") as f:
            f.write(body)
    return dirpath


def json_to_parquet_per_file(spark: SparkSession, src: str, dst: str) -> DataFrame:
    """Reference output-layout parity: ONE single parquet file per input
    JSON file, named ``<input-basename>.parquet`` — the naming convention a
    migrating user of the reference expects (``convertor/convertor.go:171``
    writes ``<key>.parquet``). Two deliberate divergences, both documented:

    - the reference writes back into the SAME bucket whose notifications
      feed the queue, so every output re-triggers a conversion of itself
      (the ``.parquet.parquet`` loop its README warns about); here ``dst``
      is a separate prefix, which is the fix, not a semantics change;
    - the reference holds one whole file in RAM per worker; here the
      read tasks are the write tasks, each packing many small input files
      and writing one part file per input file it holds, so a million
      files stream through the executor pool without the driver holding
      any row.

    Input basenames must be unique: ``src`` may be a glob or hold
    ``key=value`` partition directories, and two files of one name there
    would both claim ``<name>.parquet``. That raises ``ValueError`` before
    anything is written.

    Mechanics: tag rows with their source basename (``input_file_name``)
    and ``partitionBy`` that key, so each input file's rows land in exactly
    one leaf directory. A ``multiLine`` JSON file is never split across
    read tasks and no two files share a key, so all of a key's rows sit in
    one task, and one task
    writes one part file per key it holds: each leaf gets exactly one part
    file with no shuffle, even when a task packs many small input files
    (the ``assert`` below checks it on every call). Each part file is then
    promoted to ``<key>.parquet`` with per-file renames — pure metadata
    ops, same count of FS operations as the reference's one S3 put per
    file. Returns the read-back frame over the renamed single files, read
    under the written schema (no inference job, and an input set that is
    all malformed reads back as an empty frame)."""
    import os
    import shutil
    from collections import Counter

    raw = read_json(spark, src, PERSON_JSON_SCHEMA)
    names = Counter(p.rsplit("/", 1)[-1] for p in raw.inputFiles())
    dup = sorted(n for n, c in names.items() if c > 1)
    if dup:
        raise ValueError(f"{src}: several input files share the basename(s) {dup}")
    converted = person_to_parquet_df(raw)
    keyed = converted.withColumn(
        "_key", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    )
    staging = dst.rstrip("/") + "__staging"
    (
        keyed.write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("_key")
        .parquet(staging)
    )
    os.makedirs(dst, exist_ok=True)
    for leaf in os.listdir(staging):
        if not leaf.startswith("_key="):
            continue
        key = leaf.split("=", 1)[1]
        parts = [
            f
            for f in os.listdir(os.path.join(staging, leaf))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1, (leaf, parts)
        shutil.move(
            os.path.join(staging, leaf, parts[0]),
            os.path.join(dst, f"{key}.parquet"),
        )
    shutil.rmtree(staging)
    # same read-back as json_to_parquet
    return read_parquet_policy(spark, dst, schema=converted.schema)
