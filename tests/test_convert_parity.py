"""Reference-parity tests for the A4/A5 conversion semantics (SURVEY §1).

The reference's contract (convertor/struct.go:4-28, convertor.go:137-141):
unknown JSON keys silently dropped; missing keys become zero values
("" / 0), never NULL; a type-mismatched record is skipped entirely; age
narrows to 8-bit. These tests feed adversarial inputs through the same
code path the queries use.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    StringType,
    StructField,
    StructType,
)

from json_parquet_convertor_spark import convert
from json_parquet_convertor_spark.sources.io import read_json


def _write(dirpath, name, obj_or_text):
    os.makedirs(dirpath, exist_ok=True)
    body = (
        obj_or_text
        if isinstance(obj_or_text, str)
        else json.dumps(obj_or_text, indent=1)
    )
    with open(os.path.join(dirpath, name), "w") as f:
        f.write(body)


def test_type_mismatch_record_is_skipped(spark, tmp_path):
    """json.Unmarshal error → whole record skipped (convertor.go:138-141)."""
    src = str(tmp_path / "bad")
    _write(src, "good.json", {"ID": "1", "name": "A", "nationality": "X", "age": 3})
    _write(src, "bad.json", {"ID": "2", "name": "B", "nationality": "Y", "age": "not-a-number"})
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    out = convert.person_to_parquet_df(df).collect()
    assert [r["id"] for r in out] == ["1"]


def test_unknown_keys_dropped(spark, tmp_path):
    """encoding/json ignores unknown keys (convertor.go:138)."""
    src = str(tmp_path / "extra")
    _write(
        src,
        "extra.json",
        {"ID": "9", "name": "Z", "nationality": "Q", "age": 5, "shoe_size": 44},
    )
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    assert df.columns == ["ID", "name", "nationality", "age"]
    assert df.count() == 1


def test_missing_keys_zero_filled_not_null(spark, tmp_path):
    """Non-pointer Go struct fields → zero values, and the parquet columns
    are required: '' and 0, never NULL (struct.go:4-17)."""
    src = str(tmp_path / "missing")
    _write(src, "partial.json", {"ID": "7"})
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    row = convert.person_to_parquet_df(df).collect()[0]
    assert row["id"] == "7"
    assert row["name"] == ""
    assert row["nationality"] == ""
    assert row["age"] == 0


def test_reference_golden_is_stale_and_fresh_conversion_diverges(spark, tmp_path):
    """The reference repo ships a STALE golden: sample_json/person2.json.parquet
    holds ("1234", "Jack", "CM", 22) while the checked-in person2.json reads
    ("1234", "Jon", "CM", 12) — the parquet predates the JSON's last edit
    (SURVEY §5; convertor/struct.go:20-28 is the mapping it was produced by).
    Pin that divergence: converting today's JSON must reproduce the JSON's
    values, NOT the stale golden's name/age."""
    import duckdb

    golden = duckdb.connect().execute(
        "SELECT ID, name, nationality, age "
        "FROM read_parquet('/root/reference/sample_json/person2.json.parquet')"
    ).fetchall()
    assert golden == [("1234", "Jack", "CM", 22)]  # the stale row, as shipped

    with open("/root/reference/sample_json/person2.json") as f:
        src_json = json.load(f)
    assert (src_json["name"], src_json["age"]) == ("Jon", 12)  # current JSON

    src = str(tmp_path / "p2")
    _write(src, "person2.json", src_json)
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    row = convert.person_to_parquet_df(df).collect()[0]
    assert (row["id"], row["name"], row["nationality"], row["age"]) == (
        "1234",
        "Jon",
        "CM",
        12,
    )


def test_age_narrows_to_tinyint(spark, tmp_path):
    """INT32/INT_8 annotation → readers see TINYINT (struct.go:16)."""
    src = str(tmp_path / "narrow")
    _write(src, "p.json", {"ID": "1", "name": "A", "nationality": "X", "age": 34})
    dst = str(tmp_path / "narrow_out")
    back = convert.json_to_parquet(spark, src, dst)
    assert dict(back.dtypes)["age"] == "tinyint"

    import duckdb

    con = duckdb.connect()
    cols = {
        r[0]: r[1]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{dst}/*.parquet')"
        ).fetchall()
    }
    assert cols["age"] == "TINYINT"


def test_per_file_output_layout_matches_reference_convention(spark, tmp_path):
    """json_to_parquet_per_file writes one single parquet FILE per input
    JSON file named <key>.parquet — the reference's output convention
    (convertor/convertor.go:171, and the repo's own shipped
    sample_json/person2.json.parquet) — with content identical to the
    directory-style sink and readable file-by-file."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    convert.write_sample_json(src)

    back = convert.json_to_parquet_per_file(spark, src, out)

    produced = sorted(os.listdir(out))
    assert produced == [
        "person2.json.parquet",
        "person3.json.parquet",
        "person4.json.parquet",
    ], produced
    # each output is a standalone single-file parquet holding exactly its
    # input's converted row
    one = spark.read.parquet(os.path.join(out, "person2.json.parquet"))
    rows = one.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id"], r["name"], r["nationality"], r["age"]) == (
        "1234", "Jon", "CM", 12,
    )
    # the union of the per-file outputs equals the directory-sink result
    dir_out = str(tmp_path / "dir_out")
    expected = {
        (r["id"], r["name"], r["nationality"], r["age"])
        for r in convert.json_to_parquet(spark, src, dir_out).collect()
    }
    got = {
        (r["id"], r["name"], r["nationality"], r["age"])
        for r in back.select("id", "name", "nationality", "age").collect()
    }
    assert got == expected


_CONVERSIONS = pytest.mark.parametrize(
    "convert_fn",
    [convert.json_to_parquet, convert.json_to_parquet_per_file],
    ids=["bulk", "per_file"],
)

# what readers see in a converted file: the parquet tags' names, age as
# TINYINT, and every field nullable (Spark marks file-source fields nullable)
_PERSON_PARQUET_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("name", StringType(), True),
        StructField("nationality", StringType(), True),
        StructField("age", ByteType(), True),
    ]
)


@_CONVERSIONS
def test_all_malformed_input_converts_to_empty_frame(spark, tmp_path, convert_fn):
    """Every record skipped → nothing to write. Both conversions return an
    empty frame under the person schema instead of failing to infer a
    schema from an output directory that holds no data file."""
    src = str(tmp_path / "in")
    _write(src, "bad.json", {"ID": "2", "name": "B", "nationality": "Y", "age": "not-a-number"})
    back = convert_fn(spark, src, str(tmp_path / "out"))
    assert back.schema == _PERSON_PARQUET_SCHEMA
    assert back.collect() == []


@_CONVERSIONS
def test_all_malformed_input_quarantine_policy_reads_empty(
    spark, tmp_path, monkeypatch, convert_fn
):
    """Same input under ``JPC_FILE_POLICY=quarantine``: an output holding no
    data file is an empty table, not a damaged one, so it reads back as an
    empty frame under the written schema. A table whose only files are
    damaged still raises."""
    from json_parquet_convertor_spark.sources.io import read_parquet_policy

    monkeypatch.setenv("JPC_FILE_POLICY", "quarantine")
    src = str(tmp_path / "in")
    _write(src, "bad.json", {"ID": "2", "name": "B", "nationality": "Y", "age": "not-a-number"})
    back = convert_fn(spark, src, str(tmp_path / "out"))
    assert back.schema == _PERSON_PARQUET_SCHEMA
    assert back.collect() == []
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(IOError, match="no readable parquet data files"):
        read_parquet_policy(spark, str(broken), _PERSON_PARQUET_SCHEMA)


@_CONVERSIONS
@pytest.mark.parametrize(
    "record",
    [{"ID": "1", "name": "A", "nationality": "X", "age": 7}],
    ids=["default"],
)
def test_read_back_schema_equals_inferred(spark, tmp_path, convert_fn, record):
    """The read-back is read under the written frame's schema, not inferred
    from the footers; it must be exactly what inference would give —
    names, types and nullability."""
    src = str(tmp_path / "in")
    dst = str(tmp_path / "out")
    _write(src, "a.json", record)
    back = convert_fn(spark, src, dst)
    assert back.schema == spark.read.parquet(dst).schema
    assert back.schema == _PERSON_PARQUET_SCHEMA
    assert back.count() == 1


def test_per_file_layout_when_one_read_task_holds_many_files(spark, tmp_path):
    """Many small inputs packed into one read task still give one
    ``<basename>.parquet`` per valid input, each holding exactly its own
    row: a task writes one part file per ``_key`` it holds."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    valid = {}
    for i in range(40):
        name = f"p{i:02d}.json"
        if i % 10 == 3:  # type-mismatched: skipped, no output file
            _write(src, name, {"ID": str(i), "age": "not-a-number"})
            continue
        _write(src, name, {"ID": str(i), "name": f"n{i}", "nationality": "X", "age": i})
        valid[name] = (str(i), f"n{i}", "X", i)

    # one read task for the whole input: no per-file open cost, and no
    # floor on the number of splits
    confs = {"spark.sql.files.openCostInBytes": "1", "spark.sql.files.minPartitionNum": "1"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        raw = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
        assert raw.rdd.getNumPartitions() <= 2
        convert.json_to_parquet_per_file(spark, src, out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert sorted(os.listdir(out)) == sorted(f"{n}.parquet" for n in valid)
    got = {}
    for r in (
        spark.read.parquet(out)
        .withColumn("file", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1))
        .collect()
    ):
        got.setdefault(r["file"], []).append(
            (r["id"], r["name"], r["nationality"], r["age"])
        )
    assert got == {f"{n}.parquet": [row] for n, row in valid.items()}


def test_per_file_rejects_duplicate_basenames_before_writing(spark, tmp_path):
    """``src`` with ``key=value`` subdirectories is read recursively, so two
    inputs can share a basename. Both would claim one ``<name>.parquet``:
    the conversion refuses before writing, leaving neither ``dst`` nor its
    staging directory behind. Distinct basenames in the same layout convert
    to one file each."""
    src = str(tmp_path / "in")
    for part, i in (("d=1", 1), ("d=2", 2)):
        _write(os.path.join(src, part), "p.json", {"ID": str(i), "name": "A", "nationality": "X", "age": i})
    dst = str(tmp_path / "out")
    with pytest.raises(ValueError, match="p.json"):
        convert.json_to_parquet_per_file(spark, src, dst)
    assert sorted(os.listdir(tmp_path)) == ["in"]

    os.rename(os.path.join(src, "d=2", "p.json"), os.path.join(src, "d=2", "q.json"))
    back = convert.json_to_parquet_per_file(spark, src, dst)
    assert sorted(os.listdir(dst)) == ["p.json.parquet", "q.json.parquet"]
    assert sorted(r["id"] for r in back.collect()) == ["1", "2"]
