"""Sources and sinks (SURVEY.md §2 B1; generalizes reference A3/A6).

The reference downloads a JSON object from S3 (``convertor/convertor.go:126-133``)
and writes a single-row snappy parquet file back (``convertor/convertor.go:169-184``).
Here the same surface is Spark's declarative readers/writers — predicate
pushdown, column pruning, and partition pruning then come free from Catalyst.

Scale posture: paths are just URIs — swap ``/root/testdata`` for
``s3a://bucket/prefix`` and the same code runs on a cluster. Partitioned
writes (``partition_by``) are the 100 TB layout primitive: they turn
date/tenant filters into partition pruning instead of full scans.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The catalog contract (TESTDATA.md): the columns every reader sees for
#: each table, whatever any single part file carries. A 100 TB table is
#: written by years of producer versions, so part files drift — old files
#: miss late-added columns, new files carry fields the contract doesn't
#: know yet. The reference handles exactly this at JSON ingest (A4:
#: unknown keys dropped, missing fields filled, convertor/struct.go);
#: ``load_table`` generalizes it to the parquet lake: missing-in-file →
#: NULL, unknown → dropped, order irrelevant (parquet is name-addressed).
EXPECTED_COLUMNS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": (
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    ),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": (
        "p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice",
    ),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: TIMESTAMP(NANOS) (which Spark's parquet reader only accepts
    as a long via the legacy conf — we truncate to micros, the same
    truncation DuckDB applies on ``CAST(ts AS TIMESTAMP)``) and plain
    TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    TIMESTAMP_NTZ). Both normalize to a session-local TIMESTAMP here so
    every query sees one stable type; with the session pinned to UTC the
    NTZ→LTZ cast is wall-clock-identity and matches the tz-naive DuckDB
    oracle exactly.

    The session timezone is pinned to UTC here (runtime conf) because the
    caller may hand us a default-configured session: timestamp literals in
    the queries must mean the same wall-clock instants the (tz-naive) DuckDB
    oracle sees.

    Building this DataFrame costs about 87 ms (a driver-side footer read
    for schema election plus reader construction), and a full bench run
    makes about 1200 such calls. So the ANALYZED PLAN (never data: every
    action still scans parquet) is memoized per session, keyed on
    (sf_dir, table, read-policy envs) and served while the table path's
    :func:`_stamp` is unchanged. This is the one freshness rule for
    everything derived from a fixture: :func:`run_tmp` keys its fixture
    copies on the same stamps. A changed stamp for an already-memoized
    table also drops :func:`spread`'s partition counts, which a rewritten
    table can change under the same plan hash; a warm hit leaves them.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (sf_dir, name) + tuple(
        os.environ.get(v) for v in ("JPC_FILE_POLICY", "JPC_SCHEMA_POLICY")
    )
    stamp = _stamp(f"{sf_dir}/{name}.parquet")
    memo = spark.__dict__.setdefault("_jpc_table_memo", {})
    hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    if hit is not None:
        spark.__dict__.pop("_jpc_spread_memo", None)
    df = _load_table_fresh(spark, sf_dir, name)
    memo[key] = (stamp, df)
    return df


def _stamp(path: str) -> int | None:
    """Freshness stamp of a table path: its mtime in ns, or ``None`` when
    the path is absent or not local (``s3a://``). Replacing a table file or
    adding/removing a part file in a table directory changes it."""
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


# Per-process scratch root: concurrent harness runs (a driver check next to
# a local pytest) never share it, and it is removed at interpreter exit so
# sink and round-trip queries leak nothing across runs.
_RUN_TOKEN = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
_RUN_ROOT = os.path.join(tempfile.gettempdir(), f"jpc_{_RUN_TOKEN}")
atexit.register(shutil.rmtree, _RUN_ROOT, ignore_errors=True)


def run_tmp(name: str, sf_dir: str | None = None) -> str:
    """Scratch dir under the run root for sink and round-trip queries.

    Without ``sf_dir`` every call gets a fresh directory: a query returns
    a frame that reads its own output back lazily, so a later call that
    rewrote the same directory would delete the files under that frame.

    Pass ``sf_dir`` for write-once copies derived from a fixture
    (:func:`materialize`): the directory is then keyed by the fixture path
    and the :func:`_stamp` of every table in :data:`TABLES`, so another
    fixture, or the same fixture rewritten in place, gets a fresh
    directory instead of the old copy."""
    if sf_dir is None:
        return os.path.join(_RUN_ROOT, f"{name}_{uuid.uuid4().hex}")
    stamps = [_stamp(f"{sf_dir}/{t}.parquet") for t in TABLES]
    digest = hashlib.md5(repr((sf_dir, stamps)).encode()).hexdigest()
    return os.path.join(_RUN_ROOT, f"{name}_{digest[:8]}")


def materialize(name: str, sf_dir: str, write: Callable[[str], None]) -> str:
    """Write-once copy derived from the fixture at ``sf_dir``; returns its
    directory (``run_tmp(name, sf_dir)``).

    ``write(dst)`` runs only when ``dst/_SUCCESS`` is absent, and
    ``_SUCCESS`` is touched after it returns, so a layout made by several
    writes (two schema generations side by side) is marked complete too
    and a half-written directory is never served. A warm call costs a few
    ``stat`` calls; pass ``write`` as a lambda so it builds nothing then."""
    dst = run_tmp(name, sf_dir)
    done = os.path.join(dst, "_SUCCESS")
    if not os.path.exists(done):
        write(dst)
        open(done, "wb").close()
    return dst


def _load_table_fresh(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """The un-memoized read behind :func:`load_table`."""
    if name == "events":
        from pyspark.sql import functions as F

        df = _read_contract(spark, sf_dir, name)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as long
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        if ts_type != "timestamp":  # timestamp_ntz → session-UTC timestamp
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_contract(spark, sf_dir, name)


def _read_contract(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table directory under the catalog contract (EXPECTED_COLUMNS).

    The plain read infers its schema from ONE footer; on a homogeneous
    layout that is the whole contract and costs nothing extra (the hot
    path — zero change for clean directories, including fragmented
    --manyfiles layouts, because Spark's vectorized reader already fills
    a column missing from a *later* file with NULL). Only when the
    inferred column set disagrees with the contract — the elected footer
    was an old-generation or new-generation file — do we pay the
    mergeSchema pass (a distributed footer merge, the schema-evolution
    slow path), then clip to the contract: unknown producer columns are
    dropped (reference A4 semantics, convertor/struct.go) and the select
    is name-addressed so per-file column ORDER is irrelevant. A contract
    column absent from every file stays absent — that table is broken and
    the query should fail loudly, not silently compute on a phantom.

    Physical TYPE drift (float→double, int32→int64 widening): when it
    rides the name drift (the --evolve narrow mode), the mergeSchema pass
    hard-errors and the read falls back to :func:`read_widened`. When it
    is type-ONLY (names equal everywhere — invisible to the one-footer hot
    path), the default read fails LOUDLY at scan, never silently;
    ``JPC_SCHEMA_POLICY=widen`` opts into full-footer discovery that
    recovers it (see read_widened's docstring for the residual rationale).
    """
    path = f"{sf_dir}/{name}.parquet"
    expected = EXPECTED_COLUMNS.get(name)
    sources: list[str] = [path]
    if os.environ.get("JPC_FILE_POLICY") == "quarantine":
        # partial-file policy (r12, --filedirt): the DEFAULT is strict —
        # a truncated footer, zero-byte part, or not-parquet bytes fail
        # LOUDLY (silently dropping data at 100 TB is worse than dying).
        # Quarantine is the explicit opt-in recovery: probe every visible
        # file, read only the intact ones, and REPORT what was skipped.
        sources = _quarantine_sources(path)
    if os.environ.get("JPC_SCHEMA_POLICY") == "widen" and expected:
        # opt-in full-footer discovery: pays the footer union on EVERY
        # table so even type-ONLY drift (invisible to the one-footer hot
        # path below) reads recovered instead of failing at scan
        df = read_widened(spark, sources)
        return df.select(*[c for c in expected if c in df.columns])
    df = spark.read.parquet(*sources)
    if expected is None or set(df.columns) == set(expected):
        return df
    try:
        df = spark.read.option("mergeSchema", "true").parquet(*sources)
    except Exception as exc:
        # TYPE drift riding the name drift (r12, --evolve narrow mode):
        # Spark's schema merge refuses to widen (int32/int64, float/double
        # → CANNOT_MERGE_SCHEMAS), but its parquet READER widens fine when
        # handed an explicit wider schema — so unify the footers with
        # numeric promotion ourselves and read under that contract.
        if "CANNOT_MERGE_SCHEMAS" not in str(exc):
            raise
        df = read_widened(spark, sources)
    return df.select(*[c for c in expected if c in df.columns])


def read_widened(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read a parquet directory whose part files drift in a column's
    PHYSICAL type (int32→int64, float→double — the widening a real lake
    accumulates when a column outgrows its type), by unifying all footers
    with numeric promotion and reading under the widened schema.

    Spark 4's parquet reader performs the per-file upcast natively once the
    requested schema is the wider type; only the schema DISCOVERY needs
    doing here, because ``mergeSchema`` hard-errors on exactly this drift.
    Footers are read driver-side — the slow path only; on a production
    lake the catalog (metastore/Delta log) owns the authoritative widened
    schema and this discovery never runs. Note the residual for
    type-ONLY drift (names equal): the one-footer hot path in
    ``_read_contract`` cannot see it, so the default read fails LOUDLY at
    scan (never silently) — this function is the recovery, reachable via
    ``JPC_SCHEMA_POLICY=widen`` in the oracle harness sweeps.
    """
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    paths = [path] if isinstance(path, str) else list(path)
    files = [
        f
        for p in paths
        for f in (
            sorted(
                g
                for g in glob.glob(os.path.join(p, "*.parquet"))
                if not os.path.basename(g).startswith(("_", "."))
            )
            if os.path.isdir(p)
            else [p]
        )
    ]
    schemas = [pq.read_schema(f) for f in files]
    try:
        unified = pa.unify_schemas(schemas, promote_options="permissive")
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        # timestamp FLAVOR drift (r13, --tz): INT96 (arrow sees ns,
        # no tz), µs TIMESTAMP_NTZ, and µs UTC-adjusted part files in one
        # directory — the three generations a real lake accumulates.
        # pa.unify_schemas refuses tz-aware/naive mixes even permissively,
        # so coerce every timestamp field to µs UTC-adjusted first: under
        # the pinned-UTC session the flavors all denote the same instants
        # (the axis contract: naive == UTC wall clock), and Spark's
        # reader converts each physical flavor correctly when handed the
        # TimestampType schema (verified in the r13 probes).
        def utc_ts(s: pa.Schema) -> pa.Schema:
            for idx in range(len(s)):
                f = s.field(idx)
                if pa.types.is_timestamp(f.type):
                    s = s.set(
                        idx,
                        pa.field(
                            f.name,
                            pa.timestamp("us", tz="UTC"),
                            f.nullable,
                        ),
                    )
            return s

        unified = pa.unify_schemas(
            [utc_ts(s) for s in schemas], promote_options="permissive"
        )
    schema = from_arrow_schema(unified, prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(*paths)


def probe_parquet_file(path: str) -> str:
    """Classify one file: ``ok`` | ``empty`` | ``corrupt``.

    A parquet file is ``[PAR1][data][footer][footer_len:4][PAR1]``; ANY
    truncation — mid-write crash, partial upload — destroys the trailing
    magic, so the probe is 16 bytes of IO per file: leading magic, trailing
    magic, and a footer length that fits inside the file. ``empty``
    (zero-byte) is the crash-before-first-byte artifact the reference's
    non-atomic write loop can leave (convertor/convertor.go:148-153 dies
    between create and flush); ``corrupt`` covers truncated footers and
    not-parquet-at-all bytes (a producer that wrote JSON under a .parquet
    key)."""
    import struct

    size = os.path.getsize(path)
    if size == 0:
        return "empty"
    if size < 12:
        return "corrupt"
    with open(path, "rb") as f:
        if f.read(4) != b"PAR1":
            return "corrupt"
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
    if tail[4:] != b"PAR1":
        return "corrupt"
    (footer_len,) = struct.unpack("<I", tail[:4])
    if footer_len + 12 > size:
        return "corrupt"
    return "ok"


def quarantine_scan(path: str) -> tuple[list[str], dict[str, str]]:
    """Partition a table directory into (readable data files, quarantined).

    Listing rule = Spark's own: hidden files (``_`` / ``.`` prefixed —
    commit-protocol markers, checksums, ``_SUCCESS``) are not data and are
    silently skipped by BOTH engines; every other file is probed, whatever
    its extension (Spark's directory read attempts every visible file, so a
    stray ``notes.json`` is a corrupt data file, not an ignorable one).

    The probes run in a thread pool on the driver — 16 bytes per file, IO
    bound; at 100 TB (~1e5 part files) that is seconds, and on a real lake
    the commit protocol (Spark's ``_temporary`` + rename, or a manifest log
    à la Delta) prevents partial files from ever being LISTED, making this
    a belt-and-braces check rather than the primary defense. The reference
    has no such protocol — its S3 PutObject is per-object atomic but its
    local temp write is not — so foreign dirt is a real input class.

    Scope: the probe catches STRUCTURAL corruption (truncation, zero-byte,
    not-parquet bytes). Mid-file bit rot behind intact magics passes it and
    is caught by parquet page/column checksums at scan — loudly, which is
    the correct failure mode for data that LOOKS committed but is damaged
    (quarantining it silently would hide storage-layer faults)."""
    from concurrent.futures import ThreadPoolExecutor

    if not os.path.isdir(path):
        st = probe_parquet_file(path)
        return ([path], {}) if st == "ok" else ([], {path: st})
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, f))
    )
    with ThreadPoolExecutor(max_workers=32) as pool:
        states = list(pool.map(probe_parquet_file, files))
    good = [f for f, s in zip(files, states) if s == "ok"]
    bad = {f: s for f, s in zip(files, states) if s != "ok"}
    return good, bad


def read_parquet_policy(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """``spark.read.schema(schema).parquet`` honoring the partial-file policy.

    Default (strict): plain read — corrupt files fail loudly. With
    ``JPC_FILE_POLICY=quarantine``: probe visible files, read the intact
    ones, warn about the rest (see :func:`quarantine_scan`). The convert
    sink's own output is always clean (Spark's ``_temporary`` + rename
    commit protocol never exposes partial files), so this matters for
    read-backs of REUSED destination directories that may carry foreign
    dirt — the reference's non-atomic loop can leave exactly that
    (convertor/convertor.go:148-153).

    Callers read back what they just wrote and pass the written schema: no
    footer-inference job runs, and an empty output reads as an empty frame
    rather than failing with ``UNABLE_TO_INFER_SCHEMA``."""
    reader = spark.read.schema(schema)
    if os.environ.get("JPC_FILE_POLICY") == "quarantine":
        return reader.parquet(*_quarantine_sources(path))
    return reader.parquet(path)


def _quarantine_sources(path: str) -> list[str]:
    """Probe ``path``; warn about and skip damaged files; raise if files
    exist but none is intact (an all-quarantined table is a broken table —
    reading it as empty would silently zero every downstream aggregate).
    A path holding no data file at all is read as the default policy
    reads it: empty under a given schema."""
    import warnings

    good, bad = quarantine_scan(path)
    if bad:
        warnings.warn(
            f"quarantined {len(bad)} file(s) under {path}: "
            + ", ".join(
                f"{os.path.basename(f)} [{s}]" for f, s in sorted(bad.items())
            ),
            stacklevel=3,
        )
    if bad and not good:
        raise IOError(
            f"{path}: no readable parquet data files "
            f"({len(bad)} quarantined)"
        )
    return good or [path]


def spread(df: DataFrame) -> DataFrame:
    """Ensure enough partitions for CPU-bound per-row work.

    Small benchmark tables arrive as a single parquet file → one partition →
    one task doing all the hashing/dot-product work. If the scan has fewer
    partitions than the cluster has slots, repartition up; at real scale the
    input is already split (partitions >> cores) and this is a no-op, so no
    gratuitous shuffle is added on big inputs.

    The partition probe (``df.rdd.getNumPartitions()``) runs a full
    Catalyst physical-planning pass on the first touch of each fresh
    DataFrame (about 20-50 ms), and queries rebuild their lineage every
    call. So the measured count is memoized per (session, canonical-plan
    semanticHash, columns): the same analyzed plan under fixed session
    confs plans to the same partition count, so only the probe is skipped.
    The plan hash does not see a table rewritten under the same path, so
    :func:`load_table` drops this memo when it sees a table's stamp
    change. defaultParallelism (a py4j hop per call) is memoized per
    session for the same reason."""
    sess = df.sparkSession
    memo = sess.__dict__.setdefault("_jpc_spread_memo", {})
    target = memo.get("__dp")
    if target is None:
        target = sess.sparkContext.defaultParallelism
        memo["__dp"] = target
    try:
        key = (
            df._jdf.queryExecution().analyzed().semanticHash(),
            tuple(df.columns),
        )
    except Exception:  # private-API belt and braces: fall back to probing
        key = None
    n = memo.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            memo[key] = n
    if n < target:
        return df.repartition(target)
    return df


def read_json(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON reader with the reference's input shape (A3/A4).

    The reference's inputs are pretty-printed single-object files
    (``sample_json/person2.json``), hence ``multiLine``. The explicit
    schema reproduces "unknown keys dropped"; ``DROPMALFORMED`` reproduces
    "type mismatch → skip file" (``convertor/convertor.go:137-141``).
    """
    return (
        spark.read.option("multiLine", "true")
        .schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Parquet sink matching the reference's (A6): snappy, dictionary-encoded,
    overwriting ``path``.

    The reference fixes a 16 MiB row-group target (``convertor/convertor.go:180``);
    Spark's default 128 MiB ``parquet.block.size`` is the right call at scale —
    fewer, larger row groups scan faster. Dictionary encoding is on by default.
    """
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """CSV source with explicit schema (never inferSchema — that's a full
    extra pass over the data at scale)."""
    return spark.read.option("header", "true").schema(schema).csv(path)
