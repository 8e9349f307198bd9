"""Cross-engine exact aggregation helpers.

Double-precision SUMs over many rows differ in the last ulps between Spark and
DuckDB because partial-aggregation order differs. At sf0.1 a lineitem revenue
sum is ~1e9, where the accumulated error can reach ~1e-4 — enough to flip a
4-dp rounding at the hash-compare boundary.

Fix: cast each value to DECIMAL(18,4) *before* summing (double→decimal cast of
identical inputs is identical in both engines), sum exactly in decimal, and
cast the result back to DOUBLE. Both engines then produce bit-identical
doubles. Averages are derived as exact-sum / count, again bit-identical.

CRITICAL RULE — only cast RAW STORED columns to decimal, never computed
doubles. The stored columns are 2-dp money values whose binary expansion sits
~1e-9 (relative) from the decimal, far from any 4-dp rounding boundary, so
both engines round them identically. A *computed* double (e.g.
price*(1-disc)) lands a uniformly-random distance from the boundary, and
Spark (exact-expansion HALF_UP) vs DuckDB (scaled multiply) then disagree on
~0.1% of rows — observed as last-digit drift in TPC-H Q1's sum_charge. For
derived measures, cast the FACTORS to decimal and multiply in decimal
arithmetic (exact in both engines while precision stays ≤ 38).

r13 REFINEMENT (--conflict sweep): the "stored columns round identically"
premise holds only while the stored values carry FEWER decimals than the cast
scale. The conflicting-re-delivery axis drifts 2-dp money columns by +0.125,
producing 3-dp values that are exact MIDPOINTS of a scale-2 cast — and there
the engines' cast paths split: Spark string-roundtrips the double (shortest
repr "0.145") and rounds HALF_UP, while DuckDB scales the binary double
(0.1449999…) and rounds to nearest, i.e. DOWN whenever the bits sit below the
exact midpoint. Oracle-side rule: every CAST(double_col AS DECIMAL(p,s)) with
s ≤ 2 must route through VARCHAR — CAST(CAST(x AS VARCHAR) AS DECIMAL(p,s)) —
so DuckDB parses the same shortest decimal string Spark's cast materializes
(string→decimal is HALF_UP away-from-zero in both engines; probed r13).
Scale-4 casts stay direct: a 3-dp value is exact at scale 4.

Spark side helpers below; the oracle side uses the same construction inline:

    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sum_x
    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x) AS avg_x
    -- derived measure, decimal factors (s<=2: note the VARCHAR hop):
    CAST(SUM(CAST(CAST(p AS VARCHAR) AS DECIMAL(12,2))
             * (1 - CAST(CAST(d AS VARCHAR) AS DECIMAL(4,2)))) AS DOUBLE)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str) -> Column:
    """Exact (decimal-path) sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum-based average of a double column (sum/count in double)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c)
    )


def dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast a raw stored money/rate column to decimal for exact arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def _floor_div_micros(c: Column, unit_us: int) -> Column:
    """Exact floor(unix_micros(c) / unit_us) in pure LONG arithmetic.

    `us - pmod(us, n)` is the largest multiple of n <= us (pmod is
    non-negative for any sign of us), and `div` (IntegralDivide) of an
    exact multiple is exact — truncation equals floor when the remainder
    is zero. No DOUBLE (year-2300 microsecond counts ~1.05e16 exceed
    2^53, where a double quotient can land a hair below an exact second
    and mis-floor) and no DECIMAL (a per-row DECIMAL(25,0) divide cost
    q_join_point_in_time a 1.45x regression on full fact scans, r9
    verdict). Stays inside whole-stage codegen; differential-tested
    against the decimal form over 2M instants spanning 1900-2350
    including .000000/.999999 boundaries."""
    us = F.unix_micros(c.cast("timestamp"))
    return F.call_function(
        "div", us - F.pmod(us, F.lit(unit_us)), F.lit(unit_us)
    )


def fsec(col: Column | str) -> Column:
    """FLOOR epoch seconds of a timestamp, exact for any instant Spark can
    represent. Spark's unix_timestamp() truncates toward zero, so every
    pre-1970 fractional instant comes back one second high (-1054.7 ->
    -1054, where the oracle's floor(epoch(ts)) says -1055) — the --dates
    fixture axis (1902 events with ms fractions) turns that into visible
    hash mismatches in any query that emits or differences epoch seconds.

    Computed as exact LONG floor-division of unix_micros (see
    :func:`_floor_div_micros`); returns LONG, stays in codegen.

    Oracle twin: CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT).
    DuckDB's epoch() goes through DOUBLE, whose ulp reaches 1 us around
    epoch ~9e9 s (year ~2255, ~2.3 us by 2300) — a .999999-second
    instant there could round onto the next second before floor.
    UNTRIGGERED by contract: every fixture timestamp in that danger zone
    (driver testdata and scripts/gen_fixtures.py --dates far-future
    bands) carries at most MILLISECOND fractions — 1000 us >> the ulp —
    and tests/test_genfix_parity.py::
    test_dates_fixture_ms_quantized_in_double_danger_zone pins that
    generator invariant. (Sub-ms fractions in the 1995-2031 base band
    are safe: ulp there is ~2.4e-7 s.) If a future fixture needs
    microsecond fractions past ~2242, switch the oracle twin to
    integer-exact form:
    (epoch_us(ts) - ((epoch_us(ts) % 1000000 + 1000000) % 1000000))
    // 1000000.

    Day/bar numbers derive as floor(fsec/86400) etc. — exact because
    floor(x/n) == floor(floor(x)/n) for integer n > 0, and |fsec| < 2^53
    keeps that double division safe (prefer :func:`fday` on full fact
    scans).

    The input may be TIMESTAMP_NTZ (driver parquet ships date columns
    without UTC adjustment); unix_micros only takes TIMESTAMP_LTZ, so we
    cast first. That cast re-interprets the wall clock in the SESSION
    timezone — safe only because load_table pins the session to UTC
    before any query runs, making NTZ→LTZ a wall-clock identity exactly
    like the tz-naive oracle's CAST(ts AS TIMESTAMP)."""
    c = F.col(col) if isinstance(col, str) else col
    return _floor_div_micros(c, 1_000_000)


def fday(col: Column | str) -> Column:
    """FLOOR epoch DAY number of a timestamp — exact LONG twin of
    floor(fsec(col) / 86400), one integral divide instead of two.
    floor(us / 86400e6) == floor(floor(us / 1e6) / 86400) for integer
    divisors, so any oracle spelled floor(epoch(ts) / 86400) matches.
    Use on full fact-table scans (lineitem/orders/events day bucketing)
    where per-row expression cost is visible at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    return _floor_div_micros(c, 86_400_000_000)


#: Knuth's multiplicative constant, the mix of the deterministic id hash
#: that splits, samples, shards and mixes the corpus in both engines.
ID_MIX = 2654435761


def id_hash(col: str, m: int) -> Column:
    """INT bucket in ``[0, m)`` of id column ``col``: ``id * ID_MIX mod m``
    computed reduce-first, ``((id mod m) * (ID_MIX mod m)) mod m``. The
    congruent form keeps products below 2^40; the naive ``id * ID_MIX``
    overflows int64 on snowflake-scale ids (``--bigid``), which ANSI Spark
    turns into an error."""
    return F.pmod(
        F.pmod(F.col(col), F.lit(m)) * F.lit(ID_MIX % m), F.lit(m)
    ).cast("int")


def sql_id_hash(col: str, m: int) -> str:
    """Oracle-side (DuckDB) twin of :func:`id_hash`. DuckDB's ``%`` takes
    the dividend's sign, so the two agree on non-negative ids."""
    return f"CAST((({col} % {m}) * {ID_MIX % m}) % {m} AS INT)"


def _ratio4(num: tuple[str, ...], den: tuple[str, ...], int_type: str,
            div: str) -> str:
    p, q = (" * ".join(f"CAST({c} AS {int_type})" for c in f)
            for f in (num, den))
    return f"CAST((20000 * {p} + {q}) {div} (2 * {q}) AS DOUBLE) / 10000"


def ratio4(num: tuple[str, ...], den: tuple[str, ...]) -> Column:
    """DOUBLE ``Π num / Π den`` rounded half-up to 4 dp, the products of
    non-negative integer columns (``Π den > 0``).

    A computed ratio cannot be rounded as a double: Spark rounds its
    shortest decimal string half-up, DuckDB the scaled binary value, so
    57/800 = 0.07125 gives 0.0713 in Spark and 0.0712 in DuckDB. The
    rounding runs on the integers instead, ``(2·10⁴·p + q) div (2·q)``,
    exact in DECIMAL(38,0), and only the 4-dp result becomes a double."""
    return F.expr(_ratio4(num, den, "DECIMAL(38,0)", "div"))


def sql_ratio4(num: tuple[str, ...], den: tuple[str, ...]) -> str:
    """Oracle-side (DuckDB) twin of :func:`ratio4`, exact in HUGEINT."""
    return _ratio4(num, den, "HUGEINT", "//")
