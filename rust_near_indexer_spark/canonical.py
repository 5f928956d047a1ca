"""Cross-engine deterministic canonicalization + fingerprinting.

The reference validates outputs with order-independent table fingerprints:
``groupBitXor(cityHash64(col1, col2, ...))`` over the primary key and over
all columns (scripts/cross-validate.sh:103-153, README.md:221-223), with
arrays canonicalized by ``arrayStringConcat(arraySort(x), ',')`` first
(cross-validate.sh:268).

We need the same property *across two engines* (Spark vs the DuckDB
oracle), so the hash itself must be engine-portable.  xxhash64/cityHash64
are not available identically in both; md5 is.  ``hash60`` maps any string
to the first 60 bits of its md5, as a non-negative BIGINT, computable
bit-for-bit in Spark SQL and DuckDB SQL.  XOR-aggregating it gives the
order-independent fingerprint.

Determinism rules used by every oracle-matched query in this repo:
- money/value doubles are aggregated in integer cents
  (``CAST(ROUND(x*100) AS BIGINT)``) so sums are exact and
  permutation-invariant — float sums are NOT (IEEE addition is
  non-associative, and both engines aggregate in partition order);
- derived ratios/averages are produced by a single float division of two
  exact integers, then ``ROUND(_, n)``;
- ties in any top-N are broken by a unique key column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- Spark side -----------------------------------------------------------


def md5_60(col: Column | str) -> Column:
    """60-bit hash of one string column: the first 15 hex digits of its
    md5 as a long (``duck_hash60`` is the DuckDB spelling)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60(*cols: Column | str) -> Column:
    """60-bit md5-based row hash of '|'-joined column string renderings."""
    return md5_60(F.concat_ws("|", *[F.col(c) if isinstance(c, str) else c for c in cols]))


def fingerprint(*cols: Column | str) -> Column:
    """Order-independent aggregate fingerprint: bit_xor of hash60 rows."""
    return F.bit_xor(hash60(*cols))


def cents(col: Column | str) -> Column:
    """Exact integer cents from a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def sorted_array_key(col: Column | str) -> Column:
    """Canonical string for an array column (sort + join), mirroring
    cross-validate.sh:268's arrayStringConcat(arraySort(...), ',')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(c), ",")


# --- DuckDB side (SQL text fragments for oracle queries) ------------------


def duck_hash60(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def duck_fingerprint(*exprs: str) -> str:
    joined = ", ".join(exprs)
    return f"bit_xor({duck_hash60(f'concat_ws(chr(124), {joined})')})"
