"""Scalar function library (OP-42..52) and schema utilities.

Column-expression helpers mirroring the reference's string/path/unit
manipulations (s3_key_monitor.py:29,49-51,75-86; s3_bucket_monitor.py:
35-38,54-55; databand_airflow_monitor.py:66-87) — all pure Catalyst,
usable inside any operator without leaving codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MB = 1048576.0  # unit constant, ref s3_key_monitor.py:29
def basename(path: Column | str) -> Column:
    """Last path segment (OP-42/43): ``element_at(split(path,'/'),-1)``."""
    return F.element_at(F.split(path, "/"), -1)


def dirname(path: Column | str) -> Column:
    """Parent prefix (OP-43): everything before the last '/'."""
    parts = F.split(path, "/")
    return F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/")


def naive_us(ts: Column | str) -> Column:
    """Integer microseconds since the NAIVE epoch (naive-as-UTC
    convention). ``unix_micros(cast(x as timestamp))`` interprets the
    naive datetime in the SESSION timezone, so the difference of two
    such values shifts by 3600 s whenever the two instants straddle a
    DST transition on a non-UTC driver — diverging from a naive-epoch
    oracle (``epoch_us`` in DuckDB). timestampdiff over TIMESTAMP_NTZ
    never consults the zone, so gap/staleness arithmetic built on this
    is session-tz-independent."""
    c = F.col(ts) if isinstance(ts, str) else ts
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_diff("MICROSECOND", epoch, c.cast("timestamp_ntz"))


def flatten_struct(df: DataFrame, sep: str = "__") -> DataFrame:
    """Recursively flatten struct columns into top-level columns with
    path-joined names (OP-51): the DataFrame analog of the reference's
    nested-config flatten to ``DBND__core__conf`` env names
    (databand_airflow_monitor.py:66-87)."""
    cols = []

    def rec(prefix: list[str], dtype: T.DataType):
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                rec(prefix + [f.name], f.dataType)
        else:
            cols.append(F.col(".".join(prefix)).alias(sep.join(prefix)))

    for f in df.schema.fields:
        rec([f.name], f.dataType)
    return df.select(*cols)


def z_order_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative ``bits``-wide
    integer columns into one BIGINT sort key: writing a table sorted
    by it co-locates rows that are close in BOTH dimensions, so
    two-sided range predicates prune file/row-group statistics instead
    of scanning one dimension's stripes — the multi-dimensional layout
    trick behind Delta/Iceberg Z-ordering, as a pure expression.

    Built as a Σ ((x>>i & 1) << 2i) | ((y>>i & 1) << 2i+1) expression
    tree (2·bits codegen'd terms, no UDF); callers quantize
    non-integer dimensions first (e.g. :func:`~sparkobs.operators.
    state.quantile_bins` edges → bucket ordinals).
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    xc = F.col(x).cast("long") if isinstance(x, str) else x.cast("long")
    yc = F.col(y).cast("long") if isinstance(y, str) else y.cast("long")
    # out-of-range inputs would silently alias distant rows onto the
    # same key (x=1 and x=513 at bits=9 interleave identically),
    # quietly defeating the pruning the key exists for — fail instead;
    # callers quantize/clamp first
    bound = F.lit(2**bits)
    oob = (xc < 0) | (xc >= bound) | (yc < 0) | (yc >= bound)
    xc = F.when(
        oob,
        F.raise_error(
            F.lit(f"z_order_key input out of [0, 2^{bits}) — quantize first")
        ).cast("long"),
    ).otherwise(xc)
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out
