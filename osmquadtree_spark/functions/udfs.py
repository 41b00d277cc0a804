"""Arrow-vectorized pandas UDFs + JVM-side column expressions for the
quadtree kernel.

Rule of thumb (enforced throughout the engine): anything expressible with
built-in functions stays JVM-side inside whole-stage codegen
(``round_qt_col``, ``is_ancestor_col``); only the float-recursive ``calculate``
and the LCA ``common`` drop into numpy via Arrow batches — no per-row Python
anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import quadtree as qtk


def make_qt_calculate(buffer: float = qtk.BUFFER_DEFAULT, max_depth: int = qtk.MAX_DEPTH_CLI):
    """pandas UDF (minx, miny, maxx, maxy int64) → qt int64."""

    @pandas_udf("bigint")
    def qt_calculate(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        out = qtk.calculate(
            minx.to_numpy(), miny.to_numpy(), maxx.to_numpy(), maxy.to_numpy(),
            buffer=buffer, max_depth=max_depth,
        )
        return pd.Series(out)

    return qt_calculate


def make_splitmix64_mod(mod: int):
    """pandas UDF factory: splitmix64(key) % mod — THE cross-engine
    deterministic mixing mark (DuckDB twin: functions/sql_oracle.
    splitmix64_sql over HUGEINT, bit-identical). Shared by
    docs.sample_by_hash and components.cluster_split so the
    parity-critical kernel exists once. Callers must exclude NULL keys
    first (a NaN batch would cast to INT64_MIN silently)."""
    import numpy as np

    from ..sources.images import splitmix64

    @pandas_udf("bigint")
    def mark(keys: pd.Series) -> pd.Series:
        u = splitmix64(keys.to_numpy("int64").astype(np.uint64))
        return pd.Series((u % np.uint64(mod)).astype(np.int64))

    return mark


def make_qt_common():
    """pandas UDF factory: LCA of two cell ids (null-safe: null → -1).

    Kept as the parity twin of ``qt_common_col`` (tests compare the two);
    hot paths use the JVM expression."""

    @pandas_udf("bigint")
    def qt_common(a: pd.Series, b: pd.Series) -> pd.Series:
        av = a.fillna(-1).to_numpy("int64")
        bv = b.fillna(-1).to_numpy("int64")
        return pd.Series(qtk.common(av, bv))

    return qt_common


def qt_common_sql(a: str, b: str) -> str:
    """quadtree::common (quadtree.cpp:189-213) as a pure Spark-SQL
    expression — no Python worker round-trip, stays in whole-stage codegen.

    A cell id packs its path as 2-bit digits from bit 62 down, depth in the
    low 5 bits; digits below the depth are zero. The LCA of two valid cells
    is the longest common digit prefix capped at the shallower depth:
    ``kx`` = common-prefix length of the paths (the CASE is monotone — the
    first true branch from 18 down is the max j with the top 2j bits
    equal), ``k = least(depth_min, kx)``, result = path truncated to k
    digits with depth k. Null/-1 is the fold identity, as in the kernel."""
    A = f"coalesce({a}, CAST(-1 AS BIGINT))"
    B = f"coalesce({b}, CAST(-1 AS BIGINT))"
    x = f"(({A}) ^ ({B}))"
    d = f"least(({A}) & 31, ({B}) & 31)"
    kx = (
        "CASE "
        + " ".join(f"WHEN shiftright({x}, {63 - 2 * j}) = 0 THEN {j}" for j in range(18, 0, -1))
        + " ELSE 0 END"
    )
    k = f"least({d}, {kx})"
    res = f"(shiftleft(shiftright({A}, 63 - 2*({k})), 63 - 2*({k})) + ({k}))"
    return f"CASE WHEN ({A}) = -1 THEN ({B}) WHEN ({B}) = -1 THEN ({A}) ELSE {res} END"


def qt_common_col(a: str, b: str) -> Column:
    """Column form of ``qt_common_sql`` (args are column names/SQL exprs)."""
    return F.expr(qt_common_sql(a, b))


def make_s2_cell(level: int = 16):
    """pandas UDF (lon, lat fixed-point int64) → canonical S2 cell id
    (kernels/s2.py) at ``level``."""
    from ..kernels import s2 as s2k

    @pandas_udf("bigint")
    def s2_cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(s2k.cell_id(lon.to_numpy("int64"), lat.to_numpy("int64"), level))

    return s2_cell


def round_qt_col(qt: Column, level: int) -> Column:
    """quadtree::round as a pure JVM expression (stays in codegen)."""
    sh = 63 - 2 * level
    rounded = F.shiftleft(F.shiftright(qt, sh), sh) + F.lit(level)
    return F.when(qt.bitwiseAND(F.lit(31)) < F.lit(level), qt).otherwise(rounded)


def round_qt_sql(expr: str, level: int) -> str:
    """Same rounding as ANSI SQL (works in both Spark SQL and DuckDB)."""
    sh = 63 - 2 * level
    return (
        f"CASE WHEN ({expr}) & 31 < {level} THEN ({expr}) "
        f"ELSE ((({expr}) >> {sh}) << {sh}) + {level} END"
    )
