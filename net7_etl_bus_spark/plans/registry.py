"""Operator/query registry — the driver-facing inventory.

Every implemented operator from SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables
(views ``region nation customer supplier part orders lineitem events
documents embeddings`` are pre-registered by the driver; fixture-backed
queries reference committed files under fixtures/ via
``read_csv``/``read_parquet``).

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value-hash matches):

* SUM over doubles goes through exact DECIMAL accumulation and is cast
  back to double: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
  Per-row double->decimal rounding is deterministic and identical in
  both engines; decimal summation is exact (order-independent); the
  final decimal->double cast is correctly rounded in both. Plain
  SUM(double) would depend on partial-aggregation order.
* AVG is ``exact_sum_double / COUNT(*)`` — one IEEE division on
  identical operands in both engines.
* Any row_number/limit/"keep one of the duplicates" uses a total order
  (unique key tiebreak) so the surviving rows are well-defined.
* Hashes use md5/sha2-256 of UTF-8 strings — hex output is identical
  across Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle.

    Ops that are not SQL-expressible (custom stateful streaming,
    iterative algorithms, LSH with engine-specific hashing) register
    without an oracle — the driver then records a weaker rows-only
    check, which is the documented fallback.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query registration: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver harness builds its own vanilla SparkSession
            # (ANSI on by default in Spark 4, TZ unset, 200 shuffle
            # partitions). Re-assert the runtime-settable correctness
            # confs so every query behaves identically under any
            # session — see session.ensure_runtime_confs.
            from ..session import ensure_runtime_confs

            return fn(ensure_runtime_confs(spark), sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are deferred so `import net7_etl_bus_spark` stays cheap
    # and there is no circular-import knot with the operator modules.
    from ..plans import reference_ops, tpch  # noqa: F401
    from ..operators import analytics, layout  # noqa: F401
    from .. import pipeline  # noqa: F401
    from ..operators import windows  # noqa: F401
    from ..streaming import batch_equiv  # noqa: F401
    from ..operators import cdc, curation, geo, graph, sampling, similarity, text, timeseries  # noqa: F401
    from ..operators import relational  # noqa: F401
    from ..functions import scalar, udf_surface  # noqa: F401
    from ..operators import dedup, enrich, multimodal  # noqa: F401
    from ..sources import layouts  # noqa: F401
    from ..operators import packing  # noqa: F401

    _LOADED = True


# --- shared deterministic-aggregation helpers -------------------------

def _dsum_lim(scale: int) -> float:
    """Quantization domain bound for :func:`dsum`: |x| below this keeps
    ``floor(x * 10^scale)`` inside int64 (Spark's floor() returns LONG
    and silently SATURATES at +/-2^63 beyond it — fuzz-found: a 1e18
    input summed as 9.2e16)."""
    return 9e18 / float(10**scale)


def _bad_row(c: Column, scale: int) -> Column:
    """Per-row predicate: value dsum cannot represent — NaN, +/-Inf, or
    magnitude outside the quantization domain (NULL is NOT bad; SQL
    ignores it). Built ONCE per measure and referenced by BOTH dsum
    legs so codegen subexpression elimination shares the isnan/abs
    work (the r4 shape built two different trees — `isnan|abs>=lim`
    for the flag, `~isnan & abs<lim` for the sum — which doubled the
    per-row predicate cost on every deterministic sum; measured ~5%
    of q1 steady-state at sf0.1)."""
    return c.isNotNull() & (F.isnan(c) | (F.abs(c) >= F.lit(_dsum_lim(scale))))


def dsum_bad(col: Column | str, scale: int = 2) -> Column:
    """1 iff the group contains a value dsum cannot represent: NaN,
    +/-Inf, or magnitude outside the quantization domain. Aggregate
    expression (MAX of a per-row flag)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.max(_bad_row(c, scale).cast("int"))


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Deterministic SUM over a double column.

    ``floor(x * 10^scale)`` is computed on the identical IEEE double in
    both engines (multiply + floor are exact, deterministic ops — no
    decimal rounding mode in the path), summed exactly as DECIMAL(38,0),
    then scaled back with one double division. A plain
    ``CAST(x AS DECIMAL(18,4))`` is NOT bit-stable across engines: the
    double->decimal rounding can flip for values within 1 ulp of a
    rounding boundary, which empirically happens ~1e-3/row on
    full-precision products.

    CORRUPTION POISONS, NEVER HIDES (extremes-fuzz contract): a NaN,
    +/-Inf, or out-of-domain value (|x| >= 9e18/10^scale, where floor's
    int64 result would saturate) makes the whole sum NaN. The previous
    behavior silently excluded such rows (the non-ANSI decimal cast
    nulls them) — at 100 TB that is a wrong answer with no signal;
    DuckDB's strict cast meanwhile failed the query. NULLs are still
    ignored per SQL.

    Both aggregate legs (guarded sum, poison flag) hang off the SAME
    `_bad_row` expression tree: NULL c makes the guard predicate FALSE
    (isNotNull & ...), so ~bad is TRUE and floor(NULL*m) stays NULL —
    ignored by SUM exactly as SQL requires.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = float(10**scale)
    bad = _bad_row(c, scale)
    good = (
        F.sum(F.when(~bad, F.floor(c * F.lit(m))).cast("decimal(38,0)"))
        .cast("double") / F.lit(m)
    )
    return F.when(F.max(bad.cast("int")) == 1, F.lit(float("nan"))).otherwise(good)


# NOTE on two-level accumulation (int64 partials per partition, decimal
# only across partitions): prototyped for q1 (VERDICT r3 item 5) and it
# beat one-level dsum by ~20% — until the extremes poison contract made
# each measure need three partial legs, which erased the win (measured:
# two-level med 1.72s vs one-level 1.28s at sf0.1). The helpers were
# removed with the q1 revert; plans/tpch.py q1's docstring keeps the
# numbers.


def davg(col: Column | str, scale: int = 2) -> Column:
    """Deterministic AVG: exact-sum double divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(F.lit(1))


def ddouble(col: Column) -> Column:
    """Deterministic decimal(38,0)->double conversion via a string
    round-trip. Direct integer->double casts are NOT correctly rounded
    in every engine for values above 2^53 (DuckDB's HUGEINT->DOUBLE is
    1 ulp off for e.g. 35633912895417062684; Java's BigDecimal path is
    correct but unspecified) — whereas decimal->string is exact digits
    and string->double is guaranteed correctly rounded in both engines
    (Double.parseDouble / fast_float). Pair with :func:`sql_ddouble`.
    """
    return col.cast("string").cast("double")


def sql_ddouble(expr: str) -> str:
    """Oracle-side twin of :func:`ddouble`."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, scale: int = 2) -> str:
    """Oracle-side twin of :func:`dsum` (incl. the NaN-poison
    contract; DuckDB's strict decimal cast would otherwise ERROR on
    NaN/Inf where Spark's non-ANSI cast silently nulled)."""
    m = float(10**scale)
    lim = _dsum_lim(scale)
    x = f"({expr})"
    bad = (
        f"MAX(CASE WHEN {x} IS NOT NULL AND (isnan({x}) OR abs({x}) >= {lim!r}) "
        f"THEN 1 ELSE 0 END)"
    )
    good = (
        f"CAST(SUM(CASE WHEN NOT isnan({x}) AND abs({x}) < {lim!r} "
        f"THEN CAST(FLOOR({x} * {m}) AS DECIMAL(38,0)) END) AS DOUBLE) / {m}"
    )
    return f"(CASE WHEN {bad} = 1 THEN CAST('NaN' AS DOUBLE) ELSE {good} END)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"{sql_dsum(expr, scale)} / COUNT(*)"
