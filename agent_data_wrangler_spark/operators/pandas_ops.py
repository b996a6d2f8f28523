"""§2.8 UDF escape hatch: Arrow-batched pandas interop for logic the built-in
Column algebra can't express.

The reference's ENTIRE execution surface is arbitrary LLM-generated pandas
(``/root/reference/graph_proj/src/agent/tool_call_agent.py:29-54`` executes
any python program over the CSV); the survey maps that capability to Spark's
sanctioned pandas escape hatches. Each wrapper here is the distributed
equivalent of "run this pandas function":

- ``scalar_pandas_udf``      — columnwise: pd.Series -> pd.Series
- ``grouped_agg_pandas_udf`` — per-group scalar: pd.Series -> scalar
- ``grouped_transform``      — per-group frame: pd.DataFrame -> pd.DataFrame
                               (``applyInPandas``; the ``df.groupby().apply``
                               parity path)
- ``map_batches``            — whole-table streaming batches (``mapInPandas``)

Scale rules (why these and not plain ``F.udf``):
- All four cross the JVM/Python boundary in Arrow COLUMN BATCHES (~10-100x
  row-at-a-time Python UDFs); still ~10x slower than staying in codegen, so
  the operator library reaches for them LAST (multimodal decode, model-ish
  scoring, genuinely iterative per-group logic).
- ``grouped_transform`` shuffles on the group keys and materializes ONE GROUP
  PER WORKER in pandas — groups must fit in executor memory. Skewed/huge
  groups are the failure mode; pre-split hot keys (salting) upstream.
- ``map_batches`` is shuffle-free: batch size follows
  spark.sql.execution.arrow.maxRecordsPerBatch (10k default).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf


def scalar_pandas_udf(fn: Callable[..., pd.Series], return_type: str):
    """Vectorized scalar UDF: ``fn(pd.Series, ...) -> pd.Series`` applied per
    Arrow batch. Use for math/string logic that has no Column builtin."""
    return pandas_udf(fn, returnType=return_type)


def grouped_agg_pandas_udf(fn: Callable[..., object], return_type: str):
    """Grouped-aggregate UDF: ``fn(pd.Series, ...) -> scalar``; usable in
    ``groupBy().agg`` and unbounded windows. Partial aggregation does NOT
    apply (whole group ships to Python) — keep groups bounded. The
    Series-in/scalar-out type hints select the grouped-agg eval type."""

    def agg(*cols: pd.Series) -> float:
        return fn(*cols)

    return pandas_udf(agg, returnType=return_type)


def grouped_transform(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Per-group pandas transform (``applyInPandas``): the distributed
    ``df.groupby(keys).apply(fn)``. One shuffle on ``keys``; each group is a
    single in-memory pandas frame on a worker."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def make_udtf(cls: type, return_type: str):
    """Python UDTF (§2.8): a class with ``eval(self, *args)`` yielding output
    rows — the table-function escape hatch (one input row → N output rows,
    e.g. tokenization, unnesting custom formats). Registered per-session via
    ``spark.udtf.register`` for SQL use, or called directly on columns.

    Scale: rows stream through Python batch-wise; same Arrow-boundary cost
    profile as the other escape hatches. Prefer ``F.explode`` over built-in
    arrays when expressible."""
    from pyspark.sql.functions import udtf

    return udtf(cls, returnType=return_type)


def map_batches(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """Streaming whole-table pandas map (``mapInPandas``): ``fn`` receives an
    iterator of Arrow batches and yields transformed batches — constant
    memory, no shuffle. The multimodal decode path builds on this."""
    return df.mapInPandas(fn, schema=schema)


class TopTokensUDTF:
    """Polymorphic Python UDTF (Spark 4 ``analyze()`` API): output schema
    (token_1..token_k) is computed AT PLAN TIME from the constant ``k``
    argument — the table function's shape adapts to its call site without
    a registry of fixed-schema variants. ``eval`` emits each document's k
    most frequent tokens (count desc, token asc — deterministic ties),
    padding with NULLs, one row per input row.

    Tokenization is str.split() semantics on lowered text — identical to
    ``functions/text.py:tokens``, so SQL twins reuse the same bridge.
    Scale: §2.8 escape-hatch tier (Python row stream); the set-oriented
    equivalent is a tokens explode + windowed rank, which u5's oracle
    demonstrates — the UDTF exists for the API surface and for logic that
    genuinely cannot be expressed set-wise."""

    @staticmethod
    def analyze(text, k):
        from pyspark.sql.types import StringType, StructField, StructType
        from pyspark.sql.udtf import AnalyzeResult

        n = int(k.value)
        if n < 1 or n > 100:
            raise ValueError(f"top_tokens: k must be in [1, 100], got {n}")
        return AnalyzeResult(
            StructType(
                [StructField(f"token_{i + 1}", StringType()) for i in range(n)]
            )
        )

    def eval(self, text, k):
        from collections import Counter

        toks = (text or "").lower().split()
        top = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        names = [t for t, _ in top]
        yield tuple(names + [None] * (k - len(names)))


def make_polymorphic_udtf(cls: type):
    """Register-ready polymorphic UDTF — no returnType: the class's
    ``analyze`` static method owns the schema."""
    from pyspark.sql.functions import udtf

    return udtf(cls)
