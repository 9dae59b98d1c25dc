"""Python UDTF surface (§2.9 completion).

The reference's only extensibility hook is a per-row/per-chunk Python
callback (rcache.py:57-72, 83-106).  Spark's richest analog family is:
scalar `udf`/`pandas_udf`, grouped-agg `pandas_udf` (functions/udafs.py),
grouped-map `applyInPandas` (plans/llm.py), `mapInPandas`
(operators/multimodal.py), `foreachBatch` (streaming/compact_jvm.py)
— and the table-valued form below: a Python UDTF (Spark 3.5+/4.x),
which turns one input row into many output rows with arbitrary Python
logic.

UDTFs are the slow path (row-at-a-time Python); they exist for
semantics the built-ins can't express, and anything hash-checkable here
is deliberately small.  The hot-path spelling of this same operator
(adjacent-duplicate run detection) with pure column expressions is in
plans/llm.py::text_repetition_profile.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="run_start: int, token: string, run_len: int")
class TokenRuns:
    """Emit (1-based start, token, length) for every run of >= 2
    identical adjacent whitespace tokens — the table-function shape of
    a repetition detector (one doc row in, 0..n run rows out)."""

    def eval(self, text: str):  # noqa: D102 — contract fixed by Spark
        if not text:
            return
        toks = text.split(" ")
        i = 0
        n = len(toks)
        while i < n:
            j = i
            while j + 1 < n and toks[j + 1] == toks[i]:
                j += 1
            if j > i:
                yield i + 1, toks[i], j - i + 1
            i = j + 1


def register_udtfs(spark) -> None:
    """Register all UDTFs for SQL LATERAL use."""
    spark.udtf.register("token_runs", TokenRuns)
