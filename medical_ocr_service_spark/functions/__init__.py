"""Column-expression helpers and Arrow pandas UDFs (the only Python on executors)."""

from __future__ import annotations

import functools

from pyspark import SparkContext


def per_context(build):
    """Memoize a Column-tree builder per SparkContext: ``build(*args)``
    runs once per distinct ``args`` while one context is active, and again
    under a new context (a new session or JVM), since a Python UDF column
    carries its context's accumulator. Every ``F.*`` call costs a py4j
    round trip or more, so plan builders take their constant trees from
    here; use it only for arguments the package fixes (names, flags)."""
    memo: tuple = (None, {})  # (context, {args: trees})

    @functools.wraps(build)
    def cached(*args):
        nonlocal memo
        sc = SparkContext._active_spark_context
        if memo[0] is not sc:
            memo = (sc, {})
        trees = memo[1]
        if args not in trees:
            # concurrent first calls may both build; either result serves
            trees[args] = build(*args)
        return trees[args]

    return cached
