"""Expression utilities.

``let(col, fn)`` — bind an expensive expression to a lambda variable so it is
evaluated ONCE even when referenced many times. Catalyst's CollapseProject
duplicates expressions across projection boundaries, and higher-order
functions run interpreted with no common-subexpression elimination — so an
expensive array expression referenced k times costs k evaluations. Lambda
variables, by contrast, are bound values: wrapping the expression in a
single-element array and transforming it turns the lambda into a let-binding.

``per_jvm(build)`` — build a span-chain expression once per live JVM instead
of once per DataFrame (see its docstring).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

_T = TypeVar("_T")

#: (gateway the handles live in, {(builder, args): built value})
_built: tuple[object, dict] = (None, {})


def let(col: Column, fn: Callable[[Column], Column]) -> Column:
    """Evaluate ``col`` once, then apply ``fn`` to the bound value."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def per_jvm(build: Callable[..., _T]) -> Callable[..., _T]:
    """Decorator: run ``build(*args)`` once per live JVM and argument tuple.

    The span-chain builders (derive, OCR/restitch, assemble) would
    otherwise rebuild the same Column trees for every DataFrame: thousands
    of py4j round trips, over a second of driver time per
    ``run_extraction`` call, for a result that depends only on the input
    column names and flags such as ``dense``. ``build`` takes only
    hashable arguments and returns Columns (or a tuple of them); the
    Columns are unresolved, immutable expression handles, safe to share
    across DataFrames and sessions of the same JVM. The memo belongs to
    the py4j gateway that holds the handles: a gateway shut down and
    relaunched gets freshly built expressions, never dead handles. Two
    threads racing on a first build both build equal expressions; the
    first one stored is kept."""

    @functools.wraps(build)
    def cached(*args):
        global _built
        gateway = SparkContext._gateway
        owner, values = _built
        if owner is not gateway:
            owner, values = _built = (gateway, {})
        key = (build, args)
        if key in values:
            return values[key]
        return values.setdefault(key, build(*args))

    return cached
