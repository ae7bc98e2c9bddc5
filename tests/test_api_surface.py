"""Package-wide API guard: each curation/ANN operator has one served path.
A ``vectorized`` switch selecting a second, interpreted implementation that
no query runs must not come back."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import text_extraction_system_spark as pkg


def _functions():
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        for _, obj in inspect.getmembers(mod):
            if inspect.isclass(obj) and obj.__module__ == mod.__name__:
                for _, fn in inspect.getmembers(obj, inspect.isfunction):
                    yield f"{mod.__name__}.{obj.__name__}", fn
            elif inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                yield mod.__name__, obj


def test_no_vectorized_parameter():
    fns = list(_functions())
    found = [
        f"{where}.{fn.__name__}"
        for where, fn in fns
        if "vectorized" in inspect.signature(fn).parameters
    ]
    assert not found, found
    # the walk reaches the operators that carried the switch
    assert {"brute_force_topk", "srp_banded_buckets", "ivf_topk", "pq_topk",
            "ivf_pq_topk", "doc_shingles", "dup_window_coverage",
            "tfidf_keywords"} <= {fn.__name__ for _, fn in fns}
