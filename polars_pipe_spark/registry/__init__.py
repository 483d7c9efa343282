"""The query registry: each query declared once, beside its DuckDB oracle.

A query is a function ``(spark, sf_dir) -> DataFrame`` decorated with
``@query(oracle)``, where ``oracle`` is the DuckDB SQL whose result the
query must hash-match. It is registered under its own name without the
leading underscore (``_q13_tpch_q1`` -> ``q13_tpch_q1``); its oracle is
kept on the function as ``.oracle``, so an oracle built from another
query's result reads ``_q28_cosine_topk.oracle``.

Queries live in family modules. A family is the ``polars_pipe_spark``
layer the query calls: the first library module its body imports, not
counting the read/compile helpers ``sources.tables`` and ``expressions``.
Each ``functions.*`` module has its own family (``text.py``,
``dedup.py``, ...); the nine ``operators.*`` modules share
``operators.py``; ``adapters.io`` and ``services`` share ``adapters.py``;
``streaming.pipeline`` is ``streaming.py``. A query that imports no
library module is grouped by subject: relational and TPC-H shapes in
``tpch.py``, the engine's own SQL/DataFrame surface in ``spark_sql.py``,
estimators and tests in ``statistics.py``, event-time analytics in
``timeseries.py``; one that reproduces a library family natively joins it
(q27/q211/q272 in ``dedup.py``, q133/q181/q197 in ``similarity.py``,
q192/q268 in ``text.py``, q210 in ``sampling.py``, q148 in
``multimodal.py``).
``ladder.py`` holds the full-fidelity TPC-H forms that need the ladder
fixtures; it is the one family ``__spark_entry__.queries()`` leaves out.

``_helpers.py`` holds the query-side helpers (table readers, shared
frames); ``_sql.py`` the SQL fragments that more than one oracle uses.
A fragment only one oracle uses sits above that query.
"""

from __future__ import annotations

import importlib
import pkgutil
import re
from collections.abc import Callable

_REGISTRY: dict[str, Callable] = {}


def query(oracle: str) -> Callable[[Callable], Callable]:
    """Register the decorated query under its name and attach its oracle."""

    def register(fn: Callable) -> Callable:
        name = fn.__name__.lstrip("_")
        if name in _REGISTRY:
            raise ValueError(f"query {name} is declared twice")
        fn.oracle = oracle
        _REGISTRY[name] = fn
        return fn

    return register


def registered() -> dict[str, Callable]:
    """Every query of every family, in ascending query number."""
    for mod in pkgutil.iter_modules(__path__):
        if not mod.name.startswith("_"):
            importlib.import_module(f"{__name__}.{mod.name}")
    return dict(
        sorted(_REGISTRY.items(), key=lambda kv: int(re.match(r"[a-z](\d+)", kv[0])[1]))
    )
