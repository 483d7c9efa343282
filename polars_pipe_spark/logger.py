"""Structured run logging.

Reference parity: ``core/logger.py:1-38`` ships an env-gated stdlib
logger (stream + rotating file, ``LOGGING_ENABLED``); this module keeps
that surface and adds what a distributed run actually needs for
observability — a **structured per-stage record** (name, start offset
from the start of the run, wall seconds, row counts where already
materialised) that ``run_pipeline`` writes next to the config artifact as
``run_log_*.yaml``. Stages may overlap (``run_pipeline`` runs its sinks
concurrently), so stage seconds need not sum to the total; records are
listed in start order.

Scale notes:
- The RunLog never forces extra Spark actions: row counts are taken only
  over frames the pipeline has already persisted (a count over a cache is
  one cheap job; a count over lineage would re-scan the source).
- Pure driver-side bookkeeping — nothing here touches executors.
- Stages may be entered from several threads: a record is
  appended whole, in one (atomic) ``list.append``.
"""

from __future__ import annotations

import logging
import os
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

logger = logging.getLogger("polars_pipe_spark")
logger.propagate = False

if (
    os.getenv("LOGGING_ENABLED", "false").lower() == "true"
    and "pytest" not in sys.modules
):  # same gate as the reference logger
    _formatter = logging.Formatter(
        "%(asctime)s | %(levelname)-8s [%(filename)s:%(lineno)d:%(funcName)s] %(message)s"
    )
    logger.setLevel(logging.DEBUG)
    _stream = logging.StreamHandler()
    _stream.setFormatter(_formatter)
    logger.addHandler(_stream)


class RunLog:
    """Per-run structured log: ordered stage records + totals.

    Usage::

        run_log = RunLog()
        with run_log.stage("read", src=path):
            df = io.read(path)
        run_log.note(valid_rows=123)
        artifact = run_log.to_dict()   # -> YAML next to the config
    """

    def __init__(self) -> None:
        self._t0 = time.monotonic()
        self.stages: list[dict[str, Any]] = []
        self.fields: dict[str, Any] = {}

    @contextmanager
    def stage(self, name: str, **fields: Any) -> Iterator[dict[str, Any]]:
        t = time.monotonic()
        rec: dict[str, Any] = {"stage": name, "start_s": round(t - self._t0, 3), **fields}
        try:
            yield rec  # callers may add fields discovered inside the stage
        finally:
            rec["seconds"] = round(time.monotonic() - t, 3)
            self.stages.append(rec)
            logger.info("stage %s done in %.3fs", name, rec["seconds"])

    def note(self, **fields: Any) -> None:
        """Run-level facts (row counts, flags) outside any one stage."""
        self.fields.update(fields)

    def to_dict(self) -> dict[str, Any]:
        return {
            "total_seconds": round(time.monotonic() - self._t0, 3),
            **self.fields,
            "stages": sorted(self.stages, key=lambda rec: rec["start_s"]),
        }
