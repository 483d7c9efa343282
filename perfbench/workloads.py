"""The benchmark's workloads: inputs, operations, warm-up and output checks.

Each workload makes its inputs from a seed with the repository's own
generators, then exposes a list of operations. An operation runs one
``run_pipeline`` call or one registry query and returns what it produced;
``check`` compares every recorded result with an independent oracle after
the timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE / "workloads.json").read_text())

ETL_COLUMNS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
               "l_discount", "l_tax", "l_shipmode", "l_shipdate"]
# the tables the registry_mix queries read: the input rows behind rows_per_s
QUERIED_TABLES = ["documents", "embeddings", "lineitem", "orders", "events"]


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data and metadata files under ``path``."""
    total = files = 0
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            total += p.stat().st_size
            files += 1
    return total, files


class Op:
    """One operation. ``root`` asks the harness to open the operation's
    root span; otherwise a traced program function opens it."""

    def __init__(self, name: str, layer: str, fn: Callable[[], Any], root: bool) -> None:
        self.name, self.layer, self.fn, self.root = name, layer, fn, root


class PipelineEtl:
    name = "pipeline_etl"

    def __init__(self, work: Path) -> None:
        self.work = work
        self.tracer = None
        self.outputs: list[dict] = []
        self.src = ""

    def make_inputs(self, seed: int, out: Path) -> dict:
        from gen_testdata import generate

        generate(0.001, str(out), seed=seed)
        tbl = pq.read_table(out / "lineitem.parquet").select(ETL_COLUMNS)
        rng = np.random.RandomState(seed % 2**32)
        disc = tbl.column("l_discount").to_numpy(zero_copy_only=False).copy()
        nulls = rng.rand(len(disc)) < 0.03
        tbl = tbl.set_column(ETL_COLUMNS.index("l_discount"), "l_discount",
                             pa.array(disc, mask=nulls))
        dup_idx = np.sort(rng.choice(tbl.num_rows, tbl.num_rows // 20, replace=False))
        tbl = pa.concat_tables([tbl, tbl.take(pa.array(dup_idx))])
        self.src = str(out / "lineitem_etl.parquet")
        pq.write_table(tbl, self.src)
        return {"rows": tbl.num_rows, "columns": tbl.num_columns,
                "bytes": os.path.getsize(self.src), "null_discounts": int(nulls.sum()),
                "duplicate_rows": len(dup_idx)}

    def warm_up(self, spark) -> None:
        spark.read.parquet(self.src).count()

    def install_tracing(self, tracer) -> None:
        """Trace the calls ``run_pipeline`` makes into each layer."""
        from polars_pipe_spark.adapters import io
        from polars_pipe_spark.operators import inspect, transform, validation
        from polars_pipe_spark.plans import introspect
        from polars_pipe_spark.services import pipeline
        from polars_pipe_spark.sources import tables

        tracer.patch(pipeline, "services.pipeline", ["run_pipeline"])
        tracer.patch_method(io.IOBase, "read", "adapters.io")
        tracer.patch_method(io.IOBase, "write", "adapters.io")
        tracer.patch(io, "adapters.io", ["estimate_rows_per_file"])
        tracer.patch(validation, "operators.validation")
        tracer.patch(transform, "operators.transform")
        tracer.patch(inspect, "operators.inspect", ["describe_df"])
        tracer.patch(introspect, "plans.introspect", ["optimized_plan_lines"])
        tracer.patch(tables, "sources.tables", ["read_parquet_table"])

    def ops(self, spark) -> list[Op]:
        from polars_pipe_spark.adapters.io import IOWrapper
        from polars_pipe_spark.services import pipeline

        from etl_oracle import ETL_CONFIG

        def run() -> dict:
            dst = self.work / "out" / f"op{len(self.outputs)}"
            start = _utcnow()
            # looked up on each call, so a traced pass reaches the wrapper
            parsed = pipeline.run_pipeline(IOWrapper(spark), dict(
                ETL_CONFIG, src_path=self.src, dst_root=str(dst)))
            rec = {"dir": dst / parsed.guid, "guid": parsed.guid,
                   "window": (start, _utcnow()), "traced": self.tracer is not None}
            self.outputs.append(rec)
            return rec

        return [Op("run_pipeline", "services.pipeline", run, root=False)]

    def check(self, spark) -> tuple[int, int, list[str]]:
        """(outputs checked, outputs wrong, problems)."""
        from etl_oracle import EtlOracle, hashed_source

        oracle = EtlOracle(hashed_source(spark, self.src))
        wrong, problems = 0, []
        for rec in self.outputs:
            found = oracle.check(rec["dir"], rec["guid"], str(Path(self.src).absolute()),
                                 rec["window"])
            rec["described_rows"] = oracle.described_rows
            if found:
                wrong += 1
                problems += found
        return len(self.outputs), wrong, problems

    def written(self, outputs: list[dict] | None = None) -> tuple[int, int]:
        """(bytes, files) written by ``outputs`` (default: every call)."""
        sizes = [_dir_bytes(rec["dir"]) for rec in (self.outputs if outputs is None else outputs)]
        return sum(b for b, _ in sizes), sum(f for _, f in sizes)


class RegistryMix:
    name = "registry_mix"

    def __init__(self, work: Path) -> None:
        self.work = work
        self.queries: dict[str, str] = SPEC[self.name]["queries"]
        self.results: dict[str, list[pa.Table]] = {q: [] for q in self.queries}
        self.dir = ""
        self.tracer = None

    def make_inputs(self, seed: int, out: Path) -> dict:
        from gen_dupmass import build_documents
        from gen_testdata import generate

        generate(0.01, str(out), seed=seed)
        base_docs = out / "documents.parquet"
        docs = build_documents(str(base_docs), 1500, 12)
        n_base = pq.read_metadata(base_docs).num_rows
        pq.write_table(docs, base_docs)
        self.dir = str(out)
        rows = {t: pq.read_metadata(out / f"{t}.parquet").num_rows for t in QUERIED_TABLES}
        return {"rows": rows, "total_rows": sum(rows.values()),
                "bytes": sum(os.path.getsize(out / f"{t}.parquet") for t in QUERIED_TABLES),
                "duplicate_share": round(1 - n_base / docs.num_rows, 4)}

    def warm_up(self, spark) -> None:
        for t in QUERIED_TABLES:
            spark.read.parquet(f"{self.dir}/{t}.parquet").count()

    def install_tracing(self, tracer) -> None:
        """Trace every public function of the layers the queries call."""
        import importlib

        for layer in sorted(set(self.queries.values()) - {"registry"}) + ["sources.tables"]:
            tracer.patch(importlib.import_module(f"polars_pipe_spark.{layer}"), layer)

    def ops(self, spark) -> list[Op]:
        import __spark_entry__ as entry

        registry = entry.queries()

        def make(q: str) -> Callable[[], pa.Table]:
            def run() -> pa.Table:
                df = registry[q](spark, self.dir)
                if self.tracer is None:
                    tbl = df.toArrow()
                else:
                    with self.tracer.span(self.queries[q], "execute"):
                        tbl = df.toArrow()
                self.results[q].append(tbl)
                return tbl
            return run

        return [Op(q, "registry", make(q), root=True) for q in self.queries]

    def check(self, spark) -> tuple[int, int, list[str]]:
        import duckdb
        import __spark_entry__ as entry
        from check_oracle import TABLES, canon_table

        from etl_oracle import NO_EXTENSION_DOWNLOADS

        con = duckdb.connect(config=NO_EXTENSION_DOWNLOADS)
        for t in TABLES + ["partsupp"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        oracles = entry.oracle_sql()
        checked = wrong = 0
        problems: list[str] = []
        for q, tables in self.results.items():
            if not tables:
                continue
            want_cols, _, want = canon_table(con.execute(oracles[q]).arrow())
            for tbl in tables:
                checked += 1
                cols, _, got = canon_table(tbl)
                if (cols, got) != (want_cols, want):
                    wrong += 1
                    problems.append(f"{q}: {tbl.num_rows} rows hash {got} != oracle {want}")
        return checked, wrong, problems


WORKLOADS = {w.name: w for w in (PipelineEtl, RegistryMix)}
