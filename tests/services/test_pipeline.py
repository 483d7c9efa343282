"""Golden end-to-end pipeline tests (model: reference
tests/services/test_basic_pipeline.py — FakeIOWrapper over an in-memory
table, full run, exact file-set + row assertions; goldens regenerated
under this engine's declared semantics: xxhash64 hashes, clean
error_reason join, exact percentiles)."""

from __future__ import annotations

import threading
from pathlib import Path

import pytest

from polars_pipe_spark.adapters.io import FakeIOWrapper
from polars_pipe_spark.services import run_pipeline

SRC = "/fake/employees.parquet"
DST = "/fake/out"


@pytest.fixture()
def io(spark, employees):
    return FakeIOWrapper(spark, files={SRC: employees})


def full_config():
    return {
        "process_name": "proc",
        "src_path": SRC,
        "src_file_type": "parquet",
        "dst_root": DST,
        "dst_file_type": "parquet",
        "validation": {
            "age is not null": ["age", "is_not_null", None],
            "salary gt 45000": ["salary", "gt", 45000],
        },
        "transformations": {
            "fill_map": {"bonus": 0},
            "recast_map": {"salary": "Int64"},
            "clip_map": {"bonus": [1000, 6000]},
            "new_col_map": {
                "comp": {"fn_name": "add_cols", "fn_kwargs": {"cols": ["salary", "bonus"]}},
                "mean_salary": {"fn_name": "mean", "fn_kwargs": {"col": "salary"}},
            },
            "rename_map": {"name": "employee"},
            "drop_cols": ["projects"],
        },
        "select_cols": "*",
    }


def out_paths(io):
    return {p.replace(f"{DST}/abc-123", "") for p in io.files if p.startswith(DST)}


class TestFullRun:
    def test_artifact_set(self, io):
        run_pipeline(io, full_config())
        assert out_paths(io) == {
            "/config/proc_20251016_1200.yaml",
            "/config/run_log_20251016_1200.yaml",
            "/desc_stats/pre_transform",
            "/desc_stats/post_transform",
            "/transformed_data",
            "/error_records",
        }

    def test_run_log_artifact(self, io):
        """Structured observability artifact (reference core/logger.py
        parity, upgraded to per-stage structured records): stage names,
        wall seconds, and row counts for the data writes."""
        run_pipeline(io, full_config())
        log = io.files[f"{DST}/abc-123/config/run_log_20251016_1200.yaml"]
        assert log["guid"] == "abc-123"
        assert log["process_name"] == "proc"
        assert log["total_seconds"] >= 0
        by_name = {s["stage"]: s for s in log["stages"]}
        assert set(by_name) == {
            "read",
            "pre_transform_stats",
            "write_valid",
            "write_errors",
            "post_transform_stats",
        }
        assert all(s["seconds"] >= 0 for s in log["stages"])
        starts = [s["start_s"] for s in log["stages"]]
        assert starts == sorted(starts) and starts[0] >= 0
        assert log["stages"][0]["stage"] == "read"
        assert by_name["write_valid"]["rows"] == 3  # alice, charlie, eve
        assert by_name["write_errors"]["rows"] == 2  # bob, dave

    def test_transformed_rows(self, io):
        run_pipeline(io, full_config())
        out = io.files[f"{DST}/abc-123/transformed_data"]
        rows = {r.employee: r for r in out.collect()}
        # valid = alice, charlie, eve (bob fails salary rule, dave null age)
        assert set(rows) == {"alice", "charlie", "eve"}  # normalised strings
        a = rows["alice"]
        assert a.salary == 50000 and isinstance(a.salary, int)
        assert a.bonus == 5000.0
        assert a.comp == 55000.0
        assert a.mean_salary == (50000 + 71000 + 53000) / 3
        # charlie bonus clipped 2000 (in range), comp = 73000
        assert rows["charlie"].comp == 73000.0
        # eve bonus clipped down to 6000
        assert rows["eve"].bonus == 6000.0
        # sys cols at the end, data cols first
        assert out.columns[:5] == ["employee", "age", "salary", "bonus", "comp"]
        assert [c for c in out.columns if c.startswith("sys_col")] == [
            "sys_col_row_hash",
            "sys_col_proc_guid",
            "sys_col_proc_src_path",
            "sys_col_proc_datetime",
        ]

    def test_error_records(self, io):
        run_pipeline(io, full_config())
        err = io.files[f"{DST}/abc-123/error_records"]
        reasons = {r.name: r.error_reason for r in err.collect()}
        assert reasons == {"Bob": "salary gt 45000", "dave": "age is not null"}

    def test_config_artifact_has_plan(self, io):
        parsed = run_pipeline(io, full_config())
        cfg = io.files[f"{DST}/abc-123/config/proc_20251016_1200.yaml"]
        assert cfg["guid"] == "abc-123"
        assert cfg["pipeline_plan"] == parsed.pipeline_plan
        assert len(parsed.pipeline_plan) > 0

    def test_plan_artifact_is_stable_across_runs(self, io):
        """Catalyst expression ids come from a JVM-wide counter; the
        artifact must not carry them, so two runs of one config in one
        session record the same plan."""
        first = run_pipeline(io, full_config()).pipeline_plan
        second = run_pipeline(io, full_config()).pipeline_plan
        assert first == second
        assert not any("#" in line for line in first)

    def test_empty_config_all_stages_skip(self, io, employees):
        cfg = {
            "process_name": "noop",
            "src_path": SRC,
            "src_file_type": "parquet",
            "dst_root": DST,
            "dst_file_type": "parquet",
        }
        run_pipeline(io, cfg)
        out = io.files[f"{DST}/abc-123/transformed_data"]
        assert out.count() == employees.count()
        # no error records written when validation is empty
        assert f"{DST}/abc-123/error_records" not in io.files

    def test_preexisting_hash_col_kept(self, io, spark, employees):
        from pyspark.sql import functions as F

        io.files[SRC] = employees.withColumn("sys_col_row_hash", F.lit(7))
        run_pipeline(io, full_config())
        out = io.files[f"{DST}/abc-123/transformed_data"]
        assert {r.sys_col_row_hash for r in out.collect()} == {7}

    def test_select_cols_subset(self, io):
        cfg = full_config()
        cfg["select_cols"] = ["employee", "salary"]
        run_pipeline(io, cfg)
        out = io.files[f"{DST}/abc-123/transformed_data"]
        assert out.columns == [
            "employee",
            "salary",
            "sys_col_row_hash",
            "sys_col_proc_guid",
            "sys_col_proc_src_path",
            "sys_col_proc_datetime",
        ]

    def test_nest_unnest_and_custom_transform_chain(self, io, spark):
        from pyspark.sql import functions as F

        def add_tax(df, rate=0.1):
            return df.withColumn("salary_taxed", F.col("salary") * (1 - rate))

        cfg = {
            "process_name": "proc",
            "src_path": SRC,
            "src_file_type": "parquet",
            "dst_root": DST,
            "dst_file_type": "parquet",
            "transformations": {
                "unnest_cols": ["projects"],
                "nest_cols": {"pay": ["salary", "bonus"]},
            },
            "custom_transformations": {"add_tax": {"rate": 0.2}},
        }
        # custom transform runs AFTER nesting (chain order) — reference a
        # top-level col that survives: rewrite to use nested field
        def add_tax_nested(df, rate=0.1):
            return df.withColumn("salary_taxed", F.col("pay.salary") * (1 - rate))

        run_pipeline(io, cfg, custom_transformation_fns={"add_tax": add_tax_nested})
        out = io.files[f"{DST}/abc-123/transformed_data"]
        rows = {r.name: r for r in out.collect()}
        # struct nested, originals dropped, unnested projects fields present
        assert "pay" in out.columns and "salary" not in out.columns
        assert {"a", "b"} <= set(out.columns)
        assert rows["alice"].pay.salary == 50000.0
        assert rows["alice"].salary_taxed == 40000.0

    def test_missing_expected_col_raises(self, io):
        cfg = full_config()
        cfg["validation"]["ghost rule"] = ["ghost_col", "is_not_null", None]
        with pytest.raises(ValueError, match="ghost_col"):
            run_pipeline(io, cfg)


# sink destination (last path part) -> the RunLog stage that writes it
SINK_STAGES = {
    "pre_transform": "pre_transform_stats",
    "transformed_data": "write_valid",
    "error_records": "write_errors",
    "post_transform": "post_transform_stats",
}


class SinkIO(FakeIOWrapper):
    """Fake IO that records, per sink write, the writing thread's Spark
    local properties, and runs ``on_write(dest)`` before storing."""

    def __init__(self, spark, files, on_write=lambda dest: None):
        super().__init__(spark, files)
        self.on_write = on_write
        self.props: dict[str, dict] = {}

    def _fake_write(self, data, path, **kw):
        dest = path.rsplit("/", 1)[-1]
        if dest in SINK_STAGES:
            sc = self.spark.sparkContext
            self.props[dest] = {
                k: sc.getLocalProperty(k)
                for k in ("spark.job.description", "spark.jobGroup.id")
            }
            self.on_write(dest)
        super()._fake_write(data, path, **kw)


class TestConcurrentSinks:
    """The four sinks run at once, one thread each."""

    def test_sinks_overlap(self, spark, employees):
        # each of the two writes waits for the other to arrive: run one
        # after the other, the first breaks the barrier after 20 s
        barrier = threading.Barrier(2, timeout=20)

        def meet(dest):
            if dest in ("pre_transform", "transformed_data"):
                barrier.wait()

        io = SinkIO(spark, {SRC: employees}, on_write=meet)
        run_pipeline(io, full_config())
        assert out_paths(io) >= {"/desc_stats/pre_transform", "/transformed_data"}

    def test_failure_raised_after_every_sink_returns(self, spark, employees):
        """The first failure in sink order is raised, once every other
        sink has finished: ``pre_transform`` fails after ``error_records``
        failed, and the other two sinks still write."""
        errors_failed = threading.Event()

        def fail(dest):
            if dest == "error_records":
                errors_failed.set()
                raise ValueError("error sink failed")
            if dest == "pre_transform":
                errors_failed.wait(timeout=20)
                raise RuntimeError("pre-transform sink failed")

        io = SinkIO(spark, {SRC: employees}, on_write=fail)
        with pytest.raises(RuntimeError, match="pre-transform sink failed"):
            run_pipeline(io, full_config())
        assert out_paths(io) == {
            "/config/proc_20251016_1200.yaml",
            "/transformed_data",
            "/desc_stats/post_transform",
        }

    def test_each_sink_tags_its_jobs(self, spark, employees):
        io = SinkIO(spark, {SRC: employees})
        run_pipeline(io, full_config())
        assert {d: p["spark.job.description"] for d, p in io.props.items()} == {
            dest: f"run_pipeline:{stage}" for dest, stage in SINK_STAGES.items()
        }
        # the descriptions stay in the sink threads
        assert spark.sparkContext.getLocalProperty("spark.job.description") is None

    def test_caller_job_group_reaches_sinks(self, spark, employees):
        sc = spark.sparkContext
        io = SinkIO(spark, {SRC: employees})
        sc.setJobGroup("caller-group", "caller")
        try:
            run_pipeline(io, full_config())
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert set(io.props) == set(SINK_STAGES)
        assert {p["spark.jobGroup.id"] for p in io.props.values()} == {"caller-group"}


class TestRunLog:
    def test_stages_from_many_threads(self):
        """Stage records entered from more threads than cores all land, in
        start order, each with its own fields."""
        import sys

        from polars_pipe_spark.logger import RunLog

        log = RunLog()

        def work(i):
            for j in range(50):
                with log.stage(f"s{i}", j=j) as rec:
                    rec["i"] = i

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=20)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        stages = log.to_dict()["stages"]
        assert len(stages) == 16 * 50
        assert all(s["stage"] == f"s{s['i']}" for s in stages)
        assert sorted((s["i"], s["j"]) for s in stages) == [
            (i, j) for i in range(16) for j in range(50)
        ]
        starts = [s["start_s"] for s in stages]
        assert starts == sorted(starts)


class TestLLMOpsInPipeline:
    def test_pii_scrub_as_custom_transformation(self, spark):
        """The LLM surface plugs into the config-driven pipeline through
        the custom-transformation registry: a corpus pipeline that
        validates, scrubs PII, and writes — one config."""
        from pyspark.sql import functions as F

        from polars_pipe_spark.functions.text import scrub_pii

        docs = spark.createDataFrame(
            [
                (1, "contact me a@b.io", "src0"),
                (2, "clean", "src0"),
                (3, None, "src1"),
            ],
            "doc_id long, text string, source string",
        )
        io = FakeIOWrapper(spark, files={"/fake/docs.parquet": docs})

        def scrub(df, col):
            return df.withColumn(col, scrub_pii(F.col(col)))

        cfg = {
            "process_name": "corpus",
            "src_path": "/fake/docs.parquet",
            "src_file_type": "parquet",
            "dst_root": DST,
            "dst_file_type": "parquet",
            "validation": {"text present": ["text", "is_not_null", None]},
            "custom_transformations": {"scrub": {"col": "text"}},
        }
        run_pipeline(io, cfg, custom_transformation_fns={"scrub": scrub})
        out = io.files[f"{DST}/abc-123/transformed_data"]
        texts = {r.doc_id: r.text for r in out.collect()}
        assert texts[1] == "contact me [EMAIL]"
        assert texts[2] == "clean"
        err = io.files[f"{DST}/abc-123/error_records"]
        assert {r.doc_id for r in err.collect()} == {3}


class TestRealWrites:
    def test_only_data_writes_are_sized(self, spark, employees, tmp_path, monkeypatch):
        """The two data writes size their part files from a sample; the
        ~11-row stats tables are written unsized, one parquet file each."""
        from polars_pipe_spark.adapters import io as io_mod

        sized = []
        estimate = io_mod.estimate_rows_per_file

        def spy(df, target_size_gb=io_mod.DEFAULT_TARGET_FILE_GB, sample_path=None):
            sized.append(Path(sample_path).name.split("__sizing_tmp_")[0])
            return estimate(df, target_size_gb, sample_path=sample_path)

        monkeypatch.setattr(io_mod, "estimate_rows_per_file", spy)
        src = str(tmp_path / "employees.parquet")
        employees.drop("projects").write.parquet(src)
        parsed = run_pipeline(io_mod.IOWrapper(spark), {
            "process_name": "sized",
            "src_path": src,
            "src_file_type": "parquet",
            "dst_root": str(tmp_path / "out"),
            "dst_file_type": "parquet",
            "validation": {"salary gt 45000": ["salary", "gt", 45000]},
        })
        assert sorted(sized) == ["error_records", "transformed_data"]
        run_dir = tmp_path / "out" / parsed.guid
        for stem in ("pre_transform", "post_transform"):
            assert len(list((run_dir / "desc_stats" / stem).glob("*.parquet"))) == 1


class TestCli:
    def test_main_runs_yaml_config_end_to_end(self, tmp_path):
        """python -m polars_pipe_spark <config.yaml> drives the full
        service: transformed data + error records + stats + run log land
        under the run GUID."""
        import yaml as _yaml

        from polars_pipe_spark.__main__ import main

        dst = str(tmp_path / "out")
        cfg = {
            "process_name": "cli_e2e",
            "src_path": "/root/testdata/sf0.001/customer.parquet",
            "src_file_type": "parquet",
            "dst_root": dst,
            "dst_file_type": "parquet",
            "validation": {"bal > -500": ["c_acctbal", "gt", -500]},
            "transformations": {"clip_map": {"c_acctbal": [0, 8000]}},
        }
        cfg_path = tmp_path / "cfg.yaml"
        cfg_path.write_text(_yaml.safe_dump(cfg))
        assert main([str(cfg_path)]) == 0
        from pathlib import Path

        run_dirs = [p for p in Path(dst).iterdir() if p.is_dir()]
        assert len(run_dirs) == 1
        produced = {p.name for p in run_dirs[0].iterdir()}
        assert {"transformed_data", "desc_stats", "config"} <= produced

    def test_dedup_and_split_as_custom_transformations(self, spark):
        """A training-data prep pipeline from config alone: validate,
        exact-dedup by content, deterministic train/test split — the
        dedup + sampling surface composes through the same registry."""
        from polars_pipe_spark.functions.dedup import exact_dedup
        from polars_pipe_spark.functions.sampling import train_test_split

        docs = spark.createDataFrame(
            [
                (1, "the same text", "s"),
                (2, "the same text", "s"),     # exact dup of 1
                (3, "unique text", "s"),
                (4, None, "s"),                # fails validation
            ],
            "doc_id long, text string, source string",
        )
        io = FakeIOWrapper(spark, files={"/fake/docs.parquet": docs})

        def dedup(df, col):
            return exact_dedup(df, col, "doc_id")

        def split(df, key):
            return train_test_split(df, key, test_fraction=0.5)

        cfg = {
            "process_name": "prep",
            "src_path": "/fake/docs.parquet",
            "src_file_type": "parquet",
            "dst_root": DST,
            "dst_file_type": "parquet",
            "validation": {"text present": ["text", "is_not_null", None]},
            "custom_transformations": {"dedup": {"col": "text"}, "split": {"key": "doc_id"}},
        }
        run_pipeline(io, cfg, custom_transformation_fns={"dedup": dedup, "split": split})
        out = io.files[f"{DST}/abc-123/transformed_data"].collect()
        ids = sorted(r.doc_id for r in out)
        assert len(ids) == 2 and 3 in ids and ids[0] in (1, 2)  # one dup survivor
        assert all(r.split in ("train", "test") for r in out)
        err = io.files[f"{DST}/abc-123/error_records"]
        assert {r.doc_id for r in err.collect()} == {4}
