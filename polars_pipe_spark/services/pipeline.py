"""The pipeline service: config-driven end-to-end run.

Reference: ``run_pipeline`` (src/polars_pipe/services/basic_pipeline.py:15-113):
read → column contract → hash + process lineage → validate split →
pre-transform stats → fixed 14-stage transform chain → select with
sys-cols last → name standardisation → plan capture → writes (config YAML,
transformed data, error records if any, post-transform stats).

Spark-specific changes (semantics-neutral, scale-critical — SURVEY.md §3.4):
- Two persist points. The tagged (validated) frame is ``persist()``ed and
  the valid and invalid frames are filters over it; the transformed frame
  is ``persist()``ed on top of the valid one. The reference re-evaluates
  its lazy plan once per action (stats rows, explain, chunk sizing, each
  chunk, error probe, writes — O(8) full recomputes); here the source is
  scanned once per persist point.
- Plan capture stores the Catalyst optimized logical plan text; it and the
  config YAML are written before any sink runs.
- The four sinks run concurrently, one thread each:
  ``pre_transform_stats`` (describe the valid frame), ``write_valid``
  (write the transformed frame, then count it), ``write_errors`` (count
  the invalid frame — the count doubles as the existence probe the
  reference does with limit(1).collect(), basic_pipeline.py:98 — and
  write it if non-empty) and ``post_transform_stats`` (describe the
  transformed frame). They are safe to overlap: each only reads the two
  persisted frames and writes its own destination, and a cache block that
  two jobs need at once is computed by one task while the other waits for
  it, so no sink recomputes another's work (a sink that plans before the
  shared cache is filled may run an extra one-task job for its cache
  stage). What overlapping buys is the gaps between jobs (planning,
  codegen, class loading) and the task slots a small job leaves idle:
  Spark's scheduler hands them to the other sinks' jobs. The caller's local properties (job
  group, scheduler pool) carry into every sink thread, each sink tags its
  jobs ``spark.job.description = run_pipeline:<stage>``, and the run
  waits for every sink before raising the first failure in sink order.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from polars_pipe_spark.adapters.io import FileType, IOBase
from polars_pipe_spark.config import GeneralConfig, TransformConfig
from polars_pipe_spark.logger import RunLog, logger  # noqa: F401 (logger re-export)
from polars_pipe_spark.operators import inspect as ins
from polars_pipe_spark.operators import transform as tf
from polars_pipe_spark.operators import validation as vl


from polars_pipe_spark.plans.introspect import optimized_plan_lines  # noqa: E402

__all__ = ["build_transform_chain", "optimized_plan_lines", "run_pipeline"]


def build_transform_chain(
    df: DataFrame,
    tf_config: TransformConfig,
    select_cols: list | str = "*",
    custom_transformation_fns: dict[str, Callable] | None = None,
    custom_transformation_map: dict | None = None,
) -> DataFrame:
    """The fixed transform chain (order is load-bearing — reference
    basic_pipeline.py:53-77)."""
    return (
        df.transform(tf.normalise_str_cols)
        .transform(tf.deduplicate_rows, subset_cols=tf_config.dedupe_cols)
        .transform(tf.unnest_df_cols, unnest_cols=tf_config.unnest_cols)
        .transform(tf.filter_df, filter_exprs=tf_config.filter_exprs)
        .transform(tf.fill_nulls_per_col, fill_map=tf_config.fill_map)
        .transform(tf.recast_df_cols, recast_map=tf_config.recast_map)
        .transform(tf.clip_df_cols, clip_map=tf_config.clip_map)
        .transform(tf.derive_new_cols, new_col_map=tf_config.new_col_map)
        .transform(tf.rename_df_cols, rename_map=tf_config.rename_map)
        .transform(tf.nest_df_cols, nest_cols=tf_config.nest_cols)
        .transform(tf.drop_df_cols, drop_cols=tf_config.drop_cols)
        .transform(
            tf.pipe_custom_transformations,
            custom_transformation_fns=custom_transformation_fns or {},
            custom_transformation_map=custom_transformation_map or {},
        )
        .transform(tf.select_with_sys_cols_last, select_cols=select_cols)
        .transform(tf.standardise_col_names_if_no_case_insensitive_dupes)
    )


def _run_sinks(
    spark: SparkSession, run_log: RunLog, sinks: list[Callable[[dict], None]]
) -> None:
    """Run each sink in its own thread as the ``run_log`` stage of
    its name; wait for all of them, then raise the first failure in sink
    order."""

    def run(sink: Callable[[dict], None]) -> None:
        spark.sparkContext.setJobDescription(f"run_pipeline:{sink.__name__}")
        with run_log.stage(sink.__name__) as rec:
            sink(rec)

    with ThreadPoolExecutor(len(sinks)) as pool:
        # one wrapper per sink: each copies the caller's local properties
        # into its own thread (a shared copy would share the description)
        futures = [
            pool.submit(inheritable_thread_target(spark)(run), sink) for sink in sinks
        ]
    for future in futures:
        future.result()


def run_pipeline(
    io_wrapper: IOBase,
    config: dict,
    custom_transformation_fns: dict[str, Callable] | None = None,
) -> GeneralConfig:
    """End-to-end config-driven run. Returns the enriched config (which is
    also written as the YAML artifact)."""
    date_time = io_wrapper.get_datetime()
    config = dict(config)
    config["guid"] = io_wrapper.new_guid()
    config["date_time"] = date_time

    parsed = GeneralConfig.from_dict(config)
    run_log = RunLog()

    with run_log.stage("read", src=parsed.src_path):
        df = io_wrapper.read(
            parsed.src_path, file_type=FileType.from_str(parsed.src_file_type)
        )

    expected = vl.extract_expected_cols(parsed.transformations, parsed.validation)
    rules = vl.parse_validation_config(parsed.validation)

    tagged_base = (
        df.transform(vl.check_expected_cols, expected_cols=expected)
        .transform(tf.add_hash_col)
        .transform(
            tf.add_process_cols,
            guid=io_wrapper.guid,
            src_path=parsed.src_path,
            date_time=date_time,
            process_name=parsed.process_name,
        )
    )
    # Persist point (a): ONE tagged frame is cached and both branches are
    # filters over it — the scan + hash + tag prefix materialises once,
    # not once per branch (SURVEY.md §3.4).
    if rules:
        tagged = vl.tag_error_reason(tagged_base, rules).persist()
        valid_df, invalid_df = vl.split_tagged(tagged)
    else:
        tagged = tagged_base.persist()
        valid_df, invalid_df = vl.validate_df(tagged, rules)

    dst = Path(parsed.dst_root) / parsed.guid
    tf_config = TransformConfig.from_dict(parsed.transformations)
    transformed = build_transform_chain(
        valid_df,
        tf_config,
        select_cols=parsed.select_cols,
        custom_transformation_fns=custom_transformation_fns,
        custom_transformation_map=parsed.custom_transformations,
    )
    # Persist point (b): plan capture + data write + post-stats reuse it.
    transformed = transformed.persist()

    parsed.pipeline_plan = optimized_plan_lines(transformed)

    io_wrapper.write(
        parsed.to_dict(),
        dst / parsed.config_dst_stem / f"{parsed.process_name}_{parsed.date_time}.yaml",
        file_type=FileType.YAML,
    )

    dst_file_type = FileType.from_str(parsed.dst_file_type)

    # The stats tables are ~11 rows in one partition: written unsized (no
    # sample write + read-back to size ~1 GB part files).
    def pre_transform_stats(rec: dict) -> None:
        io_wrapper.write(
            ins.describe_df(valid_df, approx=parsed.scale_mode),
            dst / parsed.desc_stats_stem / "pre_transform",
            file_type=FileType.PARQUET,
            target_size_gb=None,
        )

    def write_valid(rec: dict) -> None:
        io_wrapper.write(transformed, dst / parsed.valid_dst_stem, file_type=dst_file_type)
        # count over the (now-filled) cache: one cheap job, no re-scan
        rec["rows"] = transformed.count()

    def write_errors(rec: dict) -> None:
        # count doubles as the existence probe (over the cached tagged frame)
        rec["rows"] = invalid_rows = invalid_df.count()
        if invalid_rows:
            io_wrapper.write(
                invalid_df, dst / parsed.invalid_dst_stem, file_type=dst_file_type
            )

    def post_transform_stats(rec: dict) -> None:
        io_wrapper.write(
            ins.describe_df(transformed, approx=parsed.scale_mode),
            dst / parsed.desc_stats_stem / "post_transform",
            file_type=FileType.PARQUET,
            target_size_gb=None,
        )

    _run_sinks(
        transformed.sparkSession,
        run_log,
        [pre_transform_stats, write_valid, write_errors, post_transform_stats],
    )

    run_log.note(guid=parsed.guid, process_name=parsed.process_name)
    io_wrapper.write(
        run_log.to_dict(),
        dst / parsed.config_dst_stem / f"run_log_{parsed.date_time}.yaml",
        file_type=FileType.YAML,
    )

    tagged.unpersist()
    transformed.unpersist()
    return parsed
