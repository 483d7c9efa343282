"""IO adapters: FileType dispatch + real and fake wrappers.

Reference shape (src/polars_pipe/adapters/io_pl.py:18-133 and
io_funcs.py:12-43): an ``IOBase`` ABC dispatching read/write over a
``{FileType: fn}`` table, raising NotImplementedError on unsupported
combos; YAML writes go direct, tabular writes go through a ~1 GB chunked
sink; ``FakeIOWrapper`` swaps both tables for in-memory dict access.

Spark design decisions:
- Reads return a (lazy) DataFrame: ``spark.read.parquet/csv/json``.
- The reference's manual chunked sink (io_pl.py:65-92: sample 10k rows,
  estimate row width, slice+collect per ~1 GB chunk) is replaced by
  Spark's distributed writer + ``maxRecordsPerFile``: we estimate average
  row size from a 10k-row sample written to a temp parquet file, derive
  rows-per-file for the target size, and let every executor write its own
  part files in parallel — no driver materialisation, works at 100 TB.
  Part-file naming (part-00000-<uuid>) matches the reference's scheme.
- Writes of plain dicts (the enriched config) go to YAML driver-side.
"""

from __future__ import annotations

import datetime as _dt
import math
import shutil
import tempfile
from abc import ABC, abstractmethod
from enum import Enum
from pathlib import Path
from typing import Any
from uuid import uuid4

import yaml
from pyspark.sql import DataFrame, SparkSession


class FileType(Enum):
    JSON = "json"
    PARQUET = "parquet"
    CSV = "csv"
    ORC = "orc"
    TEXT = "text"
    YAML = "yaml"

    @classmethod
    def from_str(cls, inp_str: str) -> "FileType":
        return cls.__members__[inp_str.strip().upper()]


DEFAULT_TARGET_FILE_GB = 1.0
_SAMPLE_ROWS = 10_000


def sizing_sample_path(dst: str | Path) -> str:
    """Sibling staging dir for the sizing sample, derived from the
    DESTINATION path so it lives on the destination's filesystem (HDFS/
    S3/local alike). A driver-local tempdir would measure 0 bytes on a
    real cluster where executors write to the default FS — silently
    disabling the ~1 GB sizing."""
    return f"{str(dst).rstrip('/')}__sizing_tmp_{uuid4().hex[:8]}"


def _hadoop_fs(df: DataFrame, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — the only
    byte-sizing route that works uniformly across file://, hdfs:// and
    s3a:// (driver-side ``Path.rglob`` only sees local disk)."""
    spark = df.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def estimate_rows_per_file(
    df: DataFrame,
    target_size_gb: float = DEFAULT_TARGET_FILE_GB,
    sample_path: str | None = None,
) -> int:
    """Estimate rows per ~target_size_gb parquet file from a 10k-row sample.

    Writes the sample to ``sample_path`` (REQUIRED to be on the sink's
    filesystem — pass ``sizing_sample_path(dst)``; defaults to a local
    tempdir only as a test convenience) and measures on-disk bytes via
    the Hadoop FS API — the estimate therefore reflects parquet encoding
    + compression, which is what actually lands in the sink (the
    reference samples in-memory size instead, io_pl.py:77-79).

    The sample is materialised exactly once: ``df.limit(n)`` is
    re-evaluated and non-deterministic, so the row count is read back
    from the written files (parquet footer metadata — no data scan),
    keeping bytes and rows measured over the same rows."""
    own_tmp = sample_path is None
    if own_tmp:
        sample_path = str(Path(tempfile.mkdtemp(prefix="pps_sample_")) / "sample")
    fs, hpath = _hadoop_fs(df, sample_path)
    try:
        df.limit(_SAMPLE_ROWS).write.mode("overwrite").parquet(sample_path)
        spark = df.sparkSession
        n = spark.read.parquet(sample_path).count()
        if n == 0:
            return 1_000_000
        size = fs.getContentSummary(hpath).getLength()
        avg_row = max(size / n, 1.0)
        return max(int((target_size_gb * 1e9) / avg_row), 1)
    finally:
        fs.delete(hpath, True)
        if own_tmp:
            shutil.rmtree(Path(sample_path).parent, ignore_errors=True)


def write_parquet_sized(
    df: DataFrame,
    path: str | Path,
    target_size_gb: float | None = DEFAULT_TARGET_FILE_GB,
    mode: str = "overwrite",
) -> None:
    """Distributed parquet sink targeting ~target_size_gb part files."""
    writer = df.write.mode(mode)
    if target_size_gb:
        rows_per_file = estimate_rows_per_file(
            df, target_size_gb, sample_path=sizing_sample_path(path)
        )
        writer = writer.option("maxRecordsPerFile", rows_per_file)
    writer.parquet(str(path))


def write_parquet_partitioned(
    df: DataFrame,
    path: str | Path,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (``path/col=value/…``): the layout
    primitive that turns partition-key predicates into directory pruning
    — a reader filtering on a partition column never opens the other
    directories' files (``PartitionFilters`` in the scan, asserted by
    plan test).

    Choose LOW-cardinality keys (source, date, lang): each distinct
    combination becomes a directory, and every task writing to it opens
    its own file — high-cardinality keys explode the file count. For
    many partitions × many tasks, repartition on the partition cols
    first so each directory is written by few tasks.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(str(path))


def compact_parquet(
    spark: SparkSession,
    path: str | Path,
    target_size_gb: float = DEFAULT_TARGET_FILE_GB,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_size_gb`` part files and atomically swap it in. Streaming
    sinks and fine-grained partitioned writes accrete small files whose
    per-file open/footer overhead dominates scans at scale — periodic
    compaction is the standard maintenance job (OPTIMIZE in lakehouse
    formats; this is the plain-parquet emulation).

    The rewrite repartitions to ceil(rows/rows_per_file) so part files
    are both ~evenly sized AND capped — maxRecordsPerFile alone caps but
    keeps one output file per input task (it never merges small tasks).
    Returns the number of part files after compaction.
    """
    import math

    path = str(path)
    df = spark.read.parquet(path)
    rows_per_file = estimate_rows_per_file(
        df, target_size_gb, sample_path=sizing_sample_path(path)
    )
    n_rows = df.count()
    n_files = max(math.ceil(n_rows / rows_per_file), 1)
    staging = f"{path}__compact_{uuid4().hex[:8]}"
    df.repartition(n_files).write.mode("overwrite").option(
        "maxRecordsPerFile", rows_per_file
    ).parquet(staging)
    fs, dst_hpath = _hadoop_fs(df, path)
    fs.delete(dst_hpath, True)
    fs.rename(_hadoop_fs(df, staging)[1], dst_hpath)
    out = [
        f for f in spark.read.parquet(path).inputFiles() if f.endswith(".parquet")
    ]
    return len(out)


def write_yaml(data: dict, path: str | Path) -> None:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(yaml.safe_dump(data, sort_keys=False))


class IOBase(ABC):
    """Read/write dispatch keyed by FileType; NotImplementedError on
    unsupported combos (same contract as reference io_pl.py:28-56)."""

    def __init__(self, spark: SparkSession, guid: str | None = None) -> None:
        self.spark = spark
        self.guid = guid

    # -- dispatch tables (overridden by the fake) ---------------------------

    def _read_parquet(self, path: str, **kw: Any) -> DataFrame:
        # Routed through read_parquet_table so TIMESTAMP(NANOS) sources
        # (pandas/polars writer default) are rebuilt to microseconds
        # instead of erroring — every parquet entry point shares the one
        # ns-safe reader.
        from polars_pipe_spark.sources.tables import read_parquet_table

        return read_parquet_table(self.spark, path, **kw)

    def _read_csv(self, path: str, **kw: Any) -> DataFrame:
        kw.setdefault("header", True)
        kw.setdefault("inferSchema", True)
        return self.spark.read.csv(path, **kw)

    def _read_json(self, path: str, **kw: Any) -> DataFrame:
        return self.spark.read.json(path, **kw)

    def _read_orc(self, path: str, **kw: Any) -> DataFrame:
        return self.spark.read.orc(path, **kw)

    def _read_text(self, path: str, **kw: Any) -> DataFrame:
        # one row per line, single `value` string column — the raw-corpus
        # ingestion path (line-oriented text; use JSON for jsonl)
        return self.spark.read.text(path, **kw)

    @property
    def _read_funcs(self) -> dict[FileType, Any]:
        return {
            FileType.PARQUET: self._read_parquet,
            FileType.CSV: self._read_csv,
            FileType.JSON: self._read_json,
            FileType.ORC: self._read_orc,
            FileType.TEXT: self._read_text,
        }

    def _write_parquet(self, df: DataFrame, path: str, **kw: Any) -> None:
        write_parquet_sized(df, path, **kw)

    def _write_csv(self, df: DataFrame, path: str, **kw: Any) -> None:
        df.write.mode("overwrite").option("header", True).csv(str(path), **kw)

    def _write_orc(self, df: DataFrame, path: str, **kw: Any) -> None:
        df.write.mode("overwrite").orc(str(path), **kw)

    def _write_text(self, df: DataFrame, path: str, **kw: Any) -> None:
        # requires a single string column (Spark text sink contract);
        # values must be newline-free — this is the line-corpus format
        df.write.mode("overwrite").text(str(path), **kw)

    def _write_json(self, df: DataFrame, path: str, **kw: Any) -> None:
        # JSONL (one object per line) — extension beyond the reference,
        # which reads JSON but never writes it (adapters/io_funcs.py:24
        # has no JSON sink); users expect the round trip
        df.write.mode("overwrite").json(str(path), **kw)

    def _write_yaml(self, data: dict, path: str, **kw: Any) -> None:
        write_yaml(data, path)

    @property
    def _write_funcs(self) -> dict[FileType, Any]:
        return {
            FileType.PARQUET: self._write_parquet,
            FileType.CSV: self._write_csv,
            FileType.JSON: self._write_json,
            FileType.ORC: self._write_orc,
            FileType.TEXT: self._write_text,
            FileType.YAML: self._write_yaml,
        }

    # -- public API ---------------------------------------------------------

    def read(self, path: str | Path, file_type: FileType | str, **kwargs: Any) -> DataFrame:
        file_type = self._get_file_type(file_type)
        if file_type not in self._read_funcs:
            raise NotImplementedError(f"`read` is not implemented for {file_type}")
        return self._read_funcs[file_type](str(path), **kwargs)

    def write(
        self, data: DataFrame | dict, path: str | Path, file_type: FileType | str, **kwargs: Any
    ) -> None:
        file_type = self._get_file_type(file_type)
        if file_type not in self._write_funcs:
            raise NotImplementedError(f"`write` is not implemented for {file_type}")
        self._write_funcs[file_type](data, str(path), **kwargs)

    @staticmethod
    def _get_file_type(file_type: FileType | str) -> FileType:
        return file_type if isinstance(file_type, FileType) else FileType.from_str(file_type)

    @abstractmethod
    def new_guid(self) -> str: ...

    @abstractmethod
    def get_datetime(self) -> _dt.datetime: ...


class IOWrapper(IOBase):
    def new_guid(self) -> str:
        self.guid = str(uuid4())
        return self.guid

    def get_datetime(self) -> _dt.datetime:
        return _dt.datetime.now(_dt.timezone.utc)


class FakeIOWrapper(IOBase):
    """In-memory test double: ``files`` maps path → DataFrame | dict.
    Fixed guid/datetime for hermetic golden tests (reference
    io_pl.py:113-133)."""

    def __init__(self, spark: SparkSession, files: dict[str, Any] | None = None) -> None:
        super().__init__(spark)
        self.files: dict[str, Any] = dict(files or {})

    def _fake_read(self, path: str, **kw: Any) -> DataFrame:
        return self.files[path]

    def _fake_write(self, data: Any, path: str, **kw: Any) -> None:
        self.files[str(path)] = data

    @property
    def _read_funcs(self) -> dict[FileType, Any]:
        return dict.fromkeys(FileType, self._fake_read)

    @property
    def _write_funcs(self) -> dict[FileType, Any]:
        return dict.fromkeys(FileType, self._fake_write)

    def new_guid(self) -> str:
        self.guid = "abc-123"
        return self.guid

    def get_datetime(self) -> _dt.datetime:
        return _dt.datetime(2025, 10, 16, 12, tzinfo=_dt.timezone.utc)
