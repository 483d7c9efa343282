"""DuckDB oracle for the ``pipeline_etl`` workload.

Recomputes, from the source rows alone, what one ``run_pipeline`` call with
``ETL_CONFIG`` must write, and compares it with what the call wrote:

- ``transformed_data``: every row and column (multiset equality);
- ``error_records``: every row and column, ``error_reason`` included;
- ``desc_stats/pre_transform`` and ``desc_stats/post_transform``: every
  cell, compared as numbers where both sides parse as numbers (relative
  tolerance ``REL_TOL``), as timestamps where both parse as timestamps,
  and as text otherwise.

The row hash (``sys_col_row_hash``) is specified as Spark's built-in
``xxhash64`` over the ``|``-joined string casts of the source columns, with
a row holding any null hashed as the empty string; the oracle computes it
that way from the source, so the hash column of every output and its
statistics are checked too.
"""

from __future__ import annotations

import datetime as dt
import math
from pathlib import Path

import duckdb
import pyarrow as pa

PROCESS = "bench"
ETL_CONFIG = {
    "process_name": PROCESS,
    "src_file_type": "parquet",
    "dst_file_type": "parquet",
    "validation": {"quantity_gt_5": ["l_quantity", "gt", 5]},
    "transformations": {
        "dedupe_cols": ["*"],
        "filter_exprs": {"not_air": ["l_shipmode", "ne", "air"]},
        "fill_map": {"l_discount": 0.0},
        "clip_map": {"l_extendedprice": [1000, 90000]},
        "new_col_map": {
            "l_rate": {"fn_name": "add_cols", "fn_kwargs": {"cols": ["l_tax", "l_discount"]}}
        },
        "rename_map": {"l_shipmode": "ship_mode"},
        "drop_cols": ["l_linenumber"],
    },
}
STATS = ["count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max",
         "null_proportion", "n_unique"]
REL_TOL = 1e-9
# parquet and ICU are built into the duckdb wheel; never fetch an extension
NO_EXTENSION_DOWNLOADS = {"autoinstall_known_extensions": False,
                          "autoload_known_extensions": False}
_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE", "DECIMAL")


def hashed_source(spark, src_path: str) -> pa.Table:
    """Source rows plus the specified row hash, as Arrow."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    parts = []
    for i, c in enumerate(df.columns):
        if i:
            parts.append(F.lit("|"))
        parts.append(F.col(c).cast("string"))
    h = F.xxhash64(F.coalesce(F.concat(*parts), F.lit("")))
    return df.withColumn("sys_col_row_hash", h).toArrow()


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class EtlOracle:
    """Expected outputs of one source, checked against any number of runs."""

    def __init__(self, source: pa.Table) -> None:
        self.con = duckdb.connect(config=NO_EXTENSION_DOWNLOADS)
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.register("src_arrow", source)
        self.con.execute("CREATE TABLE src AS SELECT * FROM src_arrow")
        self.src_cols = [c for c in source.column_names if c != "sys_col_row_hash"]
        self.types = self._types("src")
        self.described_rows = 0

    # -- expected relations ----------------------------------------------

    def _views(self, guid: str, src_path: str, when: dt.datetime) -> None:
        p = PROCESS
        sys_cols = (
            f"sys_col_row_hash, '{guid}' AS sys_col_{p}_guid, "
            f"'{src_path}' AS sys_col_{p}_src_path, "
            f"TIMESTAMP '{when.isoformat(sep=' ')}' AS sys_col_{p}_datetime"
        )
        cols = ", ".join(_q(c) for c in self.src_cols)
        self.con.execute(f"""
            CREATE OR REPLACE TEMP VIEW tagged AS
            SELECT {cols}, {sys_cols},
                   CASE WHEN NOT (l_quantity > 5) THEN 'quantity_gt_5' ELSE '' END
                       AS error_reason
            FROM src""")
        self.con.execute("CREATE OR REPLACE TEMP VIEW invalid AS "
                         "SELECT * FROM tagged WHERE error_reason <> ''")
        self.con.execute("CREATE OR REPLACE TEMP VIEW valid AS "
                         "SELECT * EXCLUDE (error_reason) FROM tagged WHERE error_reason = ''")
        norm = []
        for c in self.src_cols:
            if self.types[c] == "VARCHAR":
                norm.append(f"lower(regexp_replace(regexp_replace({_q(c)}, '^\\s+', ''), "
                            f"'\\s+$', '')) AS {_q(c)}")
            else:
                norm.append(_q(c))
        user = []
        for c in self.src_cols:
            if c in ETL_CONFIG["transformations"]["drop_cols"]:
                continue
            if c == "l_discount":
                user.append("coalesce(l_discount, CAST(0.0 AS DOUBLE)) AS l_discount")
            elif c == "l_extendedprice":
                user.append("CASE WHEN l_extendedprice IS NULL THEN NULL ELSE "
                            "least(greatest(l_extendedprice, 1000), 90000) END AS l_extendedprice")
            elif c == "l_shipmode":
                user.append("l_shipmode AS ship_mode")
            else:
                user.append(_q(c))
        user.append("l_tax + coalesce(l_discount, CAST(0.0 AS DOUBLE)) AS l_rate")
        sys_names = ["sys_col_row_hash", f"sys_col_{p}_guid", f"sys_col_{p}_src_path",
                     f"sys_col_{p}_datetime"]
        self.con.execute(f"""
            CREATE OR REPLACE TEMP VIEW transformed AS
            SELECT {", ".join(user)}, {", ".join(sys_names)}
            FROM (SELECT DISTINCT * FROM (
                    SELECT {", ".join(norm)}, {", ".join(sys_names)} FROM valid))
            WHERE l_shipmode <> 'air'""")

    def _stats(self, view: str) -> dict[tuple[str, str], object]:
        types = self._types(view)
        exprs = []
        for c in types:
            q = _q(c)
            num = types[c].startswith(_NUMERIC)
            per = {
                "count": f"count({q})",
                "null_count": f"count(*) - count({q})",
                "mean": f"avg({q})" if num else "NULL",
                "std": f"stddev_samp({q})" if num else "NULL",
                "min": f"min({q})",
                "25%": f"quantile_cont({q}, 0.25)" if num else "NULL",
                "50%": f"quantile_cont({q}, 0.5)" if num else "NULL",
                "75%": f"quantile_cont({q}, 0.75)" if num else "NULL",
                "max": f"max({q})",
                "null_proportion": f"(count(*) - count({q})) / count(*)",
                "n_unique": f"count(DISTINCT {q})",
            }
            exprs += [(s, c, e) for s, e in per.items()]
        row = self.con.execute(
            "SELECT " + ", ".join(e for _, _, e in exprs) + f" FROM {view}").fetchone()
        return {(s, c): v for (s, c, _), v in zip(exprs, row)}

    def _types(self, relation: str) -> dict[str, str]:
        """column -> DuckDB type name, in column order."""
        return {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {relation}").fetchall()}

    # -- checks ------------------------------------------------------------

    def check(self, out_dir: Path, guid: str, src_path: str,
              window: tuple[dt.datetime, dt.datetime]) -> list[str]:
        """Problems found in one run's outputs under ``out_dir`` (empty = correct)."""
        problems: list[str] = []
        data = out_dir / "transformed_data"
        stamp_col = f"sys_col_{PROCESS}_datetime"
        stamps = self.con.execute(
            f"SELECT DISTINCT CAST({stamp_col} AS TIMESTAMP) "
            f"FROM read_parquet('{data}/*.parquet')").fetchall()
        if len(stamps) != 1:
            return [f"{stamp_col} holds {len(stamps)} distinct values"]
        when = stamps[0][0]
        lo, hi = window
        if not (lo - dt.timedelta(seconds=1) <= when <= hi + dt.timedelta(seconds=1)):
            problems.append(f"{stamp_col} {when} outside the run window {lo}..{hi}")
        self._views(guid, src_path, when)
        self.described_rows = sum(
            self.con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
            for v in ("valid", "transformed"))
        problems += self._same_rows("transformed", data, "transformed_data")
        problems += self._same_rows("invalid", out_dir / "error_records", "error_records")
        for view, stem in (("valid", "pre_transform"), ("transformed", "post_transform")):
            problems += self._same_stats(view, out_dir / "desc_stats" / stem, stem)
        return problems

    def _same_rows(self, view: str, path: Path, label: str) -> list[str]:
        actual = f"read_parquet('{path}/*.parquet')"
        types = self._types(view)
        want, got = sorted(types), sorted(self._types(f"SELECT * FROM {actual}"))
        if want != got:
            return [f"{label}: columns {got} != {want}"]
        sel = ", ".join(
            f"CAST({_q(c)} AS TIMESTAMP)" if types[c].startswith("TIMESTAMP") else _q(c)
            for c in want)
        a = f"SELECT {sel} FROM {actual}"
        e = f"SELECT {sel} FROM {view}"
        missing = self.con.execute(f"SELECT count(*) FROM ({e} EXCEPT ALL {a})").fetchone()[0]
        extra = self.con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {e})").fetchone()[0]
        if missing or extra:
            return [f"{label}: {missing} expected rows missing, {extra} unexpected rows"]
        return []

    def _same_stats(self, view: str, path: Path, label: str) -> list[str]:
        want = self._stats(view)
        tbl = self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").arrow()
        rows = {r["statistic"]: r for r in tbl.to_pylist()}
        cols = {c for _, c in want}
        got_cols = set(tbl.column_names) - {"statistic"}
        if got_cols != cols or set(rows) != set(STATS):
            return [f"{label}: stats shape {sorted(rows)} x {sorted(got_cols)}"]
        bad = [f"{s}/{c}: {rows[s][c]!r} != {v!r}" for (s, c), v in want.items()
               if not cell_matches(rows[s][c], v)]
        return [f"{label}: {len(bad)} stats cells differ, e.g. {bad[0]}"] if bad else []


def cell_matches(actual: str | None, expected: object) -> bool:
    """Compare one stats cell (a string written by the program) with the
    oracle's typed value."""
    if actual is None or expected is None:
        return actual is None and expected is None
    if isinstance(expected, dt.datetime):
        try:
            return dt.datetime.fromisoformat(actual) == expected
        except ValueError:
            return False
    if isinstance(expected, (int, float)) and not isinstance(expected, bool):
        try:
            a = float(actual)
        except ValueError:
            return False
        e = float(expected)
        if math.isnan(a) or math.isnan(e):
            return math.isnan(a) and math.isnan(e)
        return math.isclose(a, e, rel_tol=REL_TOL, abs_tol=1e-12)
    return actual == str(expected)
