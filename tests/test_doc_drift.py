"""README stage docs must match the code (reference parity:
dev_tools/update_readme.py regenerates them; this test is the CI guard
the reference lacks — drift fails the suite instead of lingering)."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_readme_stage_docs_current():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools/update_readme.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, (
        "README pipeline-stage docs are stale; run tools/update_readme.py\n"
        + proc.stderr
    )


def test_stage_list_matches_chain():
    sys.path.insert(0, str(REPO / "tools"))
    import update_readme as ur

    names = ur.find_stage_fns()
    # the chain is load-bearing (reference basic_pipeline.py:53-77) —
    # pin its order here so an accidental reorder is loud
    assert names == [
        "normalise_str_cols",
        "deduplicate_rows",
        "unnest_df_cols",
        "filter_df",
        "fill_nulls_per_col",
        "recast_df_cols",
        "clip_df_cols",
        "derive_new_cols",
        "rename_df_cols",
        "nest_df_cols",
        "drop_df_cols",
        "pipe_custom_transformations",
        "select_with_sys_cols_last",
        "standardise_col_names_if_no_case_insensitive_dupes",
    ]
    docs = ur.stage_docs(names)
    assert all(f"`{n}`" in docs for n in names)
    assert "—" in docs and "— \n" not in docs  # every stage has a doc line


def test_coverage_query_citations_name_defs_in_their_files():
    """COVERAGE.md cites query code by name, ``registry/<family>.py::<def>``;
    each named def must exist in that family module, so a query that moves
    or is renamed fails here. Line-number citations of the registry are not
    used: they drift with every edit above them."""
    text = (REPO / "COVERAGE.md").read_text()
    assert not re.findall(r"\b(?:__spark_entry__\.py|registry/\w+\.py):\d+", text)
    cites = re.findall(r"\b(registry/\w+\.py)::(\w+)", text)
    assert cites
    for path, name in cites:
        f = REPO / "polars_pipe_spark" / path
        assert f.is_file(), path
        assert re.search(rf"^def {name}\(", f.read_text(), re.M), f"{path}::{name}"
