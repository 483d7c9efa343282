#!/usr/bin/env python
"""Regenerate the README's pipeline-stage docs from source.

Reference parity: ``dev_tools/update_readme.py:11-48`` re-extracts the
stage list from the pipeline source + stage docstrings so the README can
never drift from the code. Same idea here: parse the ``.transform(...)``
chain out of ``build_transform_chain``, pull each stage's docstring first
line, and rewrite the marked block in README.md.

Usage:
    python tools/update_readme.py          # rewrite README in place
    python tools/update_readme.py --check  # exit 1 if README is stale
"""

from __future__ import annotations

import inspect
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

MARK_A = "<!-- STAGES:BEGIN (generated by tools/update_readme.py — do not edit) -->"
MARK_B = "<!-- STAGES:END -->"


def find_stage_fns() -> list[str]:
    """Stage names in chain order, parsed from build_transform_chain's
    source (the code is the source of truth, not this tool)."""
    src = (REPO / "polars_pipe_spark/services/pipeline.py").read_text()
    m = re.search(
        r"def build_transform_chain\b.*?(?=\ndef |\nclass |\Z)", src, re.DOTALL
    )
    if not m:
        raise RuntimeError("build_transform_chain not found")
    return re.findall(r"\.transform\(\s*(?:tf|vl|ins)\.(\w+)", m.group(0))


def stage_docs(names: list[str]) -> str:
    from polars_pipe_spark.operators import inspect as ins
    from polars_pipe_spark.operators import transform as tf
    from polars_pipe_spark.operators import validation as vl

    fns: dict[str, object] = {}
    for mod in (tf, vl, ins):
        fns.update(dict(inspect.getmembers(mod, inspect.isroutine)))

    lines = []
    for i, n in enumerate(dict.fromkeys(names), 1):
        doc = inspect.getdoc(fns[n]) or ""
        para = doc.split("\n\n")[0]  # first paragraph, joined to one line
        first = " ".join(s.strip() for s in para.splitlines()).strip()
        lines.append(f"{i}. **`{n}`** — {first}")
    return "\n".join(lines)


def refresh_counts(txt: str) -> str:
    """Patch the README's oracle tally from the latest committed
    correctness artifact — the same no-drift principle as the stage
    block. The README states no test count, so nothing here can drift
    with the suite."""
    import glob
    import json

    # numeric round sort — lexicographic puts r10 before r4 (r4 ADVICE)
    arts = sorted(
        glob.glob(str(REPO / "CORRECTNESS_LOCAL_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if arts:
        d = json.load(open(arts[-1]))
        total = len(d)
        green = sum(1 for v in d.values() if v.get("hash_match"))
        txt = re.sub(
            r"currently \d+/\d+ oracle matches; \d+ declared",
            f"currently {green}/{total} oracle matches; {total - green} declared",
            txt,
        )
    return txt


def update_readme(docs: str, readme: Path = REPO / "README.md", check: bool = False) -> int:
    txt = readme.read_text(encoding="utf-8")
    block = f"{MARK_A}\n{docs}\n{MARK_B}"
    txt_counts = refresh_counts(txt)
    if MARK_A in txt_counts:
        new = re.sub(
            re.escape(MARK_A) + r".*?" + re.escape(MARK_B),
            block,
            txt_counts,
            flags=re.DOTALL,
        )
    else:  # first run: insert a section before Quick start
        section = (
            "## Pipeline stages (generated)\n\n"
            "The fixed transform chain of `run_pipeline`, in execution order\n"
            "(regenerate with `python tools/update_readme.py`):\n\n"
            f"{block}\n\n"
        )
        new = txt_counts.replace("## Quick start", section + "## Quick start", 1)
    if new != txt:
        if check:
            return 1
        readme.write_text(new, encoding="utf-8")
    return 0


if __name__ == "__main__":
    rc = update_readme(stage_docs(find_stage_fns()), check="--check" in sys.argv)
    if rc:
        sys.stderr.write("README stage docs are stale — run tools/update_readme.py\n")
    sys.exit(rc)
