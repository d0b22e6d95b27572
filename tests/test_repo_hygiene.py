"""Repo hygiene: no stray artifacts in the tracked tree, and no batch
read of a snapshot table through the Python data source in the catalog.

Round 12 accidentally committed a shell-redirect file whose name contained
double quotes (impossible to check out on Windows). This guard pins the
tracked top level to an explicit allowlist so a botched redirect can't
silently land again.
"""

from __future__ import annotations

import ast
import re
import subprocess
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

# Top-level entries that may legitimately be tracked. Driver artifacts are
# matched by pattern; everything else is an exact name.
ALLOWED_EXACT = {
    ".claude",
    ".gitignore",
    "ADVICE.md",
    "BASELINE.json",
    "BASELINE.md",
    "BENCHMARK.json",  # the benchmark's declaration (perfbench/)
    "CHANGES.md",
    "COPYCHECK.json",
    "COVERAGE.md",
    "FIXTURES.md",
    "LEAKCHECK.json",
    "PAPER.md",
    "PAPERS.md",
    "PROGRESS.jsonl",
    "README.md",
    "REVIEW.md",
    "ROADMAP.md",
    "SCALING.md",
    "SNIPPETS.md",
    "SURVEY.md",
    "TESTDATA.md",
    "VERDICT.md",
    "__spark_entry__.py",
    "bench.py",
    "bench_last.json",  # full per-run artifact bench.py drops beside itself
    "energy_datalake_solution_spark",
    "perfbench",  # the lake benchmark (BENCHMARK.json)
    "plans",  # committed explain('formatted') evidence (plans/r<N>/)
    "tests",
}
ALLOWED_PATTERNS = (
    # bench runs; _c<N> marks a run at N cores
    re.compile(r"^BENCH_r\d+(_c\d+)?\.json$"),
    re.compile(r"^CORRECTNESS_r\d+\.json$"),
    re.compile(r"^PERF_r\d+\.json$"),
    re.compile(r"^VERIFY_r\d+\.json$"),
    # upper-case Markdown documents at the root (plans, notes, reviews)
    re.compile(r"^[A-Z]+\.md$"),
    # optimization-round deliverable (one per optimization round)
    re.compile(r"^OPTIMIZATION_r\d+\.md$"),
)

# Characters illegal in Windows filenames (subset of the full set that
# could plausibly appear via a botched shell redirect).
WINDOWS_ILLEGAL = re.compile(r'["<>|?*]')


def _tracked_top_level() -> list[str]:
    out = subprocess.run(
        ["git", "ls-files", "-z"],
        cwd=REPO_ROOT,
        capture_output=True,
        check=True,
    ).stdout.decode()
    return sorted({p.split("/", 1)[0] for p in out.split("\0") if p})


def test_tracked_top_level_is_allowlisted():
    unexpected = [
        name
        for name in _tracked_top_level()
        if name not in ALLOWED_EXACT
        and not any(pat.match(name) for pat in ALLOWED_PATTERNS)
    ]
    assert unexpected == [], f"unexpected tracked top-level entries: {unexpected}"


def test_no_windows_illegal_filenames_tracked():
    out = subprocess.run(
        ["git", "ls-files", "-z"],
        cwd=REPO_ROOT,
        capture_output=True,
        check=True,
    ).stdout.decode()
    bad = [p for p in out.split("\0") if p and WINDOWS_ILLEGAL.search(p)]
    assert bad == [], f"tracked paths illegal on Windows: {bad}"


def test_catalog_reads_snapshot_tables_natively():
    """SnapshotCatalog plans every batch view with ``snapshot_read``
    (Spark's native parquet reader, planned on the driver). The Python
    ``snapshot`` source is only its stream reader: a batch
    ``read.format("snapshot")`` would start Python workers per view."""
    src = (
        REPO_ROOT / "energy_datalake_solution_spark" / "sources"
        / "snapshot_catalog.py"
    ).read_text()
    readers = [
        node.func.value.attr
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and isinstance(node.func.value, ast.Attribute)
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "snapshot"
    ]
    assert readers == ["readStream"]


def test_one_merge_on_read_cap():
    """The merge-on-read / copy-on-write choice of MERGE, UPDATE and
    DELETE is made at one site: ``snapshots.py`` compares against
    ``DV_MAX_DELETED_ROWS`` exactly once, and no public ``snapshot_*``
    function takes a cap of its own."""
    import inspect

    from energy_datalake_solution_spark.sources import snapshots as S

    src = Path(S.__file__).read_text()
    compares = [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Compare)
        and any(
            isinstance(x, ast.Name) and x.id == "DV_MAX_DELETED_ROWS"
            for x in [node.left, *node.comparators]
        )
    ]
    assert len(compares) == 1, compares
    capped = [
        name
        for name, fn in inspect.getmembers(S, inspect.isfunction)
        if name.startswith("snapshot_") and fn.__module__ == S.__name__
        and {"max_deleted_rows", "max_updated_rows"}
        & set(inspect.signature(fn).parameters)
    ]
    assert capped == []
