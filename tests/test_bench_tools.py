"""Unit pins for the measurement tooling (tools/bench_diff.py,
tools/changed_queries.py) and the repo's own citations — the round-12
verdict showed the verification layer itself can harbor false-greens
(check_parity's typo'd-name "ALL OK"), so the host-drift normalization
added in round 13 gets the same treatment: pure-python tests that fail
on a broken normalizer, no Spark session needed.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench_diff  # noqa: E402


def test_host_factor_median_and_floor():
    """Median over control ratios; noise-floored pairs excluded;
    fewer than 5 usable -> forced 1.0 (refusal, not a tiny median)."""
    old = {f"q{i}": 1.0 for i in range(7)}
    new = {f"q{i}": r for i, r in enumerate([1.1, 1.2, 1.2, 1.2, 1.3, 9.9, 0.1])}
    ctl = [f"q{i}" for i in range(5)]
    f, n = bench_diff.host_factor(old, new, ctl, min_sec=0.3)
    assert n == 5 and f == 1.2
    # Below 5 usable: forced to 1.0 even though a median exists.
    f, n = bench_diff.host_factor(old, new, ctl[:4], min_sec=0.3)
    assert (f, n) == (1.0, 4)
    # Noise floor: BOTH sides must clear it (r14 advisor) — a
    # sub-floor denominator (0.1 -> 0.3 = 3.0x pure jitter) must NOT
    # feed the normalizer, so "a" (both sub-floor) AND "b" (old
    # sub-floor, new at floor) are both excluded -> 5 used.
    old2 = {"a": 0.1, "b": 0.1, **{f"c{i}": 1.0 for i in range(5)}}
    new2 = {"a": 0.2, "b": 0.3, **{f"c{i}": 2.0 for i in range(5)}}
    f, n = bench_diff.host_factor(old2, new2, list(old2), min_sec=0.3)
    assert n == 5 and f == pytest.approx(2.0)


def test_diff_normalizes_by_host_factor():
    """A uniform 2x host epoch with one genuine 4x regression: raw
    diff flags everything, normalized diff flags exactly the one."""
    old = {f"q{i}": 1.0 for i in range(10)}
    new = {f"q{i}": 2.0 for i in range(10)}
    new["q9"] = 4.0
    raw = bench_diff.diff(old, new, threshold=1.5, min_sec=0.3)
    assert len(raw["regressed"]) == 10
    norm = bench_diff.diff(old, new, threshold=1.5, min_sec=0.3, host=2.0)
    assert [r["query"] for r in norm["regressed"]] == ["q9"]
    assert norm["regressed"][0]["ratio"] == 2.0  # 4x raw / 2x host
    assert norm["host_factor"] == 2.0
    # Normalization also re-bases "improved": a query that merely
    # tracked the host epoch is NOT an improvement.
    assert not norm["improved"]


def test_control_refs_end_to_end_synthetic(tmp_path):
    """``--control-refs`` end to end on two synthetic BENCH_FULL-shaped
    sweeps over the registered query names: every query 1.2x slower
    (host drift) and one query outside the control set a further 3x
    slower (a real regression). The tool must derive the 1.2 host factor
    from the control set and flag exactly the planted query."""
    import re

    from openweathermapapi_etl_spark.plans import QUERIES

    # On a shallow clone / rewritten history the pinned commits may
    # not exist; control_set's check=True git diff would then raise.
    for ref in ("f7d7bf2", "2dae0ea"):
        ok = subprocess.run(
            ["git", "cat-file", "-e", ref], cwd=REPO, capture_output=True
        )
        if ok.returncode != 0:
            pytest.skip(f"pinned commit {ref} absent (shallow clone?)")
    # plans/curation.py changed in f7d7bf2..2dae0ea, so none of its
    # queries can be control.
    planted = next(
        n for n, fn in QUERIES.items() if fn.__module__.endswith(".curation")
    )
    old = {n: 0.5 + (i % 10) * 0.1 for i, n in enumerate(QUERIES)}
    new = {n: s * 1.2 for n, s in old.items()}
    new[planted] *= 3.0
    paths = []
    for tag, qs in (("old", old), ("new", new)):
        path = tmp_path / f"BENCH_FULL_{tag}.json"
        path.write_text(json.dumps({
            "metric": "full_book_runtime", "method": "synthetic",
            "queries": {n: round(v, 3) for n, v in qs.items()},
        }))
        paths.append(str(path))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_diff.py"),
         *paths, "--control-refs", "f7d7bf2", "2dae0ea", "--json"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert out.returncode == 1, out.stderr[-1500:]
    d = json.loads(out.stdout)
    assert d["host_factor"] == pytest.approx(1.2, abs=1e-3)
    assert [r["query"] for r in d["regressed"]] == [planted]
    assert d["regressed"][0]["ratio"] == pytest.approx(3.0, abs=0.01)
    assert not d["improved"] and not d["missing"]
    # The hub rule keeps the control set non-degenerate: the range
    # edits plans/registry.py, whose closure reaches every query, so
    # without the rule no query would be control.
    assert "ignoring hub module(s)" in out.stderr and "'registry'" in out.stderr
    n_ctl = int(re.search(r"control set: (\d+) untouched", out.stderr)[1])
    assert len(QUERIES) // 4 <= n_ctl < len(QUERIES), n_ctl


def test_affected_modules_follows_reverse_imports():
    """tools/changed_queries.py's closure on the package's real import
    graph: a change to operators/merge.py marks its importers, and a
    module outside that closure stays unmarked."""
    import changed_queries as cq

    known = cq.package_modules()
    pkg = cq.PKG
    merge = f"{pkg}.operators.merge"
    cause = cq.affected_modules({merge}, known)
    assert cause[merge] == merge
    for mod in ("plans.merge_q", "streaming.source"):
        assert cause[f"{pkg}.{mod}"] == merge, mod
    # Transitive: plans/weather_q.py reaches merge.py only through
    # pipeline/weather.py.
    weather_q = f"{pkg}.plans.weather_q"
    assert merge not in cq.imports_of(known[weather_q], weather_q, set(known))
    assert cause[weather_q] == merge
    # operators/setsim.py imports only rank and text, neither of which
    # reaches merge.py.
    setsim = f"{pkg}.operators.setsim"
    deps = cq.imports_of(known[setsim], setsim, set(known))
    assert deps == {f"{pkg}.operators.rank", f"{pkg}.operators.text"}
    assert not deps & set(cause)
    assert setsim not in cause


def test_package_reads_only_known_env_vars():
    """The package reads exactly four environment variables: the core
    count, driver memory, the fixture directory and the API key, all
    deployment settings. A new read (a new option) must be added here on
    purpose. Found by AST over ``os.environ.get(...)``,
    ``os.environ[...]`` and ``os.getenv(...)``; a non-literal name
    shows up as its source text and fails the comparison."""
    import ast

    names = set()
    pkg = os.path.join(REPO, "openweathermapapi_etl_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fn)) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and ast.unparse(node.func) in (
                    "os.environ.get",
                    "os.getenv",
                ):
                    arg = node.args[0]
                elif isinstance(node, ast.Subscript) and (
                    ast.unparse(node.value) == "os.environ"
                ):
                    arg = node.slice
                else:
                    continue
                names.add(arg.value if isinstance(arg, ast.Constant) else ast.unparse(arg))
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_DRIVER_MEM",
        "SPARK_GRAFT_SF_DIR",
        "OPENWEATHERMAP_API_KEY",
    }


def test_merge_replaces_control_files_in_one_function():
    """``operators/merge.py`` swings every JSON control file (version,
    branch and transaction pointers) through one atomic-JSON helper, so
    ``os.replace`` is called in exactly one function. A second
    tmp-file + ``os.replace`` copy fails here."""
    import ast

    path = os.path.join(REPO, "openweathermapapi_etl_spark", "operators", "merge.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())

    def replaces(node):
        return [
            n
            for n in ast.walk(node)
            if isinstance(n, ast.Call) and ast.unparse(n.func) == "os.replace"
        ]

    callers = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and replaces(fn)
    ]
    assert callers == ["_write_json"] and len(replaces(tree)) == 1


# Root-level docs that describe the current tree; the other root docs are
# history and reference notes that name deleted files on purpose.
_CURRENT_DOCS = {
    "README.md", "SCALE.md", "BASELINE.md", "FIXTURES.md", "TESTDATA.md",
    "PLANS.md", "PLANS_FULL.md",
}
_CITATIONS = re.compile(
    r"\btools/\w+\.py"
    r"|\bplans/r\d+[a-z0-9_]*"
    r"|\b[A-Z][A-Z_]*_r\d+[a-z0-9_]*\.(?:json|md|txt)\b"
)


def test_cited_tools_dumps_and_round_artifacts_exist():
    """Every ``tools/*.py``, root ``plans/r<N>`` dump dir and round
    artifact (``NAME_r<N>.json|md|txt``) that a ``.py`` or ``.md`` file
    names must exist, so a deleted file cannot stay cited. Of the root
    docs only the current-state ones are scanned. Walks the
    tree without git, skipping hidden and build directories."""
    skip_dirs = {"__pycache__", "spark-warehouse", "metastore_db", ".work"}
    missing = set()
    for dirpath, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d not in skip_dirs]
        for fn in files:
            if not fn.endswith((".py", ".md")):
                continue
            if dirpath == REPO and fn.endswith(".md") and fn not in _CURRENT_DOCS:
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for m in _CITATIONS.finditer(text):
                if not os.path.exists(os.path.join(REPO, m.group(0))):
                    missing.add(f"{os.path.relpath(path, REPO)}: {m.group(0)}")
    assert not missing, "\n".join(sorted(missing))
