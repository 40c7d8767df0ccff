"""Artifact-drift guards: the checked-in audit artifacts must be
machine-derived from the CURRENT registry, not hand-counted or stale,
and the registry itself must keep one oracle per query.
"""

import os
import re

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_size():
    import __spark_entry__ as entrymod

    return len(entrymod.queries())


def test_planaudit_covers_current_registry():
    """PLANAUDIT.md's header count and table rows must equal
    len(queries()) exactly, and it must report zero violations —
    regenerate with tools/plan_audit.py after ANY registry change."""
    with open(os.path.join(HERE, "PLANAUDIT.md")) as f:
        text = f.read()
    m = re.search(r"Queries audited: (\d+); violations: (\d+)", text)
    assert m, "PLANAUDIT.md header missing the machine-derived count"
    n = _registry_size()
    assert int(m.group(1)) == n, (
        f"PLANAUDIT.md audited {m.group(1)} queries but the registry has "
        f"{n} — rerun tools/plan_audit.py --out PLANAUDIT.md"
    )
    assert int(m.group(2)) == 0
    body_rows = re.findall(r"^\| (?!query)(\S+) \|", text, re.M)
    assert len(body_rows) == n, (len(body_rows), n)


def test_driver_artifacts_are_tracked():
    """Every BENCH_r*.json / CORRECTNESS_r*.json artifact present on
    disk must be git-tracked: a result file nobody committed is a
    number nobody can reproduce."""
    import glob
    import subprocess

    tracked = set(
        subprocess.run(
            ["git", "ls-files"], cwd=HERE, capture_output=True, text=True
        ).stdout.split()
    )
    on_disk = [
        os.path.basename(p)
        for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json")
        for p in glob.glob(os.path.join(HERE, pat))
    ]
    assert on_disk, "driver artifacts missing entirely"
    untracked = sorted(set(on_disk) - tracked)
    assert untracked == [], (
        f"driver artifacts on disk but not committed: {untracked} — "
        "git add them"
    )


def test_every_query_has_oracle_and_window_is_registered():
    """oracle_sql() lists exactly queries()' keys in queries()' order,
    every window name must be a real query listed first in window
    order, and each query must be registered under its function name
    (registering a name twice raises)."""
    import pytest

    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.registry.common import QUERIES, query

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) == 234
    assert list(o) == list(q)
    assert all(isinstance(sql, str) and sql for sql in o.values())
    window = [w for w in dir(entrymod) if re.fullmatch(r"_R\d+_WINDOW", w)]
    assert len(window) == 1, window  # exactly one live rotation list
    names = getattr(entrymod, window[0])
    assert len(names) == len(set(names))
    missing = [w for w in names if w not in q]
    assert missing == [], missing
    assert list(q)[: len(names)] == names
    misnamed = [n for n, fn in q.items() if fn.__name__ != "_" + n]
    assert misnamed == [], misnamed

    def _q1_pricing_summary(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q1_pricing_summary"):
        query(oracle="SELECT 1")(_q1_pricing_summary)
    assert QUERIES["q1_pricing_summary"] is q["q1_pricing_summary"]


def test_query_without_an_oracle_is_rejected():
    """``oracle`` is keyword-only and required: a bare ``@query`` passes
    the function positionally and raises before anything registers."""
    import pytest

    from task_on_dataframes_spark.registry.common import ORACLES, QUERIES, query

    def _q_without_oracle(spark, sf_dir):
        return None

    with pytest.raises(TypeError):
        query(_q_without_oracle)
    assert "q_without_oracle" not in QUERIES
    assert "q_without_oracle" not in ORACLES


def test_file_listing_oracles_read_sf_dir_at_call_time(monkeypatch, tmp_path):
    """The glob/whole-file oracles list the directory SF_DIR names when
    oracle_sql() is called, not when the registry was imported (the
    benchmark build sets SF_DIR after importing the package)."""
    import __spark_entry__ as entrymod

    monkeypatch.setenv("SF_DIR", str(tmp_path))
    o = entrymod.oracle_sql()
    assert str(tmp_path) in o["s1_glob_source"]
    assert str(tmp_path) in o["s2_whole_file_read"]


def _package_sources():
    """``{path: text}`` for every module of the package."""
    pkg = os.path.join(HERE, "task_on_dataframes_spark")
    return {
        os.path.join(d, f): open(os.path.join(d, f)).read()
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    }


def test_every_public_definition_is_reachable():
    """Every public top-level function or class of the package is
    referenced in code (a name, an attribute or an import — package
    ``__init__`` re-exports included) somewhere in the package or
    ``__spark_entry__.py`` outside its own definition. Docstring and
    comment mentions do not count. A definition no code references is
    dead code: delete it."""
    import ast

    sources = _package_sources()
    with open(os.path.join(HERE, "__spark_entry__.py")) as f:
        trees = {"__spark_entry__.py": ast.parse(f.read())}
    trees.update({p: ast.parse(t) for p, t in sources.items()})
    refs: dict = {}  # name -> [(path, lineno), ...]
    for path, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append((path, n.lineno))
    allowed = {
        # the reference tests check star-contraction components against
        # (tests/test_skew_introspect.py)
        "connected_components_hashmin",
        # the reference tests check the persisted LSH index probe against
        "incremental_lsh_matches",
    }
    dead = []
    for path in sources:
        for node in trees[path].body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            used = any(
                not (p == path and first <= line <= node.end_lineno)
                for p, line in refs.get(node.name, [])
            )
            if not used and node.name not in allowed:
                dead.append(f"{os.path.relpath(path, HERE)}:{node.name}")
    assert dead == [], dead


def test_no_global_in_operators_and_no_same_semantics():
    """Persisted intermediates go through ``operators/persist.hold``
    (Spark's own plan-keyed cache lookup, one slot list per session):
    no operator rebinds a module global, and nothing in the package
    compares plans by hand with ``sameSemantics``."""
    import ast

    sources = _package_sources()
    ops = os.path.join(HERE, "task_on_dataframes_spark", "operators")
    rebinds = [
        f"{os.path.relpath(p, HERE)}:{n.lineno}"
        for p, t in sources.items()
        if p.startswith(ops + os.sep)
        for n in ast.walk(ast.parse(t))
        if isinstance(n, ast.Global)
    ]
    assert rebinds == [], rebinds
    same = [
        os.path.relpath(p, HERE)
        for p, t in sources.items()
        if "sameSemantics" in t
    ]
    assert same == [], same


def test_parquet_reads_go_through_the_source_catalog():
    """Every parquet read of the package resolves through
    ``sources/catalog.py`` (stamped schema memo, fresh relation per
    read): no ``<reader>.parquet(...)`` call on a chain that starts at
    ``.read`` — ``spark.read.parquet``, ``spark.read.option(...)
    .parquet``, ``spark.read.schema(...).parquet`` — appears anywhere
    else."""
    import ast

    def chain(node):
        """Attribute names along a call chain, outermost first."""
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    home = os.path.join(HERE, "task_on_dataframes_spark", "sources", "catalog.py")
    reads = [
        f"{os.path.relpath(p, HERE)}:{n.lineno}"
        for p, t in _package_sources().items()
        if p != home
        for n in ast.walk(ast.parse(t))
        if isinstance(n, ast.Call)
        and chain(n.func)[:1] == ["parquet"]
        and "read" in chain(n.func)
    ]
    assert reads == [], reads


def test_spark_schema_footers_are_decoded_only_by_the_catalog():
    """Only ``sources/catalog.py`` names the footer key under which
    Spark writes a parquet file's schema, so deciding a stored parquet's
    schema from its footers stays behind one module."""
    home = os.path.join(HERE, "task_on_dataframes_spark", "sources", "catalog.py")
    named = [
        os.path.relpath(p, HERE)
        for p, t in _package_sources().items()
        if p != home and "org.apache.spark.sql.parquet.row.metadata" in t
    ]
    assert named == [], named
