"""Registry hygiene: the driver contract surface is well-formed."""

from __future__ import annotations

from integrator_spark.registry import all_specs


def test_every_oracle_key_has_a_query():
    specs = all_specs()
    assert len(specs) >= 80
    for name, spec in specs.items():
        assert spec.fn is not None
        assert spec.doc, f"{name} has no docstring"
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


def test_every_registered_query_analyzes(spark):
    """Fast zero-execution gate: BUILD every registered query at sf0.001
    and force Catalyst analysis via .schema. Catches NameError /
    missing-import / AnalysisException registration bugs in seconds —
    both round-3 driver failures (dedup_paragraph NameError, the
    unix_micros-on-NTZ analysis error) would have died here. This is
    the pre-snapshot gate: it must stay cheap enough to run before
    EVERY commit that touches a registration.

    Streaming queries are excluded: building them requires starting a
    run (they materialize through a memory sink), which is execution,
    not analysis — tests/test_streaming.py and the oracle gate cover
    them."""
    from integrator_spark.registry import get_queries

    from .conftest import TEST_SF_DIR

    failures = {}
    for name, fn in sorted(get_queries().items()):
        if name.startswith("stream_"):
            continue
        try:
            df = fn(spark, TEST_SF_DIR)
            assert df.schema.fields, f"{name}: empty schema"
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures[name] = f"{type(e).__name__}: {str(e)[:160]}"
    assert not failures, f"{len(failures)} queries fail analysis: {failures}"


def test_entry_module_exports_match_registry():
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as ent
    specs = all_specs()
    assert set(ent.queries()) == set(specs)
    assert set(ent.oracle_sql()) == {n for n, s in specs.items()
                                     if s.oracle is not None}


def test_documented_totals_match_registry():
    """COVERAGE.md's totals line is regenerated by
    scripts/gen_query_catalog.py from the live registry; this pins the
    two so documentation can never drift from `__spark_entry__` again
    (round-8 verdict item 5)."""
    import os
    import re

    import __spark_entry__ as ent

    n_total, n_oracle = len(ent.queries()), len(ent.oracle_sql())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as fh:
        m = re.search(r"Totals: \*\*(\d+) queries, (\d+) oracle-backed\*\*",
                      fh.read())
    assert m, "COVERAGE.md totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"COVERAGE.md says {m.group(1)}/{m.group(2)}, registry has "
        f"{n_total}/{n_oracle} — rerun scripts/gen_query_catalog.py")
    with open(os.path.join(repo, "QUERIES.md")) as fh:
        n_rows = sum(1 for line in fh if line.startswith("| `"))
    assert n_rows == n_total, (
        f"QUERIES.md has {n_rows} rows, registry has {n_total}")


def test_cited_scripts_exist():
    """Every ``scripts/<name>.py`` that the package, the tests,
    bench.py or README.md mentions must exist, so deleting a script
    cannot leave a dangling citation behind."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(repo, "bench.py"), os.path.join(repo, "README.md")]
    for top in ("integrator_spark", "tests"):
        for root, _dirs, files in os.walk(os.path.join(repo, top)):
            paths += [os.path.join(root, f) for f in files
                      if f.endswith((".py", ".md"))]
    cited: dict[str, set[str]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for name in re.findall(r"scripts/(\w+)\.py", fh.read()):
                cited.setdefault(name, set()).add(os.path.relpath(path, repo))
    assert cited, "no script citations found — the scan is broken"
    missing = {name: sorted(where) for name, where in cited.items()
               if not os.path.isfile(os.path.join(repo, "scripts",
                                                  f"{name}.py"))}
    assert not missing, f"cited scripts that do not exist: {missing}"


def test_count_code_lines_skips_docstrings_comments_and_blanks(tmp_path):
    """scripts/count_code_lines.py counts code only: docstrings,
    comments and blank lines do not count; a multi-line string that
    is not a docstring does."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "count_code_lines", os.path.join(repo, "scripts",
                                         "count_code_lines.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    src = tmp_path / "sample.py"
    src.write_text(
        '"""Module docstring,\n'
        'two lines."""\n'
        "\n"
        "# a comment\n"
        "import os  # trailing comment\n"
        "\n"
        "\n"
        "def f(x):\n"
        '    """Function docstring."""\n'
        "    sql = \"\"\"SELECT 1\n"
        "FROM t\"\"\"\n"
        "    return x + 1\n")
    assert mod.count_code_lines(src.read_text()) == 5
    assert mod.main([str(src)]) == 0
