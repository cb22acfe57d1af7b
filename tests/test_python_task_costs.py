"""Per-task Python costs stay off the parse path.

- every constant table is a JVM LocalRelation, so broadcasting it starts no
  Python task, and the parse kernel is the only Python node of a pipeline;
- contradictory ``parse_facts`` arguments raise;
- on Python < 3.12, ``importlib.invalidate_caches()`` no longer re-reads a
  zip archive's directory once per importer (``cca_spark.lazy_zipimport``).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHON_NODE = re.compile(r"\b(MapInArrow|MapInPandas|\w*EvalPython|\w*InPandas\w*)\b")


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _leaf_classes(df) -> list[str]:
    leaves = _optimized(df).collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_constant_tables_are_local_relations(spark, tmp_path):
    from cca_spark.ontology import category_edges_df, role_ontology_df, tool_ontology_df
    from cca_spark.operators.textstats import BM25_QUERY_TERMS, bm25_query_terms_df
    from cca_spark.plans.manifest import MANIFEST_SCHEMA, read_manifest
    from cca_spark.rules import RULES, rules_df

    tables = {
        "tool_ontology": tool_ontology_df(spark),
        "role_ontology": role_ontology_df(spark),
        "category_edges": category_edges_df(spark),
        "rules": rules_df(spark),
        "bm25_query_terms": bm25_query_terms_df(spark),
        "empty_manifest": read_manifest(spark, str(tmp_path / "no_run_yet")),
    }
    for name, df in tables.items():
        plan = _optimized(df)
        assert plan.getClass().getSimpleName() == "LocalRelation", f"{name}:\n{plan}"
    assert tables["empty_manifest"].schema.simpleString() == (
        spark.createDataFrame([], MANIFEST_SCHEMA).schema.simpleString()
    )
    assert tables["empty_manifest"].count() == 0
    assert sorted(r["token"] for r in tables["bm25_query_terms"].collect()) == sorted(
        BM25_QUERY_TERMS
    )
    got = {tuple(r) for r in tables["rules"].collect()}
    assert got == {(r.rule_id, r.sink, r.significance, r.tool_scope) for r in RULES}


@pytest.mark.parametrize("shape", ["fused_pipeline_agg", "enrich_facts"])
def test_parse_kernel_is_the_only_python_node(spark, sf_dir, shape):
    """No RDD leaf (a createDataFrame table) under the pipeline: its leaves
    are the parquet scan and LocalRelations, and its one Python node is the
    parse kernel."""
    from cca_spark.operators.enrich import enrich_facts
    from cca_spark.operators.parse import parse_facts
    from cca_spark.plans.pipeline import fused_pipeline_agg
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    if shape == "fused_pipeline_agg":
        df = fused_pipeline_agg(spark, t)
    else:
        df = enrich_facts(spark, parse_facts(t))
    leaves = _leaf_classes(df)
    assert "LocalRelation" in leaves
    assert set(leaves) <= {"LogicalRelation", "LocalRelation"}, leaves
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in executed
    python_nodes = PYTHON_NODE.findall(_optimized(df).toString())
    assert len(python_nodes) == 1, python_nodes


def test_parse_facts_rejects_slim_without_value(spark, sf_dir):
    from cca_spark.operators.parse import parse_facts
    from cca_spark.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    for strategy in ("pandas", "sql"):
        with pytest.raises(ValueError, match="slim"):
            parse_facts(t, strategy=strategy, slim=True, with_value=False)


# Run in a fresh interpreter: the importers under test must be created
# after the install, and the counting wrapper must not outlive the check.
ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, os, pkgutil, sys, tempfile, zipfile, zipimport

    import cca_spark  # installs the lazy invalidation

    archive = os.path.join(tempfile.mkdtemp(), "pkgs.zip")

    def build(*extra):
        with zipfile.ZipFile(archive + ".tmp", "w") as zf:
            zf.writestr("outer/__init__.py", "")
            zf.writestr("outer/inner/__init__.py", "")
            zf.writestr("outer/inner/mod_a.py", "A = 1\\n")
            for name in extra:
                zf.writestr(f"outer/inner/{name}.py", f"VALUE = {name!r}\\n")
        os.replace(archive + ".tmp", archive)

    build()
    sys.path.insert(0, archive)
    import outer.inner.mod_a

    importers = [
        k for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and k.startswith(archive)
    ]
    assert len(importers) == 3, importers  # the archive, outer/, outer/inner/

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    assert reads.count(archive) == 0, reads
    # lookups through all three importers: each misses
    for name in ("missing_top", "outer.missing", "outer.inner.missing"):
        try:
            importlib.import_module(name)
        except ModuleNotFoundError:
            pass
        else:
            raise AssertionError(name)
    assert reads.count(archive) == 1, reads

    build("mod_new")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    # code that indexes the directory cache directly sees the new archive
    inner = sys.path_importer_cache[os.path.join(archive, "outer", "inner")]
    assert {name for name, _ in pkgutil.iter_importer_modules(inner)} == {"mod_a", "mod_new"}
    assert reads.count(archive) == 2, reads
    from outer.inner import mod_new
    assert mod_new.VALUE == "mod_new"
    assert outer.inner.mod_a.A == 1
    assert reads.count(archive) == 2, reads
    print("ok")
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 invalidates zip-import caches lazily"
)
def test_zip_import_invalidation_is_lazy():
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", ZIP_SCRIPT], env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr
