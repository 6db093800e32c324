"""The package surface the KG job and the driver files rely on.

- A Python worker that runs the fused kernel imports only the KG job's
  modules (the package ``__init__``s load nothing eagerly).
- Every ``spacy_llm_spark`` import in the driver files resolves, including
  function-level imports inside queries nobody calls in tier-1, and every
  ``oracle_sql()`` key names a ``queries()`` entry.
- Every module under ``spacy_llm_spark/`` is reached by imports from the
  KG job (``pipeline``) or a driver file; a module only tests import is
  not part of the product.
- Every top-level function, class and UPPER_CASE constant of the package
  is referenced from the package or a driver file, except the few on
  ``TEST_ONLY_DEFS``.
- Each of the first 50 ``queries()`` entries, the ones the driver's
  correctness harness stamps, has a DuckDB oracle, and
  ``scripts/check_oracles.py`` passes from any working directory.
- Every top-level def of ``__spark_entry__.py`` is used in it, and every
  ``q_*`` query is listed in ``queries()``.
- Every package module, module-level def, script and test that README.md
  or COVERAGE.md cites exists.

The checks are static or run in a fresh interpreter; only the
``check_oracles.py`` run starts Spark, in its own process.
"""

import ast
import fnmatch
import glob
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spacy_llm_spark"

# the KG job: read_corpus_table -> run_pipeline -> five sinks
KG_JOB_MODULES = {
    PKG,
    f"{PKG}.corpus",
    f"{PKG}.fs",
    f"{PKG}.functions",
    f"{PKG}.functions.normalizers",
    f"{PKG}.functions.response_parsers",
    f"{PKG}.kb",
    f"{PKG}.model",
    f"{PKG}.operators",
    f"{PKG}.operators.canonicalize",
    f"{PKG}.operators.checkpoint",
    f"{PKG}.operators.el",
    f"{PKG}.operators.fused",
    f"{PKG}.operators.materialize",
    f"{PKG}.operators.ner",
    f"{PKG}.operators.rel",
    f"{PKG}.operators.sharding",
    f"{PKG}.pipeline",
    f"{PKG}.plans",
    f"{PKG}.plans.validate",
    f"{PKG}.session",
    f"{PKG}.sources",
    f"{PKG}.sources.readers",
    f"{PKG}.sources.sinks",
    f"{PKG}.templates",
    f"{PKG}.tokenizer",
}

# Package defs that only tests reach, each with why it stays. The list
# only shrinks: a def that loses its last caller is deleted, not added.
TEST_ONLY_DEFS = {
    f"{PKG}.model.with_retry":
        "retry policy for a remote model backend; the bundled models never fail",
    f"{PKG}.tokenizer.align_char_span":
        "spaCy char_span alignment modes, pinned against the reference",
    f"{PKG}.fs.lineage_is_reliable":
        "tells a caller whether cut_lineage survives executor loss",
    f"{PKG}.kb.load_kb_yaml":
        "reads the reference's KB YAML layout; tests build their KB with it",
    f"{PKG}.kb.load_descs_csv":
        "reads the reference's entity-description CSV layout",
    f"{PKG}.templates.render_rel_v1_reference":
        "reference implementation the vectorized REL renderer is compared to",
    f"{PKG}.templates.render_el_v1_reference":
        "reference implementation the vectorized EL renderer is compared to",
    f"{PKG}.templates.render_spancat_v1_reference":
        "reference implementation of spancat.v1, compared to the jinja render",
    f"{PKG}.templates.render_spancat_v2_reference":
        "reference implementation of spancat.v2, compared to the jinja render",
    f"{PKG}.templates.render_spancat_v3_reference":
        "reference implementation of spancat.v3, compared to the jinja render",
    f"{PKG}.plans.validate.require_ents_schema":
        "input check for a caller that supplies its own ents column",
    f"{PKG}.operators.dedup.semantic_dedup":
        "row-keeping form of semantic_dup_pairs, pinned by a test",
    f"{PKG}.operators.materialize.merge_annotations":
        "keeps prior annotations on reprocessing, as the reference does",
    f"{PKG}.operators.el.unhighlight":
        "inverse of the EL mention highlighting, for round-trip checks",
    f"{PKG}.operators.scoring.score_mentions":
        "mention-level NER P/R/F, pinned against hand cases",
    f"{PKG}.operators.similarity.dequantize_expr":
        "inverse of the int8 quantization; tests bound its error with it",
    f"{PKG}.functions.response_parsers.parse_ner_v3":
        "row-level NER v3 parser the batch parser is compared to",
    f"{PKG}.sources.readers.fewshot_reader":
        "loads few-shot examples for KGConfig (see its comment)",
    f"{PKG}.sources.sinks.read_table":
        "reads back a table that write_table committed",
    f"{PKG}.functions.rdf.parse_ntriples":
        "inverse of to_ntriples; the serializer's round-trip tests use it",
    f"{PKG}.functions.rdf.parse_turtle":
        "inverse of flat to_turtle; the serializer's round-trip tests use it",
    f"{PKG}.functions.rdf.turtle_header":
        "the @prefix line a to_turtle document starts with",
    f"{PKG}.operators.dedup.exact_dedup":
        "min-id representative per exact text hash, pinned by a test",
    f"{PKG}.operators.dedup.jaccard_vs_probe":
        "token-set Jaccard against one probe text, pinned by a test",
    f"{PKG}.operators.similarity.ivf_index_drift":
        "recall of a stale IVF index against brute force, pinned by tests",
    f"{PKG}.operators.similarity.train_ivf_centroids":
        "Lloyd refinement of IVF centroids; tests check it finds planted cells",
}

DRIVER_FILES = sorted(
    [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ]
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
)


def test_worker_import_closure_is_the_kg_job():
    code = (
        "import json, sys\n"
        f"import {PKG}.operators.fused, {PKG}.pipeline\n"
        f"print(json.dumps(sorted(m for m in sys.modules "
        f"if m == '{PKG}' or m.startswith('{PKG}.'))))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    loaded = set(json.loads(proc.stdout.strip().splitlines()[-1]))
    assert f"{PKG}.operators.fused" in loaded
    assert loaded <= KG_JOB_MODULES, sorted(loaded - KG_JOB_MODULES)
    for family in ("operators.graph", "operators.dedup", "operators.similarity"):
        assert f"{PKG}.{family}" not in loaded


def _module_file(module):
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def _top_level_names(path):
    """Names a module binds at import time (defs, assignments, imports),
    looking into top-level if/try blocks."""
    names = set()

    def visit(stmts):
        for s in stmts:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(s.name)
            elif isinstance(s, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = s.targets if isinstance(s, ast.Assign) else [s.target]
                for t in targets:
                    names.update(
                        n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                    )
            elif isinstance(s, (ast.Import, ast.ImportFrom)):
                names.update(
                    (a.asname or a.name).split(".")[0] for a in s.names
                )
            elif isinstance(s, ast.If):
                visit(s.body)
                visit(s.orelse)
            elif isinstance(s, ast.Try):
                visit(s.body)
                visit(s.orelse)
                visit(s.finalbody)
                for h in s.handlers:
                    visit(h.body)

    with open(path) as f:
        visit(ast.parse(f.read()).body)
    return names


def _package_imports(tree, package=None):
    """``(lineno, module, names, asname)`` for every ``spacy_llm_spark``
    import in a parsed file, function-level ones included: one entry per
    module of an ``import`` statement (``names`` None, ``asname`` its
    alias) and one per ``from`` statement (``names`` its ``ast.alias``
    list). Relative imports resolve against ``package``, the importing
    module's package; files outside the package pass None."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, None, a.asname
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                mod = ".".join(parts + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] == PKG:
                yield node.lineno, mod, node.names, None


def _dangling_imports(path):
    """Unresolvable ``spacy_llm_spark`` imports in one file, plus
    ``alias.attr`` uses of an imported package module whose attribute the
    module does not define."""
    with open(path) as f:
        tree = ast.parse(f.read())
    problems = []
    module_aliases = {}  # local name -> package modules it is bound to
    for lineno, mod, names, asname in _package_imports(tree):
        mod_file = _module_file(mod)
        if mod_file is None:
            problems.append(f"line {lineno}: no module {mod}")
            continue
        if names is None:
            if asname:
                module_aliases.setdefault(asname, set()).add(mod)
            continue
        defined = _top_level_names(mod_file)
        for a in names:
            sub = f"{mod}.{a.name}"
            if _module_file(sub) is not None:
                module_aliases.setdefault(a.asname or a.name, set()).add(sub)
            elif a.name not in defined:
                problems.append(f"line {lineno}: {mod} has no {a.name}")
    defined_by = {
        m: _top_level_names(_module_file(m))
        for mods in module_aliases.values()
        for m in mods
    }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in module_aliases
        ):
            mods = module_aliases[node.value.id]
            if not any(
                node.attr in defined_by[m] or _module_file(f"{m}.{node.attr}")
                for m in mods
            ):
                problems.append(
                    f"line {node.lineno}: {node.value.id}.{node.attr} "
                    f"not defined in {sorted(mods)}"
                )
    return problems


def _import_closure(paths, modules=()):
    """Package modules reached from the files ``paths`` and the package
    ``modules`` by imports at any depth, function bodies included. An
    imported module reaches its parent packages too, and ``from m import
    n`` reaches ``m.n`` when that is a submodule."""
    reached, todo = set(), [(p, None) for p in paths]

    def reach(mod):
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m not in reached:
                reached.add(m)
                todo.append((_module_file(m), m))

    for m in modules:
        reach(m)
    while todo:
        path, module = todo.pop()
        if module is None:
            package = None
        elif path.endswith("__init__.py"):
            package = module
        else:
            package = module.rpartition(".")[0]
        with open(path) as f:
            tree = ast.parse(f.read())
        for _, mod, names, _ in _package_imports(tree, package):
            if _module_file(mod) is None:
                continue
            reach(mod)
            for a in names or ():
                if _module_file(f"{mod}.{a.name}") is not None:
                    reach(f"{mod}.{a.name}")
    return reached


def _package_modules():
    root = os.path.join(REPO, PKG)
    out = set()
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out.add(".".join(rel))
    return out


@pytest.mark.parametrize(
    "path", DRIVER_FILES, ids=[os.path.relpath(p, REPO) for p in DRIVER_FILES]
)
def test_driver_file_has_no_dangling_package_imports(path):
    assert _dangling_imports(path) == []


def test_dangling_import_check_catches_a_missing_module(tmp_path):
    bad = tmp_path / "driver.py"
    bad.write_text(
        "from spacy_llm_spark.operators import canonicalize as canon\n"
        "def q(spark, sf):\n"
        "    from spacy_llm_spark.operators.gone import op\n"
        "    from spacy_llm_spark.kb import no_such_name\n"
        "    return canon.no_such_function(op)\n"
    )
    problems = _dangling_imports(str(bad))
    assert len(problems) == 3, problems


def test_every_oracle_names_a_query():
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) <= set(entry.queries())


def test_stamped_first_50_queries_have_oracles():
    """The driver stamps only the first 50 entries of ``queries()``; a
    stamped slot without a DuckDB oracle is a slot nothing checks."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    stamped = list(entry.queries())[:50]
    assert len(stamped) == 50
    assert [k for k in stamped if k not in entry.oracle_sql()] == []


def test_check_oracles_runs_outside_the_repo_root(tmp_path, sf_dir):
    """The Python workers of a query that runs a ``mapInPandas`` kernel
    import the package too, so the checker must hand them the repo root
    whatever directory it is started from."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no test data at {sf_dir}")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_oracles.py"),
         sf_dir, "kg_mentions"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert any(
        line.startswith("OK    kg_mentions") for line in proc.stdout.splitlines()
    ), proc.stdout[-2000:]


def test_every_package_module_is_reached_from_the_job_or_a_driver():
    """A module that only tests import is not part of the product: every
    module must be reached from the KG job (``pipeline``) or a driver
    file. Tests are not roots."""
    reached = _import_closure(DRIVER_FILES, [f"{PKG}.pipeline"])
    assert sorted(_package_modules() - reached) == []


def test_import_closure_follows_relative_and_function_level_imports():
    kg = _import_closure([], [f"{PKG}.pipeline"])
    # pipeline imports fused and plans.validate inside functions; the
    # parsers are reached through ner/rel/el's relative imports
    for m in ("operators.fused", "plans.validate", "functions.response_parsers"):
        assert f"{PKG}.{m}" in kg
    assert kg <= KG_JOB_MODULES, sorted(kg - KG_JOB_MODULES)
    assert f"{PKG}.operators.graph" not in kg
    assert f"{PKG}.operators.graph" in _import_closure(DRIVER_FILES)


_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*$")


def _module_defs(tree):
    """Top-level functions, classes and UPPER_CASE constants of a parsed
    module, each with the statement that defines it."""
    defs = {}
    for s in tree.body:
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[s.name] = s
        elif isinstance(s, (ast.Assign, ast.AnnAssign)):
            targets = s.targets if isinstance(s, ast.Assign) else [s.target]
            for t in targets:
                if isinstance(t, ast.Name) and _CONSTANT.match(t.id):
                    defs[t.id] = s
    return defs


def _dotted(node):
    """``a.b.c`` for a chain of attribute accesses on a name, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id] + parts[::-1])


def _def_references(tree, package=None):
    """``(module, name)`` pairs a parsed file refers to in another package
    module: a name it imports, or ``alias.name`` on a package module it
    imports. Function-level imports count."""
    refs, aliases = set(), {}  # local name -> package modules
    for _, mod, names, asname in _package_imports(tree, package):
        if _module_file(mod) is None:
            continue
        if names is None:
            local = asname or mod.split(".")[0]
            aliases.setdefault(local, set()).add(mod if asname else PKG)
            continue
        for a in names:
            sub = f"{mod}.{a.name}"
            if _module_file(sub) is not None:
                aliases.setdefault(a.asname or a.name, set()).add(sub)
            else:
                refs.add((mod, a.name))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        dotted = _dotted(node.value)
        if dotted is None:
            continue
        head, _, rest = dotted.partition(".")
        for mod in aliases.get(head, ()):
            mod = f"{mod}.{rest}" if rest else mod
            if _module_file(mod) is not None and (
                _module_file(f"{mod}.{node.attr}") is None
            ):
                refs.add((mod, node.attr))
    return refs


def _self_used_defs(tree):
    """``{name: used}`` for each def of a parsed module: whether a
    top-level statement other than the def itself uses the name."""
    own = _module_defs(tree)
    used = {}  # name -> top-level statements that use it
    for s in tree.body:
        for n in ast.walk(s):
            if isinstance(n, ast.Name) and n.id in own:
                used.setdefault(n.id, set()).add(id(s))
    return {
        name: bool(used.get(name, set()) - {id(node)})
        for name, node in own.items()
    }


def _unreferenced_package_defs():
    """``module.name`` of every package def that neither its own module
    (outside the def itself) nor another package module nor a driver file
    refers to. Tests are not references."""
    defs, refs = {}, set()
    for mod in _package_modules():
        path = _module_file(mod)
        with open(path) as f:
            tree = ast.parse(f.read())
        package = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
        refs |= _def_references(tree, package)
        for name, self_used in _self_used_defs(tree).items():
            defs[(mod, name)] = self_used
    for path in DRIVER_FILES:
        with open(path) as f:
            refs |= _def_references(ast.parse(f.read()))
    return sorted(
        f"{mod}.{name}"
        for (mod, name), self_used in defs.items()
        if not self_used and (mod, name) not in refs
    )


def test_every_package_def_is_reached_outside_tests():
    """A def that only tests reach is not part of the product: every
    top-level function, class and UPPER_CASE constant of the package is
    referenced, through imports or ``module.attr``, from the package or a
    driver file. ``TEST_ONLY_DEFS`` names the exceptions."""
    unreferenced = set(_unreferenced_package_defs())
    only_tests = sorted(unreferenced - set(TEST_ONLY_DEFS))
    assert not only_tests, f"only tests reach {only_tests}"
    # an entry that gained a caller, or lost its def, leaves the list
    stale = sorted(set(TEST_ONLY_DEFS) - unreferenced)
    assert not stale, f"no longer test-only: {stale}"


# what the driver harness calls in __spark_entry__.py
DRIVER_CONTRACT = {"entry", "queries", "oracle_sql"}


def test_driver_entry_has_no_orphan_defs():
    """Every top-level def and constant of ``__spark_entry__.py`` is used
    elsewhere in the file, except the contract functions, and every
    ``q_*`` query is a ``queries()`` entry: a helper whose last query
    went is deleted with it."""
    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    orphans = sorted(
        name
        for name, self_used in _self_used_defs(tree).items()
        if not self_used and name not in DRIVER_CONTRACT
    )
    assert not orphans, f"nothing in __spark_entry__.py uses {orphans}"
    queries = next(
        s for s in tree.body
        if isinstance(s, ast.FunctionDef) and s.name == "queries"
    )
    listed = {n.id for n in ast.walk(queries) if isinstance(n, ast.Name)}
    unlisted = sorted(
        s.name for s in tree.body
        if isinstance(s, ast.FunctionDef)
        and s.name.startswith("q_")
        and s.name not in listed
    )
    assert not unlisted, f"queries() does not list {unlisted}"


def test_def_reference_scan_resolves_imports_and_attributes(tmp_path):
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import spacy_llm_spark.operators.graph\n"
        "from spacy_llm_spark.operators import canonicalize as canon\n"
        "from spacy_llm_spark.kb import build_code_kb\n"
        "def q(spark):\n"
        "    from spacy_llm_spark import fs\n"
        "    fs.cut_lineage(canon.canonical_vertices(build_code_kb()))\n"
        "    return spacy_llm_spark.operators.graph.pagerank\n"
    )
    refs = _def_references(ast.parse(driver.read_text()))
    assert refs == {
        (f"{PKG}.kb", "build_code_kb"),
        (f"{PKG}.fs", "cut_lineage"),
        (f"{PKG}.operators.canonicalize", "canonical_vertices"),
        (f"{PKG}.operators.graph", "pagerank"),
    }


# Paths the docs cite: package files as ``pkg/<path>.py`` (COVERAGE.md's
# shorthand) or relative to the package (``operators/el.py``,
# ``operators/el.candidates_df``), and driver scripts.
DOC_FILES = ("README.md", "COVERAGE.md")
_SUBPKGS = "(?:operators|functions|sources|streaming|plans)/"
_PKG_PATH = re.compile(r"(?<![\w/])pkg/([\w/]+\.py)")
_SUBPKG_PATH = re.compile(rf"(?<![\w/.])({_SUBPKGS}[\w/]*\w)")
_SCRIPT_PATH = re.compile(r"(?<![\w/])scripts/\w+\.py")
# ``path.py:name`` names a top-level def of that module
_CITED_DEF = re.compile(
    rf"(?<![\w/])(?:pkg/|(?={_SUBPKGS}))([\w/]+\.py):([A-Za-z_]\w*)"
)


def _cited_paths(text):
    """Repo-relative files (or package directories) a document cites."""
    out = {f"{PKG}/{m}" for m in _PKG_PATH.findall(text)}
    for m in _SUBPKG_PATH.findall(text):
        base = os.path.join(PKG, m)
        out.add(base if os.path.isdir(os.path.join(REPO, base)) else base + ".py")
    out.update(_SCRIPT_PATH.findall(text))
    return out


# inside a code span, ``module.name`` names a top-level def of the
# package module whose last dotted component is ``module``;
# ``module.a/b/c`` lists three of them
_CODE_SPAN = re.compile(r"`([^`\n]+)`")
_SHORT_DEF = re.compile(
    r"(?<![\w/.])([a-z_]\w*)\.(?!py\b)([A-Za-z_]\w*(?:/[A-Za-z_]\w*)*)"
)
# ``test_x.py::test_y`` (``*`` a glob); a bare ``::test_z`` cites the
# same file as the citation before it on its line
_CITED_TEST = re.compile(
    r"(?<![\w/])(?:tests/)?(test_\w+\.py)?::(test_[\w*]+)"
)


def _cited_defs(text):
    """``(file, name)`` for each ``path.py:name`` citation of a package
    file and each ``module.name`` citation of a package module."""
    out = {(f"{PKG}/{path}", name) for path, name in _CITED_DEF.findall(text)}
    files = {  # last dotted component of a package module -> its file
        mod.rpartition(".")[2]: os.path.relpath(_module_file(mod), REPO)
        for mod in _package_modules()
    }
    for span in _CODE_SPAN.findall(text):
        for module, names in _SHORT_DEF.findall(span):
            if module in files:
                out.update((files[module], name) for name in names.split("/"))
    return out


def _cited_tests(text):
    """``(test file, test name pattern)`` for each cited test id."""
    out = set()
    for line in text.splitlines():
        last = None
        for path, name in _CITED_TEST.findall(line):
            last = path or last
            if last:
                out.add((f"tests/{last}", name))
    return out


def _test_names(path):
    with open(path) as f:
        tree = ast.parse(f.read())
    return {
        s.name for s in tree.body
        if isinstance(s, ast.FunctionDef) and s.name.startswith("test_")
    }


def test_doc_cited_paths_exist():
    """README.md and COVERAGE.md cite no module, script, module-level
    def or test that is gone."""
    missing = {}
    for doc in DOC_FILES:
        with open(os.path.join(REPO, doc)) as f:
            text = f.read()
        gone = sorted(
            p for p in _cited_paths(text) if not os.path.exists(os.path.join(REPO, p))
        )
        gone += sorted(
            f"{path}:{name}"
            for path, name in _cited_defs(text)
            if os.path.exists(os.path.join(REPO, path))
            and name not in _top_level_names(os.path.join(REPO, path))
        )
        gone += sorted(
            f"{path}::{pattern}"
            for path, pattern in _cited_tests(text)
            if not os.path.exists(os.path.join(REPO, path))
            or not fnmatch.filter(_test_names(os.path.join(REPO, path)), pattern)
        )
        if gone:
            missing[doc] = gone
    assert not missing, missing


def test_cited_path_scan_reads_each_citation_form():
    text = (
        "`pkg/kb.py:load_kb_yaml`, `operators/el.candidates_df`, "
        "`functions/rdf.py:to_turtle`, plans/validate.py, `sources/`, "
        "`scripts/run_kg_job.py`, pipeline/llm.py:195, "
        "pkg/operators/gone.py, streaming/incremental.py"
    )
    short = (
        "`dedup.line_index/line_counts` and `fs.cut_lineage`, `kb.py`, "
        "`gone.op`, spancat.v1 outside a code span\n"
        "`test_el.py::test_unhighlight_*` / `::test_kb_yaml_loader`, "
        "tests/test_fused.py::test_fused_matches_unfused\n"
        "::test_orphan has no file before it on its line\n"
    )
    assert _cited_defs(short) == {
        (f"{PKG}/operators/dedup.py", "line_index"),
        (f"{PKG}/operators/dedup.py", "line_counts"),
        (f"{PKG}/fs.py", "cut_lineage"),
    }
    assert _cited_tests(short) == {
        ("tests/test_el.py", "test_unhighlight_*"),
        ("tests/test_el.py", "test_kb_yaml_loader"),
        ("tests/test_fused.py", "test_fused_matches_unfused"),
    }
    assert _cited_paths(text) == {
        f"{PKG}/kb.py",
        f"{PKG}/operators/el.py",
        f"{PKG}/functions/rdf.py",
        f"{PKG}/plans/validate.py",
        "scripts/run_kg_job.py",
        f"{PKG}/operators/gone.py",
        f"{PKG}/streaming/incremental.py",
    }
    assert _cited_defs(text) == {
        (f"{PKG}/kb.py", "load_kb_yaml"),
        (f"{PKG}/functions/rdf.py", "to_turtle"),
    }
