"""Regrowth guard: every top-level function or class of the package must
be reachable from a non-test root, or be listed in KEEP with a reason.

Reachability is static and by name.  The roots are the package's
module-level code, `__spark_entry__.py`, `scripts/`, `perfbench/` (not
its tests), `bench.py` and `bench_extra.py`.  A root or a reached def
references a name through an `ast.Name` id, an `ast.Attribute` attr or
an import alias; strings and docstrings do not count.  A package
top-level def whose name is referenced is reached, and its body's
references count in turn.  Code Spark runs in its Python workers is
reached through the same references, so the static pass sees it.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "compressed_vec_spark")

# Reference-parity primitives mapped in SURVEY.md §8, and oracles that
# tests compare the live kernels against.
KEEP = {
    "pack_u64_delta": "reference delta pack (nibblepack parity)",
    "unpack_u64_delta": "reference delta unpack (nibblepack parity)",
    "add_const": "reference AddConstSink",
    "delta_cumsum": "reference delta-decoding sink",
    "bucket_bounds": "reference histogram bucket bounds",
    "compress_geom_nonincreasing": "reference histogram compression",
    "parse_bin_histogram": "reference binary histogram parser",
    "might_contain": "reference Bloom membership probe",
    "decoded_strings": "reference FSST string decode",
    "exact_jaccard_pairs": "oracle of test_batch_jaccard_matches_pairwise",
    "read_webpages": "Iceberg-or-parquet input reader of the CLI",
    "iceberg_available": "Iceberg runtime probe of read_webpages",
}


def _py_files(root, skip=()):
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs
                         if x not in skip and x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _names(nodes):
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.split(".")[-1])
                if n.asname:
                    out.add(n.asname)
    return out


def _is_def(node):
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))


def surface():
    """(defs, reached): defs maps each package top-level def name to its
    "module:line" sites; reached is the set of referenced names."""
    defs, bodies, refs = {}, {}, set()
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, REPO)
        for node in _parse(path).body:
            if not _is_def(node):
                refs |= _names([node])
                continue
            defs.setdefault(node.name, []).append(f"{rel}:{node.lineno}")
            bodies.setdefault(node.name, []).append(node)
            # decorators, defaults, annotations and bases run at import
            head = list(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                head += node.bases + node.keywords
            else:
                head += node.args.defaults + node.args.kw_defaults
            refs |= _names([h for h in head if h is not None])
    roots = [os.path.join(REPO, f) for f in
             ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    roots += list(_py_files(os.path.join(REPO, "scripts")))
    roots += list(_py_files(os.path.join(REPO, "perfbench"), skip={"tests"}))
    for path in roots:
        if os.path.exists(path):
            refs |= _names([_parse(path)])
    todo = list(refs & defs.keys())
    reached = set(todo)
    while todo:
        new = _names(bodies[todo.pop()]) & defs.keys()
        todo += new - reached
        reached |= new
    return defs, reached


def test_every_package_def_is_reachable_or_kept():
    defs, reached = surface()
    dead = sorted(f"{name} ({', '.join(defs[name])})"
                  for name in defs.keys() - reached - KEEP.keys())
    assert not dead, ("package defs that no non-test root reaches; delete "
                      "them or add them to KEEP with a reason:\n  "
                      + "\n  ".join(dead))


def test_keep_names_are_package_defs():
    defs, _ = surface()
    assert not KEEP.keys() - defs.keys(), sorted(KEEP.keys() - defs.keys())


def test_reachability_follows_references_not_strings(tmp_path, monkeypatch):
    """The pass itself, on a throwaway tree: names reached from a root
    directly, through an attribute, through a reached body or as a
    decorator count; names only in strings, docstrings, tests or
    perfbench's tests do not."""
    files = {
        "compressed_vec_spark/__init__.py": "",
        "compressed_vec_spark/mod.py": (
            "def entry():\n    return helper()\n"
            "def helper():\n    return 1\n"
            "def by_attr():\n    pass\n"
            "def deco(f):\n    return f\n"
            "@deco\n"
            "def decorated():\n    '''calls by_string()'''\n"
            "def by_string():\n    return 'tested_only'\n"
            "def tested_only():\n    pass\n"
            "def perf_tested_only():\n    pass\n"),
        "__spark_entry__.py": "from compressed_vec_spark.mod import entry\n",
        "scripts/run.py": "import compressed_vec_spark.mod as m\nm.by_attr()\n",
        "perfbench/tests/test_x.py": "from x import perf_tested_only\n",
        "tests/test_mod.py": "from compressed_vec_spark.mod import tested_only\n",
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    monkeypatch.setitem(globals(), "REPO", str(tmp_path))
    monkeypatch.setitem(globals(), "PACKAGE",
                        str(tmp_path / "compressed_vec_spark"))
    defs, reached = surface()
    assert set(defs) == {"entry", "helper", "by_attr", "deco", "decorated",
                         "by_string", "tested_only", "perf_tested_only"}
    assert defs.keys() - reached == {"decorated", "by_string",
                                     "tested_only", "perf_tested_only"}
