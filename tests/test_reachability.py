"""Every engine definition is reached from a production root.

An ``ast`` walk, no imports: the roots are ``cli.py``,
``__spark_entry__.py``, ``perfbench/*.py`` and ``scripts/*.py``. A
definition (function, class or assigned name at module level of
``cookieblock_consent_classifier_spark/``, or a non-dunder method of
such a class, keyed ``Class.method``) is reached when its name is
referenced from a root, or from the body of a definition that is
reached. Names are matched without their module or class (``x.foo``
and ``foo`` both reach every ``foo``), so the walk can only
over-approximate what production uses; what it still reports is code
only tests call. A class's own body covers its dunder methods and
class attributes but not its other methods: each of those is reached
by its own name.

A definition that production does not reach but that must stay is
listed in ``KEEP`` with the reason; a kept class keeps its methods.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cookieblock_consent_classifier_spark"

KEEP = {
    # the PSNR >= 40 dB lossy-codec invariant the image tests pin
    "functions/image.py:psnr": "test reference for the image codec's PSNR invariant",
    "functions/image.py:decode_psnr": "test reference for the image codec's PSNR invariant",
    # the per-symbol JPEG entropy coder the vectorized one must equal
    "functions/jpeg.py:_encode_entropy_loop": "bit-exact reference for the vectorized coder",
    "functions/jpeg.py:_encode_entropy": "single-image form compared with the reference",
    "functions/jpeg.py:_BitWriter": "bit writer of the reference coder",
    "functions/jpeg.py:_amplitude_bits": "amplitude coding of the reference coder",
    "functions/jpeg.py:_category": "size category of the reference coder",
    # the per-symbol JPEG huffman reader the table-driven one must equal
    "functions/jpeg.py:_decode_entropy_loop": "bit-exact reference for the table-driven decoder",
    "functions/jpeg.py:_BitReader": "bit reader of the reference decoder",
    "functions/jpeg.py:_build_decode": "code table of the reference decoder",
    "functions/jpeg.py:_extend": "amplitude decoding of the reference decoder",
    # the pure-Python twin in tests/test_pipeline.py builds on these
    "functions/vectorized.py:_py_split_delimited": "pure-Python pipeline twin",
    "functions/vectorized.py:_py_csv_content_flags": "pure-Python pipeline twin",
    "functions/vectorized.py:_py_js_content": "pure-Python pipeline twin",
    "operators/dedup.py:simhash48_native": "native twin the simhash kernel is checked against",
    "operators/dedup.py:word_shingles": "shingle builder the Jaccard tests compose with",
    "operators/similarity.py:lsh_near_dup_pairs": "LSH scale path for corpora too large for all-pairs",
    "sources/readers.py:read_entity_updates": "Iceberg branch of the entity-update scan",
    "sources/readers.py:read_libsvm": "reads back the libsvm sink",
    "sources/readers.py:cookie_json_to_rows": "reference-JSON input adapter",
    "sources/synth.py:synth_label_dim": "as-of label dimension generator",
    "schema.py:COOKIE_UPDATE_SCHEMA": "the input contract perfbench/workloads.py writes",
}


def _refs(nodes) -> set[str]:
    """Identifiers, attribute names and imported names (``import x as
    y`` uses both) anywhere under ``nodes``."""
    out: set[str] = set()
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


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _is_method(stmt: ast.stmt) -> bool:
    return isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and not stmt.name.startswith("__")


def _definitions(stmt: ast.stmt) -> list[tuple[str, list]]:
    """(name, nodes whose references it makes) for each definition in a
    module-level statement: its names, then a class's methods."""
    names = [n for n in _defined_names(stmt) if not n.startswith("__")]
    if not isinstance(stmt, ast.ClassDef):
        return [(n, [stmt]) for n in names]
    own = [*stmt.decorator_list, *stmt.bases, *stmt.keywords]
    own += [s for s in stmt.body if not _is_method(s)]
    return [(stmt.name, own)] + [
        (f"{stmt.name}.{m.name}", [m]) for m in stmt.body if _is_method(m)
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fd:
        return ast.parse(fd.read(), path)


def production_roots() -> list[str]:
    roots = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, PKG, "cli.py")]
    roots += glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    roots += glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    return roots


def unreached() -> list[str]:
    defs: dict[str, list] = {}  # "rel/path.py:name" -> [stmt]
    by_name: dict[str, list[str]] = {}
    module_code: list = []  # engine statements that run at import
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, os.path.join(ROOT, PKG))
        if os.path.basename(path) == "__init__.py":
            continue  # re-exports only
        for stmt in _parse(path).body:
            found = _definitions(stmt)
            for name, nodes in found:
                key = f"{rel}:{name}"
                defs.setdefault(key, []).extend(nodes)
                by_name.setdefault(name.split(".")[-1], []).append(key)
            if not found and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                module_code.append(stmt)
    root_trees = [_parse(p) for p in production_roots()]

    reached: set[str] = set()
    todo = list(_refs(root_trees) | _refs(module_code))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, []):
            if key not in reached:
                reached.add(key)
                todo.extend(_refs(defs[key]))
    def kept(key: str) -> bool:
        rel, name = key.split(":")
        return f"{rel}:{name.split('.')[0]}" in KEEP

    return sorted(k for k in defs if k not in reached and not kept(k))


def test_every_engine_definition_is_reached_or_kept():
    assert unreached() == []


def test_keep_list_names_existing_definitions():
    """A KEEP entry whose definition is gone is stale."""
    gone = []
    for key in KEEP:
        rel, name = key.split(":")
        tree = _parse(os.path.join(ROOT, PKG, rel))
        if not any(name == n for s in tree.body for n, _ in _definitions(s)):
            gone.append(key)
    assert gone == []
