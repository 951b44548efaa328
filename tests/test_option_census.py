"""Every defaulted engine parameter is set by a production call.

An ``ast`` walk, no imports, with the roots of
``tests/test_reachability.py``: ``cli.py``, ``__spark_entry__.py``,
``perfbench/*.py`` and ``scripts/*.py``, plus every call inside the
engine package itself. A parameter with a default is *set* when some
call of a function of that name passes it by keyword, passes
``**kwargs``, or passes enough positional arguments to reach it. Names
are matched without their module, as in the reachability walk, so the
census can only over-approximate what production sets; what it still
reports is an option only tests set. Turn such an option into a
constant, or test the fork it selects by monkeypatching that constant.

Definitions in the reachability ``KEEP`` list are skipped. A parameter
that no production call sets but that must stay is listed in
``EXEMPT`` with the reason.
"""

from __future__ import annotations

import ast
import glob
import os

from test_reachability import KEEP, PKG, ROOT, _parse, production_roots

EXEMPT = {
    # counters the run profile is to report (LSH pairs dropped by the
    # bucket cap, the connected-components path and rounds)
    "operators/dedup.py:lsh_candidate_pairs(stats)": "bucket-cap counters for the run profile",
    "operators/dedup.py:connected_components(stats)": "path and round counters for the run profile",
    # other quantization tables, so the decoder is exercised on
    # payloads it may receive from outside the program
    "functions/jpeg.py:encode_jpeg_gray(quality)": "writes test payloads with foreign quantization tables",
}


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _calls(paths) -> tuple[dict[str, set], dict[str, int]]:
    """Per callee name: the keywords passed (None for ``**kw``) and the
    most positional arguments any call passes."""
    keywords: dict[str, set] = {}
    positional: dict[str, int] = {}
    for path in paths:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call) or _callee(node) is None:
                continue
            name = _callee(node)
            keywords.setdefault(name, set()).update(k.arg for k in node.keywords)
            n = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                n = 1 << 30
            positional[name] = max(positional.get(name, 0), n)
    return keywords, positional


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(parameter, positional index or None) of each defaulted one;
    the index counts from the first argument a caller passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    out = [
        (arg.arg, i - skip)
        for i, arg in enumerate(pos)
        if i >= len(pos) - len(a.defaults)
    ]
    out += [(k.arg, None) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _engine_files() -> list[str]:
    return glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)


def unset_options() -> list[str]:
    """``rel/path.py:function(parameter)`` of every defaulted engine
    parameter no production call sets, KEEP definitions skipped."""
    keywords, positional = _calls(production_roots() + _engine_files())
    out = []
    for path in _engine_files():
        rel = os.path.relpath(path, os.path.join(ROOT, PKG))
        for top in _parse(path).body:
            if isinstance(top, (ast.FunctionDef, ast.ClassDef)) and f"{rel}:{top.name}" in KEEP:
                continue
            for fn in ast.walk(top):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                kws = keywords.get(fn.name, set())
                for param, idx in _defaulted(fn):
                    if param in kws or None in kws:
                        continue
                    if idx is not None and positional.get(fn.name, 0) > idx:
                        continue
                    out.append(f"{rel}:{fn.name}({param})")
    return sorted(out)


def test_every_engine_option_is_set_in_production_or_exempt():
    assert [k for k in unset_options() if k not in EXEMPT] == []


def test_exemptions_are_current():
    """An exemption production now sets, or whose parameter is gone,
    is stale."""
    assert sorted(k for k in EXEMPT if k not in unset_options()) == []
