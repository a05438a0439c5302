"""One implementation per decision: every top-level definition in
``timebox_spark`` is reached from the fixed surface, or is on
``ALLOWED`` with the reason it stays.

The surface is the driver keys (``suites.DRIVER_*``), ``bench.py``,
``perfbench/``, ``examples/``, ``__spark_entry__.py``,
``continuity_bench.py``, every package module's module-level code and
the names a module exports in ``__all__``. Reachability follows AST
name references, not text: a docstring that names a function does not
reach it. A bare name resolves in its own module (a definition there,
else its import); ``mod.name`` resolves in the module ``mod`` is bound
to; an attribute on anything else (``df.name``) reaches every
definition so named. No Spark, no imports of the package: a pure parse.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "timebox_spark"
EXTERNAL = ["bench.py", "__spark_entry__.py", "continuity_bench.py", "perfbench/*.py", "examples/*.py"]

# Unreached definitions that stay: each is a standalone capability that
# repeats no decision the surface makes elsewhere, or a reference that
# tests hold live code to.
ALLOWED = {
    "operators.dedup.word_shingles": "word n-gram shingle column; the surface shingles characters only",
    "operators.kernels.float16_roundtrip_exact_np": "numpy ground truth that tests pin float16_roundtrip_exact to",
    "operators.multimodal.resize_payload": "byte-stride payload resample for any media type",
    "operators.sampling.export_packed_shards": "writes packed training sequences to shard files",
    "operators.sampling.hash_sample": "deterministic rate sample over sampling.hash_bucket",
    "operators.sampling.pack_sequences": "packs token sequences into fixed budgets",
    "operators.sketches.cms_is_weighted": "classifies a cms tree's denomination; tests pin the sentinel contract with it",
    "operators.skew.salted_broadcast_left": "salted join for a skewed key",
    "operators.skew.salted_distinct_count": "salted two-phase distinct count for a skewed key",
    "operators.text.dup_2gram_fraction": "text-column form of dup_2gram_fraction_from",
    "operators.text.export_token_shards": "tokenizer shard export",
    "operators.text.gopher_pass": "text-column form of gopher_pass_from",
    "operators.text.load_tokenizer": "tokenizer persistence",
    "operators.text.mean_word_length": "text-column form of mean_word_length_from",
    "operators.text.save_tokenizer": "tokenizer persistence",
    "operators.timeseries.EWMA_BUCKET_LIMIT": "bound of ewma's unkeyed path",
    "operators.timeseries._EWMA_BUCKET_HALFLIVES": "bucket width of ewma's unkeyed path",
    "operators.timeseries._ewma_bucketed": "ewma's unkeyed path",
    "operators.timeseries.ewma": "per-row EWMA; the surface runs its last-row form ewma_at_end",
    "operators.timeunits.conversion_multiplier": "unit ratio read off the one UNIT_US registry",
    "operators.urls.load_psl": "parses a full public-suffix list file for registrable_domain_psl",
    "sources.npb.TAG_DEF_TAIL_BYTES": "names a .npb tag-definition field size the format fixes",
    "sources.npb.TAG_OPT_HASH_TABLE": "names a .npb tag option bit the reader ignores",
    "streaming.ingest.DOCUMENTS_SCHEMA": "default schema of read_document_stream",
    "streaming.ingest.enrich_with_dim": "stream-static broadcast enrichment join",
    "streaming.ingest.read_document_stream": "file-source document stream",
    "streaming.ingest.read_store_cms": "reads a store's count-min tree for callers outside the cycle",
    "streaming.ingest.run_available_now": "drains a stream with Trigger.AvailableNow",
    "streaming.ingest.write_stream_npb": ".npb stream sink",
    "streaming.ingest.write_stream_warc": "WARC stream sink",
}


def _def_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else []
    if isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return [n for n in names if not n.startswith("__")]


class _Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, ast.stmt] = {}
        self.code: list[ast.stmt] = []
        for stmt in self.tree.body:
            names = _def_names(stmt)
            for n in names:
                self.defs[n] = stmt
            if not names:
                self.code.append(stmt)
        # local name -> (module, None) for a module, (module, attr) for
        # a name; imports anywhere in the file count (function-local ones
        # included). Relative imports are not resolved: the package uses
        # none, and an unresolved name only ever shows up as unreached.
        self.binds: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.binds[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self.binds[top] = (top, None)
            elif isinstance(node, ast.ImportFrom) and not node.level:
                for a in node.names:
                    self.binds[a.asname or a.name] = (node.module, a.name)


def _load(root: Path) -> tuple[dict[str, _Module], list[_Module]]:
    modules = {}
    for path in sorted((root / PKG).rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        name = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        modules[name] = _Module(name, path)
    external = [
        _Module(f"<{p.relative_to(root)}>", p) for pat in EXTERNAL for p in sorted(root.glob(pat))
    ]
    return modules, external


def unreached(root: Path = ROOT) -> list[str]:
    """Top-level definitions in the package under ``root`` that the
    surface does not reach, as ``module.name`` without the package
    prefix."""
    modules, external = _load(root)
    by_name: dict[str, list[tuple[str, str]]] = {}
    for m in modules.values():
        for n in m.defs:
            by_name.setdefault(n, []).append((m.name, n))

    def lookup(mod: str, name: str, depth: int = 0) -> list[tuple[str, str]]:
        # a name defined in ``mod``, or re-exported there by an import
        m = modules.get(mod)
        if m is None or depth > 8:
            return []
        if name in m.defs:
            return [(mod, name)]
        bound = m.binds.get(name)
        if bound and bound[1] is not None and f"{mod}.{name}" not in modules:
            return lookup(*bound, depth + 1)
        return []

    def module_of(m: _Module, node: ast.expr) -> str | None:
        # the package module an expression like ``D`` or ``tbs.plans`` names
        if isinstance(node, ast.Name):
            bound = m.binds.get(node.id)
            if node.id in m.defs or bound is None:
                return None
            target = bound[0] if bound[1] is None else f"{bound[0]}.{bound[1]}"
            return target if target in modules else None
        if isinstance(node, ast.Attribute):
            base = module_of(m, node.value)
            if base and f"{base}.{node.attr}" in modules:
                return f"{base}.{node.attr}"
        return None

    def refs(m: _Module, node: ast.AST) -> list[tuple[str, str]]:
        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in m.defs:
                    out.append((m.name, n.id))
                elif m.binds.get(n.id, (None, None))[1] is not None:
                    out += lookup(*m.binds[n.id])
            elif isinstance(n, ast.Attribute):
                base = module_of(m, n.value)
                out += lookup(base, n.attr) if base else by_name.get(n.attr, [])
        return out

    work = []
    for m in modules.values():
        for stmt in m.code:
            work += refs(m, stmt)
            exports = isinstance(stmt, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
            )
            if exports:
                for c in ast.walk(stmt.value):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        work += lookup(m.name, c.value)
        if m.name == f"{PKG}.plans.suites":
            work += [(m.name, n) for n in m.defs if n.startswith("DRIVER_")]
    for m in external:
        work += refs(m, m.tree)
    seen: set[tuple[str, str]] = set()
    while work:
        key = work.pop()
        if key in seen or key[0] not in modules:
            continue
        seen.add(key)
        work += refs(modules[key[0]], modules[key[0]].defs[key[1]])
    every = {(m.name, n) for m in modules.values() for n in m.defs}
    return sorted(f"{mod[len(PKG) + 1:]}.{n}" for mod, n in every - seen)


@pytest.fixture(scope="module")
def found() -> list[str]:
    return unreached()


def test_every_definition_is_reached_or_allowed(found):
    extra = [d for d in found if d not in ALLOWED]
    assert not extra, (
        "unreached from the fixed surface (delete them, or add them to "
        "ALLOWED with a reason if they repeat no decision made elsewhere): "
        + ", ".join(extra)
    )


def test_allow_list_names_only_unreached_definitions(found):
    # a definition that gained a caller, or was deleted, leaves the list
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, "ALLOWED entries that are reached or gone: " + ", ".join(stale)


def test_reachability_resolves_names_not_text(tmp_path):
    """On a toy tree: a docstring mention reaches nothing, a same-named
    function in another module is not reached through its namesake,
    and module aliases, re-exports and ``__all__`` are followed."""
    pkg = tmp_path / PKG
    (pkg / "plans").mkdir(parents=True)
    (pkg / "__init__.py").write_text('__all__ = ["exported"]\nfrom timebox_spark.ops import exported\n')
    (pkg / "plans" / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "def used():\n    return helper()\n\n\n"
        "def helper():\n    pass\n\n\n"
        'def exported():\n    """Unlike dead(), this one is exported."""\n\n\n'
        "def dead():\n    pass\n\n\n"
        "def twin():\n    pass\n"
    )
    (pkg / "plans" / "suites.py").write_text(
        "from timebox_spark import ops as O\n\n\n"
        "def twin():\n    return O.used()\n\n\n"
        'DRIVER_QUERIES = {"k": twin}\n'
    )
    (tmp_path / "bench.py").write_text("")
    assert unreached(tmp_path) == ["ops.dead", "ops.twin"]
