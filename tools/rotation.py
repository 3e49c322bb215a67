"""Static code-closure tracer over the package (pure stdlib ``ast``, no
execution): which repo units a function reaches, transitively.

``contract._fit_code_salt`` hashes the traced closure of each on-disk
fit kind's roots, so a cached fit artifact is rebuilt the moment any
code it executes changes.
``rows_only_twins`` is registry hygiene: every rows-only query must
have an oracle-gated twin.

How the trace works:

- every package module in the working tree is parsed; top-level
  functions, classes, and constant assignments become *units* keyed
  ``(module, qualname)`` with a normalized (``ast.unparse``) source —
  comment/formatting edits do not change it;
- imports are resolved through package ``__init__`` re-export chains to
  the defining module;
- a unit references another unit if its body mentions the imported name
  (any ``Name``/``Attribute`` use, not just calls — functions passed as
  values, e.g. fit thunks, are caught);
- a unit's closure is everything reachable from it through those
  references, including function-local imports.

Conservative by construction: over-reaching costs a rebuilt fit,
under-reaching would serve a stale one.
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

PKG = "uk_housing_dashboard_etl_spark"
REPO = Path(__file__).resolve().parent.parent


# ------------------------------------------------------------- parsing


def _module_name(path: str) -> str:
    mod = path[: -len(".py")].replace("/", ".")
    if mod.endswith(".__init__"):
        mod = mod[: -len(".__init__")]
    return mod


def _repo_py_paths() -> list[str]:
    return sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("*.py")
    )


class _ModuleInfo:
    """Units and import table of one module."""

    def __init__(self, module: str, src: str):
        self.module = module
        tree = ast.parse(src)
        self.units: dict[str, str] = {}
        # imported name -> (module, original unit name | None for whole-module)
        self.imports: dict[str, tuple[str, str | None]] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.units[node.name] = ast.unparse(node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PKG):
                        self.imports[a.asname or a.name] = (a.name, None)
            elif isinstance(node, ast.ImportFrom):
                src_mod = self._resolve_from(node)
                if src_mod is not None:
                    for a in node.names:
                        self.imports[a.asname or a.name] = (src_mod, a.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = (
                    node.targets
                    if isinstance(node, ast.Assign)
                    else [node.target]
                )
                for t in targets:
                    if isinstance(t, ast.Name):
                        self.units[t.id] = ast.unparse(node)

    def _resolve_from(self, node: ast.ImportFrom) -> str | None:
        if node.level == 0:
            return node.module if (node.module or "").startswith(PKG) else None
        # relative import: anchor at this module's package
        parts = self.module.split(".")
        base = parts[: len(parts) - node.level]
        if node.module:
            base = base + node.module.split(".")
        joined = ".".join(base)
        return joined if joined.startswith(PKG) else None


@lru_cache(maxsize=None)
def _modules() -> dict[str, _ModuleInfo]:
    out: dict[str, _ModuleInfo] = {}
    for path in _repo_py_paths():
        mod = _module_name(path)
        out[mod] = _ModuleInfo(mod, (REPO / path).read_text())
    return out


# ------------------------------------------------------------ resolving


def _resolve(mods: dict[str, _ModuleInfo], module: str, name: str,
             _seen: frozenset = frozenset()) -> tuple[str, str] | None:
    """Follow re-export chains to the (module, unit) that defines name."""
    if (module, name) in _seen or module not in mods:
        return None
    info = mods[module]
    if name in info.units:
        return (module, name)
    if name in info.imports:
        src_mod, orig = info.imports[name]
        if orig is None:
            return None  # whole-module alias handled at reference site
        return _resolve(
            mods, src_mod, orig, _seen | {(module, name)}
        ) or ((src_mod, orig) if src_mod in mods else None)
    return None


def _unit_refs(
    mods: dict[str, _ModuleInfo], module: str, unit: str
) -> set[tuple[str, str]]:
    """Repo units referenced from one unit's body (names + attributes)."""
    info = mods[module]
    tree = ast.parse(info.units[unit])
    refs: set[tuple[str, str]] = set()
    # function-local imports (several q_* functions import their
    # operator inside the body): a from-import of a repo unit is itself
    # a reference; a module import extends attribute resolution below
    local_mod_aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            src_mod = _ModuleInfo._resolve_from(info, node)
            if src_mod is not None:
                for a in node.names:
                    tgt = _resolve(mods, src_mod, a.name)
                    if tgt:
                        refs.add(tgt)
                    elif src_mod in mods:
                        local_mod_aliases.setdefault(a.asname or a.name, src_mod)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    local_mod_aliases[a.asname or a.name] = a.name
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if node.id == unit:
                continue
            tgt = _resolve(mods, module, node.id)
            if tgt:
                refs.add(tgt)
        elif isinstance(node, ast.Attribute) and isinstance(
            node.value, ast.Name
        ):
            alias = node.value.id
            mod_target: str | None = None
            imp = info.imports.get(alias)
            if imp and imp[1] is None:
                mod_target = imp[0]
            mod_target = local_mod_aliases.get(alias, mod_target)
            if mod_target and mod_target in mods:
                tgt = _resolve(mods, mod_target, node.attr)
                if tgt:
                    refs.add(tgt)
    return refs


@lru_cache(maxsize=None)
def _closure(module: str, unit: str) -> frozenset[tuple[str, str]]:
    mods = _modules()
    seen: set[tuple[str, str]] = set()
    frontier = [(module, unit)]
    while frontier:
        m, u = frontier.pop()
        if (m, u) in seen or m not in mods or u not in mods[m].units:
            continue
        seen.add((m, u))
        frontier.extend(_unit_refs(mods, m, u) - seen)
    return frozenset(seen)


# ------------------------------------------------------------- registry

# rows-only drains whose twin suffix is not the default "_check"
_TWIN_OVERRIDES = {
    "similarity_lsh": "similarity_lsh_recall",
    "similarity_ivf": "similarity_ivf_recall",
    "similarity_ivfpq": "similarity_ivfpq_recall",
    "similarity_pq": "similarity_pq_recall",
    "similarity_ivfpq_res": "similarity_ivfpq_res_recall",
    "dedup_simhash": "dedup_simhash_complete",
    "dedup_minhash": "dedup_minhash_recall",
    "embedding_near_dup_lsh": "embedding_near_dup_lsh_recall",
    "pca_scores": "pca_check",
}


def rows_only_twins() -> dict[str, str]:
    """rows-only query -> its oracle-gated twin (r13 verdict item 5).

    Every ``no_oracle`` drain is checked rows-only, so its evidence of
    correctness is the hash-exact twin; a drain without one vouches for
    nothing.
    """
    from uk_housing_dashboard_etl_spark import contract

    out: dict[str, str] = {}
    for name in contract.QUERIES:
        if name in contract.ORACLES:
            continue
        twin = _TWIN_OVERRIDES.get(name, f"{name}_check")
        if twin not in contract.QUERIES or twin not in contract.ORACLES:
            raise LookupError(
                f"rows-only query {name!r} has no oracle-gated twin "
                f"({twin!r} missing) — register one or add an override"
            )
        out[name] = twin
    return out

