"""The traced-closure fit-cache salt (r10, VERDICT r9 item 4).

Replaces r9's byte-pinning tripwire (``test_registry.py``): the salt is
now derived from the AST code closure ``tools/rotation.py`` traces, so
an edit to any code a fit transitively executes — including
cross-module helpers the old module-bytes salt missed (pq_encode →
similarity's norm expr, kmeans_fit → functions.topk,
ngram_jaccard_pairs → functions.rounding) — invalidates the on-disk
artifact automatically. These tests pin that property structurally
(coverage) and behaviorally (sensitivity), plus the registry hygiene
that makes it total: every ``_cached_fit_large`` call site's kind must
be declared in ``_FIT_SALT_ROOTS``.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from uk_housing_dashboard_etl_spark import contract  # noqa: E402

PKG = "uk_housing_dashboard_etl_spark"


def _call_sites_by_kind() -> dict[str, set[str]]:
    """kind -> enclosing top-level function names of every
    _cached_fit_large call site in contract.py."""
    tree = ast.parse((REPO / PKG / "contract.py").read_text())
    sites: dict[str, set[str]] = {}
    for top in tree.body:
        if not isinstance(top, ast.FunctionDef):
            continue
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_cached_fit_large"
            ):
                # signature: (spark, sf_dir, kind, builder)
                kind_arg = node.args[2]
                assert isinstance(kind_arg, ast.Constant) and isinstance(
                    kind_arg.value, str
                ), "kind must be a string literal so the salt registry is static"
                sites.setdefault(kind_arg.value, set()).add(top.name)
    return sites


def test_every_call_site_kind_declares_salt_roots():
    sites = _call_sites_by_kind()
    assert sites, "expected _cached_fit_large call sites in contract.py"
    undeclared = set(sites) - set(contract._FIT_SALT_ROOTS)
    assert not undeclared, (
        f"artifact kinds without salt roots: {sorted(undeclared)} — "
        "declare their root units in contract._FIT_SALT_ROOTS"
    )
    unused = set(contract._FIT_SALT_ROOTS) - set(sites)
    assert not unused, (
        f"salt roots declared for kinds no call site uses: {sorted(unused)}"
    )


def test_salt_roots_are_the_enclosing_builders():
    """The r10-advice hole, closed structurally: a kind's salt must be
    rooted at EVERY contract function that builds it, so the builder
    lambda's literal parameters (min_len=30, threshold=0.4, m=32 …) sit
    inside the hash — editing one can never silently serve the stale
    artifact. Operator units come along via the traced closure, so the
    roots need not (and no longer do) name them."""
    for kind, fns in _call_sites_by_kind().items():
        rooted = {
            unit
            for suffix, unit in contract._FIT_SALT_ROOTS[kind]
            if suffix == "contract"
        }
        missing = fns - rooted
        assert not missing, (
            f"kind {kind!r} is built by {sorted(fns)} but only rooted at "
            f"{sorted(rooted)} — a builder's literals are outside the salt"
        )


def test_salt_roots_resolve_and_salts_are_computable():
    for kind in contract._FIT_SALT_ROOTS:
        salt = contract._fit_code_salt(kind)
        assert len(salt) == 8 and int(salt, 16) >= 0


def test_undeclared_kind_is_loud():
    with pytest.raises(KeyError):
        contract._fit_code_salt("no_such_artifact_kind")


def test_closures_cover_the_formerly_pinned_transitive_deps():
    """The exact blind spot the r9 byte-pinning tripwire guarded: these
    cross-module units flow into artifact bytes but were NOT covered by
    the old module-bytes salt. The traced closure must span them."""
    from tools import rotation

    def closure_mods(kind: str) -> set[str]:
        mods = set()
        for suffix, unit in contract._FIT_SALT_ROOTS[kind]:
            mods |= {m for m, _ in rotation._closure(f"{PKG}.{suffix}", unit)}
        return mods

    assert f"{PKG}.operators.similarity" in closure_mods("pq32_codes")
    assert f"{PKG}.functions.topk" in closure_mods("ivfpq_cells")
    assert f"{PKG}.functions.topk" in closure_mods("ivfpq_res_codes")
    assert f"{PKG}.functions.rounding" in closure_mods("jaccard02_pairs")

    # value dependencies the builder lambda names by reference and the
    # builder-rooted closure must therefore span: clusters02 is built
    # FROM the jaccard02 artifact (via _jaccard02_truth), pq32_codes
    # from pq_fit's codebooks, the ivfpq kinds from kmeans_fit's
    # centroids — all operator units formerly hand-listed as roots.
    from tools import rotation

    def closure_units(kind: str) -> set[tuple[str, str]]:
        units = set()
        for suffix, unit in contract._FIT_SALT_ROOTS[kind]:
            units |= set(rotation._closure(f"{PKG}.{suffix}", unit))
        return units

    assert (f"{PKG}.operators.dedup", "ngram_jaccard_pairs") in closure_units(
        "clusters02"
    )
    assert (f"{PKG}.operators.dedup", "duplicate_clusters") in closure_units(
        "clusters02"
    )
    assert (f"{PKG}.contract", "_jaccard02_truth") in closure_units(
        "clusters02"
    )
    assert (f"{PKG}.operators.pq", "pq_fit") in closure_units("pq32_codes")
    assert (f"{PKG}.operators.pq", "pq_encode") in closure_units("pq32_codes")
    assert (f"{PKG}.operators.ivf", "kmeans_fit") in closure_units(
        "ivfpq_cells"
    )
    assert (f"{PKG}.operators.ivf", "ivf_index") in closure_units("ivfpq_cells")
    assert (f"{PKG}.operators.dedup", "simhash_signatures") in closure_units(
        "simhash_sigs"
    )
    assert (f"{PKG}.operators.dedup", "exact_substr_spans") in closure_units(
        "exsub_spans30"
    )
    assert (
        f"{PKG}.operators.similarity",
        "embedding_near_dup",
    ) in closure_units("embexact04_pairs")
    assert (
        f"{PKG}.operators.pq",
        "ivfpq_residual_build",
    ) in closure_units("ivfpq_res_codes")


def test_salt_is_sensitive_to_any_unit_source_change():
    """Behavioral pin on the pure hashing step: a one-character change
    in any unit's normalized source, or a renamed unit, must change the
    digest; key order must not."""
    base = {
        ("m.a", "f"): "def f(): return 1",
        ("m.b", "g"): "def g(): return 2",
    }
    s0 = contract._salt_from_units(base)
    assert s0 == contract._salt_from_units(dict(reversed(list(base.items()))))
    edited = {**base, ("m.b", "g"): "def g(): return 3"}
    assert contract._salt_from_units(edited) != s0
    renamed = {("m.a", "f"): base[("m.a", "f")], ("m.b", "h"): base[("m.b", "g")]}
    assert contract._salt_from_units(renamed) != s0


def test_salt_changes_when_a_transitive_dependency_changes(monkeypatch):
    """End-to-end sensitivity through the tracer: perturb the normalized
    source of a TRANSITIVE dependency (functions.rounding's round4,
    which no salt root names directly) and the jaccard02 salt must
    move. This is the scenario that silently served stale artifacts
    under the module-bytes salt."""
    from tools import rotation

    real_modules = rotation._modules()
    dep = (f"{PKG}.functions.rounding", "round4")
    assert dep[1] in real_modules[dep[0]].units

    before = contract._fit_code_salt("jaccard02_pairs")

    class _Perturbed:
        def __init__(self, info, unit):
            self.units = dict(info.units)
            self.units[unit] = self.units[unit] + "\n# perturbed"
            self.imports = info.imports

    perturbed = dict(real_modules)
    perturbed[dep[0]] = _Perturbed(real_modules[dep[0]], dep[1])
    monkeypatch.setattr(rotation, "_modules", lambda: perturbed)
    monkeypatch.setattr(contract, "_FIT_SALT_MEMO", {})
    after = contract._fit_code_salt("jaccard02_pairs")
    assert after != before, (
        "editing a transitive dependency did not move the fit salt — "
        "the traced-closure derivation regressed to the r9 blind spot"
    )


def test_salt_changes_when_a_builder_literal_changes(monkeypatch):
    """The r10-advice scenario, end-to-end: the builder helper's own
    source (where literal parameters like exact_substr min_len=30 live)
    is INSIDE the salt. Perturb ``_exsub_spans30``'s normalized source
    — as editing ``min_len=30`` to ``min_len=31`` would — and the
    exsub_spans30 salt must move. Under the r10 operator-rooted scheme
    this perturbation left the salt unchanged and the stale cut list
    would have been served to all four exact_substr queries."""
    from tools import rotation

    real_modules = rotation._modules()
    dep = (f"{PKG}.contract", "_exsub_spans30")
    assert dep[1] in real_modules[dep[0]].units

    before = contract._fit_code_salt("exsub_spans30")

    class _Perturbed:
        def __init__(self, info, unit):
            self.units = dict(info.units)
            self.units[unit] = self.units[unit].replace(
                "min_len=30", "min_len=31"
            )
            assert self.units[unit] != info.units[unit]
            self.imports = info.imports

    perturbed = dict(real_modules)
    perturbed[dep[0]] = _Perturbed(real_modules[dep[0]], dep[1])
    monkeypatch.setattr(rotation, "_modules", lambda: perturbed)
    monkeypatch.setattr(contract, "_FIT_SALT_MEMO", {})
    after = contract._fit_code_salt("exsub_spans30")
    assert after != before, (
        "editing a builder literal did not move the fit salt — the "
        "r10-advice silent-staleness hole has reopened"
    )
