"""The code-closure tracer (tools/rotation.py) is load-bearing:
``contract._fit_code_salt`` hashes the traced closure of each fit
kind's roots, so a cached fit is rebuilt when the code behind it
changes. If the tracer silently broke (empty closures, missed imports),
the salt would stop moving with the code — these tests pin the tracer's
actual detection power on both synthetic sources and the live repo."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools import rotation
from tools.rotation import PKG, _ModuleInfo


def _mod(name: str, src: str) -> _ModuleInfo:
    return _ModuleInfo(f"{PKG}.{name}", src)


# ----------------------------------------------------- pure unit level


def test_module_units_and_normalization():
    a = _mod("m", "X = 1\n\ndef f(y):\n    # a comment\n    return X + y\n")
    b = _mod("m", "X = 1\n\ndef f(y):\n    return X + y  # other comment\n")
    # comment/formatting differences must NOT read as changes
    assert a.units["f"] == b.units["f"]
    assert a.units["X"] == b.units["X"]
    c = _mod("m", "X = 2\n\ndef f(y):\n    return X + y\n")
    assert a.units["X"] != c.units["X"]


def test_docstring_edits_keep_the_unit_source():
    src = (
        "class C:\n"
        "    '''{doc}'''\n"
        "    def m(self):\n"
        "        '''{doc}'''\n"
        "def f(y):\n"
        "    '''{doc}'''\n"
        "    return y + {k}\n"
    )
    a = _mod("m", src.format(doc="Old text.", k=1))
    b = _mod("m", src.format(doc="New, reflowed\n    text.", k=1))
    # a docstring-only edit (function, class, method) is not a change
    assert a.units["f"] == b.units["f"]
    assert a.units["C"] == b.units["C"]
    # a one-token code edit still is
    c = _mod("m", src.format(doc="Old text.", k=2))
    assert a.units["f"] != c.units["f"]


def test_relative_import_resolution():
    info = _mod(
        "operators.demo",
        "from ..functions.rounding import round4\n",
    )
    assert info.imports["round4"] == (
        f"{PKG}.functions.rounding",
        "round4",
    )


def test_resolve_follows_reexport_chain():
    mods = rotation._modules()
    # contract imports qa_metrics from the operators package __init__,
    # which re-exports it from operators.snapshot
    tgt = rotation._resolve(mods, f"{PKG}.operators", "qa_metrics")
    assert tgt is not None and tgt[0].endswith(".snapshot")


# ------------------------------------------------- live-repo tracing


def test_closure_reaches_function_local_imports():
    """q_mg_heavy_hitters imports its operator INSIDE the function body;
    round-8 found the tracer originally missed exactly this and
    under-reported the code a query runs."""
    from uk_housing_dashboard_etl_spark import contract

    fn = contract.QUERIES["mg_heavy_hitters"]
    cl = rotation._closure(fn.__module__, fn.__qualname__.split(".")[0])
    assert (f"{PKG}.operators.sketches", "mg_heavy_hitters") in cl


def test_closure_reaches_shared_helpers_transitively():
    from uk_housing_dashboard_etl_spark import contract

    fn = contract.QUERIES["similarity_pq"]
    cl = rotation._closure(fn.__module__, fn.__qualname__.split(".")[0])
    mods = {m for m, _ in cl}
    assert f"{PKG}.operators.pq" in mods
    # the fit-cache helpers inside contract itself must be reachable
    assert (f"{PKG}.contract", "_cached_fit") in cl


def test_every_registered_query_has_nonempty_closure():
    """An empty closure means the tracer lost the query root — the
    failure mode that would leave a fit salt blind to code changes."""
    from uk_housing_dashboard_etl_spark import contract

    for name, fn in contract.QUERIES.items():
        root = fn.__qualname__.split(".")[0]
        cl = rotation._closure(fn.__module__, root)
        assert (fn.__module__, root) in cl, name
        # every contract query reads at least one table or helper
        assert len(cl) >= 2, f"{name}: suspiciously bare closure {cl}"

