"""Package surface: every name the top-level package exports resolves."""

import importlib

import tdigest_spark


def test_all_exports_resolve_through_lazy_table():
    """Each name in ``tdigest_spark.__all__`` is in the lazy
    ``_EXPORTS`` table and imports to the attribute it names — a stale
    export left behind after a function is deleted fails here."""
    names = [n for n in tdigest_spark.__all__ if n != "__version__"]
    assert names
    missing = [n for n in names if n not in tdigest_spark._EXPORTS]
    assert not missing, missing
    for name in names:
        mod_name, attr = tdigest_spark._EXPORTS[name]
        mod = importlib.import_module(mod_name)
        assert hasattr(mod, attr), f"{name} -> {mod_name}.{attr} does not exist"
        assert getattr(tdigest_spark, name) is getattr(mod, attr)
