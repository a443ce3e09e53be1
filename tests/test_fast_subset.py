"""The fast-subset guard in ``tests/conftest.py``: an override or extra
naming a missing test module or test function is reported, so it can
fail the collection instead of silently dropping a module from
``-m fast``."""

from __future__ import annotations

from types import SimpleNamespace

from tests.conftest import _stale_fast_names

_ME = "test_fast_subset.py"


def _items():
    import tests.test_fast_subset as me

    return [SimpleNamespace(location=(f"tests/{_ME}", 0, "t"), module=me)]


def test_stale_fast_names_flags_missing_module_and_test():
    live = "test_stale_fast_names_flags_missing_module_and_test"
    assert _stale_fast_names(_items(), {_ME: live}, {(_ME, live)}) == []
    assert _stale_fast_names(_items(), {"test_gone.py": "test_x"}, set()) == [
        "test_gone.py (no such test module)"
    ]
    assert _stale_fast_names(_items(), {}, {(_ME, "test_renamed")}) == [
        f"{_ME}::test_renamed (no such test)"
    ]
    # a module this run did not collect is only checked for existence
    assert _stale_fast_names([], {_ME: "test_renamed"}, set()) == []
