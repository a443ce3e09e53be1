"""Shared Spark fixture: one tuned local session for the whole run."""

from __future__ import annotations

import os

import pytest

from event_streaming_toy_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    # per-run warehouse: the persistent table catalog
    # (operators/warehouse.py) survives sessions BY DESIGN, so a
    # durable location would leak CREATE TABLE names across pytest runs
    import tempfile

    s.conf.set(
        "spark_graft.warehouse.dir", tempfile.mkdtemp(prefix="txwh_")
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


#: Modules whose FIRST test is too slow for the fast subset — the
#: named test is marked instead (must be a cheap, representative one).
_FAST_OVERRIDES: dict[str, str] = {}

#: Extra tests included in the fast subset beyond the one-per-module
#: default, as (module_basename, test_name_prefix).
_FAST_EXTRAS: set[tuple[str, str]] = {
    # the merge-on-read DV-or-drop step every row-level DML op shares
    ("test_txtable_dv.py", "test_mor_delete_fully_dead_file_drops_whole"),
    # the CEP aggregate that the batch and streaming entries share
    (
        "test_streaming.py",
        "test_cep_stream_matches_batch_across_micro_batches",
    ),
}


def _stale_fast_names(items, overrides=None, extras=None) -> list[str]:
    """``_FAST_OVERRIDES`` / ``_FAST_EXTRAS`` entries naming a test
    module that is not in this directory, or a test function that its
    collected module does not define.  Judged per module, so a run
    that collects only some files (or selects single tests) flags
    nothing it cannot see."""
    import os.path

    overrides = _FAST_OVERRIDES if overrides is None else overrides
    extras = _FAST_EXTRAS if extras is None else extras
    here = os.path.dirname(os.path.abspath(__file__))
    modules = {}
    for item in items:
        mod = getattr(item, "module", None)
        if mod is not None:
            modules[os.path.basename(item.location[0])] = mod
    stale = []
    for mod, name in sorted(set(overrides.items()) | set(extras)):
        if not os.path.exists(os.path.join(here, mod)):
            stale.append(f"{mod} (no such test module)")
        elif mod in modules and not hasattr(modules[mod], name):
            stale.append(f"{mod}::{name} (no such test)")
    return stale


def pytest_collection_modifyitems(config, items):
    """Mark a driver-facing FAST subset (VERDICT r12 item 7): the full
    suite is ~1.5 h, which exceeds the driver's pytest budget, so
    ``-m fast`` selects one representative test per module (= per
    operator family) — the first collected test by default, or the
    ``_FAST_OVERRIDES`` entry where the first is slow.  Target: <10 min
    wall on the 32-core box.  A stale override or extra fails the
    collection: it would otherwise drop its module from ``-m fast``
    without a word."""
    import os.path

    stale = _stale_fast_names(items)
    if stale:
        raise pytest.UsageError(
            "stale fast-subset names in tests/conftest.py: "
            + ", ".join(stale)
        )
    first_seen: set[str] = set()
    for item in items:
        mod = os.path.basename(item.location[0])
        name = item.name.split("[")[0]
        override = _FAST_OVERRIDES.get(mod)
        if override is not None:
            if name == override:
                item.add_marker(pytest.mark.fast)
        elif mod not in first_seen:
            first_seen.add(mod)
            item.add_marker(pytest.mark.fast)
        if (mod, name) in _FAST_EXTRAS:
            item.add_marker(pytest.mark.fast)
