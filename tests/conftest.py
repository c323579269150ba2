import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quake_vector_search_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _named_node_ids(config) -> list[tuple[str, str]]:
    """(absolute file path, node-id tail) for every command-line
    argument that names a test by node id (``file.py::test_name``)."""
    out = []
    for arg in config.args:
        path, sep, tail = arg.partition("::")
        if sep:
            full = os.path.join(str(config.invocation_params.dir), path)
            out.append((os.path.normpath(full), tail))
    return out


@pytest.hookimpl(wrapper=True)
def pytest_collection_modifyitems(config, items):
    """A test named by node id runs whatever the marker expression
    says: ``addopts = -m "not slow"`` would otherwise deselect a slow
    test targeted as ``pytest tests/x.py::test_y``, and the run would
    exit 5 ("no tests ran"). Named items are held out of the marker
    and keyword deselection and put back in collection order; runs
    that name no node id (``pytest tests/``) are untouched."""
    named = _named_node_ids(config)

    def is_named(item):
        tail = item.nodeid.partition("::")[2]
        return any(os.path.normpath(str(item.path)) == path
                   and (tail == want or tail.startswith(want + "[")
                        or tail.startswith(want + "::"))
                   for path, want in named)

    held = {id(i) for i in items if is_named(i)} if named else set()
    if not held:
        return (yield)
    order = list(items)
    items[:] = [i for i in items if id(i) not in held]
    result = yield
    keep = held | {id(i) for i in items}
    items[:] = [i for i in order if id(i) in keep]
    return result
