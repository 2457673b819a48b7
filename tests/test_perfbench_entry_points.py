"""The traced benchmark run (`perfbench/run.py --trace 1`) wraps the
package's entry points listed in `perfbench/spans.py`; a refactor that
renames or moves one of them would break that mode without failing any
other test."""

import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)

import spans  # noqa: E402


@pytest.mark.parametrize("module,path,name", spans.ENTRY_POINTS, ids=str)
def test_entry_point_resolves(module, path, name):
    owner, attr = spans._resolve(module, path)
    assert callable(getattr(owner, attr)), f"{module}:{path} ({name})"


def test_tracer_installs_and_uninstalls_cleanly():
    before = [(spans._resolve(m, p), p) for m, p, _ in spans.ENTRY_POINTS]
    originals = [getattr(owner, attr) for (owner, attr), _ in before]
    tracer = spans.Tracer()
    tracer.install()
    try:
        assert all(getattr(owner, attr) is not orig for ((owner, attr), _), orig in zip(before, originals))
    finally:
        tracer.uninstall()
    assert all(getattr(owner, attr) is orig for ((owner, attr), _), orig in zip(before, originals))
