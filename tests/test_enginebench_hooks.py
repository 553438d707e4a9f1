"""The traced engine benchmark (``enginebench/run.py --trace 1``) wraps
engine callables by name (``enginebench/layers.py:install``). A refactor
that deletes or renames one of them would only show up as a crash of a
traced run; this resolves every hook without starting Spark."""

from __future__ import annotations

import os

ENGINEBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "enginebench"
)


class _ResolvingTracer:
    """Tracer stub: ``wrap`` only looks the attribute up, so a missing
    name raises AttributeError; nothing is patched."""

    def __init__(self):
        self.hooks: list[str] = []

    def wrap(self, owner, attr, name, on_result=None):
        getattr(owner, attr)
        self.hooks.append(f"{owner.__name__}.{attr}")


def test_traced_benchmark_hooks_resolve(monkeypatch):
    monkeypatch.syspath_prepend(ENGINEBENCH)
    import layers

    t = _ResolvingTracer()
    layers.install(t)
    assert "Searcher._narrow_single_phrase" in t.hooks
    assert "Searcher._wand_fast_path" in t.hooks
