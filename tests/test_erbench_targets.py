"""The benchmark's traced run patches layer functions by name.

``erbench/spans.py`` wraps every ``(owner, attribute)`` in ``TARGETS``
where its caller looks it up. A refactor that renames or moves one of
those functions must fail here, not at measurement time. Pure Python —
no SparkSession.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_span_target_resolves(monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(REPO, "erbench"))
    import spans

    try:
        assert spans.TARGETS
        for owner, attr, layer, *_ in spans.TARGETS:
            assert layer in spans.LAYERS, (owner, attr, layer)
            assert callable(getattr(spans._owner(owner), attr, None)), (
                f"{owner}.{attr} is gone; erbench's traced run patches it"
            )
    finally:
        sys.modules.pop("spans", None)
        sys.modules.pop("proc", None)
