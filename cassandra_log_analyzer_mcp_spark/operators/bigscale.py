"""Scale knob for the generated BIG regimes.

The big-dedup and big-ANN regimes are id-parametric md5 recipes —
growing N is a strict superset of the smaller drop (doc/vector i has
the SAME bytes at every scale), so one integer multiplies both
corpora without forking any recipe:

- ``BIG_SCALE`` = ``SPARK_GRAFT_BIG_SCALE`` (default 1; the graded
  pinned tables in tests/test_big_dedup.py and tests/test_big_ann.py
  are derived at scale 1 and skip themselves otherwise).
- dedup.BIG_DOC_N and similarity.BIG_EMB_N scale linearly;
  similarity.BIG_IVF_CELLS scales as √N (the FAISS cells ≈ √N
  guidance the scale-1 value already follows).
- Generated-drop directories are scale-qualified so two scales never
  share a parquet path within one process tree.

tools/scaling_big.py drives the scale-3 leg: it re-derives sample
docs/vectors at scale-3-only ids in pure Python (the pinned-recipe
discipline at the new decade) and records walls + candidate censuses
against the per-family candidate-growth design bound.
"""

from __future__ import annotations

import os


def _parse_big_scale() -> int:
    """Validated at import: a non-integer fails with a pointed
    message, and < 1 is rejected rather than silently emptying the
    regimes."""
    raw = os.environ.get("SPARK_GRAFT_BIG_SCALE", "1")
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_BIG_SCALE={raw!r} is not an integer; it "
            "multiplies the generated big-regime corpus sizes "
            "(default 1)"
        ) from None
    if val < 1:
        raise ValueError(
            f"SPARK_GRAFT_BIG_SCALE={val} must be >= 1"
        )
    return val


BIG_SCALE = _parse_big_scale()
