"""Engine exception types.

``OverScaleRefusal`` marks a BY-DESIGN refusal of over-scale input —
a query whose semantics bound its input size (e.g. the e2e fixture's
API snapshot, bounded by simultaneously-airborne aircraft) declining
a table-sized feed instead of silently degrading. A harness that
sweeps queries past their designed scale can catch exactly this type.
It subclasses ValueError so callers treating it as a plain usage
error keep working, while a GENUINE ValueError regression (size-parse
failure, invalid salt_groups, >512-family configs) still fails loudly
instead of being mislabeled "refused".
"""

from __future__ import annotations


class OverScaleRefusal(ValueError):
    """Input exceeds the scale this query refuses by design."""
