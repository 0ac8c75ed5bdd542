"""Independent change-classification reference for the change-feed
tests: a pure-Python net diff of two snapshots keyed by primary key.
It shares no code with the engine's classifier, so a test comparing a
feed against it never compares the classifier with itself."""

from __future__ import annotations

import math


def same_value(a, b) -> bool:
    """Null-safe value equality with NaN equal to NaN (Spark's
    ``eqNullSafe`` rule), inside lists, tuples, rows and maps too."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(same_value, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    return a == b


def net_diff(pre: dict, post: dict, to_v: int) -> list[tuple]:
    """The change rows between two ``{pk: row tuple}`` snapshots, each
    row extended with ``(_change_type, _commit_version)``: a key only in
    ``post`` is an insert, only in ``pre`` a delete, in both with a
    differing row an update pre/post-image pair; an unchanged row emits
    nothing. Sorted."""
    rows = []
    for pk, row in post.items():
        if pk not in pre:
            rows.append(row + ("insert", to_v))
        elif not same_value(pre[pk], row):
            rows.append(pre[pk] + ("update_preimage", to_v))
            rows.append(row + ("update_postimage", to_v))
    for pk, row in pre.items():
        if pk not in post:
            rows.append(row + ("delete", to_v))
    return sorted(rows)
