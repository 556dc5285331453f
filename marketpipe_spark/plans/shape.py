"""Physical-plan shape extraction: the operator counts that determine a
plan's structural cost at scale (shuffles, sorts, join strategies).

Used by the ``plan`` CLI command, ``scripts/plan_snapshot.py`` (which
records a per-entry baseline), and ``tests/test_plan_shape.py`` (which
fails any entry whose shuffle/sort count grows vs the baseline).
"""

from __future__ import annotations


def plan_shape(plan_text: str) -> dict[str, int]:
    """Count plan operators from an executedPlan tree string. Line-based so
    'BroadcastExchange' is not double-counted as a shuffle 'Exchange'."""
    shape = {
        "shuffle_exchanges": 0,
        "broadcast_exchanges": 0,
        "sorts": 0,
        "hash_aggregates": 0,
        "sort_merge_joins": 0,
        "broadcast_hash_joins": 0,
        "shuffled_hash_joins": 0,
    }
    for line in plan_text.splitlines():
        if "BroadcastExchange" in line:
            shape["broadcast_exchanges"] += 1
        elif "Exchange" in line and "Reused" not in line:
            shape["shuffle_exchanges"] += 1
        if "SortMergeJoin" in line:
            shape["sort_merge_joins"] += 1
        elif "+- Sort " in line or line.strip().startswith("Sort "):
            shape["sorts"] += 1
        if "HashAggregate" in line:
            shape["hash_aggregates"] += 1
        if "BroadcastHashJoin" in line:
            shape["broadcast_hash_joins"] += 1
        if "ShuffledHashJoin" in line:
            shape["shuffled_hash_joins"] += 1
    return shape
