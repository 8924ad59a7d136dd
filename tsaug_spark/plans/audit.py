"""Physical-plan audit rules shared by tools/explain_audit.py and the
pytest plan gate (tests/test_explain_gate.py).

The round-5 rule: an UNPARTITIONED window (``Window.orderBy`` with no
``partitionBy``) funnels every row of its input through ONE task — safe
only when the input frame is already bounded (a post-aggregate daily /
hourly screen, or a top-k limit), never over raw event volume.  The
repo's daily-series screens all sit on HashAggregate outputs bounded by
the retention horizon; this rule makes that invariant CHECKED instead of
by-convention: every unpartitioned window node (WindowExec, or the
pandas window UDF node) in a plan must have an aggregate or a limit
somewhere below it in the same plan subtree.
"""

from __future__ import annotations

import json
from typing import List, Tuple

#: plan-node classes that bound the row count flowing into a window:
#: any aggregate (group-key cardinality, retention-bounded for the
#: day/hour screens) or any limit / top-k operator
_BOUNDING_MARKERS = (
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "WindowGroupLimitExec",
    # streaming twins: a stateful aggregation bounds likewise
    "StateStoreSaveExec",
)

#: window plan nodes, by simple class name: the JVM window, and the
#: pandas window UDF node under its Spark 4 name (ArrowWindowPythonExec,
#: in execution.python) and its Spark 3 name (WindowInPandasExec)
_WINDOW_CLASSES = frozenset(
    ("WindowExec", "ArrowWindowPythonExec", "WindowInPandasExec")
)


def _build_tree(nodes: List[dict], i: int = 0) -> Tuple[dict, int]:
    """Reconstruct the TreeNode pre-order JSON array into a tree."""
    node = nodes[i]
    n = int(node.get("num-children", 0))
    children = []
    j = i + 1
    for _ in range(n):
        child, j = _build_tree(nodes, j)
        children.append(child)
    return {"node": node, "children": children}, j


def _subtree_has_bounding(tree: dict) -> bool:
    cls = tree["node"].get("class", "")
    if any(m in cls for m in _BOUNDING_MARKERS):
        return True
    return any(_subtree_has_bounding(c) for c in tree["children"])


def _scan_windows(tree: dict, violations: list) -> None:
    node = tree["node"]
    cls = node.get("class", "")
    if cls.rsplit(".", 1)[-1] in _WINDOW_CLASSES:
        part = node.get("partitionSpec", [])
        if not part and not any(
            _subtree_has_bounding(c) for c in tree["children"]
        ):
            violations.append(
                "unpartitioned window over an unbounded input "
                f"(orderSpec={_order_desc(node)})"
            )
    for c in tree["children"]:
        _scan_windows(c, violations)


def _order_desc(node: dict) -> str:
    try:
        order = node.get("orderSpec", [])
        names = []
        for o in order:
            # orderSpec entries are nested TreeNode arrays; grab any
            # attribute names present for a readable message
            blob = json.dumps(o)
            for key in ('"name":', '"name" :'):
                idx = 0
                while True:
                    idx = blob.find(key, idx)
                    if idx < 0:
                        break
                    frag = blob[idx + len(key):idx + len(key) + 40]
                    names.append(frag.split('"')[1])
                    idx += len(key)
        return ",".join(sorted(set(names))) or "?"
    except Exception:
        return "?"


def unpartitioned_window_violations(df) -> List[str]:
    """Return a violation message per unpartitioned window in ``df``'s
    physical plan whose subtree contains no aggregate/limit.  Empty
    list = the plan honors the bounded-window invariant.

    Uses ``sparkPlan()`` (the physical plan before AQE wrapping):
    ``executedPlan()`` under AQE is an opaque AdaptiveSparkPlanExec
    whose subtree does not serialize through ``toJSON``."""
    blob = df._jdf.queryExecution().sparkPlan().toJSON()
    nodes = json.loads(blob)
    if not nodes:
        return []
    tree, _ = _build_tree(nodes)
    violations: List[str] = []
    _scan_windows(tree, violations)
    return violations
