"""Physical-plan diagnostics: detect scale-killer shapes in a plan tree.

The per-query plan audit (tests/test_plan_audit.py, run on every
registered query by tests/test_entry_contract.py) greps executed plans
for patterns that silently survive small-SF correctness checks but
detonate at cluster scale. The string checks (CartesianProduct,
BatchEvalPython) live in the test; this module holds the one check that
needs tree structure: an ``Exchange SinglePartition`` feeding a
``Window`` whose input is a corpus-sized scan — the global-sort
``ntile``/``row_number`` mistake (caught in the wild in r3:
``length_bucketed_batches``, since redesigned to percentile-boundary
broadcast + per-sub-partition windows).

Heuristics, documented as such:

- The up-walk from the exchange passes through ordering/projection
  nodes and stops benign at aggregates and limits (their output is
  bounded by group count / k). A grouped aggregate is *assumed*
  cardinality-reducing — the audit is a tripwire for raw-scan global
  windows, not a cardinality prover.
- The child side is benign if EVERY scan under the exchange is guarded
  by an aggregate / limit / TakeOrdered on its path up to the exchange
  (post-``limit()`` top-k ranking, distinct-snapshot relations).
  ``LocalTableScan`` / ``Range`` leaves count as bounded literals.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_NODE_RE = re.compile(r"^([ :+|-]*)(.*)$")
_CODEGEN_RE = re.compile(r"^\*\(\d+\)\s*")

# up-walk: transparent nodes between an exchange and the window it feeds
_PASS_UP = (
    "Sort",
    "Project",
    "Filter",
    "ColumnarToRow",
    "InputAdapter",
    "WindowGroupLimit",
    "Coalesce",
)
# either side: nodes whose output is bounded (stops the walk benign)
_BOUNDING = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
)
_SCAN = ("FileScan", "Scan ", "BatchScan", "LocalTableScan", "Range")
_BOUNDED_LEAF = ("LocalTableScan", "Range")


@dataclass
class _Node:
    label: str
    depth: int
    parent: "_Node | None" = None
    children: list = field(default_factory=list)


def _label(rest: str) -> str:
    return _CODEGEN_RE.sub("", rest).strip()


def parse_plan_tree(plan: str) -> list[_Node]:
    """Parse ``executedPlan().toString()`` tree art into linked nodes."""
    nodes: list[_Node] = []
    stack: list[_Node] = []
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        prefix, rest = m.group(1), m.group(2)
        if not rest.strip():
            continue
        node = _Node(label=_label(rest), depth=len(prefix))
        while stack and stack[-1].depth >= node.depth:
            stack.pop()
        if stack:
            node.parent = stack[-1]
            stack[-1].children.append(node)
        stack.append(node)
        nodes.append(node)
    return nodes


def _starts_with_any(label: str, prefixes) -> bool:
    return any(label.startswith(p) for p in prefixes)


def _feeds_window(node: _Node) -> bool:
    """Walk up from an exchange; True iff a Window is reached before any
    bounding or opaque node."""
    cur = node.parent
    while cur is not None:
        if cur.label.startswith("Window"):
            return True
        if _starts_with_any(cur.label, _BOUNDING):
            return False
        if not _starts_with_any(cur.label, _PASS_UP):
            return False
        cur = cur.parent
    return False


def _has_unbounded_scan(node: _Node) -> bool:
    """True iff some scan under ``node`` reaches it with no bounding
    node on the path."""

    def walk(n: _Node, bounded: bool) -> bool:
        if _starts_with_any(n.label, _BOUNDING):
            bounded = True
        if _starts_with_any(n.label, _SCAN):
            if _starts_with_any(n.label, _BOUNDED_LEAF):
                return False
            return not bounded
        return any(walk(c, bounded) for c in n.children)

    return any(walk(c, False) for c in node.children)


def unbounded_single_partition_windows(plan: str) -> list[str]:
    """Offending ``Exchange SinglePartition`` nodes that feed a Window
    over an unbounded scan. Returns offender descriptions ([] = clean)."""
    out = []
    for node in parse_plan_tree(plan):
        if not node.label.startswith("Exchange SinglePartition"):
            continue
        if _feeds_window(node) and _has_unbounded_scan(node):
            out.append(
                "Exchange SinglePartition -> Window over unbounded scan"
            )
    return out
