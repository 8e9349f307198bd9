"""Physical-plan inspection utilities.

Programmatic access to the facts that define a query's 100 TB posture:
how many shuffles and broadcasts the plan costs, which join strategies
Catalyst picked (a cartesian or nested-loop join among them), whether
aggregation is partial, and how often each table and its heavy column is
read. ``audit`` is the one reader of these facts: ``tests/test_plans.py``
compares it against ``plans/inventory.json`` for every registered query,
and it is available interactively for tuning:

    from json_parquet_convertor_spark.plans.inspect import audit
    audit(df)   # -> {"shuffles": 1, "joins": {"BroadcastHashJoin": 1}, ...}
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

from json_parquet_convertor_spark.sources.io import TABLES

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
#: a plan line's node name, after the tree markers and codegen stage id
_NODE_RE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\) )?(\w*)")
_TABLE_RE = re.compile(r"Location: [^\[]*\[[^\]]*?/(\w+)\.parquet\b")
#: the wide per-row payloads: documents.text, embeddings.embedding and
#: events.props
_HEAVY_RE = re.compile(r"ReadSchema: .*[<,](?:text|embedding|props):")


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def audit(df: DataFrame) -> dict:
    """The plan facts that matter at scale, from the executed-plan string.

    - ``shuffles``: ``Exchange`` nodes (broadcast and reused ones apart);
    - ``broadcasts``: ``BroadcastExchange`` nodes;
    - ``joins``: count per join node, ``CartesianProduct`` included;
    - ``hash_aggregates``, ``take_ordered``, ``generates``: counts of
      ``HashAggregate``, ``TakeOrderedAndProject`` and ``Generate``;
    - ``scans``: ``FileScan`` count per fixture table, and ``heavy_scans``
      of those, the ones whose read schema holds ``text``, ``embedding``
      or ``props``. Any file outside the fixture counts as ``"other"``:
      sink and round-trip queries write a fresh directory per call, so
      their paths are not stable facts.

    A cached relation's subtree is printed, and counted, once per
    consumer. Counters hold only the keys that occur."""
    nodes: Counter = Counter()
    scans: Counter = Counter()
    heavy: Counter = Counter()
    for line in physical_plan(df).splitlines():
        node = _NODE_RE.match(line).group(1)
        nodes[node] += 1
        if node == "FileScan":
            t = _TABLE_RE.search(line)
            label = t.group(1) if t and t.group(1) in TABLES else "other"
            scans[label] += 1
            if _HEAVY_RE.search(line):
                heavy[label] += 1
    return {
        "shuffles": nodes["Exchange"],
        "broadcasts": nodes["BroadcastExchange"],
        "joins": {j: nodes[j] for j in _JOINS if nodes[j]},
        "hash_aggregates": nodes["HashAggregate"],
        "take_ordered": nodes["TakeOrderedAndProject"],
        "generates": nodes["Generate"],
        "scans": dict(scans),
        "heavy_scans": dict(heavy),
    }


#: expression classes that re-tokenize a string; inside a HOF lambda each
#: is re-evaluated once per array ELEMENT — O(len²) per row on
#: --longtext megadocs. StringSplitSQL backs split_part()/sentences-style
#: SQL splits — same cost shape as StringSplit.
_SPLIT_CLASSES = ("StringSplit", "StringSplitSQL")


def _iter_tree_lists(obj):
    """Yield every flat pre-order TreeNode list inside a parsed
    ``TreeNode.toJSON()`` structure (the top-level plan list, and every
    expression tree embedded in a plan-node field)."""
    if isinstance(obj, list):
        if obj and all(
            isinstance(n, dict) and "class" in n and "num-children" in n
            for n in obj
        ):
            yield obj
        for v in obj:
            yield from _iter_tree_lists(v)
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _iter_tree_lists(v)


def _subtree_end(nodes: list[dict], i: int) -> int:
    """End index (exclusive) of the pre-order subtree rooted at ``i``."""
    j = i + 1
    for _ in range(int(nodes[i].get("num-children", 0))):
        j = _subtree_end(nodes, j)
    return j


def lambda_split_violations(df: DataFrame) -> list[str]:
    """Class paths of every quadratic-per-row string scan inside a HOF
    lambda body.

    Catalyst does no subexpression elimination across a lambda boundary,
    and flat-string scanners restart from the string HEAD, so two shapes
    are O(len²) per row on --longtext megadocs/giant tokens:

    - ``transform(seq, i -> split(text)[i])`` — re-splits the whole
      document per element. The correct shape binds the split as
      the HOF *input* (a sibling, not a descendant, of the lambda).
    - ``transform(sequence(1, n), i -> substring(w, i, k))`` where ``w``
      comes from OUTER scope and the position depends on the lambda
      variable — UTF8 substring seeks character boundaries from the
      string start, so position-proportional cost × len elements
      (q_bpe_merge took 23 CPU-minutes on one 64 KiB token). The correct
      shape binds ``split(w, '')`` once and pairs via zip_with/slice.
      ``substring(tok, ...)`` where ``tok`` IS the lambda variable is
      linear in the element and not flagged; a lambda-independent
      position is constant work per element and not flagged either.

    Walks the optimized logical plan via ``toJSON()`` — one py4j call,
    never truncated — so ``spark.sql.debug.maxToStringFields`` plan-string
    truncation can't hide a violation and a sibling split() on the same
    formatted line can't false-positive, as a line scan did.
    """
    import json

    def subtree_has(nodes, i, suffix) -> bool:
        return any(
            nodes[k]["class"].endswith(suffix)
            for k in range(i, _subtree_end(nodes, i))
        )

    tree = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    hits: list[str] = []
    for nodes in _iter_tree_lists(tree):
        for i, node in enumerate(nodes):
            if not node["class"].endswith(".LambdaFunction"):
                continue
            end = _subtree_end(nodes, i)
            k = i + 1
            while k < end:
                cls = nodes[k]["class"]
                short = cls.rsplit(".", 1)[-1]
                if short in _SPLIT_CLASSES:
                    hits.append(cls)
                elif short == "Substring":
                    # children in pre-order: str, pos, len
                    c_str = k + 1
                    c_pos = _subtree_end(nodes, c_str)
                    c_len = _subtree_end(nodes, c_pos)
                    if c_len <= end and not subtree_has(
                        nodes, c_str, ".NamedLambdaVariable"
                    ) and subtree_has(
                        nodes, c_pos, ".NamedLambdaVariable"
                    ):
                        hits.append(cls)
                k += 1
    return hits
