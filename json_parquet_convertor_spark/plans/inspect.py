"""Physical-plan inspection utilities.

Programmatic access to the facts that define a query's 100 TB posture:
which filters reached the scan, which columns survived pruning, what join
strategies Catalyst picked, how many shuffles the plan costs, and whether
anything quadratic (cartesian / nested-loop) slipped in. Used by
``tests/test_plans.py`` to pin plan shapes as regression tests, and
available interactively for tuning:

    from json_parquet_convertor_spark.plans.inspect import audit
    audit(df)   # -> {"exchanges": 1, "joins": ["BroadcastHashJoin"], ...}
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# physical operators that imply a quadratic or driver-bound shape
_QUADRATIC = ("CartesianProduct",)
_JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def audit(df: DataFrame) -> dict:
    """Summarize the plan facts that matter at scale."""
    plan = physical_plan(df)
    lines = plan.splitlines()
    return {
        "exchanges": sum(
            1 for l in lines if "Exchange" in l and "Reused" not in l
        ),
        "joins": _JOIN_RE.findall(plan),
        "pushed_filters": [
            m for l in lines for m in re.findall(r"PushedFilters: \[([^\]]*)\]", l)
        ],
        "read_schemas": [
            l.split("ReadSchema:", 1)[1].strip() for l in lines if "ReadSchema:" in l
        ],
        "has_quadratic": any(q in plan for q in _QUADRATIC),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "hash_aggregates": plan.count("HashAggregate"),
        "windows": [l.strip() for l in lines if re.search(r"\bWindow \[", l)],
    }


#: expression classes that re-tokenize a string; inside a HOF lambda each
#: is re-evaluated once per array ELEMENT — O(len²) per row (the r11
#: --longtext killer). StringSplitSQL backs split_part()/sentences-style
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
      document per element (r11). The correct shape binds the split as
      the HOF *input* (a sibling, not a descendant, of the lambda).
    - ``transform(sequence(1, n), i -> substring(w, i, k))`` where ``w``
      comes from OUTER scope and the position depends on the lambda
      variable — UTF8 substring seeks character boundaries from the
      string start, so position-proportional cost × len elements (r12,
      q_bpe_merge: 23 CPU-minutes on one 64 KiB token). The correct
      shape binds ``split(w, '')`` once and pairs via zip_with/slice.
      ``substring(tok, ...)`` where ``tok`` IS the lambda variable is
      linear in the element and not flagged; a lambda-independent
      position is constant work per element and not flagged either.

    Walks the optimized logical plan via ``toJSON()`` — one py4j call,
    never truncated — so ``spark.sql.debug.maxToStringFields`` plan-string
    truncation can't hide a violation and a sibling split() on the same
    formatted line can't false-positive (r11 ADVICE on the old line-scan).
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
