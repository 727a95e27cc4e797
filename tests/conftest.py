from __future__ import annotations

import pytest

from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session import (
    get_spark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s


def plan_nodes(df) -> list:
    """Every node of ``df``'s physical plan, depth first: an adaptive
    plan contributes its current plan (the final one once it has run)
    and each query stage the plan it wraps."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        out.append(node)
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def count_nodes(df, suffix: str) -> int:
    """How many physical-plan nodes of ``df`` have a name ending in
    ``suffix`` (``"EvalPython"`` counts Arrow and batch Python UDFs)."""
    return sum(n.nodeName().endswith(suffix) for n in plan_nodes(df))


def file_scans(df, location: str) -> int:
    """How many file-source scans in ``df``'s plan read under ``location``."""
    n = 0
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            n += any(location in roots.apply(i).toString() for i in range(roots.size()))
    return n
