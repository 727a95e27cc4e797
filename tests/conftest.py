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


def py4j_calls(fn) -> int:
    """How many py4j gateway round trips ``fn()`` makes: the calls of
    ``ClientServerConnection.send_command``, through which every command
    the driver sends the JVM goes, made on the thread that runs ``fn``.
    Other threads' commands are not counted: py4j's finalizer thread
    sends a delete command (``m``/``d``/id) for each proxy that Python
    freed, up to a second after it was freed, so one lands inside
    ``fn`` at random."""
    import threading
    from unittest import mock

    from py4j.clientserver import ClientServerConnection

    send, calls, caller = ClientServerConnection.send_command, [], threading.get_ident()

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == caller:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    with mock.patch.object(ClientServerConnection, "send_command", counted):
        fn()
    return len(calls)


def job_stats(spark, fn) -> tuple[int, list[int]]:
    """The Spark jobs ``fn()`` runs, counted through a job group: how
    many, and the ``numTasks`` of each stage they ran (skipped stages,
    whose output an earlier job already wrote, are left out)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job and stage events reach the status store through the async
    # listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = []
    for job in sorted(jobs):
        for stage_id in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks:
                tasks.append(stage.numTasks)
    return len(jobs), tasks
