"""Plan-tree counts on hand-built plans, and the median helper."""

from perfbench import stats


def test_plan_stats_counts_known_nodes():
    scan = ("Scan parquet ", [])
    ckpt = ("Scan ExistingRDD", [])
    tree = (
        "WholeStageCodegen (2)",
        [
            ("BroadcastNestedLoopJoin", [
                ("ShuffleQueryStage", [("Exchange", [("ArrowEvalPython", [scan])])]),
                ("BroadcastQueryStage", [("BroadcastExchange", [ckpt])]),
            ]),
            ("CartesianProduct", [("FlatMapGroupsInPandas", [ckpt]), scan]),
        ],
    )
    got = stats.plan_stats(tree)
    assert got == {
        "exchanges": 2,
        "file_scans": 2,
        "existing_rdd_scans": 2,
        "python_eval_nodes": 2,
        "bnlj_cartesian": 2,
        "nodes": 13,
    }


def test_plan_stats_single_leaf():
    assert stats.plan_stats(("LocalTableScan", []))["nodes"] == 1


def test_median_of_nothing_is_zero():
    assert stats.median([]) == 0.0
    assert stats.median(iter([3.0, 1.0, 2.0])) == 2.0


def test_cpu_ticks_count_child_processes():
    import subprocess
    import sys

    burn = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n"
    )
    before = stats.cpu_ticks()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert stats.cpu_seconds(before, stats.cpu_ticks()) >= 0.25
    finally:
        child.kill()
        child.wait()


def test_cpu_seconds_ignores_ended_threads():
    before = {(1, 1): 100, (1, 2): 50}
    after = {(1, 1): 130, (1, 3): 20}
    assert stats.cpu_seconds(before, after) * stats.os.sysconf("SC_CLK_TCK") == 50
