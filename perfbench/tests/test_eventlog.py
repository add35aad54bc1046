"""The event-log parser on a tiny labelled local job."""

import pytest

from perfbench import eventlog


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    from perfbench.run import start_session, stop_jvm

    work = tmp_path_factory.mktemp("work")
    log_dir = work / "eventlog"
    log_dir.mkdir()
    spark = start_session(str(work), 2, str(log_dir))
    try:
        sc = spark.sparkContext

        def double(batches):
            for pdf in batches:
                pdf["v"] = pdf["v"] * 2
                yield pdf

        sc.setJobDescription(eventlog.LABEL_PREFIX + "7")
        df = (
            spark.range(0, 1000, numPartitions=2)
            .selectExpr("id % 5 AS k", "id AS v")
            .mapInPandas(double, "k long, v long")
            .groupBy("k")
            .sum("v")
        )
        rows = sorted(tuple(r) for r in df.collect())
        sc.setJobDescription(None)
        spark.range(10).count()  # unlabelled: must not be attributed
    finally:
        stop_jvm(spark)
    assert rows == [(k, 2 * sum(range(k, 1000, 5))) for k in range(5)]
    return eventlog.parse(eventlog.read_events(str(log_dir)))


def test_only_the_labelled_call_is_reported(log):
    assert list(log) == [7]


def test_jobs_stages_and_tasks(log):
    call = log[7]
    assert len(call.jobs) >= 1
    assert len(call.stages) >= 2  # map side + reduce side of the groupBy
    assert call.tasks >= 3
    assert all(start <= end for _, start, end in call.jobs)
    assert {job for _, job, _, _ in call.stages} <= {jid for jid, _, _ in call.jobs}


def test_shuffle_bytes(log):
    call = log[7]
    assert call.shuffle_write_bytes > 0
    assert call.shuffle_write_records >= 5
    assert call.shuffle_read_bytes == call.shuffle_write_bytes


def test_one_map_in_pandas_node_and_its_metrics(log):
    call = log[7]
    python = {n: c for n, c in call.nodes.items() if n in eventlog.PYTHON_NODES}
    assert python == {"MapInPandas": 1}
    assert call.sql[("MapInPandas", "data sent to Python workers")] > 0
    assert call.sql[("MapInPandas", "number of output rows")] == 1000
    assert call.sql[("MapInPandas", "time to run Python workers")] > 0
