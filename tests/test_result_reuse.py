"""Result reuse: a repeated SELECT is served from a retained result.

The executor keys every admitted query on its SQL, row cap, output
columns, canonical analyzed plan and leaf versions; a retained COMPLETED
result with the same key hands its Arrow batches to the new query, which
then launches no Spark job. These tests pin what must and must not share.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pytest

from iceberg_explorer_spark.lifecycle.executor import QueryExecutor
from iceberg_explorer_spark.lifecycle.models import QueryStatus
from iceberg_explorer_spark.observability import QueryObserver, Recorder
from iceberg_explorer_spark.service.streaming_results import stream_results


@pytest.fixture()
def executor(spark):
    return QueryExecutor(spark, observer=QueryObserver(Recorder()))


def _rows(result) -> list[dict]:
    return pa.Table.from_batches(result.batches, result.schema).to_pylist()


def _jobs(spark, result) -> int:
    tracker = spark.sparkContext.statusTracker()
    return len(tracker.getJobIdsForGroup(str(result.query_id)))


def _reused(executor) -> int:
    return executor.observer.recorder.results_reused


def test_repeated_select_shares_rows_and_launches_no_job(spark, executor):
    sql = "SELECT id, id * 3 AS x FROM range(50) WHERE id % 7 = 1"
    first = executor.execute(sql)
    second = executor.execute(sql)
    assert second.query_id != first.query_id
    assert second.status == QueryStatus.COMPLETED
    assert _rows(second) == _rows(first)
    assert second.metrics.rows_returned == first.metrics.rows_returned == 7
    assert second.reuse_key is not None and second.reuse_key == first.reuse_key
    assert _jobs(spark, first) > 0
    assert _jobs(spark, second) == 0
    # zero-copy: both results reference the same Arrow buffers
    assert second.batches[0].column(0).buffers()[1].address == (
        first.batches[0].column(0).buffers()[1].address
    )
    assert _reused(executor) == 1


def test_reuse_carries_truncated_and_rows_scanned(executor):
    sql = "SELECT id FROM range(20)"
    first = executor.execute(sql, max_rows=5)
    second = executor.execute(sql, max_rows=5)
    assert _reused(executor) == 1
    assert second.metrics.truncated is True
    assert second.metrics.rows_scanned == first.metrics.rows_scanned
    assert [r["id"] for r in _rows(second)] == [0, 1, 2, 3, 4]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT current_timestamp() AS t",
        "SELECT current_date() AS d",
        "SELECT id, now() AS t FROM range(3)",
        "SELECT current_user() AS u",
        "SELECT rand() AS r",
        "SELECT uuid() AS u",
    ],
)
def test_time_session_and_nondeterministic_functions_never_reused(
    spark, executor, sql
):
    executor.execute(sql)
    second = executor.execute(sql)
    assert second.reuse_key is None
    assert _reused(executor) == 0
    assert _jobs(spark, second) > 0


def test_python_udf_never_reused(spark, executor):
    spark.udf.register("reuse_plus_one", lambda x: x + 1, "long")
    sql = "SELECT reuse_plus_one(id) AS y FROM range(4)"
    executor.execute(sql)
    second = executor.execute(sql)
    assert second.reuse_key is None
    assert _reused(executor) == 0
    assert sorted(r["y"] for r in _rows(second)) == [1, 2, 3, 4]


def test_different_aliases_do_not_share(executor):
    a = executor.execute("SELECT id AS a FROM range(3)")
    b = executor.execute("SELECT id AS b FROM range(3)")
    assert a.reuse_key != b.reuse_key
    assert _reused(executor) == 0
    assert b.column_names() == ["b"]


def test_different_max_rows_not_reused(executor):
    sql = "SELECT id FROM range(10)"
    capped = executor.execute(sql, max_rows=3)
    full = executor.execute(sql, max_rows=100)
    assert _reused(executor) == 0
    assert capped.total_rows == 3 and capped.metrics.truncated is True
    assert full.total_rows == 10 and full.metrics.truncated is False


@pytest.mark.parametrize(
    "sql",
    [
        "EXPLAIN SELECT id FROM range(3)",
        "DESCRIBE FUNCTION abs",
        "SHOW DATABASES",
    ],
)
def test_commands_never_reused(executor, sql):
    executor.execute(sql)
    second = executor.execute(sql)
    assert second.reuse_key is None
    assert _reused(executor) == 0
    assert second.total_rows > 0


def test_redefined_temp_view_forces_fresh_result(spark, executor):
    sql = "SELECT id FROM reuse_view ORDER BY id"
    spark.range(3).createOrReplaceTempView("reuse_view")
    try:
        before = executor.execute(sql)
        spark.range(5).createOrReplaceTempView("reuse_view")
        after = executor.execute(sql)
    finally:
        spark.catalog.dropTempView("reuse_view")
    assert _reused(executor) == 0
    assert [r["id"] for r in _rows(before)] == [0, 1, 2]
    assert [r["id"] for r in _rows(after)] == [0, 1, 2, 3, 4]


def test_refreshed_parquet_table_forces_fresh_result(spark, executor, tmp_path):
    path = str(tmp_path / "reuse_t")
    table = f"reuse_t_{uuid.uuid4().hex[:8]}"
    spark.range(3).write.parquet(path)
    spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{path}'")
    sql = f"SELECT id FROM {table} ORDER BY id"
    try:
        first = executor.execute(sql)
        repeat = executor.execute(sql)
        assert _reused(executor) == 1  # file-backed tables do share
        assert _rows(repeat) == _rows(first)

        spark.range(10, 14).write.mode("overwrite").parquet(path)
        spark.sql(f"REFRESH TABLE {table}")
        fresh = executor.execute(sql)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert fresh.reuse_key != first.reuse_key
    assert _reused(executor) == 1
    assert [r["id"] for r in _rows(fresh)] == [10, 11, 12, 13]


def test_deleted_source_is_not_reused(executor):
    sql = "SELECT id * 2 AS y FROM range(6)"
    first = executor.execute(sql)
    executor.cleanup(first.query_id)
    again = executor.execute(sql)
    assert _reused(executor) == 0
    assert [r["y"] for r in _rows(again)] == [0, 2, 4, 6, 8, 10]


def test_evicted_source_is_not_reused(spark):
    ex = QueryExecutor(
        spark, observer=QueryObserver(Recorder()), max_retained_results=1
    )
    sql = "SELECT id + 1 AS y FROM range(4)"
    first = ex.execute(sql)
    ex.execute("SELECT 1 AS one")  # evicts ``first``
    assert first.query_id not in ex._registry
    again = ex.execute(sql)
    assert ex.observer.recorder.results_reused == 0
    assert [r["y"] for r in _rows(again)] == [1, 2, 3, 4]


def test_streaming_one_sharer_leaves_the_other_unstreamed(executor):
    sql = "SELECT id FROM range(150)"
    a = executor.execute(sql)
    b = executor.execute(sql)
    assert _reused(executor) == 1
    list(stream_results(b, page_size=250))
    assert b.streamed_complete is True and b.rows_streamed_hwm == 150
    assert a.streamed_complete is False and a.rows_streamed_hwm == 0


def test_reuse_counter_reset(executor):
    executor.execute("SELECT 7 AS seven")
    executor.execute("SELECT 7 AS seven")
    rec = executor.observer.recorder
    assert rec.results_reused == 1
    assert len(rec.query_duration_seconds) == 2  # both executes counted
    rec.reset()
    assert rec.results_reused == 0
