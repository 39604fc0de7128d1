"""Self-tests of the benchmark's own arithmetic and tracing.

    python3 -m pytest perfbench/ -q

The event-log test starts a small local Spark session (about 20 s).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import stats  # noqa: E402
from tracing import (  # noqa: E402
    EventAttribution, Tracer, layer_shares, per_layer_metrics, read_event_log,
)


# -- percentile rule -----------------------------------------------------


def test_tail_needs_more_than_twice_beyond_samples():
    assert stats.tail_latency(range(20)) is None


def test_tail_is_the_value_with_ten_samples_above_it():
    t = stats.tail_latency([float(x) for x in range(1, 101)])
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100}
    t = stats.tail_latency([float(x) for x in range(21, 0, -1)])
    assert t["value"] == 11.0 and t["n"] == 21
    assert 50.0 < t["percentile"] < 53.0


# -- span self time ------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    # children overlap each other and one sticks out of the parent
    assert stats.self_time(0.0, 10.0, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(-5, 20)]) == 0.0


def test_tracer_self_times_partition_the_root():
    tr = Tracer()
    with tr.span("root", "plans") as root:
        with tr.span("child", "operators.dedup"):
            with tr.span("grandchild", "sources"):
                time.sleep(0.01)
            time.sleep(0.01)
        time.sleep(0.01)
    selfs = tr.self_times()
    assert sum(selfs.values()) == pytest.approx(root.end - root.start, abs=1e-6)
    assert all(v > 0.005 for v in selfs.values())
    assert [s.parent for s in tr.spans] == [None, 0, 1]


class _NoSpark:
    class sparkContext:  # noqa: N801 - stands in for SparkSession.sparkContext
        @staticmethod
        def setJobGroup(*_):
            pass


def test_layer_shares_split_timed_request_time():
    tr = Tracer()
    for pass_no in (-1, 0):  # the warm-up request is not counted
        with tr.request(_NoSpark, f"r{pass_no}", "query", "q", pass_no):
            with tr.span("plans.build", "plans"):
                with tr.span("dedup.f", "operators.dedup"):
                    time.sleep(0.02)
            with tr.span("execute", "execute"):
                time.sleep(0.02)
    shares = layer_shares(tr)
    assert set(shares) == {"request", "plans", "operators", "execute"}
    assert sum(shares.values()) == pytest.approx(1.0)
    assert shares["operators"] > 0.3 and shares["execute"] > 0.3


# -- crime_etl file accounting -------------------------------------------


def test_tree_stats_counts_data_files_only(tmp_path):
    import workloads

    part = tmp_path / "year=2024" / "month=1"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 10)
    (part / ".part-0.parquet.crc").write_bytes(b"c")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    meta = tmp_path / "_spark_metadata"
    meta.mkdir()
    (meta / "0").write_bytes(b"m" * 100)
    (meta / "1.compact").write_bytes(b"m" * 100)
    assert workloads.tree_stats(str(tmp_path)) == {str(part / "part-0.parquet"): 10}


# -- tracing overhead baseline -------------------------------------------


def test_overhead_baseline_needs_same_seed_and_code(tmp_path):
    import run

    def record(name, seed, code, wall):
        rec = {"result": {"metrics": {"wall_s": {"value": wall}}}, "run": {"code": code}}
        (tmp_path / f"{name}-crime_etl-seed{seed}-trace0-1.json").write_text(json.dumps(rec))

    record("a", 1, "abc", 2.0)
    record("b", 1, "abc", 4.0)
    record("c", 2, "abc", 100.0)  # another seed
    record("d", 1, "old", 100.0)  # other code
    assert run._prior_untraced_wall(str(tmp_path), "crime_etl", 1, "abc") == 3.0
    assert run._prior_untraced_wall(str(tmp_path), "crime_etl", 3, "abc") is None


def test_code_fingerprint_follows_program_files(tmp_path):
    import run

    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "m.py").write_text("x = 1\n")
    (tmp_path / ".perfbench_results").mkdir()
    first = run.code_fingerprint(str(tmp_path))
    (tmp_path / ".perfbench_results" / "r.py").write_text("not code\n")
    (tmp_path / "notes.txt").write_text("not code\n")
    assert run.code_fingerprint(str(tmp_path)) == first
    (tmp_path / "pkg" / "m.py").write_text("x = 2\n")
    assert run.code_fingerprint(str(tmp_path)) != first


# -- /proc RSS sampler ---------------------------------------------------


def _fake_proc(root, pid, ppid, rss_kb):
    d = root / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} (a (b) c) S {ppid} 1 1 0\n")
    (d / "status").write_text(f"Name:\tx\nVmRSS:\t {rss_kb} kB\n")


def test_rss_sums_the_process_tree(tmp_path):
    _fake_proc(tmp_path, 10, 1, 100)   # root
    _fake_proc(tmp_path, 11, 10, 200)  # child
    _fake_proc(tmp_path, 12, 11, 300)  # grandchild
    _fake_proc(tmp_path, 13, 1, 999)   # unrelated
    sampler = stats.RssSampler(lambda: [10], proc_root=str(tmp_path))
    assert sampler.sample() == 600 * 1024
    assert sampler.peak_bytes == 600 * 1024


def test_rss_sampler_sees_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        kids = stats.descendants([os.getpid()], stats.ppid_map("/proc"))
        assert child.pid in kids
        with stats.RssSampler(lambda: [os.getpid()], interval=0.05) as s:
            time.sleep(0.2)
        assert s.peak_bytes > stats.rss_bytes(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)


# -- BENCHMARK.json agrees with the code ---------------------------------


def test_benchmark_json_lists_what_the_runner_reports():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v[0] for k, v in run.PER_LAYER.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


# -- event log parsing on a tiny traced run ------------------------------


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    d = tmp_path_factory.mktemp("traced")
    os.makedirs(d / "log")
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{d}/log")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.local.dir", str(d / "local"))
        .getOrCreate()
    )
    src = d / "src"
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(str(src))
    tr = Tracer()
    try:
        with tr.request(spark, "r1", "query", "agg", 0):
            spark.read.parquet(str(src)).groupBy("k").count().collect()
        with tr.request(spark, "r2", "query", "udf", 0):
            def double(batches):
                import pyarrow.compute as pc

                for b in batches:
                    yield b.set_column(0, "id", pc.multiply(b.column(0), 2))
            df = spark.range(50).mapInArrow(double, "id long")
            assert sorted(r.id for r in df.collect())[-1] == 98
        with tr.request(spark, "r3", "query", "stream", 0):
            q = (spark.readStream.schema("id long, k long").parquet(str(src))
                 .groupBy("k").count().writeStream.format("memory")
                 .queryName("selftest_stream").outputMode("complete")
                 .option("checkpointLocation", str(d / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
    finally:
        spark.stop()
    events = read_event_log(str(d / "log"))
    return tr, EventAttribution(events, tr.requests)


def test_event_log_attributes_jobs_and_tasks(traced):
    tr, att = traced
    p = att.per["r1"]
    assert p["jobs"] >= 1 and p["stages"] >= 1 and p["tasks"] >= 1
    assert p["input_bytes"] > 0 and p["number of files read"] >= 1
    assert att.driver_only_s(tr.requests[0]) < tr.requests[0].end - tr.requests[0].start


def test_event_log_reads_python_and_streaming_metrics(traced):
    tr, att = traced
    assert att.per["r2"]["data sent to Python workers"] > 0
    assert att.per["r2"]["data returned from Python workers"] > 0
    s = att.per["r3"]
    assert s["batches"] >= 1 and s["state_rows"] == 7 and s["add_batch_s"] > 0


def test_per_layer_metrics_average_over_passes(traced):
    tr, att = traced
    one = per_layer_metrics(tr, att, n_passes=1, cores=2)
    two = per_layer_metrics(tr, att, n_passes=2, cores=2)
    assert one["session.jobs"] == pytest.approx(2 * two["session.jobs"])
    assert one["streaming.state_rows"] == 7
    assert 0 < one["session.core_util"] <= 1
