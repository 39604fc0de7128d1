#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. One client drives the workload
closed-loop on ``local[4]`` through the package's own ``get_spark``.
Set-up (``setup_s``) is session start plus an untimed warm-up request
of every shape. A pass then sends every request shape once; a run
measures ``round(seconds / nominal pass time)`` passes, a fixed amount
of work, so two commits compared on one machine do the same requests.
Outputs are checked outside the timed passes.

Inputs are generated from the seed and cached in ``.perfbench_cache/``
outside the timed region; each run writes a record to
``.perfbench_results/`` that later runs never overwrite. The last line
of standard output is the JSON result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. ``--workload all``
runs every workload in turn.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

import stats
import workloads
from tracing import (
    EventAttribution, OPERATOR_MODULES, Tracer, layer_shares, per_layer_metrics,
    read_event_log,
)

CORES = 4
DRIVER_MEM = "2g"

# name -> unit, reported with --trace 0 (BENCHMARK.json "end_to_end")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
}

# name -> (unit, the gated end-to-end metric and workload it should
# move), reported with --trace 1 (BENCHMARK.json "per_layer"). Every
# target is a metric BENCHMARK.json gates on a workload it keeps;
# "informational" marks metrics that no gated request exercises.
_WALL_LLM = "wall_s on llm_curation"
_P50_LLM = "latency_p50_s on llm_curation"
_P50_ETL = "latency_p50_s on crime_etl"
_WALL_ETL = "wall_s on crime_etl"
_INFO = "informational: "
PER_LAYER = {
    "session.start_s": ("s", "setup_s on llm_curation and crime_etl"),
    "session.peak_rss_mb": ("MB", _INFO + "memory, not time"),
    "session.jobs": ("count", f"{_P50_LLM} and {_P50_ETL}"),
    "session.stages": ("count", f"{_P50_LLM} and {_P50_ETL}"),
    "session.tasks": ("count", f"{_P50_LLM} and {_P50_ETL}"),
    "session.core_util": ("ratio", _WALL_LLM),
    "session.executor_run_s": ("s", _WALL_LLM),
    "session.executor_cpu_s": ("s", _WALL_LLM),
    "session.gc_s": ("s", _WALL_LLM),
    "session.shuffle_read_bytes": ("bytes", _WALL_LLM),
    "session.shuffle_write_bytes": ("bytes", _WALL_LLM),
    "session.spill_bytes": ("bytes", _INFO + "no gated request spills"),
    "session.slowest_stage_s": ("s", _P50_LLM),
    "session.stage_skew": ("ratio", _P50_LLM),
    "plans.build_s": ("s", _P50_LLM),
    "plans.build_jobs": ("count", _P50_LLM),
    "plans.catalyst_s": ("s", f"{_P50_LLM} and {_WALL_ETL}"),
    "plans.driver_only_s": ("s", f"{_P50_LLM} and {_P50_ETL}"),
    "sources.load_s": ("s", _P50_LLM),
    "sources.files_read": ("count", _WALL_ETL),
    "sources.input_bytes": ("bytes", _WALL_ETL),
    **{f"operators.{m}.self_s": ("s", _WALL_LLM)
       for m in ("dedup", "similarity", "graphrank", "webcrawl")},
    **{f"operators.{m}.self_s": ("s", _INFO + "no gated request calls this module")
       for m in OPERATOR_MODULES if m not in ("dedup", "similarity", "graphrank", "webcrawl")},
    "operators.cuts": ("count", _P50_LLM),
    "functions.python_sent_bytes": ("bytes", _WALL_LLM),
    "functions.python_returned_bytes": ("bytes", _WALL_LLM),
    "functions.python_run_s": ("s", _WALL_LLM),
    "functions.python_start_s": ("s", _P50_LLM),
    "streaming.batches": ("count", _P50_ETL),
    "streaming.add_batch_s": ("s", _P50_ETL),
    "streaming.state_rows": ("count", _INFO + "stateful replays are ungated (event_replay)"),
    "streaming.state_bytes": ("bytes", _INFO + "stateful replays are ungated (event_replay)"),
    "streaming.state_commit_s": ("s", _INFO + "stateful replays are ungated (event_replay)"),
    "streaming.overhead_s": ("s", _P50_ETL),
    "pipeline.transform_s": ("s", _P50_ETL),
    "pipeline.register_s": ("s", _P50_ETL),
    "pipeline.supporting_s": ("s", _P50_ETL),
    "pipeline.views_s": ("s", _P50_ETL),
    "pipeline.backfill_s": ("s", "setup_s on crime_etl"),
    "pipeline.view_query_p50_s": ("s", _WALL_ETL),
    "etl.files_written": ("count", f"{_P50_ETL} (write) and {_WALL_ETL} (view reads)"),
    "etl.bytes_written": ("bytes", f"{_P50_ETL} (write) and {_WALL_ETL} (view reads)"),
    "etl.partitions_touched": ("count", f"{_P50_ETL} (write) and {_WALL_ETL} (view reads)"),
    "etl.bytes_per_input_byte": ("ratio", _WALL_ETL),
    **{f"{layer}.self_s": ("s", "wall_s on llm_curation and crime_etl")
       for layer in ("plans", "sources", "operators", "functions", "streaming",
                     "pipeline", "etl", "session")},
    "trace.overhead_s": ("s", _INFO + "traced minus untraced wall_s, same seed and code"),
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"),
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_children()


def _reap_children(timeout: float = 20.0) -> None:
    """Wait for every process this one started (Python workers, the
    JVM) to exit; kill what is left after ``timeout``."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        kids = stats.descendants([me], stats.ppid_map("/proc")) - {me}
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            for pid in kids:
                try:
                    os.waitpid(pid, 0)
                except OSError:
                    pass  # not our direct child; init reaps it
            return
        time.sleep(0.1)


def _run_record(spark, seed: int) -> dict:
    conf = spark.conf
    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": {k: conf.get(k) for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
        )},
        "pyspark": __import__("pyspark").__version__,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "seed": seed,
    }


def code_fingerprint(root: str) -> str:
    """sha256 over every ``.py`` and ``.sql`` file of the checkout
    (hidden and ``_``-prefixed directories excepted): two runs with the
    same fingerprint ran the same program."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        for f in sorted(files):
            if f.endswith((".py", ".sql")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode() + b"\0")
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _prior_untraced_wall(results: str, workload: str, seed: int, code: str) -> float | None:
    """Median wall_s of earlier untraced runs of this workload with the
    same seed and the same code, or None if there are none."""
    walls = []
    for name in os.listdir(results) if os.path.isdir(results) else ():
        if f"-{workload}-seed{seed}-trace0-" not in name:
            continue
        try:
            with open(os.path.join(results, name)) as f:
                rec = json.load(f)
            if rec["run"].get("code") == code:
                walls.append(rec["result"]["metrics"]["wall_s"]["value"])
        except (OSError, ValueError, KeyError):
            continue
    return stats.median(walls) if walls else None


def run(args, root: str) -> dict:
    cache = os.path.join(root, ".perfbench_cache")
    results = os.path.join(root, ".perfbench_results")
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    work = os.path.join(cache, f"run-{stamp}-{os.getpid()}")
    for d in (cache, results, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    # everything Spark, Python workers and the query functions write
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # the JVMs' perf-counter files would go to /tmp whatever tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    sys.path.insert(0, root)

    wl = workloads.make(args.workload)
    wl.prepare(root, cache, args.seed)  # input generation: not set-up time

    from aws_de_final_project_spark.session import get_spark

    tracer = Tracer() if args.trace else None
    out = workloads.Outcome()
    load_before = stats.loadavg()
    steal_before = stats.steal_seconds()
    try:
        with stats.RssSampler(lambda: [os.getpid()], interval=0.25) as rss:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CORES,
                              extra_conf=_spark_conf(work, bool(args.trace)))
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).count()
            session_start_s = time.perf_counter() - t0
            try:
                if tracer is not None:
                    tracer.install(type(spark.range(1)))
                ctx = workloads.Ctx(spark=spark, root=root, cache=cache, work=work,
                                    rng=random.Random(args.seed), tracer=tracer)
                wl.start(ctx, out)
                setup_s = time.perf_counter() - t0
                n_passes = max(1, round(args.seconds / wl.nominal_pass_s))
                t_meas = time.perf_counter()
                for p in range(n_passes):
                    wl.before_pass(ctx, out)  # untimed, like after_pass
                    tp = time.perf_counter()
                    wl.run_pass(ctx, p, out)
                    out.pass_walls.append(time.perf_counter() - tp)
                    wl.after_pass(ctx, out)
                measured_s = time.perf_counter() - t_meas
                t_check = time.perf_counter()
                wl.finish(ctx, out)
                check_s = time.perf_counter() - t_check
                record = _run_record(spark, args.seed)
            finally:
                if tracer is not None:
                    tracer.uninstall()
                t_stop = time.perf_counter()
                _stop_spark(spark)
                stop_s = time.perf_counter() - t_stop
    finally:
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    record["loadavg_before"] = load_before
    record["loadavg_after"] = stats.loadavg()
    record["steal_s"] = stats.steal_seconds() - steal_before
    record["cpu_count_host"] = os.cpu_count()
    record["code"] = code_fingerprint(root)

    e2e = {
        "setup_s": setup_s,
        "wall_s": stats.median(out.pass_walls),
        "latency_p50_s": stats.median(out.latencies),
    }
    tail = stats.tail_latency(out.latencies)
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "passes": n_passes,
        "measured_s": measured_s,  # the passes, with their untimed checks
        "session_start_s": session_start_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "n_requests": len(out.latencies),
        "latency_tail_s": tail,
        "failed_frac": out.failed / max(1, out.attempted),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        **out.extra,
    }
    correct = out.failed == 0 and not out.checks
    if args.trace:
        attribution = EventAttribution(read_event_log(os.path.join(work, "eventlog")),
                                       tracer.requests)
        layer = per_layer_metrics(tracer, attribution, n_passes, CORES)
        report["layer_share"] = layer_shares(tracer)
        layer["session.start_s"] = session_start_s
        layer["session.peak_rss_mb"] = report["peak_rss_mb"]
        layer["pipeline.backfill_s"] = out.extra.get("backfill_s", 0.0)
        layer["pipeline.view_query_p50_s"] = out.extra.get("view_query_p50_s", 0.0)
        layer["etl.bytes_per_input_byte"] = out.extra.get("bytes_per_input_byte", 0.0)
        incs = out.extra.get("increments", [])
        for key in ("files_written", "bytes_written", "partitions_touched"):
            layer[f"etl.{key}"] = stats.median([i[key] for i in incs])
        untraced = _prior_untraced_wall(results, args.workload, args.seed, record["code"])
        layer["trace.overhead_s"] = e2e["wall_s"] - untraced if untraced is not None else 0.0
        report["unavailable"] = {
            k: "reads 0: this workload does no such work" for k, v in layer.items() if v == 0
        }
        if untraced is None:
            report["unavailable"]["trace.overhead_s"] = (
                "no untraced run of this workload with this seed and this code "
                "recorded in this checkout yet")
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
        report["end_to_end_traced"] = e2e
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    rec = {"result": result, "report": report, "run": record,
           "errors": out.errors, "checks": out.checks}
    path = os.path.join(results, f"{stamp}-{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}-{os.getpid()}.json")
    with open(path, "x") as f:
        json.dump(rec, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(path.replace(".json", ".spans.jsonl"))
    return {"result": result, "report": report, "record": path,
            "errors": out.errors, "checks": out.checks}


def _print(workload: str, res: dict) -> None:
    for line in res["errors"] + res["checks"]:
        print(f"FAILED {line}")
    rep = res["report"]
    for k, v in res["result"]["metrics"].items():
        moves = f"  (should move {PER_LAYER[k][1]})" if k in PER_LAYER else ""
        print(f"{workload} {k} = {v['value']:.6g} {v['unit']}{moves}")
    tail = rep["latency_tail_s"]
    print(f"{workload} latency_tail_s = "
          + (f"{tail['value']:.6g} s (p{tail['percentile']}, n={tail['n']})" if tail
             else f"not reported: {rep['n_requests']} requests leave no percentile "
                  "above p50 with 10 samples beyond it"))
    print(f"{workload} failed_frac = {rep['failed_frac']:.6g} ratio")
    print(f"{workload} peak_rss_mb = {rep['peak_rss_mb']:.6g} MB")
    for k, unit in (("view_query_p50_s", "s"), ("backfill_s", "s"),
                    ("bytes_per_input_byte", "ratio")):
        if k in rep:
            print(f"{workload} {k} = {rep[k]:.6g} {unit}")
    if "layer_share" in rep:
        print(f"{workload} share of timed request time by layer (self time): " + ", ".join(
            f"{k} {v:.1%}" for k, v in sorted(rep["layer_share"].items(), key=lambda kv: -kv[1])))
    for k, why in rep.get("unavailable", {}).items():
        print(f"{workload} {k} unavailable: {why}")
    print(f"record: {res['record']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"),
                    help="'all' runs every workload in turn, each in its own process")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "aws_de_final_project_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        return _fail("run from the repository root: the package is not here")
    if args.workload == "all":
        status = 0
        for w in workloads.WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            status |= subprocess.run(cmd, check=False).returncode
        return status
    res = run(args, root)
    _print(args.workload, res)
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
