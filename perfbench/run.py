"""Benchmark of social_warner_spark: the reference's ETL request path and
the query suite, end to end and layer by layer.

    python3 perfbench/run.py --workload etl_paged --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/``; one worker process (perfbench/worker.py) sets up
a ``local[nproc]`` session and runs the workload's batches in a closed loop
for at least ``--seconds`` seconds, checking every output.  Human-readable report
lines come first; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Spans, per-op
records and host-noise context of each run are written to
``.perfbench_work/records/``.  See perfbench/README.md for what each
metric measures and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = {
    "etl_paged": {"size": gen.PAGED},
    "etl_bulk": {"size": gen.BULK},
    "queries_build_bound": {"queries": ["x27_neardup_clusters", "x185_power_iteration"]},
    "queries_action_bound": {"queries": [
        "c7_range_join", "s3_session", "x239_label_propagation"]},
}

#: A traced run needs, after its traced batch 0, an untraced and a traced
#: batch to measure its own overhead.
MIN_BATCHES = {0: 1, 1: 3}
WORKER_TIMEOUT_S = 170
WORK_ROOT = ".perfbench_work"

END_TO_END = {
    "setup_s": "s", "batch_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s",
}

#: Span names each per-layer time sums over.
_SPAN_TIMES = {
    "extract.build_s": ("extract.build_extract_query", "extract.compile_filters"),
    "sources.read_s": ("sources.read_paged", "sources.read_parquet"),
    "pipeline.transform_s": ("pipeline.transform_config_frame",),
    "sinks.write_s": ("sinks.write_table",),
    "queries.build_s": ("queries.build",),
    "queries.action_s": ("queries.action",),
    "caching.release_s": ("caching.release_persisted_intermediates",),
}
_SPAN_JOBS = {
    "pipeline.transform_jobs": "pipeline.transform_config_frame",
    "queries.build_jobs": "queries.build",
    "queries.action_jobs": "queries.action",
}
LAYERS = ("service", "extract", "sources", "pipeline", "sinks", "queries", "caching")
SPARK = ("jobs", "stages", "short_stages", "tasks", "executor_run_s", "executor_cpu_s",
         "cpu_ratio", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "failed_tasks")

PER_LAYER = {
    "peak_rss_mb": "MB", "session.start_s": "s", "session.warm_s": "s",
    "extract.build_s": "s", "sources.read_s": "s", "sources.pages": "count",
    "sources.rows": "count", "extract.rows_kept_ratio": "ratio",
    "pipeline.transform_s": "s", "pipeline.transform_jobs": "count",
    "pipeline.rows_out_ratio": "ratio", "pipeline.run_configs_self_s": "s",
    "sinks.write_s": "s", "sinks.jobs_per_write": "count",
    "sinks.bytes_written": "bytes", "sinks.bytes_per_row": "bytes",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.action_s": "s", "queries.action_jobs": "count",
    "caching.release_s": "s", "caching.released": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes")
                      else "ratio" if k == "cpu_ratio" else "count") for k in SPARK},
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}


# --------------------------------------------------------------------------
# host noise
# --------------------------------------------------------------------------


def host_noise() -> dict:
    """Hypervisor steal ticks (/proc/stat, cpu column 8) and load average;
    recorded beside each run, never used to drop one."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_ticks": steal, "loadavg": load}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def op_tail(seconds: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile of op seconds with at
    least 10 ops beyond it, by nearest rank.  Runs of 10 ops or fewer have
    no such percentile; they report their slowest op (p100)."""
    v = sorted(seconds)
    n = len(v)
    if n <= 10:
        return (v[-1] if v else 0.0), 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def end_to_end(result: dict) -> tuple[dict, dict]:
    batches = result["batches"]
    ops = [o for o in result["ops"] if not o["failed"] and o["seconds"] is not None]
    tail, pct = op_tail([o["seconds"] for o in ops])
    values = {
        "setup_s": result["setup_s"],
        "batch_s": _med(b["seconds"] for b in batches),
        "op_p50_s": _med(o["seconds"] for o in ops),
        "op_tail_s": tail,
        "rows_per_s": _med(_ratio(b["rows"], b["seconds"]) for b in batches),
    }
    return values, {"op_tail_percentile": pct, "op_count": len(ops)}


def per_layer(result: dict) -> dict:
    """Layer figures of batch 0, the batch the end-to-end figures time (it
    is traced in a traced run), plus the tracing overhead measured on the
    later untraced / traced batches."""
    spans = [s for s in result["spans"] if s["batch"] == 0]
    ops = [o for o in result["ops"] if o["batch"] == 0]

    def dur(names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    def jobs(name):
        return sum(s.get("jobs", 0) for s in spans if s["name"] == name)

    def total(key):
        return sum(o.get(key) or 0 for o in ops)

    def spark(key):
        return sum(o.get("spark", {}).get(key, 0) for o in ops)

    out = {"peak_rss_mb": result["peak_rss_mb"],
           "session.start_s": result["setup"]["start_s"],
           "session.warm_s": result["setup"]["warm_s"]}
    out.update({name: dur(names) for name, names in _SPAN_TIMES.items()})
    out.update({name: jobs(span) for name, span in _SPAN_JOBS.items()})
    out["sources.pages"] = total("pages")
    out["sources.rows"] = total("rows_read")
    out["extract.rows_kept_ratio"] = _ratio(total("rows_kept"), total("rows_read"))
    out["pipeline.rows_out_ratio"] = _ratio(total("loaded"), total("rows_kept"))
    out["pipeline.run_configs_self_s"] = sum(
        s["self"] for s in spans if s["name"] == "pipeline.run_configs")
    writes = sum(1 for s in spans if s["name"] == "sinks.write_table")
    out["sinks.jobs_per_write"] = _ratio(jobs("sinks.write_table"), writes)
    out["sinks.bytes_written"] = total("bytes_written")
    out["sinks.bytes_per_row"] = _ratio(total("bytes_written"), total("loaded"))
    out["caching.released"] = result["batches"][0]["released"]
    for layer in LAYERS:
        out[f"{layer}.self_s"] = sum(
            s["self"] for s in spans if s["name"].split(".")[0] == layer)
    out.update({f"spark.{k}": spark(k) for k in SPARK if k != "cpu_ratio"})
    out["spark.cpu_ratio"] = _ratio(spark("executor_cpu_s"), spark("executor_run_s"))
    later = result["batches"][1:]
    plain = _med(b["seconds"] for b in later if not b["traced"])
    out["trace.overhead_s"] = _med(b["seconds"] for b in later if b["traced"]) - plain
    out["trace.overhead_ratio"] = _ratio(out["trace.overhead_s"], plain)
    return out


# --------------------------------------------------------------------------
# worker process
# --------------------------------------------------------------------------


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (the JVM and its
    Python workers; the result is already written) and wait until it is
    gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def run_worker(spec: dict, work: str) -> dict | None:
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp,
               PYSPARK_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                                stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as f:
            lines = [ln for ln in f.read().splitlines() if "WARN" not in ln]
        print(f"perfbench: worker failed (exit {code}); log tail:", file=sys.stderr)
        print("\n".join(lines[-40:]), file=sys.stderr)
        return None
    with open(spec["result"]) as f:
        result = json.load(f)
    result["setup_s"] = result["setup"]["t_warm"] - spawned
    return result


# --------------------------------------------------------------------------


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # A terminated run still stops its worker and JVM (run_worker's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "social_warner_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "tests", "oracle_harness.py"))):
        print("perfbench: run from the root of a social_warner_spark checkout "
              "(package or tests/oracle_harness.py missing)", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    work = os.path.join(root, WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(root, WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    noise_before = host_noise()
    g0 = time.time()
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "min_batches": MIN_BATCHES[args.trace], "inputs": inputs,
            "sink": os.path.join(work, "sink"),
            "result": os.path.join(work, "result.json"),
            "cpus": len(os.sched_getaffinity(0))}
    if "queries" in wl:
        spec["queries"] = wl["queries"]
        gen_info = gen.generate_tables(args.seed, inputs, gen.QUERY_SF)
    else:
        spec["size"] = wl["size"]
        make = gen.generate_paged if args.workload == "etl_paged" else gen.generate_bulk
        gen_info = make(args.seed, inputs, spec["size"])
        spec["input_rows"] = gen_info["input_rows"]
    gen_s = time.time() - g0

    try:
        result = run_worker(spec, work)
        noise_after = host_noise()
        if result is None:
            return 1
        attempted = len(result["ops"])
        failed = sum(1 for o in result["ops"] if o["failed"])
        e2e, tail = end_to_end(result)
        metrics = per_layer(result) if args.trace else e2e
        units = PER_LAYER if args.trace else END_TO_END
        host = {"steal_ticks": noise_after["steal_ticks"] - noise_before["steal_ticks"],
                "loadavg_before": noise_before["loadavg"],
                "loadavg_after": noise_after["loadavg"]}
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "gen_s": gen_s, "inputs": gen_info,
                  "host": host, **tail, "failed_ratio": _ratio(failed, attempted),
                  "end_to_end": e2e, "per_layer": metrics if args.trace else None,
                  "checks": result["checks"], "batches": result["batches"],
                  "ops": result["ops"], "spans": result["spans"]}
        with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(result['batches'])} batches, {attempted} ops, {failed} failed; "
          f"op_tail_s is p{tail['op_tail_percentile']:.1f} of {tail['op_count']} ops; "
          f"host steal {host['steal_ticks']} ticks, loadavg "
          f"{host['loadavg_before'][0]:.2f}->{host['loadavg_after'][0]:.2f}")
    print(f"  failed_ratio = {_ratio(failed, attempted):.6g} ratio")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
