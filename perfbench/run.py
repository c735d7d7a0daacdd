"""CDC apply benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill_cow --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` prints its per-layer metrics.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run record (host, heap, sample
counts, noise sentinel). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# fixed-work noise sentinel size (bench.calibrate): int64s hashed per core
CALIB_ROWS_PER_CORE = 10_000_000


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_mb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) // 1024
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_mb,
        # a fifth of the host, so parent and change run with one heap
        # whatever the engine's own default is
        "heap_mb": max(1024, min(4096, mem_mb // 5)),
    }


def source_record() -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for p in sorted((ROOT / "etl_gmaps_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return {"pyspark": pyspark.__version__, "git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def isolate(work: Path, host: dict) -> None:
    """Point every temporary file of this process and the JVMs it
    launches into ``work`` (emptied first), and pin the engine's env
    knobs the benchmark depends on."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_EXECUTORS", None)  # always local[cpus]
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["BENCH_CALIB_ROWS"] = str(CALIB_ROWS_PER_CORE)


def start_session(host: dict, work: Path, event_log: Path | None = None):
    from etl_gmaps_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host['heap_mb']}m",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=host["cpus"], shuffle_partitions=host["cpus"], extra_conf=conf)


def stop_jvm() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def as_metrics(values: dict, declared: list[dict]) -> dict:
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"benchmark computed no value for {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}


def table_counts(table, traced, version0: int) -> dict:
    """Ledger and file counts of the traced unit: its commits are the
    table's snapshots after ``version0``."""
    commits = [c for c in table.properties()["commits"] if c["snapshot"] > version0]
    files = table.files_map()
    version = table.snapshot()["version"]
    return {
        "table.merge.mb_written": sum(c["bytes_rewritten"] for c in commits if c.get("kind") != "compact") / 1e6,
        "table.compact.mb_rewritten": sum(c["bytes_rewritten"] for c in commits if c.get("kind") == "compact") / 1e6,
        "table.max_delta_chain": traced.max_chain,
        "table.live_files": sum(len(f) for f in files.values()),
        "table.snapshot_json_kb": os.path.getsize(os.path.join(table.meta_dir, f"v{version}.json")) / 1e3,
    }


def per_layer(tracer, traced, untraced: list, counts: dict, log_dir: Path) -> dict:
    import tracing

    jobs, per_group = tracing.read_event_log(str(log_dir))
    spans = tracer.spans
    out = {
        f"{span}.{k}": v
        for span, ms in tracing.span_metrics(spans, jobs, per_group).items()
        for k, v in ms.items()
    }
    by_id = {s.id: s for s in spans}
    parent = lambda s: by_id[s.parent].name if s.parent is not None else None  # noqa: E731
    batches = [s.result for s in spans if s.name == "replay.apply_batch" and s.result and not s.result["skipped"]]
    out["replay.jobs_per_commit"] = tracing.subtree_jobs(spans, jobs, "replay.run") / len(traced.poll_s)
    out["replay.winner_ratio"] = sum(b["winners"] for b in batches) / max(1, sum(b["events"] for b in batches))
    checks = [s for s in spans if s.name == "table.tombstone_stats" and parent(s) == "replay.run"]
    rewrites = [
        s for s in spans
        if s.name == "table.compact" and parent(s) == "replay.run" and s.kwargs.get("tombstones_before") is not None
    ]
    out["table.gc.checks"] = len(checks)
    out["table.gc.useful_ratio"] = len(rewrites) / len(checks) if checks else 0.0
    out.update(counts)
    out["trace.overhead_frac"] = 1 - traced.events_per_s / statistics.fmean(u.events_per_s for u in untraced)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False):
    """Run one workload; returns (result, record, tracer-or-None)."""
    import gate
    import tracing
    import workloads

    spec = (workloads.TINY if tiny else workloads.SPECS)[workload]
    declared = load_spec()["per_layer" if trace else "end_to_end"]
    host = host_info()
    # the generator's LCG keeps products below 2^63 only for small seeds
    data_seed = 1 + seed % 1000
    work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
    isolate(work, host)
    # bench.py sizes its job from the environment at import
    from bench import calibrate  # fixed-work noise sentinel

    started = time.perf_counter()
    record = {"workload": workload, "seed": seed, "data_seed": data_seed, "trace": trace, "tiny": tiny, **host, **source_record()}
    try:
        log_dir = work / "eventlog"
        t0 = time.perf_counter()
        spark = start_session(host, work, event_log=log_dir if trace else None)
        session_s = time.perf_counter() - t0
        calib = [calibrate(spark)]
        t0 = time.perf_counter()
        inputs = workloads.write_inputs(spark, spec, data_seed, str(work))
        inputs_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        d = workloads.Driver(spark, spec, inputs, str(work / "tables"), tracer=tracer)
        t0 = time.perf_counter()
        d.begin()
        warmup_s = time.perf_counter() - t0 - sum(d.create_s)
        if not trace:
            units = d.measure(seconds)
            setup_s = session_s + inputs_s + warmup_s + statistics.median(d.create_s)
            values = workloads.end_to_end(units, d, setup_s)
        else:
            # untraced, traced, untraced: the overhead compares the traced
            # unit with the mean of its neighbours, so the JIT still
            # warming up across units cancels out. Every unit starts at
            # the same state: a fresh table, or the same chain phase.
            before = d.unit()
            version0 = d.table.snapshot()["version"] if spec.unit_polls else 1
            tracer.active = True
            traced = d.unit()
            tracer.active = False
            counts = table_counts(d.table, traced, version0)
            units = [before, traced, d.unit()]
        t0 = time.perf_counter()
        gate_failures = gate.check(d.table, inputs.base, inputs.log, d.epochs, d.events)
        gate_s = time.perf_counter() - t0
        calib.append(calibrate(spark))
        record["run_s"] = time.perf_counter() - started
        if trace:
            spark.stop()  # completes the event log
            values = per_layer(tracer, traced, [units[0], units[2]], counts, log_dir)
        op_failures = d.failures
        record.update(
            calib_s=calib,
            session_s=session_s,
            inputs_s=inputs_s,
            warmup_s=warmup_s,
            create_s=d.create_s,
            gate_s=gate_s,
            units=len(units),
            commits=sum(len(u.poll_s) for u in units),
            scans=sum(len(u.scan_s) for u in units),
            failures=op_failures + gate_failures,
        )
        result = {
            "correct": not (op_failures or gate_failures),
            # every poll and scan, plus the gate
            "attempted": d.attempted + 1,
            "failed": len(op_failures) + (1 if gate_failures else 0),
            "metrics": as_metrics(values, declared),
        }
        return result, record, tracer
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.SPECS)}", file=sys.stderr)
        return 2
    result, record, _ = run(args.workload, args.seed, args.seconds, bool(args.trace), tiny=args.tiny)
    print(json.dumps({"record": record}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
