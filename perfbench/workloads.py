"""Workloads and the closed-loop driver that replays them.

One writer in one process: every poll is ``Replayer.run(log,
max_epochs=1)``, i.e. one commit, and the next poll starts when the
previous one returns. Inputs come from the engine's own generator,
seeded by the benchmark's ``--seed`` and written to parquet before any
timing starts; the engine only ever sees those files.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_gmaps_spark.datagen import gen_base, gen_changelog
from etl_gmaps_spark.schemas import TARGET_SCHEMA
from etl_gmaps_spark.streaming.replay import Replayer
from etl_gmaps_spark.tableio import SnapshotTable


# maintenance policy of the MoR table: compaction at delta-chain depth
# 4, so a compaction cycle is 4 merge commits plus 1 compaction commit,
# and a tombstone-GC check every 5 snapshots, i.e. one per cycle at the
# same poll of every cycle
COMPACT_MAX_CHAIN = 4
GC_EVERY = 5


@dataclass(frozen=True)
class Spec:
    name: str
    # "mor" tables run the Replayer's maintenance policy (auto-compaction,
    # GC); "cow" tables run with both off, as in bench.py's headline replay
    merge_mode: str
    n_docs: int
    epoch_size: int
    n_epochs: int
    n_buckets: int
    hot_frac: float
    # polls in one unit of measured work; 0 = drain the log on a fresh
    # table (backfill), else that many polls on one long-lived table
    unit_polls: int
    # 1-based poll positions in a unit after which a full-table scan runs
    scan_after: tuple[int, ...]

    @property
    def n_events(self) -> int:
        return self.epoch_size * self.n_epochs


SPECS = {
    "backfill_cow": Spec(
        name="backfill_cow",
        merge_mode="cow",
        n_docs=40_000,
        epoch_size=250_000,
        n_epochs=2,
        n_buckets=8,
        hot_frac=0.30,
        unit_polls=0,
        scan_after=(2, 2, 2, 2, 2),
    ),
    "trickle_mor": Spec(
        name="trickle_mor",
        merge_mode="mor",
        n_docs=30_000,
        epoch_size=1_000,
        # one warm-up cycle, then 3 measured cycles at most; a run's
        # seconds end it after 2 on a 4-core host, before the log does
        n_epochs=COMPACT_MAX_CHAIN * 4,
        n_buckets=4,
        hot_frac=0.0,
        unit_polls=COMPACT_MAX_CHAIN,
        scan_after=(1, 3),
    ),
}

# small enough for the self-test; same code paths
TINY = {
    "backfill_cow": replace(SPECS["backfill_cow"], n_docs=400, epoch_size=10_000),
    "trickle_mor": replace(SPECS["trickle_mor"], n_docs=2_000, epoch_size=200),
}


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(pid: int) -> float:
    """User + system CPU of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def ledger_bytes(table: SnapshotTable) -> int:
    """Data bytes written by every commit so far (compactions included)."""
    props = table.properties()
    rollup = props.get("commits_rollup") or {}
    return sum(c.get("bytes_rewritten", 0) for c in props.get("commits", [])) + rollup.get("bytes_rewritten", 0)


@dataclass
class Inputs:
    base: DataFrame
    log: DataFrame
    log_bytes: dict[int, int]  # epoch -> parquet bytes


def write_inputs(spark: SparkSession, spec: Spec, seed: int, work: str) -> Inputs:
    parts = spark.sparkContext.defaultParallelism
    base_path, log_path = os.path.join(work, "base"), os.path.join(work, "log")
    gen_base(spark, n_docs=spec.n_docs, seed=seed, partitions=parts).write.parquet(base_path)
    gen_changelog(
        spark,
        n_docs=spec.n_docs,
        n_events=spec.n_events,
        seed=seed,
        hot_frac=spec.hot_frac,
        epoch_size=spec.epoch_size,
        dup_epochs=(),
        partitions=parts,
    ).write.partitionBy("epoch").parquet(log_path)
    log_bytes = {}
    for d in os.listdir(log_path):
        if d.startswith("epoch="):
            full = os.path.join(log_path, d)
            log_bytes[int(d.split("=", 1)[1])] = sum(
                os.path.getsize(os.path.join(full, f)) for f in os.listdir(full) if f.endswith(".parquet")
            )
    return Inputs(spark.read.parquet(base_path), spark.read.parquet(log_path), log_bytes)


def scan(table: SnapshotTable) -> int:
    """A consumer's full-table scan touching every key and token; returns live rows."""
    row = table.read().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64("doc_id", "tokens"), F.lit(1_000_003))).alias("h"),
    ).collect()[0]
    return int(row["rows"])


@dataclass
class Unit:
    poll_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    events: int = 0
    cpu_s: float = 0.0
    bytes_written: int = 0
    log_bytes: int = 0
    live_rows: int = 0
    max_chain: int = 0  # deepest delta chain after any poll; traced units only

    @property
    def events_per_s(self) -> float:
        return self.events / sum(self.poll_s)


class Driver:
    """Closed loop over one workload in one Spark session."""

    def __init__(self, spark: SparkSession, spec: Spec, inputs: Inputs, work: str, tracer=None):
        """Tables go under ``work``, which no other Driver shares."""
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.work = work
        self.pid = jvm_pid(spark)
        self.tracer = tracer
        self.table: SnapshotTable | None = None
        self.replayer: Replayer | None = None
        self.epochs: list[int] = []  # applied to self.table, in order
        self.events = 0  # ReplayMetrics.events_processed summed over polls
        self.create_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self._tables = 0

    def new_table(self) -> None:
        self._tables += 1
        t0 = time.perf_counter()
        self.table = SnapshotTable.create(
            self.spark,
            os.path.join(self.work, f"table{self._tables}"),
            TARGET_SCHEMA,
            n_buckets=self.spec.n_buckets,
            base_df=self.inputs.base,
            merge_mode=self.spec.merge_mode,
        )
        self.create_s.append(time.perf_counter() - t0)
        if self.spec.merge_mode == "mor":
            self.replayer = Replayer(self.table, compact_max_chain=COMPACT_MAX_CHAIN, gc_every=GC_EVERY)
        else:
            self.replayer = Replayer(self.table, auto_compact=False, gc_tombstones=False)
        self.epochs, self.events = [], 0
        if self.tracer is not None:
            self.tracer.install(self.replayer, self.table)

    def _attempt(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # counted and reported; the loop goes on
            self.failures.append(f"{what}: {exc!r}")
            return None

    def poll(self) -> tuple[float, int, float] | None:
        """One commit: (wall seconds, events, JVM CPU seconds)."""
        cpu0, t0 = cpu_seconds(self.pid), time.perf_counter()
        m = self._attempt("poll", lambda: self.replayer.run(self.inputs.log, max_epochs=1))
        wall, cpu = time.perf_counter() - t0, cpu_seconds(self.pid) - cpu0
        if m is None:
            return None
        self.epochs += [int(i["epoch"]) for i in m.per_epoch if not i["skipped"]]
        self.events += m.events_processed
        return wall, m.events_processed, cpu

    def scan(self) -> tuple[float, int] | None:
        traced = self.tracer is not None and self.tracer.active
        t0 = time.perf_counter()
        with self.tracer.span("table.read") if traced else nullcontext():
            rows = self._attempt("scan", lambda: scan(self.table))
        return None if rows is None else (time.perf_counter() - t0, rows)

    def begin(self) -> None:
        """Create a table and run one untimed unit's polls on it, so the
        JIT has compiled every code path a unit runs (maintenance too).
        A backfill discards the table; a long-lived table keeps it, at
        the delta-chain phase every unit starts at."""
        self.new_table()
        for _ in range(self.spec.unit_polls or self.spec.n_epochs):
            self.poll()

    def unit(self) -> Unit:
        """One unit of measured work: a backfill drains the log into a
        fresh table; a long-lived table takes ``unit_polls`` more polls."""
        if self.spec.unit_polls == 0:
            self.new_table()
            n_polls = self.spec.n_epochs
        else:
            n_polls = self.spec.unit_polls
        u = Unit()
        bytes0, first = ledger_bytes(self.table), len(self.epochs)
        for pos in range(1, n_polls + 1):
            p = self.poll()
            if p is not None:
                u.poll_s.append(p[0])
                u.events += p[1]
                u.cpu_s += p[2]
            if self.tracer is not None and self.tracer.active:
                with self.tracer.paused():
                    # each write leaves one file per bucket: files past the first are deltas
                    u.max_chain = max(u.max_chain, max(len(f) for f in self.table.files_map().values()) - 1)
            for _ in range(self.spec.scan_after.count(pos)):
                s = self.scan()
                if s is not None:
                    u.scan_s.append(s[0])
                    u.live_rows = s[1]
        u.bytes_written = ledger_bytes(self.table) - bytes0
        u.log_bytes = sum(self.inputs.log_bytes[e] for e in self.epochs[first:])
        return u

    def units_left(self) -> int:
        if self.spec.unit_polls == 0:
            return 1 << 30
        return (self.spec.n_epochs - len(self.epochs)) // self.spec.unit_polls

    def measure(self, seconds: float) -> list[Unit]:
        """Whole units until ``seconds`` have passed, at least two; a
        long-lived table stops early when the log has no whole unit left."""
        units: list[Unit] = []
        t0 = time.perf_counter()
        while self.units_left() and (len(units) < 2 or time.perf_counter() - t0 < seconds):
            units.append(self.unit())
        return units

    def table_bytes_per_row(self, live_rows: int) -> float:
        files = [f for fl in self.table.files_map().values() for f in fl]
        return sum(os.path.getsize(f) for f in files) / max(1, live_rows)


def end_to_end(units: list[Unit], driver: Driver, setup_s: float) -> dict[str, float]:
    polls = [p for u in units for p in u.poll_s]
    scans = [s for u in units for s in u.scan_s]
    return {
        "setup_s": setup_s,
        "events_per_s": statistics.median(u.events_per_s for u in units),
        "commit_p50_s": statistics.median(polls),
        "commit_mean_s": statistics.fmean(polls),
        "read_s": statistics.median(scans),
        "write_amp": statistics.median(u.bytes_written / u.log_bytes for u in units),
        "bytes_per_row": driver.table_bytes_per_row(units[-1].live_rows),
        "peak_rss_mb": peak_rss_mb(driver.pid),
        "cpu_s_per_mevent": statistics.median(u.cpu_s / u.events * 1e6 for u in units),
    }
