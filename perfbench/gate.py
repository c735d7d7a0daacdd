"""Correctness gate: the replayed table against an independent reference.

Runs after the timed window. Rows are compared on the target columns;
the ledger must name exactly the epochs the benchmark replayed, and the
Replayer must report exactly their events.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_gmaps_spark.oracle import replay_oracle

COLS = ["doc_id", "tokens", "n_tok", "source"]
# base + log rows up to which the single-threaded oracle replays in the
# driver; above it the Spark window reference runs instead
ORACLE_MAX_ROWS = 250_000


def spark_reference(base: DataFrame, log: DataFrame) -> DataFrame:
    """Last writer per key by lsn over base (lsn 0) plus log; deletes drop the key."""
    rows = base.select(*COLS, F.lit(0).cast("long").alias("lsn"), F.lit("I").alias("op")).unionByName(
        log.select(*COLS, "lsn", "op")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(*COLS)
    )


def _canon(pdf):
    out = pdf[COLS].copy()
    out["tokens"] = out["tokens"].map(lambda v: None if v is None else tuple(int(x) for x in v))
    out["n_tok"] = out["n_tok"].astype("Int64")
    return out.sort_values("doc_id").reset_index(drop=True)


def compare_rows(got: DataFrame, base: DataFrame, log: DataFrame, n_rows: int) -> list[str]:
    """Mismatch descriptions (empty when the table equals the reference)."""
    got = got.select(*COLS)
    if n_rows <= ORACLE_MAX_ROWS:
        want = _canon(replay_oracle(base.select(*COLS).toPandas(), log.select(*COLS, "lsn", "epoch", "op").toPandas()))
        have = _canon(got.toPandas())
        merged = have.merge(want, on="doc_id", how="outer", suffixes=("_got", "_want"), indicator=True)
        bad = merged[
            (merged["_merge"] != "both")
            | (merged["tokens_got"] != merged["tokens_want"])
            | (merged["n_tok_got"] != merged["n_tok_want"]).fillna(True)
            | (merged["source_got"] != merged["source_want"])
        ]
        if len(bad):
            return [f"oracle: {len(bad)} rows differ, e.g. doc_id {list(bad['doc_id'][:3])}"]
        return []
    ref, got = spark_reference(base, log).persist(), got.persist()
    try:
        extra = got.exceptAll(ref).count()
        missing = ref.exceptAll(got).count()
    finally:
        ref.unpersist()
        got.unpersist()
    if extra or missing:
        return [f"spark reference: {extra} rows only in the table, {missing} rows only in the reference"]
    return []


def check(table, base: DataFrame, log: DataFrame, epochs: list[int], events_processed: int, got: DataFrame | None = None) -> list[str]:
    """Gate the table after replaying ``epochs`` of ``log`` over ``base``.
    ``got`` replaces ``table.read()`` (the self-test feeds a corrupted copy)."""
    applied = log.filter(F.col("epoch").isin(epochs))
    n_log = applied.count()
    failures = []
    ledger = sorted(int(e) for e in table.applied_epochs())
    if ledger != sorted(epochs):
        failures.append(f"ledger holds epochs {ledger}, replayed {sorted(epochs)}")
    if events_processed != n_log:
        failures.append(f"events_processed {events_processed} != {n_log} log rows")
    failures += compare_rows(table.read() if got is None else got, base, applied, base.count() + n_log)
    for f in failures:
        print(f"perfbench gate: {f}", file=sys.stderr)
    return failures
