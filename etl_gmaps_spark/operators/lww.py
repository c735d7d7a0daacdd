"""Last-writer-wins reduce: per-key max-LSN winner (SURVEY.md A5/T7).

The reference keeps the *first* writer (pandas ``drop_duplicates(
subset=['link'], keep='first')`` and the FNV deduper gate,
deduper/hashmap.go:16-42); the north rule inverts this to max-LSN
last-writer-wins over the change stream.

Plan shape (why not a single ``max_by(struct(*), lsn)``): a struct in
the aggregation buffer is not hash-aggregable — Spark falls back to
SortAggregate, which sorts every map partition of the full payload by
key. Instead the reduce is split so the *big* aggregation carries only
primitives:

  1. ``groupBy(key).agg(max(lsn))`` — pure-primitive buffer, compiles
     to HashAggregate with a map-side partial: a hot key sends ONE
     (key, lsn) row per map task into a shuffle of keys only (no token
     payload).
  2. left-semi join the log against the (key, max_lsn) pairs — AQE
     broadcasts the pair side when it fits, so the payload never
     shuffles here; at worst it shuffles once, same volume as the
     one-shot plan but with no sort.
  3. a final ``max_by(struct(*), lsn)`` over the joined candidates —
     at most one row per key per replayed-epoch duplicate, so this
     aggregate runs on winner-sized data, not the event stream, and
     max_by is a TypedImperativeAggregate: it plans as
     ObjectHashAggregate with a map-side partial_max_by, NOT the
     SortAggregate a struct-buffered DeclarativeAggregate (or a
     dropDuplicates/first over string columns) would cost — measured:
     dropDuplicates here plans two extra Sorts.

  Two-phase vs the one-shot ``max_by(struct)``: at toy scale (sf0.1,
  ~1.6M events) the extra scan + join costs ~0.5-1 s cold and the
  plans tie warm; at 10^10 events the one-shot plan's SortAggregate
  re-sorts the full token payload per map partition — the exact cost
  this plan shape exists to avoid. The crossover is around "payload
  no longer fits the shuffle page cache"; below it both are
  sub-second, so the cluster-correct shape is the default.

Skew strategy (north rule: "skew salting on hot doc_id keys"): the
map-side partial in step 1 already collapses a hot key to one row per
map task. ``salt_buckets > 1`` additionally makes the two phases
explicit (partial per (key, pmod(xxhash64(lsn), S)), final per key)
for the adversarial case where even the *final* merge of per-map
partials is hot (e.g. 100k map tasks x 1 hot key); both plans produce
identical results (see tests/test_lww.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lww_reduce(
    log: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    salt_buckets: int = 0,
    sums: dict[str, Column] | None = None,
    maxes: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-key frame: ``key_col``, ``lsn_col`` (the key's max lsn), and
    one column per caller-supplied counter — ``sums`` are summed and
    ``maxes`` maxed over the key's events. Every aggregate buffer is a
    primitive, so the plan is HashAggregate with a map-side partial
    (module doc #1).

    ``salt_buckets > 1``: explicit two-phase reduce — partial per
    (key, pmod(xxhash64(lsn), S)), spreading one hot key over S
    reducers, then a final per-key merge that sums the sum counters and
    maxes the max counters over at most S rows per key."""
    sums, maxes = sums or {}, maxes or {}
    aggs = (
        [F.max(lsn_col).alias(lsn_col)]
        + [F.sum(e).alias(n) for n, e in sums.items()]
        + [F.max(e).alias(n) for n, e in maxes.items()]
    )
    if not (salt_buckets and salt_buckets > 1):
        return log.groupBy(key_col).agg(*aggs)
    salt = F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_buckets)).alias("_salt")
    return (
        log.groupBy(F.col(key_col), salt)
        .agg(*aggs)
        .groupBy(key_col)
        .agg(
            F.max(lsn_col).alias(lsn_col),
            *[F.sum(n).alias(n) for n in sums],
            *[F.max(n).alias(n) for n in maxes],
        )
    )


def lww_candidates(
    log: DataFrame, reduced: DataFrame, key_col: str = "doc_id", lsn_col: str = "lsn"
) -> DataFrame:
    """The rows of ``log`` that carry their key's max lsn: a left-semi
    join on (key, max lsn) against an ``lww_reduce`` frame. One row per
    key, except replayed epochs, which repeat the winner byte-identically.
    Broadcast under the session's raised threshold (the pair side is
    ~30 B/key); past it the SHUFFLE_HASH hint keeps the fallback a hash
    join — sort-merge would re-sort the full payload."""
    pairs = reduced.select(key_col, lsn_col).hint("shuffle_hash")
    return log.join(pairs, [key_col, lsn_col], "leftsemi")


def lww_winners(
    log: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    salt_buckets: int = 0,
) -> DataFrame:
    """One row per key: the full event row with the highest lsn.

    Duplicate lsns (replayed epochs) are byte-identical rows, so either
    copy winning is correct. Output schema == input schema.
    """
    cols = log.columns
    cand = lww_candidates(
        log, lww_reduce(log, key_col, lsn_col, salt_buckets), key_col, lsn_col
    )
    # replayed epochs duplicate the winning row byte-identically; this
    # final reduce runs on winner-sized data (>=1 dup rows per key) and
    # plans as ObjectHashAggregate(partial_max_by) — see module doc #3.
    row = F.struct(*[F.col(c) for c in cols])
    final = cand.groupBy(key_col).agg(F.max_by(row, F.col(lsn_col)).alias("_w"))
    return final.select(*[F.col(f"_w.{c}").alias(c) for c in cols])


def batch_replay(
    base: DataFrame | None,
    log: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    op_col: str = "op",
    payload_cols: tuple[str, ...] | None = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Whole-log replay in one shot: final table = base ⟕anti winners
    ∪ non-delete winners. The minimal end-to-end slice (SURVEY.md §7.1
    step 3); the incremental engine applies the same winners via
    MERGE-per-epoch instead (streaming/replay.py).
    """
    winners = lww_winners(log, key_col=key_col, lsn_col=lsn_col, salt_buckets=salt_buckets)
    if payload_cols is None:
        payload_cols = tuple(
            c for c in log.columns if c not in (key_col, lsn_col, op_col, "epoch", "ts")
        )
    upserts = winners.filter(F.col(op_col) != "D").select(key_col, *payload_cols)
    if base is None:
        return upserts
    survivors = base.join(winners.select(key_col), key_col, "left_anti")
    return survivors.unionByName(upserts, allowMissingColumns=True)
