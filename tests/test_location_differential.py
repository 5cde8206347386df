"""Differential property test for D6 incremental location-visit
maintenance: for ANY arrival order and ANY batch split of a visit's
movement messages, the incrementally-maintained replace-set table must
equal the full-history recompute (the full recompute IS the model —
no hand-written expectations to get wrong).

test_replay_scaling pins the equivalence for fresh-key batches; this
suite randomizes PERMUTATION x SPLIT of the same two visits' messages,
so the bucket-pruned touched-visit recompute sees the hard cases:
a visit touched across several batches, transfers arriving before
their admit, discharges in the first batch.

CI runs derandomized with a bounded example budget; set
HYPOTHESIS_EXPLORE=1 for a wider randomized search (the merge
differential suite's convention).

The single-pass `infer_location_visits` is pinned against a test-local
copy of the four-branch implementation it replaced (a union of four
filtered copies of the sequence, cancels voided by an anti-join), and
its executed plan is pinned to one scan, no join and no union.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import tempfile
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import DataFrame, Window as W, functions as F

from emap_spark.app import EmapEngine
from emap_spark.functions.hl7 import tristate_from_hl7
from emap_spark.operators.locations import (
    ARRIVAL_TYPES,
    CANCEL_OF,
    infer_location_visits,
)
from emap_spark.sources.generators import adt_messages

settings.register_profile(
    "loc_ci", derandomize=True, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
settings.register_profile(
    "loc_explore", derandomize=False, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
settings.load_profile(
    "loc_explore" if os.environ.get("HYPOTHESIS_EXPLORE") else "loc_ci"
)

_N_MSGS = 8  # adt_messages(n_patients=2): admit/2 transfers/discharge x 2


def _intervals(df):
    return sorted(
        (r.visit_number, r.location_string, str(r.admission_datetime),
         str(r.discharge_datetime))
        for r in df.collect()
    )


@settings(
    max_examples=6 * (4 if os.environ.get("HYPOTHESIS_EXPLORE") else 1),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    perm=st.permutations(list(range(_N_MSGS))),
    splits=st.lists(
        st.integers(0, 2), min_size=_N_MSGS, max_size=_N_MSGS
    ),
)
def test_incremental_equals_full_under_any_order_and_split(
    spark, perm, splits
):
    pool = adt_messages(spark, n_patients=2)
    ids = sorted(r.source_message_id for r in pool.select(
        "source_message_id").collect())
    assert len(ids) == _N_MSGS
    # message i (in permuted order) lands in batch splits[i]
    by_batch: dict[int, list[str]] = {}
    for pos, msg_idx in enumerate(perm):
        by_batch.setdefault(splits[pos], []).append(ids[msg_idx])

    root = tempfile.mkdtemp(prefix="d6diff_")
    try:
        eng = EmapEngine(storage_root=root, maintain_location_visits=True)
        for b in sorted(by_batch):
            batch = pool.filter(
                F.col("source_message_id").isin(by_batch[b])
            )
            eng.process_batch(batch, b)
        maintained = _intervals(eng.location_visits())
        full = _intervals(infer_location_visits(eng._movement_history()))
        assert maintained == full, (perm, splits)
        # every location event produced an interval: 3 per visit
        assert len(maintained) == 6
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_equals_full_smoke_reversed(spark):
    """Deterministic pin of the nastiest shape: the whole sequence
    arrives in REVERSE order, one message per batch (every batch
    re-touches the same visits)."""
    pool = adt_messages(spark, n_patients=1)
    ids = [r.source_message_id for r in pool.select(
        "source_message_id").collect()]
    root = tempfile.mkdtemp(prefix="d6rev_")
    try:
        eng = EmapEngine(storage_root=root, maintain_location_visits=True)
        for b, mid in enumerate(reversed(sorted(ids))):
            eng.process_batch(
                pool.filter(F.col("source_message_id") == mid), b
            )
        maintained = _intervals(eng.location_visits())
        full = _intervals(infer_location_visits(eng._movement_history()))
        assert maintained == full
        assert len(maintained) == 3
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_history_log_tolerates_duplicate_deliveries(spark):
    """The r8 write-path contract: the movement-history log is written
    WITHOUT a dedup shuffle, so an at-least-once redelivery lands
    duplicate rows in the log — every reader dedups by
    source_message_id, so location visits (both the maintained
    incremental table and the full recompute) are identical to the
    clean-feed result."""
    pool = adt_messages(spark, n_patients=2)
    root_a = tempfile.mkdtemp(prefix="d6dupa_")
    root_b = tempfile.mkdtemp(prefix="d6dupb_")
    try:
        clean = EmapEngine(storage_root=root_a, maintain_location_visits=True)
        clean.process_batch(pool, 0)

        # the same batch with every message delivered TWICE
        dup = EmapEngine(storage_root=root_b, maintain_location_visits=True)
        dup.process_batch(pool.unionByName(pool), 0)

        a_inc = _intervals(clean.location_visits())
        b_inc = _intervals(dup.location_visits())
        assert a_inc == b_inc and len(a_inc) == 6
        a_full = _intervals(infer_location_visits(clean._movement_history()))
        b_full = _intervals(infer_location_visits(dup._movement_history()))
        assert a_full == b_full == a_inc
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


# -- single pass vs the four-branch reference -----------------------------
def _reference_void_cancelled(moves: DataFrame) -> DataFrame:
    base_type = F.col("message_type")
    for c, t in CANCEL_OF.items():
        base_type = F.when(F.col("message_type") == c, F.lit(t)).otherwise(base_type)
    m = moves.withColumn("base_type", base_type).withColumn(
        "is_cancel", F.col("message_type").isin(*CANCEL_OF)
    )
    wk = W.partitionBy("visit_number", "base_type", "loc").orderBy(
        "valid_from", "source_message_id"
    )
    cancels = m.filter(F.col("is_cancel")).withColumn(
        "void_rank", F.row_number().over(wk)
    )
    events = m.filter(~F.col("is_cancel")).withColumn(
        "event_rank", F.row_number().over(wk)
    )
    voided = cancels.select(
        "visit_number", "base_type", "loc", F.col("void_rank").alias("event_rank")
    )
    return events.join(
        voided, ["visit_number", "base_type", "loc", "event_rank"], "left_anti"
    )


def _reference_infer(adt: DataFrame) -> DataFrame:
    """The four-branch implementation the single pass replaced."""
    moves = adt.filter(
        F.col("message_type").isin(*ARRIVAL_TYPES, "DISCHARGE", *CANCEL_OF)
    ).select(
        "visit_number", "message_type", "valid_from", "source_message_id",
        F.col("location")["value"].alias("loc"),
        F.col("previous_location")["value"].alias("prev_loc"),
    )
    moves = _reference_void_cancelled(moves)
    wt = W.partitionBy("visit_number", "valid_from").orderBy(
        F.col("source_message_id").desc()
    )
    moves = moves.withColumn("__tie", F.row_number().over(wt)).filter(
        F.col("__tie") == 1
    )
    wv = W.partitionBy("visit_number").orderBy("valid_from", "source_message_id")
    seq = (
        moves.withColumn("next_type", F.lead("message_type").over(wv))
        .withColumn("next_base", F.lead("base_type").over(wv))
        .withColumn("next_t", F.lead("valid_from").over(wv))
        .withColumn("next_loc", F.lead("loc").over(wv))
        .withColumn("next_prev_loc", F.lead("prev_loc").over(wv))
        .withColumn(
            "prev_arrival_loc",
            F.last(
                F.when(F.col("base_type").isin(*ARRIVAL_TYPES), F.col("loc")),
                ignorenulls=True,
            ).over(wv.rowsBetween(W.unboundedPreceding, -1)),
        )
    )
    s1, s2, s3 = (F.expr(f"INTERVAL {n} SECONDS") for n in (1, 2, 3))
    arrivals = seq.filter(F.col("base_type").isin(*ARRIVAL_TYPES))
    gap_next = F.col("next_prev_loc").isNotNull() & (
        F.col("next_prev_loc") != F.col("loc")
    )
    discharge_elsewhere = (
        (F.col("next_base") == "DISCHARGE")
        & F.col("next_loc").isNotNull()
        & (F.col("next_loc") != F.col("loc"))
    )
    implied_end = gap_next | discharge_elsewhere
    intervals = arrivals.select(
        "visit_number",
        F.col("loc").alias("location_string"),
        F.col("valid_from").alias("admission_datetime"),
        F.when(
            F.col("next_type").isNotNull(),
            F.when(implied_end, F.col("next_t") - s2).otherwise(F.col("next_t")),
        ).alias("discharge_datetime"),
        F.lit(False).alias("inferred_admission"),
        F.when(F.col("next_type").isNotNull(), implied_end)
        .otherwise(F.lit(False))
        .alias("inferred_discharge"),
    )
    inferred = arrivals.filter(gap_next).select(
        "visit_number",
        F.col("next_prev_loc").alias("location_string"),
        (F.col("next_t") - s3).alias("admission_datetime"),
        (F.col("next_t") - s2).alias("discharge_datetime"),
        F.lit(True).alias("inferred_admission"),
        F.lit(True).alias("inferred_discharge"),
    )
    discharges = seq.filter(F.col("base_type") == "DISCHARGE")
    opens = discharges.filter(
        F.col("loc").isNotNull()
        & (
            F.col("prev_arrival_loc").isNull()
            | (F.col("prev_arrival_loc") != F.col("loc"))
        )
    ).select(
        "visit_number",
        F.col("loc").alias("location_string"),
        (F.col("valid_from") - s1).alias("admission_datetime"),
        F.col("valid_from").alias("discharge_datetime"),
        F.lit(True).alias("inferred_admission"),
        F.lit(False).alias("inferred_discharge"),
    )
    orphan_gaps = discharges.filter(
        F.col("prev_arrival_loc").isNull()
        & F.col("prev_loc").isNotNull()
        & (F.col("prev_loc") != F.col("loc"))
    ).select(
        "visit_number",
        F.col("prev_loc").alias("location_string"),
        (F.col("valid_from") - s3).alias("admission_datetime"),
        (F.col("valid_from") - s2).alias("discharge_datetime"),
        F.lit(True).alias("inferred_admission"),
        F.lit(True).alias("inferred_discharge"),
    )
    return (
        intervals.unionByName(inferred).unionByName(opens).unionByName(orphan_gaps)
    )


_TYPES = (*ARRIVAL_TYPES, "DISCHARGE", *CANCEL_OF, "UPDATE_PATIENT_INFO")

# (msg_id, type, visit, t, loc, prev_loc); one visit per edge
_EDGES = [
    # a cancel with a null loc leaves the null-loc event standing
    ("e1-1", "ADMIT", "E1", "2024-02-01 08:00:00", None, None),
    ("e1-2", "CANCEL_ADMIT", "E1", "2024-02-01 09:00:00", None, None),
    # two cancels void the first two matching events, the third stands
    ("e2-1", "TRANSFER", "E2", "2024-02-01 08:00:00", "A", None),
    ("e2-2", "TRANSFER", "E2", "2024-02-01 09:00:00", "A", None),
    ("e2-3", "TRANSFER", "E2", "2024-02-01 10:00:00", "A", None),
    ("e2-4", "CANCEL_TRANSFER", "E2", "2024-02-01 11:00:00", "A", None),
    ("e2-5", "CANCEL_TRANSFER", "E2", "2024-02-01 11:30:00", "A", None),
    # a cancel with no target voids nothing
    ("e3-1", "ADMIT", "E3", "2024-02-01 08:00:00", "A", None),
    ("e3-2", "CANCEL_DISCHARGE", "E3", "2024-02-01 09:00:00", "B", None),
    # a discharge that opens its own stay
    ("e4-1", "ADMIT", "E4", "2024-02-01 08:00:00", "A", None),
    ("e4-2", "DISCHARGE", "E4", "2024-02-01 12:00:00", "Z", None),
    # an orphan discharge with an unseen previous location
    ("e5-1", "DISCHARGE", "E5", "2024-02-01 12:00:00", "Z", "Y"),
]


def _random_rows(seed: int, n_visits: int) -> list[tuple]:
    """Movement histories over a few locations and few distinct times,
    so same-time ties, rank-paired cancels and gap stays are common;
    some visit numbers, locations and previous locations are null."""
    rng = random.Random(seed)
    locs = ("A", "B", "C", None)
    prev_locs = ("A", "B", "C", "D", None, None)
    rows = []
    for v in range(n_visits):
        visit = None if v % 37 == 0 else f"V{v:04d}"
        for k in range(rng.randint(1, 8)):
            rows.append((
                f"{v:04d}-{k}",
                rng.choice(_TYPES),
                visit,
                f"2024-01-01 {rng.randint(8, 13):02d}:{rng.choice((0, 30)):02d}:00",
                rng.choice(locs),
                rng.choice(prev_locs),
            ))
    return rows


def _adt_frame(spark, rows) -> DataFrame:
    df = spark.createDataFrame(
        rows,
        "source_message_id string, message_type string, visit_number string,"
        " valid_from string, loc string, prev_loc string",
    )
    return df.select(
        "source_message_id",
        "message_type",
        "visit_number",
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        tristate_from_hl7(F.col("loc")).alias("location"),
        tristate_from_hl7(F.col("prev_loc")).alias("previous_location"),
    )


def test_single_pass_matches_four_branch_reference(spark):
    adt = _adt_frame(spark, _random_rows(seed=7, n_visits=300) + _EDGES)
    got, want = infer_location_visits(adt), _reference_infer(adt)
    assert got.schema == want.schema  # names, types and nullability
    got_rows, want_rows = got.collect(), want.collect()
    assert Counter(got_rows) == Counter(want_rows)
    assert len(got_rows) > 500

    by_visit: dict[str, list] = {}
    for r in got_rows:
        by_visit.setdefault(r.visit_number, []).append(
            (r.location_string, r.inferred_admission, r.inferred_discharge)
        )
    assert by_visit["E1"] == [(None, False, False)]
    assert len(by_visit["E2"]) == 1  # only the third transfer stands
    assert by_visit["E3"] == [("A", False, False)]
    assert sorted(by_visit["E4"]) == [("A", False, True), ("Z", True, False)]
    assert sorted(by_visit["E5"]) == [("Y", True, True), ("Z", True, False)]
    # each interval kind occurs in the random part
    kinds = Counter((r.inferred_admission, r.inferred_discharge) for r in got_rows)
    assert all(kinds[k] for k in ((False, False), (False, True), (True, True), (True, False)))


def test_single_pass_plan_shape(spark):
    """One scan of the input, no join, no union, and one shuffle (on
    visit_number) that the void, tie and sequence windows all share."""
    adt = _adt_frame(spark, _EDGES).localCheckpoint()
    plan = infer_location_visits(adt)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert "Join" not in plan and "Union" not in plan, plan
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, \d+\)", plan)
    assert shuffles == ["visit_number"], plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
