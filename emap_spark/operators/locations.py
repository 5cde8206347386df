"""D6: location-visit inference — the most complex operator in the
reference (core/.../controllers/PatientLocationController.java:77-836,
836 LoC of incremental index juggling).

Spark-first design (SURVEY.md §7 step 4): instead of porting the
incremental algorithm, RECOMPUTE each visit's interval sequence from its
full movement-event history with window functions. Same final states,
permutation-invariant by construction (the incremental version exists
only because the reference processes one message at a time).

Semantics reproduced:
- arrivals (ADMIT/TRANSFER) open an interval at the event location;
  the next movement closes it (getIndexOfCurrentAndNextLocationVisit
  :186-249 collapses to lead() once history is sorted)
- DISCHARGE closes the last open interval (:424-475)
- cancellation messages (CANCEL_*) void their matching movement: i-th
  cancel of a (visit, type, location) matches the i-th event (:589-659's
  closest-match, made order-invariant by rank pairing)
- a gap revealed by previous_location mismatch materializes an inferred
  interval with inferred_admission/inferred_discharge flags
  (inferPreviousLocationData :477-517)
- UPDATE_PATIENT_INFO never creates or moves visits (:160-170)
- zero-length stays are guarded (:384-396): same-timestamp moves keep
  only the last arrival per (visit, time)

Plan shape: one scan of the movement history and one shuffle, on
visit_number. Every window partitions by visit_number plus other keys,
so all three (cancel voiding, the same-time tie guard, the visit
sequence) run within those partitions, and one projection emits every
interval kind as rows of one array: no join, no union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# SWAP_LOCATIONS rows are per-patient moves (each A17 half carries that
# patient's new location), so they open intervals exactly like transfers
ARRIVAL_TYPES = ("ADMIT", "TRANSFER", "SWAP_LOCATIONS")
CANCEL_OF = {
    "CANCEL_ADMIT": "ADMIT",
    "CANCEL_TRANSFER": "TRANSFER",
    "CANCEL_DISCHARGE": "DISCHARGE",
}


def _void_cancelled(moves: DataFrame) -> DataFrame:
    """Drop every cancel and the event it voids, in one window.

    The i-th cancel of a (visit_number, base_type, loc) group voids the
    i-th real event of that group, both in (valid_from,
    source_message_id) order: an event is voided when its rank among the
    group's events is at most the group's cancel count. A cancel with no
    target voids nothing.

    Null keys never pair: an event whose visit_number or loc is null is
    never voided, even by a cancel with the same null key (the pairing
    keeps the semantics of an equi anti-join on the group keys, which
    never matches a null)."""
    base_type = F.col("message_type")
    for c, t in CANCEL_OF.items():
        base_type = F.when(F.col("message_type") == c, F.lit(t)).otherwise(base_type)
    is_cancel = F.col("message_type").isin(*CANCEL_OF)
    wk = W.partitionBy("visit_number", "base_type", "loc").orderBy("valid_from", "source_message_id")
    event_rank = F.count_if(~is_cancel).over(wk.rowsBetween(W.unboundedPreceding, W.currentRow))
    n_cancels = F.count_if(is_cancel).over(
        wk.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    voided = (
        (F.col("__event_rank") <= F.col("__n_cancels"))
        & F.col("visit_number").isNotNull()
        & F.col("loc").isNotNull()
    )
    return (
        moves.withColumn("base_type", base_type)
        .select("*", event_rank.alias("__event_rank"), n_cancels.alias("__n_cancels"))
        .filter(~is_cancel & ~voided)
        .drop("__event_rank", "__n_cancels")
    )


def _visit(loc, admitted, discharged, inferred_admission, inferred_discharge):
    """One location_visit row as a struct (flags: bools or Columns)."""
    return F.struct(
        F.col("visit_number"),
        loc.alias("location_string"),
        admitted.alias("admission_datetime"),
        discharged.alias("discharge_datetime"),
        F.lit(inferred_admission).alias("inferred_admission"),
        F.lit(inferred_discharge).alias("inferred_discharge"),
    )


def infer_location_visits(adt: DataFrame) -> DataFrame:
    """adt: ADT_SCHEMA-shaped messages (tri-state location structs).

    Returns location_visit rows: (visit_number, location_string,
    admission_datetime, discharge_datetime, inferred_admission,
    inferred_discharge).
    """
    moves = adt.filter(
        F.col("message_type").isin(*ARRIVAL_TYPES, "DISCHARGE", *CANCEL_OF)
    ).select(
        "visit_number",
        "message_type",
        "valid_from",
        "source_message_id",
        F.col("location")["value"].alias("loc"),
        F.col("previous_location")["value"].alias("prev_loc"),
    )
    # the one shuffle: each window below partitions by visit_number
    # plus other keys, so this clustering satisfies all three
    moves = _void_cancelled(moves.repartition("visit_number"))

    # zero-length guard: same (visit, time) keeps the last message only
    wt = W.partitionBy("visit_number", "valid_from").orderBy(F.col("source_message_id").desc())
    moves = moves.withColumn("__tie", F.row_number().over(wt)).filter(F.col("__tie") == 1)

    wv = W.partitionBy("visit_number").orderBy("valid_from", "source_message_id")
    loc, prev_loc, t = F.col("loc"), F.col("prev_loc"), F.col("valid_from")
    is_arrival = F.col("base_type").isin(*ARRIVAL_TYPES)
    is_discharge = F.col("base_type") == "DISCHARGE"
    seq = moves.select(
        "*",
        *[
            F.lead(c).over(wv).alias(f"next_{c}")
            for c in ("base_type", "valid_from", "loc", "prev_loc")
        ],
        F.last(F.when(is_arrival, loc), ignorenulls=True)
        .over(wv.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_arrival_loc"),
    )
    # base_type is never null, so a null lead means no next event
    has_next = F.col("next_base_type").isNotNull()
    next_t, next_loc, next_prev_loc = (
        F.col(f"next_{c}") for c in ("valid_from", "loc", "prev_loc")
    )
    prev_arrival_loc = F.col("prev_arrival_loc")

    # inferred-interval offsets mirror inferPreviousLocationData
    # (:477-517): the gap stay squeezed before a closing event occupies
    # [t-3s, t-2s]; a stay whose end is only implied closes at t-2s; a
    # discharge that OPENS its own stay admits at t-1s — all duration-
    # bearing, all flagged, never colliding with real event times.
    s1, s2, s3 = (F.expr(f"INTERVAL {n} SECONDS") for n in (1, 2, 3))

    # the next event implies this stay ended EARLIER than the event when
    # (a) it squeezed an unseen previous location in between, or (b) it
    # is a discharge that happened somewhere else
    gap_next = next_prev_loc.isNotNull() & (next_prev_loc != loc)
    discharge_elsewhere = (
        (F.col("next_base_type") == "DISCHARGE") & next_loc.isNotNull() & (next_loc != loc)
    )
    implied_end = gap_next | discharge_elsewhere
    # every interval kind is one optional element of one array, so the
    # sequence is read once (no union of filtered copies)
    visits = F.array(
        # an arrival opens a stay that the next movement closes
        F.when(is_arrival, _visit(
            loc,
            t,
            F.when(has_next, F.when(implied_end, next_t - s2).otherwise(next_t)),
            False,
            F.when(has_next, implied_end).otherwise(F.lit(False)),
        )),
        # gap repair: the next event's previous_location names a location
        # we never saw an arrival for -> inferred interval squeezed
        # between the known stay and the next event
        F.when(is_arrival & gap_next,
               _visit(next_prev_loc, next_t - s3, next_t - s2, True, True)),
        # discharge-opens-stay (:424-475 + createLocationWithInferredAdmit):
        # a discharge at a location with no open stay materializes the
        # stay it closes, with an inferred admission one second before
        F.when(
            is_discharge & loc.isNotNull()
            & (prev_arrival_loc.isNull() | (prev_arrival_loc != loc)),
            _visit(loc, t - s1, t, True, False),
        ),
        # an orphan discharge (no arrivals at all) may still name an
        # unseen previous location -> squeeze its gap stay in as well
        F.when(
            is_discharge & prev_arrival_loc.isNull()
            & prev_loc.isNotNull() & (prev_loc != loc),
            _visit(prev_loc, t - s3, t - s2, True, True),
        ),
    )
    return seq.select(F.inline(F.array_compact(visits)))


def occupancy(location_visits: DataFrame, at) -> DataFrame:
    """Q7: who is where at time t (open interval containing t)."""
    t = F.lit(at).cast("timestamp_ntz")
    return location_visits.filter(
        (F.col("admission_datetime") <= t)
        & (F.col("discharge_datetime").isNull() | (t < F.col("discharge_datetime")))
    )


def repair_orphan_waveforms(waveforms: DataFrame, location_visits: DataFrame) -> DataFrame:
    """Attach-later repair for orphan waveform rows (SURVEY §7 hard
    parts; waveform_hf_data.md:96-126 discusses, the reference leaves
    visit NULL forever, WaveformController.java:60-66 — we can do
    better with a periodic repair join).

    waveforms: rows with nullable `visit_number`; orphans re-join
    against the (possibly newer) location_visit intervals; attached rows
    pass through unchanged. Only orphans shuffle."""
    orphans = waveforms.filter(F.col("visit_number").isNull()).drop("visit_number")
    attached = waveforms.filter(F.col("visit_number").isNotNull())
    lv = location_visits.select(
        F.col("visit_number").alias("lv_visit"),
        F.col("location_string"),
        F.col("admission_datetime"),
        F.col("discharge_datetime"),
    )
    repaired = (
        orphans.join(
            lv,
            (F.col("source_location") == F.col("location_string"))
            & (F.col("observation_datetime") >= F.col("admission_datetime"))
            & (
                F.col("discharge_datetime").isNull()
                | (F.col("observation_datetime") < F.col("discharge_datetime"))
            ),
            "left",
        )
        .select(*orphans.columns, F.col("lv_visit").alias("visit_number"))
    )
    return attached.unionByName(repaired.select(*attached.columns))
