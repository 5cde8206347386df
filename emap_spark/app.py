"""EmapEngine — the assembled pipeline (SURVEY.md §3.1 Spark shape).

A user of the reference feeds interchange messages and reads star
tables; this class is that surface on Spark:

    engine = EmapEngine()
    engine.process_batch(adt_df, batch_id=0)       # or attach to a stream
    engine.table("hospital_visit")                  # current snapshot
    engine.table_asof("hospital_visit", t)          # Q5 time travel
    engine.location_visits()                        # D6-inferred intervals
    engine.occupancy(t)                             # Q7 who-is-where

Tables are maintained in dependency order person -> visit (the
reference's AdtProcessor.processMessage orchestration,
core/.../AdtProcessor.java:67-85); location-visit intervals are
recomputed from accumulated movement history (D6 design, SURVEY §7
step 4) rather than merged incrementally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from emap_spark.expr_cache import cached_exprs
from emap_spark.lineage import cut
from emap_spark.operators.locations import infer_location_visits, occupancy
from emap_spark.operators.merge import (
    ASSIGN,
    FILL_IF_NULL,
    TRISTATE,
    TRISTATE_FILL,
    MergeSpec,
    as_of,
)
from emap_spark.streaming.pipeline import MergePipeline

ARRIVAL_OR_MOVE = (
    "ADMIT",
    "TRANSFER",
    "DISCHARGE",
    "REGISTER",
    "CANCEL_ADMIT",
    "CANCEL_TRANSFER",
    "CANCEL_DISCHARGE",
    "SWAP_LOCATIONS",
    "PENDING_TRANSFER",
    "CANCEL_PENDING_TRANSFER",
)

# identity-rekeying messages captured in the identity history log
# (PersonController.mergeMrns :93-131, updatePatientIdentifiersOrMerge
# :382, VisitController.moveVisitInformation :289-325)
IDENTITY_TYPES = ("MERGE", "CHANGE_IDENTIFIERS", "MOVE_VISIT")

# message types that must never create (or mutate fields of) a visit row:
# UPDATE_PATIENT_INFO per VisitController.java:124-186; identity messages
# rekey existing rows; pending movements are plans, not stays
NON_VISIT_TYPES = (
    "UPDATE_PATIENT_INFO",
    "IMPLIED_ADT",
    "DELETE_PERSON",
    "PENDING_TRANSFER",
    "CANCEL_PENDING_TRANSFER",
) + IDENTITY_TYPES


# the router's filter/projection Columns are built once per JVM
# (see emap_spark.expr_cache)


def _route_mrn(batch: DataFrame) -> DataFrame:
    """D1: every identified message upserts the Mrn row — except A47,
    whose mrn is a rekey TARGET applied at read time (creating it would
    trip the collision guard of apply_identifier_changes)."""
    pred, cols = cached_exprs("mrn", batch, _build_mrn_exprs)
    return batch.filter(pred).select(*cols)


def _build_mrn_exprs():
    return (
        F.col("mrn").isNotNull() & (F.col("message_type") != "CHANGE_IDENTIFIERS"),
        [
            F.col("mrn"),
            F.col("valid_from"),
            F.col("source_message_id").alias("seq"),
            F.col("nhs_number"),
            F.col("source_system"),
        ],
    )


def _route_demographic(batch: DataFrame) -> DataFrame:
    """D4: demographics ride on any ADT message carrying them. A29
    DELETE_PERSON tombstones the row (PersonController
    deletePersonInformation — M9 delete-with-audit)."""
    pred, cols = cached_exprs("demographic", batch, _build_demographic_exprs)
    return batch.filter(pred).select(*cols)


def _build_demographic_exprs():
    return (
        F.col("mrn").isNotNull() & (F.col("message_type") != "CHANGE_IDENTIFIERS"),
        [
            F.col("mrn"),
            F.col("valid_from"),
            F.col("source_message_id").alias("seq"),
            F.col("name_given"),
            F.col("name_family"),
            F.col("sex"),
            F.col("birth_datetime"),
            F.col("death_indicator"),
            F.col("death_datetime"),
            (F.col("message_type") == "DELETE_PERSON").alias("is_delete"),
        ],
    )


def _ts_tristate(value, status) -> F.Column:
    return F.struct(
        value.cast("timestamp_ntz").alias("value"), status.alias("status")
    )


def _route_visit(batch: DataFrame) -> DataFrame:
    """D5: visit lifecycle (VisitController.java:124-238).

    - admit/discharge datetimes are TRISTATE_FILL: a SAVE fills a null
      slot regardless of age (addPresentationAdmissionOrDischargeTime),
      CANCEL_ADMIT / CANCEL_DISCHARGE emit DELETE (removeIfExists, M8 ->
      D5) which clears newer-wins, so cancel-before-discharge permutes
      safely;
    - CANCEL_DISCHARGE also clears disposition/destination
      (removeDischargeInformation);
    - UPDATE_PATIENT_INFO and identity/pending messages never create or
      mutate visits."""
    pred, cols = cached_exprs("visit", batch, _build_visit_exprs)
    return batch.filter(pred).select(*cols)


def _build_visit_exprs():
    mtype = F.col("message_type")
    pred = F.col("visit_number").isNotNull() & ~mtype.isin(*NON_VISIT_TYPES)
    ignore_ts = _ts_tristate(F.lit(None), F.lit("IGNORE"))
    # addPresentationAdmissionOrDischargeTime (VisitController.java:
    # 164-167) early-returns for UNTRUSTED sources even on entity
    # creation: hoover-created visits leave presentation / admission /
    # discharge slots null for EPIC to fill (advice round 2, #1)
    is_trusted = F.coalesce(F.col("source_system") == "EPIC", F.lit(False))
    admission = (
        F.when(~is_trusted, ignore_ts)
        .when(mtype == "CANCEL_ADMIT", _ts_tristate(F.lit(None), F.lit("DELETE")))
        .when(
            F.col("admission_datetime")["status"] != "IGNORE",
            F.col("admission_datetime"),
        )
        .when(mtype == "ADMIT", _ts_tristate(F.col("valid_from"), F.lit("SAVE")))
        .otherwise(ignore_ts)
    )
    discharge = (
        F.when(~is_trusted, ignore_ts)
        .when(
            mtype == "CANCEL_DISCHARGE", _ts_tristate(F.lit(None), F.lit("DELETE"))
        )
        .when(
            F.col("discharge_datetime")["status"] != "IGNORE",
            F.col("discharge_datetime"),
        )
        .when(mtype == "DISCHARGE", _ts_tristate(F.col("valid_from"), F.lit("SAVE")))
        .otherwise(ignore_ts)
    )
    cleared_str = F.struct(
        F.lit(None).cast("string").alias("value"), F.lit("DELETE").alias("status")
    )
    return pred, [
        F.col("visit_number").alias("encounter"),
        F.col("valid_from"),
        F.col("source_message_id").alias("seq"),
        # M6: only EPIC is a trusted source for visits (DataSources.java:9,
        # visitShouldBeUpdated VisitController.java:188-198) — untrusted
        # (hoover/databaseExtracts) messages may create, never overwrite
        is_trusted.alias("trusted"),
        F.col("mrn"),
        F.col("patient_class"),
        F.when(is_trusted & (mtype == "REGISTER"), F.col("valid_from")).alias(
            "presentation_datetime"
        ),
        admission.alias("admission_datetime"),
        discharge.alias("discharge_datetime"),
        F.when(mtype == "CANCEL_DISCHARGE", cleared_str)
        .otherwise(F.col("discharge_disposition"))
        .alias("discharge_disposition"),
        F.when(mtype == "CANCEL_DISCHARGE", cleared_str)
        .otherwise(F.col("discharge_destination"))
        .alias("discharge_destination"),
    ]


def _route_condition(batch: DataFrame) -> DataFrame:
    """D12: CONDITION_SCHEMA messages (interchange generator or the S8
    HL7 factories) -> patient_condition update rows."""
    return batch.select(
        "mrn", "condition_type", "internal_id", "valid_from",
        F.col("source_message_id").alias("seq"),
        "status", "onset_date", "resolution_date", "comment", "severity",
        "is_delete",
    )


def _route_reaction(batch: DataFrame) -> DataFrame:
    """Allergen reactions: replace-set on the newest message's array
    (PatientConditionController.java:213-240)."""
    return batch.filter(
        (F.col("condition_type") == "PATIENT_ALLERGY") | F.col("is_delete")
    ).select(
        "mrn", "condition_type", "internal_id", "valid_from",
        F.col("source_message_id").alias("seq"), "reactions", "is_delete",
    )


def _route_condition_visit(batch: DataFrame) -> DataFrame:
    """Condition-visit links accumulate add-only (:346)."""
    return batch.filter(
        F.col("visit_number").isNotNull() & ~F.col("is_delete")
    ).select(
        "mrn", "condition_type", "internal_id",
        F.col("visit_number").alias("encounter"),
        "valid_from", F.col("source_message_id").alias("seq"),
        F.col("valid_from").alias("first_linked"),
    )


def _route_consult(batch: DataFrame) -> DataFrame:
    """D13: consult interchange rows (consults_from_hl7 shape)."""
    return batch.select(
        "internal_id", "valid_from", F.col("source_message_id").alias("seq"),
        "encounter", "consult_type", "scheduled_datetime",
        "cancelled", "closed_on_discharge", "comments",
    )


def _route_consult_question(batch: DataFrame) -> DataFrame:
    """D16: the consult questions map -> request_answer child rows."""
    return (
        batch.select(
            "internal_id", "valid_from",
            F.col("source_message_id").alias("seq"),
            F.explode_outer("questions").alias("question", "raw"),
        )
        .filter(F.col("question").isNotNull())
        .select(
            "internal_id", "question", "valid_from", "seq",
            F.struct(
                F.col("raw").alias("value"),
                F.when(F.col("raw") == '""', "DELETE").otherwise("SAVE").alias("status"),
            ).alias("answer"),
        )
    )


MRN_SPEC = MergeSpec(
    key=["mrn"],
    fields={"nhs_number": FILL_IF_NULL, "source_system": ASSIGN},
    event_time="valid_from",
    seq="seq",
)
DEMOGRAPHIC_SPEC = MergeSpec(
    key=["mrn"],
    fields={
        "name_given": TRISTATE,
        "name_family": TRISTATE,
        "sex": TRISTATE,
        "birth_datetime": TRISTATE,
        "death_indicator": TRISTATE,
        "death_datetime": TRISTATE,
    },
    event_time="valid_from",
    seq="seq",
    tombstone="is_delete",
)
VISIT_SPEC = MergeSpec(
    key=["encounter"],
    fields={
        "mrn": ASSIGN,
        "patient_class": TRISTATE,
        "presentation_datetime": FILL_IF_NULL,
        "admission_datetime": TRISTATE_FILL,
        "discharge_datetime": TRISTATE_FILL,
        "discharge_disposition": TRISTATE,
        "discharge_destination": TRISTATE,
    },
    event_time="valid_from",
    seq="seq",
    trusted="trusted",
)


class EmapEngine:
    # movement history is hash-partitioned on visit_number so the D6
    # incremental recompute prunes to the buckets its batch touches
    N_VISIT_BUCKETS = 16

    def __init__(
        self,
        granularity: str = "message",
        storage_root: str | None = None,
        backend: str = "delta",
        maintain_location_visits: bool = False,
    ) -> None:
        # message granularity = the reference's per-change audit trail
        # (as_of works at any t); "batch" trades that for fewer rows
        self.storage_root = storage_root
        self.pipeline = MergePipeline(
            {
                "mrn": (MRN_SPEC, _route_mrn),
                "core_demographic": (DEMOGRAPHIC_SPEC, _route_demographic),
                "hospital_visit": (VISIT_SPEC, _route_visit),
            },
            granularity=granularity,
            validator=F.col("mrn").isNotNull() | F.col("visit_number").isNotNull(),
            storage_root=os.path.join(storage_root, "pipeline") if storage_root else None,
            backend=backend,
            # trust gate: hospital_visit's M6 creator arbitration is
            # skipped while every message (and the store) is EPIC-origin
            # — must be the exact negation of _route_visit's `trusted`
            untrusted_flags={
                "hospital_visit": ~F.coalesce(
                    F.col("source_system") == "EPIC", F.lit(False)
                )
            },
        )
        # movement/merge history is an append-only event LOG, not merged
        # state: per batch we append one deduped part (durable mode: one
        # parquet dir per batch id, idempotent on replay) and defer the
        # cross-batch dedupe to read time. The previous design re-unioned
        # and re-deduplicated the whole history every batch — O(n²) over a
        # stream's life and driver-pinned; a log is O(batch) per batch.
        self._movement_parts: list[DataFrame] = []
        self._merge_parts: list[DataFrame] = []
        self._spark: SparkSession | None = None
        self._wf_store = None  # D19 waveform log, created on first use
        # D6 incremental: location_visit maintained as a replace-set
        # delta table — each batch recomputes intervals ONLY for the
        # visits it touches and commits O(touched) rows (durable mode).
        self.maintain_location_visits = maintain_location_visits and storage_root
        self._lv_store = None
        if self.maintain_location_visits:
            from emap_spark.storage import DeltaLog

            self._lv_store = DeltaLog(
                storage_root, "location_visit", key=["visit_number"],
                replace_set=True,
            )
        # D12-D13/D16 clinical tables ride the same pipeline machinery
        # (their message streams have their own schemas, so they get
        # their own MergePipeline instances over the shared storage root)
        from emap_spark.domains.observations import (
            CONDITION_SPEC,
            CONDITION_VISIT_SPEC,
            CONSULT_QUESTION_SPEC,
            CONSULT_SPEC,
            REACTION_SPEC,
        )

        self.condition_pipeline = MergePipeline(
            {
                "patient_condition": (CONDITION_SPEC, _route_condition),
                "allergen_reaction": (REACTION_SPEC, _route_reaction),
                "condition_visits": (CONDITION_VISIT_SPEC, _route_condition_visit),
            },
            granularity=granularity,
            validator=F.col("mrn").isNotNull() & F.col("internal_id").isNotNull(),
            storage_root=os.path.join(storage_root, "conditions") if storage_root else None,
            backend=backend,
        )
        self.consult_pipeline = MergePipeline(
            {
                "consult_request": (CONSULT_SPEC, _route_consult),
                "consult_question": (CONSULT_QUESTION_SPEC, _route_consult_question),
            },
            granularity=granularity,
            validator=F.col("internal_id").isNotNull(),
            storage_root=os.path.join(storage_root, "consults") if storage_root else None,
            backend=backend,
        )
        # D9-D11 lab family: split_lab_messages is the router per table
        from emap_spark.domains.labs import (
            ISOLATE_SPEC,
            ORDER_SPEC,
            RESULT_SPEC,
            SAMPLE_SPEC,
            SENSITIVITY_SPEC,
            split_lab_messages,
        )

        def _lab_router(table: str):
            return lambda b: split_lab_messages(b)[table]

        self.lab_pipeline = MergePipeline(
            {
                "lab_sample": (SAMPLE_SPEC, _lab_router("lab_sample")),
                "lab_order": (ORDER_SPEC, _lab_router("lab_order")),
                "lab_result": (RESULT_SPEC, _lab_router("lab_result")),
                "lab_isolate": (ISOLATE_SPEC, _lab_router("lab_isolate")),
                "lab_sensitivity": (SENSITIVITY_SPEC, _lab_router("lab_sensitivity")),
            },
            granularity=granularity,
            validator=F.col("external_lab_number").isNotNull(),
            storage_root=os.path.join(storage_root, "labs") if storage_root else None,
            backend=backend,
        )
        # D8 flowsheets -> visit_observation
        from emap_spark.domains.observations import (
            OBSERVATION_SPEC,
            flowsheet_updates,
        )

        self.flowsheet_pipeline = MergePipeline(
            {"visit_observation": (OBSERVATION_SPEC, flowsheet_updates)},
            granularity=granularity,
            validator=F.col("visit_number").isNotNull(),
            storage_root=os.path.join(storage_root, "flowsheets") if storage_root else None,
            backend=backend,
        )

    # -- ingestion ---------------------------------------------------------
    def load(self, spark: SparkSession) -> None:
        """Restart path: reattach to durable state (no-op in memory mode)."""
        self._spark = spark
        for p in self._pipelines():
            p.load(spark)

    def _pipelines(self):
        return (
            self.pipeline,
            self.condition_pipeline,
            self.consult_pipeline,
            self.lab_pipeline,
            self.flowsheet_pipeline,
        )

    def process_batch(self, adt_batch: DataFrame, batch_id: int = 0) -> None:
        self._spark = adt_batch.sparkSession
        if self.storage_root is not None:
            self.pipeline.load(self._spark)
            if batch_id in self.pipeline.applied_batches:
                return  # restart replayed a committed batch
        moves = adt_batch.filter(F.col("message_type").isin(*ARRIVAL_OR_MOVE))
        cols = [
            "source_message_id",
            "message_type",
            "visit_number",
            "valid_from",
            "location",
            "previous_location",
        ]
        # NO write-side dropDuplicates: every reader of the history log
        # dedups by source_message_id on read (_movement_history,
        # _update_location_visits, the memory-mode folds), so the
        # persisted log tolerates at-least-once duplicates and the
        # write path saves a hash-agg shuffle. The repartition in
        # write_moves (one plain exchange, explicitly 16 partitions so
        # AQE cannot coalesce it to a single task) buys 16 parallel
        # partition-dir writers instead of one task writing every
        # bucket dir sequentially (~0.6 s/batch measured).
        moves = moves.select(*cols)
        merges = (
            adt_batch.filter(
                F.col("message_type").isin(*IDENTITY_TYPES)
                & (
                    F.col("retired_mrn").isNotNull()
                    | F.col("retired_visit_number").isNotNull()
                )
            )
            .select(
                "message_type",
                "retired_mrn",
                "mrn",
                "retired_visit_number",
                "visit_number",
                "source_message_id",
            )
            .dropDuplicates(["source_message_id"])
        )
        # history parts are independent of the merge results: they run
        # CONCURRENTLY with the table merges inside the pipeline's pool,
        # and are joined before the batch commit marker — a crash
        # between the two replays (idempotently) rather than skipping
        # the history write
        if self.storage_root is not None:

            def write_moves() -> int:
                # hash-partitioned on visit bucket: the D6 incremental
                # recompute (and any per-visit read) prunes partitions
                mv = moves.withColumn(
                    "__vb",
                    F.pmod(
                        F.crc32(F.col("visit_number").cast("binary")),
                        F.lit(self.N_VISIT_BUCKETS),
                    ),
                )
                mv = mv.repartition(self.N_VISIT_BUCKETS, F.col("__vb"))
                mv.write.mode("overwrite").partitionBy("__vb").parquet(
                    os.path.join(self.storage_root, f"movement_history/batch={batch_id}")
                )
                n = 1
                if self.maintain_location_visits:
                    n += self._update_location_visits(moves, batch_id)
                return n

            def write_merges() -> int:
                merges.write.mode("overwrite").parquet(
                    os.path.join(self.storage_root, f"merge_history/batch={batch_id}")
                )
                return 1

        else:

            def write_moves() -> int:
                self._movement_parts.append(cut(moves))
                return 1

            def write_merges() -> int:
                self._merge_parts.append(cut(merges))
                return 1

        # identity messages (A40/A45/A47) are rare in most feeds: the
        # merge-history write is GATED on the staging observation seeing
        # one (zero extra actions; an absent batch dir reads as zero
        # rows, so replay stays idempotent). The previous isEmpty probe
        # re-parsed the batch in an escalating limit-scan every batch —
        # ~0.5 s of single-task stages to conclude "nothing to write".
        identity_gate = F.col("message_type").isin(*IDENTITY_TYPES) & (
            F.col("retired_mrn").isNotNull()
            | F.col("retired_visit_number").isNotNull()
        )
        self.pipeline.process_batch(
            adt_batch,
            batch_id,
            aux_tasks=[write_moves],
            gated_aux=[(identity_gate, write_merges)],
        )

    def _update_location_visits(self, moves: DataFrame, batch_id: int) -> int:
        """D6 incremental (advice round 2 #4): recompute location-visit
        intervals ONLY for visits touched by this batch. The history scan
        prunes to the touched visit buckets (collecting <=16 bucket ids
        to the driver — a bounded scalar read, like the polling-source
        watermarks); the commit is a replace-set delta of O(touched)
        rows. Per-batch cost therefore stays flat as total history grows
        — the full-history recompute only ever runs for untouched-visit
        reads in memory mode."""
        self._lv_store.load(self._spark)
        if self._lv_store.has_batch(batch_id):
            return 0
        buckets = [
            r[0]
            for r in moves.select(
                F.pmod(
                    F.crc32(F.col("visit_number").cast("binary")),
                    F.lit(self.N_VISIT_BUCKETS),
                ).alias("vb")
            )
            .distinct()
            .collect()
            if r[0] is not None
        ]
        touched = moves.select("visit_number").distinct()
        d = os.path.join(self.storage_root, "movement_history")
        hist = (
            self._spark.read.parquet(d)
            .filter(F.col("__vb").isin(buckets))
            .drop("batch", "__vb")
            .join(F.broadcast(touched), "visit_number", "left_semi")
            .dropDuplicates(["source_message_id"])
        )
        new_lv = infer_location_visits(hist).withColumn("__rk", F.lit(1))
        markers = touched.select(
            "visit_number",
            *[
                F.lit(None).cast(new_lv.schema[c].dataType).alias(c)
                for c in new_lv.columns
                if c not in ("visit_number", "__rk")
            ],
            F.lit(0).alias("__rk"),
        )
        return self._lv_store.commit(batch_id, new_lv.unionByName(markers))

    def _movement_history(self) -> DataFrame | None:
        if self.storage_root is not None:
            d = os.path.join(self.storage_root, "movement_history")
            if not os.path.isdir(d):
                return None
            return (
                self._spark.read.parquet(d)
                .drop("batch", "__vb")
                .dropDuplicates(["source_message_id"])
            )
        if not self._movement_parts:
            return None
        out = self._movement_parts[0]
        for p in self._movement_parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates(["source_message_id"])

    def _merge_history(self) -> DataFrame | None:
        if self.storage_root is not None:
            d = os.path.join(self.storage_root, "merge_history")
            if not os.path.isdir(d):
                return None
            parts = self._spark.read.parquet(d).drop("batch")
        elif self._merge_parts:
            parts = self._merge_parts[0]
            for p in self._merge_parts[1:]:
                parts = parts.unionByName(p)
        else:
            return None
        return parts.dropDuplicates(["source_message_id"]).drop("source_message_id")

    def run_stream(self, stream_df: DataFrame, checkpoint_dir: str, **kw):
        """Streaming mode: same per-batch function under foreachBatch."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start(**kw)
        )

    def process_condition_batch(self, condition_msgs: DataFrame, batch_id: int = 0) -> None:
        """D12 ingest: CONDITION_SCHEMA messages (problems / infections /
        allergies — interchange-generated or parsed from raw HL7 by
        sources/hl7_clinical.py) into patient_condition + children."""
        self._spark = condition_msgs.sparkSession
        self.condition_pipeline.process_batch(condition_msgs, batch_id)

    def process_consult_batch(self, consult_msgs: DataFrame, batch_id: int = 0) -> None:
        """D13/D16 ingest: consult rows (consults_from_hl7 shape) into
        consult_request + the request_answer child."""
        self._spark = consult_msgs.sparkSession
        self.consult_pipeline.process_batch(consult_msgs, batch_id)

    def process_lab_batch(self, lab_msgs: DataFrame, batch_id: int = 0) -> None:
        """D9-D11 ingest: LAB_ORDER_SCHEMA messages into the five lab
        tables (sample/order/result + isolate/sensitivity children)."""
        self._spark = lab_msgs.sparkSession
        self.lab_pipeline.process_batch(lab_msgs, batch_id)

    def process_flowsheet_batch(self, flowsheet_msgs: DataFrame, batch_id: int = 0) -> None:
        """D8 ingest: FLOWSHEET_SCHEMA messages into visit_observation."""
        self._spark = flowsheet_msgs.sparkSession
        self.flowsheet_pipeline.process_batch(flowsheet_msgs, batch_id)

    # -- read surface ------------------------------------------------------
    def _state_of(self, name: str):
        for p in self._pipelines():
            if name in p.tables:
                return p.tables[name]
        raise KeyError(name)

    def table(self, name: str) -> DataFrame:
        cur = self._state_of(name).current_df()
        meta = [c for c in cur.columns if c.startswith("__")]
        return cur.filter(~F.col("is_deleted")).drop("is_deleted", *meta)

    def audit(self, name: str) -> DataFrame | None:
        return self._state_of(name).audit()

    def table_asof(self, name: str, t) -> DataFrame:
        state = self._state_of(name)
        return as_of(state.current_df(), state.audit(), t)

    def mrn_to_live(self) -> DataFrame:
        """D2: MrnToLive mapping from accumulated MERGE (A40) messages;
        chains collapsed by pointer doubling (operators/identity.py)."""
        from emap_spark.operators.identity import mrn_to_live

        merges = self._merge_history()
        if merges is not None:
            merges = merges.filter(F.col("message_type") == "MERGE")
            if merges.isEmpty():
                merges = None
        if merges is None:
            base = self.table("mrn").select("mrn")
            return base.select("mrn", F.col("mrn").alias("live_mrn"))
        return mrn_to_live(self.table("mrn").select("mrn"), merges)

    def planned_movements(self) -> DataFrame:
        """D7: pending transfers (A15) rank-matched with their cancels
        (A26) from the movement history log."""
        from emap_spark.domains.pending import match_pending_movements

        history = self._movement_history()
        if history is None:
            raise ValueError("no movement messages processed yet")
        return match_pending_movements(history)

    def hospital_visits_resolved(self) -> DataFrame:
        """D3: hospital_visit with A45 moves and A47 mrn rekeying applied
        at read time (the merge table is keyed by encounter; rekeying is
        a dimension-sized mapping join, not a state rewrite)."""
        from emap_spark.operators.identity import apply_identifier_changes, move_visit

        visits = self.table("hospital_visit")
        hist = self._merge_history()
        if hist is None:
            return visits
        moves = hist.filter(
            (F.col("message_type") == "MOVE_VISIT")
            & F.col("retired_visit_number").isNotNull()
        ).select(
            F.col("retired_visit_number").alias("encounter"),
            F.col("mrn").alias("to_mrn"),
            F.col("visit_number").alias("new_encounter"),
        )
        out = move_visit(visits, moves.select("encounter", "to_mrn"))
        # a move also renames the encounter itself when A45 carries one
        renames = moves.filter(F.col("new_encounter").isNotNull()).select(
            F.col("encounter").alias("old_enc"), "new_encounter"
        )
        out = (
            out.join(renames, out.encounter == renames.old_enc, "left")
            .withColumn("encounter", F.coalesce("new_encounter", F.col("encounter")))
            .drop("old_enc", "new_encounter")
        )
        changes = hist.filter(
            (F.col("message_type") == "CHANGE_IDENTIFIERS")
            & F.col("retired_mrn").isNotNull()
        ).select(F.col("retired_mrn").alias("old_mrn"), F.col("mrn").alias("new_mrn"))
        if not changes.isEmpty():
            remap = changes.select("old_mrn", "new_mrn")
            out = (
                out.join(remap, out.mrn == remap.old_mrn, "left")
                .withColumn("mrn", F.coalesce("new_mrn", F.col("mrn")))
                .drop("old_mrn", "new_mrn")
            )
        return out

    def mrn_rekeyed(self) -> DataFrame:
        """D3: mrn table with A47 identifier changes applied (collision
        targets left untouched — the reference escalates those to merge,
        PersonController.updatePatientIdentifiersOrMerge :382)."""
        from emap_spark.operators.identity import apply_identifier_changes

        hist = self._merge_history()
        base = self.table("mrn")
        if hist is None:
            return base
        changes = hist.filter(
            (F.col("message_type") == "CHANGE_IDENTIFIERS")
            & F.col("retired_mrn").isNotNull()
        ).select(F.col("retired_mrn").alias("old_mrn"), F.col("mrn").alias("new_mrn"))
        if changes.isEmpty():
            return base
        return apply_identifier_changes(base, changes)

    def location_visits(self) -> DataFrame:
        if self.maintain_location_visits:
            self._lv_store.load(self._spark)
            cur = self._lv_store.read_current()
            if cur is not None:
                return cur
        history = self._movement_history()
        if history is None:
            raise ValueError("no movement messages processed yet")
        return infer_location_visits(history)

    def occupancy(self, t) -> DataFrame:
        return occupancy(self.location_visits(), t)

    # -- waveform surface (D19) --------------------------------------------
    def waveform_store(self):
        """The durable waveform log with scheduled orphan repair
        (streaming/waveform_store.py; requires storage_root)."""
        if not self.storage_root:
            raise ValueError("waveform ingest needs storage_root")
        if self._wf_store is None:
            from emap_spark.streaming.waveform_store import WaveformStore

            self._wf_store = WaveformStore(self.storage_root)
            self._wf_store.load(self._spark)
        return self._wf_store

    def ingest_waveforms(self, collated: DataFrame, batch_id: int) -> None:
        """D19 through the engine: attach collated waveform rows to the
        CURRENT location-visit intervals at ingest; orphans (waveforms
        arriving before their ADT) land in attachment-partitioned files
        and the scheduled repair pass re-joins ONLY those against the
        newer intervals — the attach-later path the reference lacks
        (WaveformController.java:60-66 leaves visit NULL forever)."""
        self._spark = collated.sparkSession
        store = self.waveform_store()
        try:
            lv = self.location_visits()
        except ValueError:  # no ADT yet: everything lands as an orphan
            lv = None
        store.ingest(collated, batch_id, lv)

    def waveforms(self) -> DataFrame | None:
        """All ingested waveform rows, repaired attachments included."""
        return self.waveform_store().read()

    def metrics(self, spark) -> DataFrame:
        return self.pipeline.metrics_df(spark)

    # -- validation (Q8, the reference's acceptance flow) --------------------
    def validate(
        self,
        messages: DataFrame,
        start: str,
        end: str,
        ref: DataFrame,
        table: str = "hospital_visit",
        keys: list[str] | None = None,
        tolerances: dict[str, float] | None = None,
        rel_tol: dict[str, float] | None = None,
        n_batches: int = 4,
        time_col: str = "valid_from",
        first_batch_id: int = 0,
    ):
        """The reference's full acceptance flow in one call (emap-setup
        validation_runner.py:98-109 + docs/Data_and_validation/
        validation.md:56-64): replay the [start, end) window of the
        message feed through this engine in chronological batches, then
        compare the resulting star table field-by-field against an
        INDEPENDENT reference extract with the given tolerances.

        Returns ``(run, match)``: the :class:`ValidationReport`
        (days-per-day throughput, the reference's >> 1 target) and the
        per-field match-rate DataFrame (the reference's gate is every
        field's match_pct >= 99). Only the columns present on ``ref``
        are compared; ``keys`` defaults to the visit key."""
        from emap_spark.plans.validation import field_match_report, validation_run

        keys = list(keys or ["encounter"])
        run = validation_run(
            self,
            messages,
            start,
            end,
            n_batches=n_batches,
            time_col=time_col,
            first_batch_id=first_batch_id,
        )
        ours = self.table(table).select(
            *keys, *[c for c in ref.columns if c not in keys]
        )
        match = field_match_report(ours, ref, keys, tolerances, rel_tol)
        return run, match
