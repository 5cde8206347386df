"""The generic bitemporal merge engine — the Spark-native re-expression of
the reference's RowState meta-operator family (SURVEY.md §2.3, M1-M9;
reference core/.../emapstar/RowState.java:77-238 and the controllers that
reuse it).

One parameterized operator, reused by every entity table, exactly as the
reference reuses RowState:

  M1 get-or-create      -> full-outer join updates-to-current on the key
  M2 assign-if-different-> changed-row detection drives audit writes
  M3 tri-state assign   -> {value, status} struct, SAVE/DELETE/IGNORE fold
  M4 newer-wins guard   -> total order (event_time, seq); fold takes last
  M5 fill-if-null       -> per-field contribution time vs current validFrom
  M6 trusted-source     -> untrusted updates may create, never overwrite
  M7 save-or-audit      -> superseded versions appended to the audit frame
                           with validUntil/storedUntil (TemporalCore /
                           AuditCore.java:33-35 semantics)
  M8 remove-if-exists   -> TRISTATE DELETE status
  M9 delete-with-audit  -> tombstone flag; deletion is itself versioned

Design notes (scale + correctness):

* **Order-permutation invariance** (the reference's signature invariant,
  docs/technical_overview/Technical_overview_of_EMAP.md:146-152): the fold
  orders each key's updates by the total order (event_time, seq), so any
  permutation of the input batch produces the same result, and applying
  batches [b1; b2] equals applying b1 ++ b2 (verified by permutation and
  batch-split tests).
* **Deleted entities stay as tombstone rows** (is_deleted=true) in the
  current frame so that a slower-arriving older message cannot resurrect
  an entity — this makes deletion order-invariant too, which the
  reference only achieves by arrival order. Public reads filter them.
* **Distributed by construction**: one hash shuffle on the business key
  for the fold, one join with current (broadcast when current is
  dimension-sized). No collects, no Python row loops; everything stays in
  whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from emap_spark.lineage import cut

# Field policies
ASSIGN = "assign"  # plain field: newest message's value (even if null)
FILL_IF_NULL = "fill_if_null"  # write if currently null, else only if newer
# {value,status} struct; SAVE/DELETE/IGNORE. Semantics: per-field
# last-non-IGNORE-write-wins in EVENT-time order. The reference guards
# tri-state assignment with the entity-level validFrom (RowState usage in
# controllers: isEntityCreated() || validFrom.isAfter(...)), which makes
# the stored value depend on ARRIVAL order whenever a newer message
# IGNOREs a field an older message SAVEs. We keep a per-field
# last-write time (__ts_<field> in the current frame) instead, so every
# field independently converges to the value of its newest SAVE/DELETE —
# the result the reference reaches when messages arrive in event order,
# now guaranteed for every arrival order (W3).
# This one rule subsumes the reference's admission/discharge fill quirk
# (VisitController.java:163-186 fills a null slot regardless of entity
# age; cancellations clear it via removeIfExists :225-238): a SAVE
# against a never-written slot applies at any age, a SAVE older than the
# field's last DELETE stays rejected.
TRISTATE = "tristate"
# alias kept for spec readability where the fill quirk is the intent
TRISTATE_FILL = "tristate_fill"
TRISTATES = (TRISTATE, TRISTATE_FILL)
# Policies whose fields keep a per-field last-write time (__ts_<field>)
# in the current frame. FILL_IF_NULL needs it for the same reason the
# tri-states do: the reference applies messages one at a time in event
# order, so "overwrite only if newer" compares against the time of the
# write that produced the STORED FIELD VALUE — which, across batch
# splits, is not the entity's valid_from (a later message touching other
# fields advances valid_from past the fill field's own last write, and
# the entity-level comparison then wrongly rejects the newer fill).
# Reference: RowState.assignIfCurrentlyNullOrNewerAndDifferent,
# core/.../RowState.java:207-238 under the order-permutation invariant.
TS_TRACKED = (TRISTATE, TRISTATE_FILL, FILL_IF_NULL)

SAVE, DELETE, IGNORE = "SAVE", "DELETE", "IGNORE"

# M6: content created by an UNTRUSTED source is recorded at this time
# floor instead of its message time. The reference lets a trusted
# message overwrite an untrusted-sourced entity REGARDLESS of age
# (visitShouldBeUpdated, VisitController.java:188-198: trusted &&
# (!isTrusted(entity.source) || newer)); flooring untrusted write times
# encodes exactly that — any trusted write is "newer" than every
# untrusted one — while staying order-invariant and needing no extra
# provenance state (an entity validFrom at the floor IS the marker).
UNTRUSTED_EPOCH = "1800-01-01 00:00:00"

META_COLS = ("valid_from", "stored_from", "is_deleted")
AUDIT_EXTRA = ("valid_until", "stored_until")


def tristate(value: Column, status: Column | str | None = None) -> Column:
    """Build a tri-state struct column (InterchangeValue.java:16-17).

    HL7 convention (InterchangeValue.buildFromHl7, :100-107): missing ->
    IGNORE, '""' -> DELETE, else SAVE.
    """
    if status is None:
        status = (
            F.when(value.isNull(), F.lit(IGNORE))
            .when(value.cast("string") == '""', F.lit(DELETE))
            .otherwise(F.lit(SAVE))
        )
    elif isinstance(status, str):
        status = F.lit(status)
    return F.struct(value.alias("value"), status.alias("status"))


@dataclass
class MergeSpec:
    """Declarative description of one entity table's merge behavior."""

    key: list[str]
    fields: dict[str, str]  # field name -> policy
    event_time: str = "valid_from"  # message validFrom column in updates
    seq: str | None = None  # total-order tie-break (sourceMessageId)
    trusted: str | None = None  # boolean col in updates; None = all trusted
    tombstone: str | None = None  # boolean col in updates marking M9 deletes

    def ordering(self) -> list[Column]:
        cols = [F.col(self.event_time)]
        if self.seq:
            cols.append(F.col(self.seq))
        return cols


class MergeResult:
    """Result views of one merge.

    current: post-merge current snapshot (incl. tombstone rows).
    audit: superseded versions produced by THIS merge.
    combined: single-action form — every row version produced by this
    merge in ONE frame: current versions tagged __rk=1, superseded/audit
    versions __rk>1 (with valid_until/stored_until). Materializing
    `combined` computes the fold ONCE; `current`/`audit` are separate
    plans that would each recompute it. The pipeline persists `combined`
    (one write per table per batch) and derives both views from the
    materialized file — see split_combined.

    Each view may be passed as a DataFrame or as a zero-arg THUNK:
    building these plans costs real driver time (py4j + analysis of
    hundreds of expressions), and most callers read exactly one view —
    the pipeline persists `combined` only, the snapshot queries read
    `current` only — so unread views are never constructed."""

    def __init__(self, current, audit=None, combined=None) -> None:
        self._current, self._audit, self._combined = current, audit, combined

    @property
    def current(self) -> DataFrame:
        if callable(self._current):
            self._current = self._current()
        return self._current

    @property
    def audit(self) -> DataFrame:
        if callable(self._audit):
            self._audit = self._audit()
        return self._audit

    @property
    def combined(self) -> DataFrame | None:
        if callable(self._combined):
            self._combined = self._combined()
        return self._combined

    def live(self) -> DataFrame:
        """Public view: live rows only (M9 tombstones filtered), merge
        metadata (__ts last-write markers) stripped."""
        meta = [c for c in self.current.columns if c.startswith("__")]
        return self.current.filter(~F.col("is_deleted")).drop("is_deleted", *meta)


def split_combined(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(current, audit) views over a materialized `combined` frame."""
    cur = combined.filter(F.col("__rk") == 1).drop(
        "valid_until", "stored_until", "__rk"
    )
    aud = combined.filter(F.col("__rk") > 1).drop("__rk")
    aud = aud.drop(*[c for c in aud.columns if c.startswith("__")])
    return cur, aud


def _fold_field(name: str, policy: str, spec: MergeSpec, frame) -> list[Column]:
    """Columns folding one field across a key's ordered updates.

    Returns [value_col, contribution_time_col]. The contribution time is
    the event time of the message that supplied the value — needed for
    FILL_IF_NULL's "only overwrite if newer" check against current.
    """
    t = F.col(spec.event_time)
    if policy == ASSIGN:
        # newest message's value, explicitly including null (plain fields
        # are always carried by the message)
        val = F.last(F.col(name), ignorenulls=False).over(frame)
        contrib = F.last(t, ignorenulls=False).over(frame)
    elif policy == FILL_IF_NULL:
        mask = F.when(F.col(name).isNotNull(), F.struct(F.col(name).alias("v"), t.alias("t")))
        picked = F.last(mask, ignorenulls=True).over(frame)
        val, contrib = picked["v"], picked["t"]
    elif policy in TRISTATES:
        # last non-IGNORE action in the batch: value (null for DELETE)
        # plus its event time — the candidate's per-field write time
        st = F.col(name)["status"]
        mask = F.when(
            st != IGNORE,
            F.struct(
                F.when(st == SAVE, F.col(name)["value"]).alias("v"), t.alias("t")
            ),
        )
        picked = F.last(mask, ignorenulls=True).over(frame)
        val, contrib = picked["v"], picked["t"]
    else:
        raise ValueError(f"unknown policy {policy!r} for field {name!r}")
    return [val.alias(name), contrib.alias(f"__t_{name}")]


def _mask_tombstone_fields(updates: DataFrame, spec: MergeSpec, tomb: Column) -> DataFrame:
    """Null out field contributions on tombstone rows so deletes carry no
    values into the entity's next incarnation."""
    cols = []
    for c in updates.columns:
        if c in spec.fields:
            if spec.fields[c] in TRISTATES:
                value_type = updates.schema[c].dataType["value"].dataType
                ignored = F.struct(
                    F.lit(None).cast(value_type).alias("value"),
                    F.lit(IGNORE).alias("status"),
                )
                cols.append(F.when(tomb, ignored).otherwise(F.col(c)).alias(c))
            else:
                cols.append(F.when(tomb, F.lit(None)).otherwise(F.col(c)).alias(c))
        else:
            cols.append(F.col(c))
    return updates.select(*cols)


# fold_updates' expression templates per spec (no batch-varying pieces
# at all in the fold itself)
_FOLD_CACHE: dict = {}


def _fold_field_running(name: str, policy: str, cum, w) -> list[Column]:
    """Stage-1 fold cols for one field: the RUNNING value after each row
    and the cumulative contribution count — inputs to the per-field
    change marks (reference vf semantics: validFrom only advances when a
    value actually changed, RowState.assignIfDifferent)."""
    if policy == ASSIGN:
        r: Column = F.col(name)  # every message carries plain fields
        nc = F.row_number().over(w)
    elif policy == FILL_IF_NULL:
        r = F.last(F.col(name), ignorenulls=True).over(cum)
        nc = F.count(F.col(name)).over(cum)
    else:  # TRISTATES
        st_ = F.col(name)["status"]
        act = F.when(
            st_ != IGNORE,
            F.struct(F.when(st_ == SAVE, F.col(name)["value"]).alias("v")),
        )
        r = F.last(act, ignorenulls=True).over(cum)["v"]
        nc = F.count(F.when(st_ != IGNORE, F.lit(1))).over(cum)
    return [r.alias(f"__r_{name}"), nc.alias(f"__nc_{name}")]


def _fold_templates(spec: MergeSpec) -> dict:
    ck = (
        tuple(spec.key), tuple(spec.fields.items()), spec.event_time,
        spec.seq, spec.tombstone,
    )
    t = _FOLD_CACHE.get(ck)
    if t is not None:
        return t
    order = spec.ordering()
    w = W.partitionBy(*spec.key).orderBy(*order)
    frame = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tomb = F.col(spec.tombstone) if spec.tombstone else F.lit(False)
    # WINDOW-OP FUSION (r9, same idiom as the mbv templates): this is a
    # whole-partition max, so it is written over the ORDERED spec with an
    # unbounded frame (identical result) — its required child ordering
    # then matches the stage-1/fold windows', and Catalyst plans ONE sort
    # of the batch for the whole fold instead of a key-only sort here
    # plus a (key, t, seq) re-sort after the tombstone filter.
    last_tomb_t = F.max(F.when(tomb, F.col(spec.event_time))).over(frame)
    stage1: list[Column] = []
    cols: list[Column] = [F.col(k) for k in spec.key]
    marks: list[Column] = []
    for name, policy in spec.fields.items():
        cols.extend(_fold_field(name, policy, spec, frame))
        stage1.extend(_fold_field_running(name, policy, cum, w))
        # Per-field change marks, computed over the stage-1 running
        # values (real message times, __raw_t):
        #   __c_<f>  time of the last change AFTER the field's first
        #            in-batch contribution (unconditionally a real
        #            change — the running value moved);
        #   __f_<f>/__fv_<f>  time/value of the FIRST contribution —
        #            whether it was a real change depends on the stored
        #            value, which only merge_batch knows (it compares
        #            __fv against the stored baseline).
        r = F.col(f"__r_{name}")
        nc = F.col(f"__nc_{name}")
        chg = ~r.eqNullSafe(F.lag(r).over(w))
        is_first = (nc == 1) & (
            F.coalesce(F.lag(nc).over(w), F.lit(0)) == 0
        )
        marks.append(
            F.max(F.when(chg & ~is_first, F.col("__raw_t"))).over(frame).alias(
                f"__c_{name}"
            )
        )
        marks.append(
            F.max(F.when(is_first, F.col("__raw_t"))).over(frame).alias(
                f"__f_{name}"
            )
        )
        marks.append(
            F.first(F.when(is_first, r), ignorenulls=True).over(frame).alias(
                f"__fv_{name}"
            )
        )
    marks.append(
        F.min(F.when(~tomb, F.col("__raw_t"))).over(frame).alias("__first_live_t")
    )
    cols.append(F.last(F.col(spec.event_time)).over(frame).alias("__event_time"))
    cols.append(F.last(tomb).over(frame).alias("__tombstone"))
    # the newest in-batch tombstone time rides on the candidate so
    # merge_batch can clear STORED state older than it (a mid-batch
    # delete must wipe fields written by earlier batches, exactly as the
    # sequential reference application would)
    cols.append(F.col("__last_tomb_t").alias("__tomb_t"))
    cols.append(F.row_number().over(w).alias("__rn"))
    t = {
        "last_tomb_t": last_tomb_t,
        "stage1_cols": stage1,
        "fold_cols": cols + marks,
    }
    _FOLD_CACHE[ck] = t
    return t


def fold_updates(updates: DataFrame, spec: MergeSpec) -> DataFrame:
    """Reduce a batch of update messages to one candidate row per key.

    Equivalent to applying the messages one-at-a-time in (event_time, seq)
    order — which is what makes whole-batch merging safe (§3.1 of
    SURVEY.md: per-message transactions become per-batch).
    """
    if spec.trusted:
        # M6 unified fold (visitShouldBeUpdated, VisitController.java:
        # 188-204 applied in EVENT order): an untrusted message may only
        # CREATE, so at most the raw-earliest update per key acts when
        # it is untrusted; every other untrusted message changes nothing
        # and is dropped BEFORE the fold. The creator's event/field
        # times are floored to UNTRUSTED_EPOCH (internal precedence —
        # any trusted write, at any event time, supersedes them), which
        # the fold inherits by flooring the creator's event-time column;
        # since the creator is raw-first among kept rows, the floored
        # ordering IS the raw order. The candidate also reports
        # __u_creator_t — the creator's REAL event time — so merge_batch
        # can arbitrate creator-vs-stored-untrusted-creation (earliest
        # real event time wins, invariant under batch splits).
        E = _trusted_fold_templates(spec)
        # ONE select per logical step (withColumn chains re-analyze the
        # whole plan per call — the per-batch driver floor, SURVEY §8a00)
        kept = (
            updates.select("*", E["rn"].alias("__m6_rn"))
            .filter(E["keep"])
            .select(
                *[
                    (
                        E["floored_t"].alias(c)
                        if c == spec.event_time
                        else F.col(c)
                    )
                    for c in updates.columns
                ],
                F.col(spec.event_time).alias("__raw_t"),
            )
        )
        spec_plain = MergeSpec(
            key=spec.key,
            fields=spec.fields,
            event_time=spec.event_time,
            seq=spec.seq,
            tombstone=spec.tombstone,
        )
        T = _fold_templates(spec_plain)
        kept = kept.withColumn("__last_tomb_t", T["last_tomb_t"]).filter(
            F.col("__last_tomb_t").isNull()
            | (F.col(spec.event_time) >= F.col("__last_tomb_t"))
        )
        if spec.tombstone:
            kept = _mask_tombstone_fields(kept, spec_plain, F.col(spec.tombstone))
        S = _shadow_templates(spec_plain, spec.trusted)
        kept = kept.select("*", *T["stage1_cols"], *S["stage1"])
        return (
            kept.select(*T["fold_cols"], *S["marks"], *E["extra_cols"])
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    T = _fold_templates(spec)
    # Ignore everything at-or-before the newest tombstone; the tombstone
    # row itself survives the cut so the delete action is visible.
    # (one select, not a withColumn chain — each withColumn re-analyzes)
    updates = updates.select(
        "*",
        F.col(spec.event_time).alias("__raw_t"),
        T["last_tomb_t"].alias("__last_tomb_t"),
    ).filter(
        F.col("__last_tomb_t").isNull()
        | (F.col(spec.event_time) >= F.col("__last_tomb_t"))
    )
    # a delete message's field payload must not leak into a later
    # resurrection: mask its field contributions (delete action only)
    if spec.tombstone:
        updates = _mask_tombstone_fields(updates, spec, F.col(spec.tombstone))

    updates = updates.select("*", *T["stage1_cols"])
    folded = updates.select(*T["fold_cols"]).filter(F.col("__rn") == 1)
    # one projection for the drop + the plain-spec provenance defaults
    # (a withColumn chain would re-analyze the plan per call)
    out = [F.col(c) for c in folded.columns if c != "__rn"]
    if "__trusted" not in folded.columns:
        out.append(F.lit(True).alias("__trusted"))
    if "__real_t" not in folded.columns:
        out.append(F.col("__event_time").alias("__real_t"))
    return folded.select(*out)


# Shadow-mark templates for trusted specs: the same per-field change
# marks, computed AS IF the batch's untrusted creator were absent
_SHADOW_CACHE: dict = {}


def _shadow_templates(spec: MergeSpec, trusted: str) -> dict:
    """Per-field change marks gated to TRUSTED rows (``__c2_/__f2_/
    __fv2_`` + ``__first_live2_t``).

    Why: the unified trusted fold keeps the batch's untrusted raw-first
    message as a candidate creator, because at fold time nobody knows
    whether the stored entity exists. When merge_batch then finds it
    DOES exist (creator_invalid), the creator's VALUES are masked — but
    the ungated change marks were computed with the creator in the
    sequence, so a trusted write could look like a change relative to
    the creator's value (phantom audit + validFrom advance) or inherit
    the creator's first-contribution time (ADVICE r4 merge.py:700,
    reference semantics VisitController.visitShouldBeUpdated,
    core/.../VisitController.java:188-204). merge_batch switches to
    these shadow marks exactly when creator_invalid, making mixed-trust
    batches over existing entities equal sequential replay."""
    ck = (
        tuple(spec.key), tuple(spec.fields.items()), spec.event_time,
        spec.seq, spec.tombstone, trusted,
    )
    t = _SHADOW_CACHE.get(ck)
    if t is not None:
        return t
    order = spec.ordering()
    w = W.partitionBy(*spec.key).orderBy(*order)
    frame = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tr = F.col(trusted)
    tomb = F.col(spec.tombstone) if spec.tombstone else F.lit(False)
    stage1: list[Column] = []
    marks: list[Column] = []
    for name, policy in spec.fields.items():
        if policy == ASSIGN:
            contrib = F.when(tr, F.struct(F.col(name).alias("v")))
        elif policy == FILL_IF_NULL:
            contrib = F.when(
                tr & F.col(name).isNotNull(), F.struct(F.col(name).alias("v"))
            )
        else:  # TRISTATES
            st_ = F.col(name)["status"]
            contrib = F.when(
                tr & (st_ != IGNORE),
                F.struct(F.when(st_ == SAVE, F.col(name)["value"]).alias("v")),
            )
        stage1.append(
            F.last(contrib, ignorenulls=True).over(cum)["v"].alias(f"__r2_{name}")
        )
        stage1.append(F.count(contrib).over(cum).alias(f"__nc2_{name}"))
        r2 = F.col(f"__r2_{name}")
        nc2 = F.col(f"__nc2_{name}")
        chg2 = ~r2.eqNullSafe(F.lag(r2).over(w))
        is_first2 = (nc2 == 1) & (F.coalesce(F.lag(nc2).over(w), F.lit(0)) == 0)
        marks.append(
            F.max(F.when(chg2 & ~is_first2, F.col("__raw_t"))).over(frame).alias(
                f"__c2_{name}"
            )
        )
        marks.append(
            F.max(F.when(is_first2, F.col("__raw_t"))).over(frame).alias(
                f"__f2_{name}"
            )
        )
        marks.append(
            F.first(F.when(is_first2, r2), ignorenulls=True).over(frame).alias(
                f"__fv2_{name}"
            )
        )
    marks.append(
        F.min(F.when(~tomb & tr, F.col("__raw_t"))).over(frame).alias(
            "__first_live2_t"
        )
    )
    t = {"stage1": stage1, "marks": marks}
    _SHADOW_CACHE[ck] = t
    return t


# M6 expression templates for the unified trusted fold, per spec
_TRUSTED_FOLD_CACHE: dict = {}


def _trusted_fold_templates(spec: MergeSpec) -> dict:
    ck = (
        tuple(spec.key), tuple(spec.fields.items()), spec.event_time,
        spec.seq, spec.trusted, spec.tombstone,
    )
    t = _TRUSTED_FOLD_CACHE.get(ck)
    if t is not None:
        return t
    tr = F.col(spec.trusted)
    order = [F.col(spec.event_time)]
    if spec.seq:
        order.append(F.col(spec.seq))
    w_raw = W.partitionBy(*spec.key).orderBy(*order)
    floor = F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz")
    # the fold below orders by the FLOORED event time; the kept creator
    # is raw-first so it still folds first — extras ride that frame
    forder = [F.col(spec.event_time)]
    if spec.seq:
        forder.append(F.col(spec.seq))
    frame = (
        W.partitionBy(*spec.key)
        .orderBy(*forder)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    t = {
        "rn": F.row_number().over(w_raw),
        "keep": tr | (F.col("__m6_rn") == 1),
        "floored_t": F.when(~tr, floor).otherwise(F.col(spec.event_time)),
        "extra_cols": [
            # whole-partition aggregates written over the ordered full
            # frame (identical results) so they FUSE into the Window op
            # that already evaluates __real_t / the fold columns instead
            # of adding an unordered pass per distinct spec (r9, the
            # mbv templates' window-op-fusion idiom)
            F.max(tr).over(frame).alias("__trusted"),
            F.last(F.col("__raw_t")).over(frame).alias("__real_t"),
            F.max(F.when(~tr, F.col("__raw_t"))).over(frame).alias(
                "__u_creator_t"
            ),
            # earliest TRUSTED real event time in the batch: merge_batch
            # compares it against a stored untrusted creation's time —
            # an earlier trusted event voids the creation (in event
            # order the trusted message creates first and the untrusted
            # one is skipped)
            F.min(F.when(tr, F.col("__raw_t"))).over(frame).alias(
                "__tr_min_t"
            ),
        ],
    }
    _TRUSTED_FOLD_CACHE[ck] = t
    return t


_EMPTY_SCHEMA_CACHE: dict = {}


def _spec_schema_key(spec: MergeSpec, schema) -> tuple:
    return (
        tuple(spec.key),
        tuple(spec.fields.items()),
        spec.event_time,
        spec.seq,
        spec.trusted,
        spec.tombstone,
        tuple((f.name, f.dataType.simpleString()) for f in schema.fields),
    )


def empty_current(spark, updates: DataFrame, spec: MergeSpec) -> DataFrame:
    """Schema-correct empty current frame derived from an updates frame.
    The schema derivation builds (and analyzes) a full fold plan just to
    learn the types — cached per (spec, schema) so only the first batch
    of a spec's lifetime pays it."""
    ck = _spec_schema_key(spec, updates.schema)
    st = _EMPTY_SCHEMA_CACHE.get(ck)
    if st is None:
        folded = fold_updates(updates.limit(0), spec)
        sel = [F.col(k) for k in spec.key]
        for name in spec.fields:
            sel.append(F.col(name))
        sel.append(F.col("__event_time").alias("valid_from"))
        sel.append(F.col("__event_time").alias("stored_from"))
        sel.append(F.lit(False).alias("is_deleted"))
        for name, policy in spec.fields.items():
            if policy in TS_TRACKED:
                sel.append(F.col(f"__t_{name}").alias(f"__ts_{name}"))
        sel.append(F.lit(None).cast("timestamp_ntz").alias("__floor_t"))
        sel.append(F.lit(None).cast("timestamp_ntz").alias("__cre_t"))
        sel.append(F.lit(None).cast("timestamp_ntz").alias("__seen_t"))
        if spec.trusted:
            sel.append(F.lit(None).cast("timestamp_ntz").alias("__first_t"))
            sel.append(F.lit(False).alias("__untrusted"))
        st = folded.select(*sel).schema
        _EMPTY_SCHEMA_CACHE[ck] = st
    # limit(0) lets the optimizer SEE the emptiness: a bare
    # createDataFrame([], st) is an RDD-backed scan with
    # UnknownPartitioning, so the first batch's full-outer join against
    # it planned a real SortMergeJoin (exchange + sort of both sides);
    # OptimizeLimitZero folds limit(0) to an empty LocalRelation and
    # PropagateEmptyRelation then rewrites the join to a null-padded
    # projection of the candidate side — no exchange, no sort, no join.
    # This fires statically, so it also covers the ingest path where
    # adaptive execution is scoped out of the batch window.
    return spark.createDataFrame([], st).limit(0)


def _ts_cols(spec: MergeSpec) -> list[str]:
    """Per-field last-write-time metadata columns kept in current."""
    return [f"__ts_{n}" for n, p in spec.fields.items() if p in TS_TRACKED]


def _meta_cols(spec: MergeSpec) -> list[str]:
    """All internal metadata columns kept in the current frame: per-field
    last-write times, the incarnation floor __floor_t (the newest
    tombstone time at-or-before this incarnation — contributions older
    than it were voided by the delete and may never fill the new
    incarnation's slots), + (for trusted specs) the untrusted-creation
    flag.
    The M6 precedence floor (UNTRUSTED_EPOCH) lives ONLY in these
    internals — the public surface (valid_from, audit validity) always
    carries the message's real event time, matching the reference, which
    stores the actual validFrom for untrusted-created entities."""
    cols = _ts_cols(spec) + ["__floor_t", "__cre_t", "__seen_t"]
    if spec.trusted:
        # earliest APPLIED event time ever absorbed for the key: the M6
        # creation arbiter — an untrusted message may create only when
        # its event time precedes every event the key has ever applied
        # (in event-order replay it would have been processed first,
        # against no existing state)
        cols = cols + ["__first_t"]
    if spec.trusted:
        cols = cols + ["__untrusted"]
    return cols


def merge_batch(
    current: DataFrame | None,
    updates: DataFrame,
    spec: MergeSpec,
    stored_from,
) -> MergeResult:
    """Apply one batch of updates to the current snapshot.

    Returns the new current frame and the audit rows for superseded
    versions (M7: previous row + validUntil=superseding validFrom,
    storedUntil=stored_from; RowState.saveEntityOrAuditLogIfRequired,
    RowState.java:186-201).
    """
    spark = updates.sparkSession
    if current is None:
        current = empty_current(spark, updates, spec)
    # tolerate pre-metadata frames: add any missing metadata columns in
    # ONE projection (a withColumn per column re-analyzes the plan)
    _missing = [
        c
        for c in [*_ts_cols(spec), "__floor_t", "__cre_t", "__seen_t"]
        + (["__first_t"] if spec.trusted else [])
        if c not in current.columns
    ]
    _adds = [F.lit(None).cast("timestamp_ntz").alias(c) for c in _missing]
    if spec.trusted and "__untrusted" not in current.columns:
        _adds.append(F.lit(False).alias("__untrusted"))
    if _adds:
        current = current.select("*", *_adds)

    cand = fold_updates(updates, spec)

    key = spec.key
    cur = current.alias("cur")
    cnd = cand.alias("cnd")
    joined = cur.join(cnd, key, "full_outer")

    T = _mb_templates(spec)
    for tier in T["helpers"]:
        # stacked intermediate projections computing the shared trusted-
        # precedence predicates per row (see the Janino guard note in
        # _mb_templates) — the giant trees codegen once, not per field
        joined = joined.select("*", *tier)
    stored_lit = F.lit(stored_from).cast("timestamp_ntz")
    # stored_from is the only batch-varying literal: the stored_from of
    # a surviving row, plus the audit/combined stored_until below
    new_stored_from = F.when(
        T["keep_stored"], F.col("cur.stored_from")
    ).otherwise(stored_lit)
    merged = joined.select(
        *T["merged_cols_head"],
        new_stored_from.alias("stored_from"),
        *T["merged_cols_tail"],
    )

    # the three views share `merged` but are built LAZILY (MergeResult
    # thunks): each costs an analysis pass over hundreds of expressions,
    # and most callers read exactly one view

    def _audit() -> DataFrame:
        # explode-of-null instead of filter(__audit_me): see _combined's
        # note — a Filter on a computed alias is predicate-pushed below
        # the projections with the alias substituted, re-inlining the
        # trees the helper tiers deduplicate. explode(null) emits no row.
        s = F.struct(*T["audit_cols"], stored_lit.alias("stored_until"))
        return merged.select(
            F.explode(F.when(F.col("__audit_me"), F.array(s))).alias("__r")
        ).select("__r.*")

    def _current() -> DataFrame:
        return merged.select(
            *key, *spec.fields, "valid_from", "stored_from", "is_deleted",
            *_meta_cols(spec),
        )

    def _combined() -> DataFrame:
        # combined: each merged row explodes into its new version (+ the
        # superseded version when audited) in ONE pass over the join — no
        # double computation of the fold when the pipeline persists it.
        # The audit gate is a CONDITIONAL ARRAY, not a post-explode
        # filter: a Filter node referencing computed aliases gets
        # predicate-pushed below every projection with the aliases
        # SUBSTITUTED — re-inlining the giant trusted-precedence trees
        # the helper tiers exist to deduplicate (Janino 64 KB, r6 ledger
        # item 35). explode() drops nothing here, so no filter is needed.
        new_struct = F.struct(*T["new_struct_cols"])
        old_struct = F.struct(
            *T["old_struct_cols"],
            stored_lit.alias("stored_until"),
            F.lit(2).alias("__rk"),
        )
        arr = F.when(
            F.col("__audit_me"), F.array(new_struct, old_struct)
        ).otherwise(F.array(new_struct))
        return merged.select(F.explode(arr).alias("__r")).select("__r.*")

    return MergeResult(current=_current, audit=_audit, combined=_combined)


# merge_batch's expression templates (everything that does not embed the
# per-batch stored_from literal), cached per spec — see the _mbv_templates
# note: Column objects are immutable templates, and rebuilding them per
# call costs ~0.8s of py4j round trips.
_MB_CACHE: dict = {}


def _mb_templates(spec: MergeSpec) -> dict:
    ck = (
        tuple(spec.key),
        tuple(spec.fields.items()),
        spec.event_time,
        spec.seq,
        spec.trusted,
        spec.tombstone,
    )
    t = _MB_CACHE.get(ck)
    if t is not None:
        return t

    key = spec.key
    cur_exists = F.col("cur.valid_from").isNotNull() | F.col("cur.is_deleted").isNotNull()
    cnd_exists = F.col("cnd.__event_time").isNotNull()
    cur_deleted = F.coalesce(F.col("cur.is_deleted"), F.lit(False))
    # TWO stored times with distinct jobs:
    #  * __seen_t — the M4 newer-wins boundary: the newest message time
    #    the entity has absorbed, INCLUDING no-ops. The reference gets
    #    this for free by advancing validFrom on every update; since our
    #    validFrom is change-gated (reference-exact), a no-op's time
    #    must survive somewhere or an out-of-order older ASSIGN would
    #    later overwrite state a newer no-op had reasserted.
    #  * valid_from — the public change time (only advances on real
    #    changes), used for the vf no-regress floor.
    # Both sit at the UNTRUSTED_EPOCH floor for untrusted-created rows
    # (any trusted write supersedes them, M6).
    raw_seen = F.coalesce(F.col("cur.__seen_t"), F.col("cur.valid_from"))
    if spec.trusted:
        _flr = F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz")
        # PURITY (r6 second explore falsifier): the precedence floor —
        # and the wholesale void below — only apply to a store that
        # never absorbed a single trusted write since its untrusted
        # creation. __seen_t is exactly that marker: it advances on
        # EVERY absorbed message (no-ops included) at the message's
        # PRECEDENCE time, so an untrusted-created store sits at the
        # floor until the first trusted write lands — even a change-
        # gated no-op (which leaves the creation's version row, and its
        # __untrusted flag, as current) raises it to a real time. An
        # IMPURE store's values are trusted-era state: flooring its
        # newer-wins boundary would let an out-of-order older trusted
        # write overwrite what a newer absorbed trusted write asserted.
        _unt_floor = F.coalesce(F.col("cur.__untrusted"), F.lit(False)) & (
            F.coalesce(raw_seen <= _flr, F.lit(False))
        )
        cur_seen = F.when(_unt_floor, _flr).otherwise(raw_seen)
        cur_prec = F.when(_unt_floor, _flr).otherwise(F.col("cur.valid_from"))
    else:
        cur_seen = raw_seen
        cur_prec = F.col("cur.valid_from")
    # M6: untrusted candidates only act when the entity does not exist
    # yet (a tombstone row still counts as existing) — with ONE
    # exception: a batch's untrusted creator with an earlier REAL event
    # time than a stored UNTRUSTED-CREATED row replaces it wholesale
    # (under in-order replay the earlier creation happens first and the
    # later one is skipped; earliest-event-time-wins is the batch-split
    # invariant choice, like the per-field tri-state rule). When the
    # stored row blocks the batch's creator instead, the creator's
    # contributions — identifiable by their floored times — are masked
    # out of the candidate so only its trusted writes act.
    floor_lit = F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz")
    if spec.trusted:
        creator_t = F.col("cnd.__u_creator_t")
        cur_unt = F.coalesce(F.col("cur.__untrusted"), F.lit(False))
        # the key's earliest-ever APPLIED event (legacy frames without
        # the metadata fall back to valid_from — the best bound stored)
        first_guard = F.coalesce(F.col("cur.__first_t"), F.col("cur.valid_from"))
        # The batch's untrusted creator acts iff its REAL event time
        # precedes EVERY event the key has ever applied — in event-order
        # replay it runs first against no existing state. This holds for
        # a TRUSTED-origin store too (the creator creates, the stored
        # trusted writes re-apply on top via per-field newer-wins); only
        # an UNTRUSTED-origin store is voided wholesale (un_replaces).
        creator_acts = (
            cur_exists & creator_t.isNotNull() & (creator_t < first_guard)
        )
        # PER-FIELD untrusted provenance (the r6 mixed-incarnation fix):
        # a TS_TRACKED field whose stored last-write time sits at the
        # UNTRUSTED_EPOCH floor was written by this incarnation's
        # untrusted CREATION (only creators write untrusted, and
        # untrusted write times are floored; trusted writes always store
        # real event times). This is the marker the row-level
        # __untrusted flag loses once a later trusted write lands on
        # OTHER fields — without it, voiding a mixed store resurrected
        # the creation's fills/tristates (explore-hunt falsifier, r6).
        # For any untrusted-created incarnation first_guard (__first_t)
        # IS the creation's real event time (a creator only acts when
        # its time precedes every applied event), so the void
        # comparisons below need no separate creation-time column.
        _floored = {
            name: F.col(f"cur.__ts_{name}").eqNullSafe(floor_lit)
            for name, p in spec.fields.items()
            if p in TS_TRACKED
        }
        cur_has_unt_fields = F.lit(False)
        for _fl in _floored.values():
            cur_has_unt_fields = cur_has_unt_fields | _fl
        cur_ucre = cur_unt | cur_has_unt_fields
        # a TRUSTED update with an earlier REAL event time than the
        # stored untrusted creation also voids it (m6_tr_voids in the
        # message-granularity templates — same rule, same reason: in
        # event order the trusted message creates first, so the
        # untrusted creation never happened and its contributions,
        # fills included, must not survive)
        tr_min_t = F.col("cnd.__tr_min_t")
        tr_voids_any = (
            cur_exists
            & cur_ucre
            & tr_min_t.isNotNull()
            & (tr_min_t < first_guard)
        )
        creator_invalid = creator_t.isNotNull() & cur_exists & ~creator_acts
        voided = creator_acts | tr_voids_any
        # PURE untrusted-origin store (never absorbed a trusted write —
        # _unt_floor, the __seen_t-at-floor test): voided WHOLESALE (the
        # batch rebuilds the entity from its own contributions alone).
        # Purity, not the __untrusted flag alone, gates this: a trusted
        # NO-OP absorbed into an untrusted-created store is change-gated
        # out of the versions, leaving the creation's row (and flag) as
        # current — but the no-op is real knowledge that must survive a
        # void of the creation (r6 second explore falsifier: tr@26 a=NULL
        # absorbed, then tr@0 a1 arrives — the model keeps a=NULL).
        un_replaces = voided & _unt_floor
        # IMPURE store (untrusted creation + absorbed trusted writes,
        # change-gated or not): the trusted-era state survives; only the
        # creation's own per-field contributions — identified by their
        # floored __ts — are masked
        partial_void = voided & ~_unt_floor & cur_has_unt_fields
    else:
        un_replaces = F.lit(False)
        creator_acts = F.lit(False)
        creator_invalid = F.lit(False)
        partial_void = F.lit(False)
        _floored = {}

    # Janino guard (r6 ledger item 35): the trusted-precedence predicates
    # above are LARGE trees, and every field's CASE chain below embeds
    # them inside conditional branches — where whole-stage codegen's
    # subexpression elimination does not reach — so a wide trusted spec
    # duplicated them per field until a single generated method crossed
    # Janino's 64 KB limit and the whole stage fell back to interpreted
    # mode. Materialize the shared row-level predicates ONCE as helper
    # columns in TIERED intermediate projections (each tier may reference
    # the previous tier's aliases; merge_batch stacks the selects between
    # the join and the big template select — CollapseProject keeps
    # non-cheap aliases referenced more than once) and rebind every
    # downstream use to the slim column reference.
    helper_tiers: list[list[Column]] = []
    if spec.trusted:
        helper_tiers.append(
            [
                cur_seen.alias("__mb_seen"),
                cur_prec.alias("__mb_prec"),
                creator_acts.alias("__mb_cracts"),
                creator_invalid.alias("__mb_crinv"),
                un_replaces.alias("__mb_unrepl"),
                partial_void.alias("__mb_pvoid"),
            ]
        )
        cur_seen = F.col("__mb_seen")
        cur_prec = F.col("__mb_prec")
        creator_acts = F.col("__mb_cracts")
        creator_invalid = F.col("__mb_crinv")
        un_replaces = F.col("__mb_unrepl")
        partial_void = F.col("__mb_pvoid")

    cnd_newer = cnd_exists & (
        ~cur_exists | (F.col("cnd.__event_time") >= cur_seen)
    )
    cnd_applies = cnd_exists & (
        F.col("cnd.__trusted") | ~cur_exists | un_replaces | creator_acts
    )
    if spec.trusted:
        helper_tiers.append(
            [
                cnd_newer.alias("__mb_newer"),
                cnd_applies.alias("__mb_applies"),
            ]
        )
        cnd_newer = F.col("__mb_newer")
        cnd_applies = F.col("__mb_applies")
    # A mid-batch tombstone (newest in-batch delete at __tomb_t) must
    # clear STORED state older than it, exactly as sequential application
    # would: the whole stored row when the entity's newest write predates
    # the delete, else just the individual fields whose own last writes
    # predate it (the folded candidate only carries post-tombstone
    # messages — see the tombstone cut in fold_updates).
    tomb_t = F.col("cnd.__tomb_t")
    # wholesale wipe compares against __seen_t: a stored no-op NEWER
    # than the in-batch delete still re-creates the entity in replay
    # (the delete clears, the later message recreates), so the row
    # survives and only its older FIELDS clear
    wiped = (
        cnd_applies & tomb_t.isNotNull() & cur_exists & ~cur_deleted
        & (cur_seen < tomb_t)
    )
    # a replaced untrusted creation behaves like a wiped row: the batch
    # rebuilds the entity from its own contributions alone
    cur_dead = cur_deleted | wiped | un_replaces
    new_deleted = F.when(
        cnd_applies & F.col("cnd.__tombstone") & cnd_newer, F.lit(True)
    ).otherwise(
        F.when(cnd_applies & cnd_newer, F.lit(False)).otherwise(cur_dead)
    )
    # The stored INCARNATION FLOOR: contributions older than the newest
    # tombstone at-or-before the current incarnation were voided by that
    # delete and may never fill this incarnation's slots — without it, a
    # late-arriving pre-delete write would leak into the resurrected
    # entity (a tombstone row's own valid_from IS the floor for its
    # future resurrection — EXCEPT under un_replaces, where the stored
    # row is a voided untrusted creation-tombstone: in replay that
    # delete never happened, so only the previously carried floor binds).
    # The tombstone's contribution to the floor uses the PRECEDENCE time
    # (cur_prec — EPOCH-floored for a pure untrusted store), not the raw
    # valid_from: a pure untrusted tombstoned store is necessarily an
    # untrusted CREATION-tombstone (only the creation ever acted), and
    # such a floor is self-voiding — any earlier arrival proves the key
    # existed first, so in event order the creation-tombstone was
    # SKIPPED and its floor never existed; any later arrival sits above
    # it regardless (item 37's rule: floored times ARE the provenance;
    # r7 mult-8 falsifier: the b1 resurrection baked the tombstone's
    # real time as floor and cut a b2 retro-creator's fill).
    stored_floor = F.when(
        cur_deleted & ~un_replaces,
        F.greatest(cur_prec, F.col("cur.__floor_t")),
    ).otherwise(F.col("cur.__floor_t"))

    # remaining tiers of the Janino guard: wiped / cur_dead /
    # new_deleted are embedded in every field's CASE chains (each
    # references the previous tier, hence separate projections)
    if spec.trusted:
        helper_tiers.append(
            [wiped.alias("__mb_wiped"), stored_floor.alias("__mb_floor")]
        )
        wiped = F.col("__mb_wiped")
        stored_floor = F.col("__mb_floor")
        cur_dead = cur_deleted | wiped | un_replaces
        helper_tiers.append([cur_dead.alias("__mb_dead")])
        cur_dead = F.col("__mb_dead")
        new_deleted = F.when(
            cnd_applies & F.col("cnd.__tombstone") & cnd_newer, F.lit(True)
        ).otherwise(
            F.when(cnd_applies & cnd_newer, F.lit(False)).otherwise(cur_dead)
        )
        helper_tiers.append([new_deleted.alias("__mb_newdel")])
        new_deleted = F.col("__mb_newdel")

    out_fields: list[Column] = [F.col(k) for k in key]
    change_terms: list[Column] = []
    fill_meta: list[Column] = []
    vf_terms: list[Column] = []
    equal_terms: list[Column] = []
    created_like = ~cur_exists | cur_dead

    def _above_floor(t: Column) -> Column:
        return stored_floor.isNull() | (t >= stored_floor)

    def _floor_guard(t: Column) -> Column:
        return F.when(_above_floor(t), t)

    for name, policy in spec.fields.items():
        cur_v0 = F.col(f"cur.{name}")
        cnd_v = F.col(f"cnd.{name}")
        cnd_t = F.col(f"cnd.__t_{name}")
        if spec.trusted and policy in TS_TRACKED:
            # a blocked creator's contributions (floored times) must not
            # act — only the batch's trusted writes may
            from_creator = creator_invalid & cnd_t.eqNullSafe(floor_lit)
            cnd_t = F.when(
                from_creator, F.lit(None).cast("timestamp_ntz")
            ).otherwise(cnd_t)
            cnd_v = F.when(from_creator, F.lit(None)).otherwise(cnd_v)
        if policy in TS_TRACKED:
            cur_ts0 = F.col(f"cur.__ts_{name}")
            field_wiped = wiped | (
                cnd_applies & tomb_t.isNotNull() & (cur_ts0 < tomb_t)
            )
            if spec.trusted:
                # mixed-incarnation void: the stored creation's own
                # contributions (floored __ts) read as never-written
                field_wiped = field_wiped | (partial_void & _floored[name])
            cur_ts = F.when(
                field_wiped, F.lit(None).cast("timestamp_ntz")
            ).otherwise(cur_ts0)
        else:
            field_wiped = wiped
        cur_v = F.when(field_wiped, F.lit(None)).otherwise(cur_v0)
        if policy == ASSIGN:
            new_v = F.when(cnd_applies & cnd_newer, cnd_v).otherwise(cur_v)
        elif policy == FILL_IF_NULL:
            # legacy pre-metadata current frames carry fill VALUES with
            # no __ts yet; fall back to the entity valid_from as the
            # slot's presumed last write (mirrors the mbv pseudo-seed
            # fallback below) — without it, cur_ts.isNull() reads the
            # populated slot as never-written and an OLDER out-of-order
            # message would overwrite it
            cur_ts = F.when(
                cur_v.isNotNull(), F.coalesce(cur_ts, cur_prec)
            ).otherwise(cur_ts)
            # value applies if the current slot is empty, or the
            # contributing message is not older than the SLOT'S OWN last
            # write (__ts_<field>, the TRISTATE treatment) — comparing
            # against the entity valid_from instead is not batch-split
            # invariant (RowState.java:207-238 applied in event order).
            # Contributions below the incarnation floor never apply.
            field_applies = cnd_applies & cnd_t.isNotNull() & _above_floor(
                cnd_t
            ) & (
                ~cur_exists
                | cur_dead
                | cur_v.isNull()
                | cur_ts.isNull()
                | (cnd_t >= cur_ts)
            )
            new_v = F.when(field_applies, cnd_v).otherwise(cur_v)
            new_ts = (
                F.when(new_deleted, F.lit(None).cast("timestamp_ntz"))
                .when(cur_dead & cnd_applies, _floor_guard(cnd_t))
                .when(field_applies, cnd_t)
                .otherwise(cur_ts)
            )
            fill_meta.append(new_ts.alias(f"__ts_{name}"))
        elif policy in TRISTATES:
            # per-field last-write-wins: the batch's newest non-IGNORE
            # action applies iff it is not older than the field's stored
            # last-write time. A never-written field accepts any age
            # above the incarnation floor — which IS the reference's
            # admission/discharge fill quirk (VisitController.java:
            # 163-186) — while a field erased by a newer DELETE rejects
            # older SAVEs (M8, removeIfExists).
            field_applies = cnd_applies & cnd_t.isNotNull() & _above_floor(
                cnd_t
            ) & (
                ~cur_exists | cur_dead | cur_ts.isNull() | (cnd_t >= cur_ts)
            )
            new_v = F.when(field_applies, cnd_v).otherwise(cur_v)
            new_ts = (
                F.when(new_deleted, F.lit(None).cast("timestamp_ntz"))
                .when(cur_dead & cnd_applies, _floor_guard(cnd_t))
                .when(field_applies, cnd_t)
                .otherwise(cur_ts)
            )
            fill_meta.append(new_ts.alias(f"__ts_{name}"))
        else:  # pragma: no cover
            raise ValueError(policy)
        # a resurrected or fresh entity never inherits old field values;
        # a row that stays (or becomes) a tombstone carries none at all —
        # field payloads on deletes are masked, and keeping stale values
        # would make the tombstone row depend on arrival order. Tracked
        # contributions below the incarnation floor stay out even here.
        res_v = cnd_v if policy == ASSIGN else F.when(_above_floor(cnd_t), cnd_v)
        new_v = F.when(cur_dead & cnd_applies, res_v).otherwise(new_v)
        new_v = F.when(new_deleted, F.lit(None)).otherwise(new_v)
        out_fields.append(new_v.alias(name))
        change_terms.append(~new_v.eqNullSafe(cur_v0))
        # the field's TRUE last-change time within the batch (reference
        # vf semantics): intra-batch changes after the first contribution
        # are unconditional (__c); the first contribution counts iff its
        # value differs from the stored baseline (null for fresh /
        # resurrected entities). Marks below the incarnation floor are
        # voided history, not changes. When the stored entity BLOCKS the
        # batch's untrusted creator (creator_invalid), the shadow marks
        # — computed as if the creator were absent — replace the ungated
        # ones, so a blocked creator can neither make a trusted no-op
        # look like a change nor donate its first-contribution time
        # (ADVICE r4; VisitController.java:188-204 sequential semantics).
        if spec.trusted:
            c_mark = F.when(
                creator_invalid, F.col(f"cnd.__c2_{name}")
            ).otherwise(F.col(f"cnd.__c_{name}"))
            f_mark = F.when(
                creator_invalid, F.col(f"cnd.__f2_{name}")
            ).otherwise(F.col(f"cnd.__f_{name}"))
            fv_mark = F.when(
                creator_invalid, F.col(f"cnd.__fv2_{name}")
            ).otherwise(F.col(f"cnd.__fv_{name}"))
        else:
            c_mark = F.col(f"cnd.__c_{name}")
            f_mark = F.col(f"cnd.__f_{name}")
            fv_mark = F.col(f"cnd.__fv_{name}")
        base = F.when(created_like, F.lit(None)).otherwise(cur_v)
        first_real = F.when(~fv_mark.eqNullSafe(base), f_mark)
        vf_terms.append(
            F.greatest(_floor_guard(c_mark), _floor_guard(first_real))
        )
        equal_terms.append(F.col(f"cnd.{name}").eqNullSafe(cur_v0))

    # the newer-wins boundary advances on every absorbed message —
    # no-ops included (their event time is knowledge even when their
    # content changes nothing)
    fill_meta.append(
        F.greatest(
            raw_seen, F.when(cnd_applies, F.col("cnd.__event_time"))
        ).alias("__seen_t")
    )
    # carry the incarnation floor forward: the old floor, the tombstone
    # this resurrection rose from (at its PRECEDENCE time — floored for
    # a pure untrusted creation-tombstone, whose floor is self-voiding;
    # see the stored_floor note above), and any in-batch tombstone all
    # bound future late arrivals
    fill_meta.append(
        F.greatest(
            F.col("cur.__floor_t"),
            F.when(
                cur_deleted & ~un_replaces & cnd_applies & cnd_newer,
                cur_prec,
            ),
            F.when(cnd_applies, tomb_t),
        ).alias("__floor_t")
    )
    # RETROACTIVE CREATION: a late-arriving batch whose messages all
    # precede the stored incarnation's creation, change nothing, and sit
    # above the floor means the incarnation was really created EARLIER —
    # in-order replay has the early message create and the stored
    # creation message become a no-op. Only sound when nothing has
    # changed since creation (valid_from == __cre_t) and every candidate
    # value equals the stored one; otherwise the stored writes were real
    # changes and keep their times. mbv's seeded fold gets this for free;
    # the entity-granularity fold needs the stored creation time.
    values_equal = F.lit(True)
    for term in equal_terms:
        values_equal = values_equal & term
    cre = F.col("cur.__cre_t")
    # a blocked creator is not a live message of this batch: creation /
    # resurrection / retro points come from the first TRUSTED live row
    if spec.trusted:
        first_live = F.when(
            creator_invalid, F.col("cnd.__first_live2_t")
        ).otherwise(F.col("cnd.__first_live_t"))
    else:
        first_live = F.col("cnd.__first_live_t")
    retro = (
        cnd_exists
        & F.col("cnd.__trusted")
        & ~F.col("cnd.__tombstone")
        & tomb_t.isNull()
        & cur_exists & ~cur_deleted & ~wiped & ~un_replaces & ~partial_void
        & first_live.isNotNull()
        & cre.isNotNull()
        & (first_live < cre)
        & _above_floor(first_live)
        & F.col("cur.valid_from").eqNullSafe(cre)
        & values_equal
    )
    if spec.trusted:
        fill_meta.append(
            F.when(cnd_applies & cnd_newer, ~F.col("cnd.__trusted"))
            .otherwise(F.coalesce(F.col("cur.__untrusted"), F.lit(False)))
            .alias("__untrusted")
        )
        # earliest APPLIED event ever: least of the stored bound and this
        # batch's applied minimum (trusted messages always apply; the
        # creator's real time counts only when it acted). A voided
        # untrusted creation's history is erased — its time never binds.
        app_min = F.when(
            ~cur_exists | creator_acts | un_replaces,
            F.least(F.col("cnd.__tr_min_t"), creator_t),
        ).otherwise(F.col("cnd.__tr_min_t"))
        fill_meta.append(
            F.when(un_replaces, app_min)
            .otherwise(
                F.least(F.when(cur_exists, first_guard), app_min)
            )
            .alias("__first_t")
        )

    changed = F.lit(False)
    for term in change_terms:
        changed = changed | term
    changed = changed | ~new_deleted.eqNullSafe(cur_deleted) | ~cur_exists
    # a delete + recreate that reproduces the old values verbatim is
    # still a state change (the superseded row must be audited)
    changed = changed | ((wiped | un_replaces) & ~new_deleted)
    # ...as is an intra-batch change that nets out to the stored values
    # (y -> x in one batch over stored x: the reference audits the y
    # version and advances validFrom to the x write)
    for term in vf_terms:
        changed = changed | (cnd_applies & cnd_newer & term.isNotNull())

    # The public valid_from is always a REAL event time (the floored
    # times are precedence metadata only) and it only advances when
    # something actually changed: the reference sets validFrom on
    # entityCreated/entityUpdated alone
    # (RowState.saveEntityOrAuditLogIfRequired, RowState.java:186-199),
    # so no-op messages — including same-value rewrites — leave the
    # stored validFrom untouched. The new validFrom is the time of the
    # NEWEST change: the per-field change marks, the creation/
    # resurrection point (first live message) for entities built this
    # batch, or the already-stored validFrom when it is newer than
    # anything this batch changed (an older message back-filling a slot
    # does not regress the entity's validFrom).
    # the no-regress term uses the PRECEDENCE time (cur_prec): an
    # untrusted-created row sits at the floor, so a trusted write at any
    # real event time supersedes its validFrom (M6)
    vf_value = F.greatest(
        *vf_terms,
        F.when(created_like, F.col("cnd.__first_live_t")),
        F.when(cur_exists & ~cur_dead, cur_prec),
    )
    vf_value = F.when(new_deleted, F.col("cnd.__real_t")).otherwise(
        F.coalesce(vf_value, F.col("cnd.__real_t"))
    )
    # retro vf: the creation moves to the batch's first live message (or
    # its own later intra-batch change marks); no audit — it is a
    # metadata correction of the same logical version
    retro_terms = [_floor_guard(t) for t in vf_terms]
    retro_vf = F.coalesce(
        F.greatest(*retro_terms, first_live)
        if len(retro_terms) >= 1
        else first_live,
        first_live,
    )
    new_valid_from = (
        F.when(retro, retro_vf)
        .when(cnd_applies & cnd_newer & changed, vf_value)
        .otherwise(F.col("cur.valid_from"))
    )
    # incarnation creation time: set at creation/resurrection, pulled
    # back by retro, cleared on tombstones
    fill_meta.append(
        F.when(retro, first_live)
        .when(
            created_like & cnd_applies & cnd_newer & ~new_deleted, first_live
        )
        .when(new_deleted, F.lit(None).cast("timestamp_ntz"))
        .otherwise(cre)
        .alias("__cre_t")
    )

    merged_cols_head = [*out_fields, new_valid_from.alias("valid_from")]
    merged_cols_tail = [
        new_deleted.alias("is_deleted"),
        *fill_meta,
        (cur_exists & changed).alias("__audit_me"),
        changed.alias("__changed"),
        *[F.col(f"cur.{name}").alias(f"__old_{name}") for name in spec.fields],
        F.col("cur.valid_from").alias("__old_valid_from"),
        F.col("cur.stored_from").alias("__old_stored_from"),
        cur_deleted.alias("__old_is_deleted"),
    ]

    audit_cols = [
        *[F.col(k) for k in key],
        *[F.col(f"__old_{name}").alias(name) for name in spec.fields],
        F.col("__old_valid_from").alias("valid_from"),
        F.col("__old_stored_from").alias("stored_from"),
        F.col("__old_is_deleted").alias("is_deleted"),
        F.col("valid_from").alias("valid_until"),
    ]

    meta = _meta_cols(spec)

    def _meta_null(c: str) -> Column:
        mt = "boolean" if c == "__untrusted" else "timestamp_ntz"
        return F.lit(None).cast(mt).alias(c)

    new_struct_cols = [
        *[F.col(k).alias(k) for k in key],
        *[F.col(n).alias(n) for n in spec.fields],
        F.col("valid_from").alias("valid_from"),
        F.col("stored_from").alias("stored_from"),
        F.col("is_deleted").alias("is_deleted"),
        *[F.col(c).alias(c) for c in meta],
        F.lit(None).cast("timestamp_ntz").alias("valid_until"),
        F.lit(None).cast("timestamp_ntz").alias("stored_until"),
        F.lit(1).alias("__rk"),
    ]
    old_struct_cols = [
        *[F.col(k).alias(k) for k in key],
        *[F.col(f"__old_{n}").alias(n) for n in spec.fields],
        F.col("__old_valid_from").alias("valid_from"),
        F.col("__old_stored_from").alias("stored_from"),
        F.col("__old_is_deleted").alias("is_deleted"),
        *[_meta_null(c) for c in meta],
        F.col("valid_from").alias("valid_until"),
    ]

    t = {
        "keep_stored": cur_exists & ~cur_deleted,
        "helpers": helper_tiers,
        "merged_cols_head": merged_cols_head,
        "merged_cols_tail": merged_cols_tail,
        "audit_cols": audit_cols,
        "new_struct_cols": new_struct_cols,
        "old_struct_cols": old_struct_cols,
    }
    _MB_CACHE[ck] = t
    return t


def _fold_field_cum(name: str, policy: str, spec: MergeSpec, frame) -> list[Column]:
    """Running (cumulative) version of _fold_field: state *after* each
    message, for message-granularity audit trails. Contribution times
    use the PRECEDENCE order column (__ord — floored for untrusted-origin
    rows) so per-field newer-wins honors M6 trusted-supersedes."""
    t = F.col("__ord")
    if policy == ASSIGN:
        # updates always carry plain fields; among seeds only the ANCHOR
        # contributes (its stored value, null included — a stored null
        # must reassert over an older out-of-order message folding
        # before it). Pseudo seeds carry no assign state.
        mask = F.when(
            ~F.col("__seed") | F.col("__anchor"),
            F.struct(F.col(name).alias("v"), t.alias("t")),
        )
        picked = F.last(mask, ignorenulls=True).over(frame)
    elif policy == FILL_IF_NULL:
        mask = F.when(F.col(name).isNotNull(), F.struct(F.col(name).alias("v"), t.alias("t")))
        picked = F.last(mask, ignorenulls=True).over(frame)
    elif policy in TRISTATES:
        # per-field sequential fold: the running value is the newest
        # non-IGNORE action at-or-before this row. Current state enters
        # the fold as per-field pseudo-seed rows positioned at each
        # field's stored last-write time (__ts_<field>), so an update
        # between that time and the entity's validFrom lands exactly
        # where the event order puts it.
        st = F.col(name)["status"]
        mask = F.when(
            st != IGNORE,
            F.struct(F.when(st == SAVE, F.col(name)["value"]).alias("v"), t.alias("t")),
        )
        picked = F.last(mask, ignorenulls=True).over(frame)
    else:
        raise ValueError(f"unknown policy {policy!r} for field {name!r}")
    return [picked["v"].alias(name), picked["t"].alias(f"__t_{name}")]


# Column/Window objects are immutable EXPRESSION TEMPLATES, independent
# of any DataFrame — rebuilding them per batch costs ~1s of py4j round
# trips per table per batch (measured: the dominant ingest driver cost,
# far above the JVM's 0.1s analyze+optimize). Everything that does not
# depend on stored_from is built once per (spec, schema) and reused.
_MBV_CACHE: dict = {}


def _mbv_templates(spec: MergeSpec, schema, all_trusted: bool = False) -> dict:
    ck = (
        tuple(spec.key),
        tuple(spec.fields.items()),
        spec.event_time,
        spec.seq,
        spec.trusted,
        spec.tombstone,
        all_trusted,
        tuple((f.name, f.dataType.simpleString()) for f in schema.fields),
    )
    t = _MBV_CACHE.get(ck)
    if t is not None:
        return t

    key = spec.key
    tomb = F.col(spec.tombstone) if spec.tombstone else F.lit(False)
    # seq keeps its native type (string message ids are common); the seed
    # sorts before same-timestamp updates via the __seed flag, not a
    # sentinel seq value
    seq_col = F.col(spec.seq) if spec.seq else F.lit(0)
    seq_type = schema[spec.seq].dataType if spec.seq else None
    seed_seq = F.lit(None).cast(seq_type) if seq_type is not None else F.lit(0)

    # tombstone masking is folded INTO this cached projection (r10): a
    # delete's field payload must not leak into a later resurrection
    # (same semantics as _mask_tombstone_fields), but composing the mask
    # here saves one full-plan analysis pass plus its per-batch Column
    # construction per table per batch — the §9 profile put the mbv
    # select chain's eager analyses at 125-294 ms/table/batch of pure
    # driver time.
    if spec.tombstone:

        def _upd_field(f: str) -> Column:
            if spec.fields[f] in TRISTATES:
                vt = schema[f].dataType["value"].dataType
                ignored = F.struct(
                    F.lit(None).cast(vt).alias("value"),
                    F.lit(IGNORE).alias("status"),
                )
                return F.when(tomb, ignored).otherwise(F.col(f)).alias(f)
            return F.when(tomb, F.lit(None)).otherwise(F.col(f)).alias(f)

    else:

        def _upd_field(f: str) -> Column:
            return F.col(f)

    upd_cols = [
        *[F.col(k) for k in key],
        *[_upd_field(f) for f in spec.fields],
        F.col(spec.event_time),
        seq_col.alias("__seq"),
        tomb.alias("__tomb"),
        F.lit(False).alias("__seed"),
        F.lit(False).alias("__anchor"),
        F.lit(None).cast("timestamp_ntz").alias("__orig_vf"),
        (F.col(spec.trusted) if spec.trusted else F.lit(True)).alias("__trusted"),
        (~F.col(spec.trusted) if spec.trusted else F.lit(False)).alias("__unt"),
        F.lit(None).cast("timestamp_ntz").alias("__first"),
    ]

    def _ignore_tristate(g: str) -> Column:
        vt = schema[g].dataType["value"].dataType
        return tristate(F.lit(None).cast(vt), F.lit(IGNORE)).alias(g)

    # ANCHOR seed: one row per current entity carrying is_deleted +
    # plain (ASSIGN/FILL) fields; tri-state fields ride in as per-field
    # PSEUDO seeds. The anchor sits at the LATEST of the entity
    # validFrom and every per-field last-write time so it always folds
    # after all pseudo seeds — its running state is the full pre-batch
    # snapshot (a no-op action, e.g. a cancel of an already-null slot,
    # can leave a field time past the last visible state change).
    # PSEUDO seeds: each tri-state field re-enters the fold at ITS OWN
    # stored last-write time, as the SAVE/DELETE it last absorbed —
    # updates between that time and the entity validFrom then land
    # exactly where event order puts them (per-field last-write-wins,
    # invariant under any batch split). Rows with no last-write time
    # (field never touched) seed nothing, so any-age SAVEs can fill.
    # Anchor + pseudo rows are produced by ONE explode over current
    # (one union into the fold): N chained unionByName calls each
    # re-analyze the growing plan — quadratic driver time per batch.
    # the anchor folds at the newest time the entity has absorbed —
    # per-field last writes AND the __seen_t newer-wins boundary (a
    # stored no-op's time must still shield the state from older
    # out-of-order updates) — so it always reasserts over anything the
    # stored state already supersedes
    anchor_t = F.greatest(
        F.col("valid_from"),
        F.coalesce(F.col("__seen_t"), F.col("valid_from")),
        *[F.col(c) for c in _ts_cols(spec)],
    )

    # Pseudo-seed COLLAPSE: a tracked field whose stored last-write time
    # equals the anchor's fold position can ride ON the anchor (its
    # contribution folds at the same __ord immediately before any later
    # update, and pseudo seeds sort directly before the anchor at equal
    # times — the running state after the anchor is identical either
    # way). Write-once entities then seed 1 row instead of 1+N, which
    # nearly halves the fold's input (seeds rival updates in row count
    # on touched-key-heavy batches — r6 stage profile).
    def _ts_pos(g: str) -> Column:
        if spec.fields[g] == FILL_IF_NULL:
            return F.coalesce(F.col(f"__ts_{g}"), F.col("valid_from"))
        return F.col(f"__ts_{g}")

    def _present(g: str) -> Column:
        if spec.fields[g] == FILL_IF_NULL:
            return F.col(g).isNotNull()
        return F.col(f"__ts_{g}").isNotNull()

    def _collapses(g: str) -> Column:
        return _present(g) & ~F.col("is_deleted") & (_ts_pos(g) == anchor_t)

    # Same-time seed MERGING: tracked fields last written at the same
    # stored time (one message wrote them together — the common shape)
    # share ONE pseudo-seed row. The first such field in spec order is
    # the emitter; later fields with an equal position ride on it. Two
    # same-time pseudo rows touch disjoint fields and commute, so the
    # merged row folds identically.
    tracked = [f for f, p in spec.fields.items() if p in TS_TRACKED]

    def _rides_on(h: str, g: str) -> Column:
        """Field h (after g in spec order) rides on g's seed row."""
        return _present(h) & (_ts_pos(h) == _ts_pos(g))

    def _is_emitter(g: str) -> Column:
        """No earlier present tracked field shares g's position."""
        cond = F.lit(True)
        for f in tracked:
            if f == g:
                break
            cond = cond & ~(_present(f) & (_ts_pos(f) == _ts_pos(g)))
        return cond

    def _seed_struct(which: str) -> Column:
        """One seed row as a struct: which='__anchor', '__floor__' (the
        stored incarnation floor re-entering as a pseudo TOMBSTONE so
        late arrivals older than it fold into the voided epoch), or a
        tracked field name (pseudo seed for that field)."""
        is_anchor = which == "__anchor"
        is_floor = which == "__floor__"
        cols: list[Column] = [F.col(k).alias(k) for k in key]
        for g, p in spec.fields.items():
            if is_floor:
                if p in TRISTATES:
                    cols.append(_ignore_tristate(g))
                else:
                    cols.append(F.lit(None).cast(schema[g].dataType).alias(g))
                continue
            rides = (
                not is_anchor
                and g != which
                and g in tracked
                and which in tracked
                and tracked.index(g) > tracked.index(which)
            )
            if p in TRISTATES:
                save_or_delete = tristate(
                    F.col(g),
                    F.when(F.col(g).isNotNull(), F.lit(SAVE)).otherwise(
                        F.lit(DELETE)
                    ),
                )
                if not is_anchor and g == which:
                    cols.append(save_or_delete.alias(g))
                elif is_anchor:
                    # collapsed pseudo seed rides on the anchor
                    cols.append(
                        F.when(_collapses(g), save_or_delete)
                        .otherwise(_ignore_tristate(g))
                        .alias(g)
                    )
                elif rides:
                    # same-time merge: g rides on `which`'s seed row
                    cols.append(
                        F.when(_rides_on(g, which), save_or_delete)
                        .otherwise(_ignore_tristate(g))
                        .alias(g)
                    )
                else:
                    cols.append(_ignore_tristate(g))
            elif p == FILL_IF_NULL:
                # fill fields re-enter the fold at their OWN last-write
                # time (pseudo seed); the anchor carries null for them
                # (the fill fold ignores nulls) UNLESS the pseudo
                # collapses into it / rides a same-time seed
                if not is_anchor and g == which:
                    cols.append(F.col(g).alias(g))
                elif is_anchor:
                    cols.append(F.when(_collapses(g), F.col(g)).alias(g))
                elif rides:
                    cols.append(F.when(_rides_on(g, which), F.col(g)).alias(g))
                else:
                    cols.append(F.lit(None).cast(schema[g].dataType).alias(g))
            else:
                cols.append(
                    (F.col(g) if is_anchor else F.lit(None).cast(schema[g].dataType)).alias(g)
                )
        if is_anchor:
            t = anchor_t
        elif is_floor:
            t = F.col("__floor_t")
        elif spec.fields[which] == FILL_IF_NULL:
            # legacy current frames carry fill values with no __ts yet;
            # fall back to the entity valid_from (the pre-fix semantics)
            t = F.coalesce(F.col(f"__ts_{which}"), F.col("valid_from"))
        else:
            t = F.col(f"__ts_{which}")
        tomb_col = (
            F.col("is_deleted")
            if is_anchor
            else F.lit(True) if is_floor else F.lit(False)
        )
        # floor seeds keep their REAL time (a tombstone's position in
        # event order is its time regardless of source trust)
        if not spec.trusted or is_floor:
            seed_unt = F.lit(False)
        elif is_anchor:
            # PURITY (r6 second explore falsifier): the anchor is
            # untrusted-droppable (and its fold position floorable) only
            # when the store never absorbed a trusted write — __seen_t
            # still at the UNTRUSTED_EPOCH floor. A trusted NO-OP
            # absorbed into an untrusted-created store is change-gated,
            # leaving the creation's version row (and its __untrusted
            # flag) as current, but the stored state is then trusted-era
            # knowledge: a void of the creation must keep it, and its
            # newer-wins boundary is the real __seen_t, not the floor.
            seed_unt = F.coalesce(F.col("__untrusted"), F.lit(False)) & (
                F.coalesce(
                    F.coalesce(F.col("__seen_t"), F.col("valid_from"))
                    <= F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz"),
                    F.lit(False),
                )
            )
        else:
            # PER-FIELD provenance (r6 mixed-incarnation fix): a pseudo
            # seed positioned at the UNTRUSTED_EPOCH floor carries a
            # field written by this incarnation's untrusted CREATION
            # (only creators write untrusted; their write times are
            # floored) — mark it __unt so a void (m6_keep) drops it even
            # when the row-level __untrusted flag was cleared by a later
            # trusted write. A floored pseudo can never collapse onto
            # the anchor or ride a non-floored emitter (anchor_t >=
            # valid_from, a real event time > the 1800 floor), so the
            # creation's contributions always drop independently.
            seed_unt = F.coalesce(F.col("__untrusted"), F.lit(False)) | (
                _ts_pos(which).eqNullSafe(
                    F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz")
                )
            )
        cols += [
            t.alias(spec.event_time),
            seed_seq.alias("__seq"),
            tomb_col.alias("__tomb"),
            F.lit(True).alias("__seed"),
            F.lit(is_anchor).alias("__anchor"),
            # the anchor's STATE carries the stored valid_from — its fold
            # POSITION (anchor_t, max of the per-field times) can sit
            # past the last visible change, and reasserted stored state
            # must not advance the entity's validFrom
            (
                F.col("valid_from")
                if is_anchor
                else F.lit(None).cast("timestamp_ntz")
            ).alias("__orig_vf"),
            F.col("stored_from").alias("__stored"),
            F.lit(True).alias("__trusted"),
            seed_unt.alias("__unt"),
            # the key's earliest-ever APPLIED event (M6 creation
            # arbiter); legacy frames fall back to valid_from
            (
                F.coalesce(F.col("__first_t"), F.col("valid_from"))
                if (is_anchor and spec.trusted)
                else F.lit(None).cast("timestamp_ntz")
            ).alias("__first"),
        ]
        struct = F.struct(*cols)
        if is_floor:
            struct = F.when(
                F.col("__floor_t").isNotNull() & ~F.col("is_deleted"), struct
            )
        elif not is_anchor:
            if spec.fields[which] == FILL_IF_NULL:
                # a fill seed exists iff there is a stored value to place
                present = F.col(which).isNotNull()
            else:
                present = F.col(f"__ts_{which}").isNotNull()
            # collapsed pseudo seeds (last-write at the anchor position)
            # ride on the anchor, same-time riders ride the first
            # emitter in spec order — emit nothing for either here
            cond = (
                present
                & ~F.col("is_deleted")
                & (_ts_pos(which) < anchor_t)
                & _is_emitter(which)
            )
            struct = F.when(cond, struct)
        return struct

    seed_structs = [_seed_struct("__anchor"), _seed_struct("__floor__")] + [
        _seed_struct(f) for f, p in spec.fields.items() if p in TS_TRACKED
    ]

    # __ord is the PRECEDENCE time: untrusted-origin rows (surviving
    # untrusted creations and seeds re-derived from them) are floored to
    # UNTRUSTED_EPOCH so any trusted message, at any event time,
    # supersedes them. The floor is internal — valid_from/audit validity
    # keep the REAL event time (the reference stores the message's
    # actual validFrom for untrusted-created entities).
    # all_trusted (trust gate): the caller certifies that neither the
    # batch nor the stored state contains a single untrusted row, so
    # __unt is constant-false — the precedence floor is the identity and
    # the three m6 window passes below are no-ops and are skipped
    # entirely (the common all-EPIC-feed fast path; a mixed batch or a
    # store that has ever absorbed one falls back to the full plan).
    if all_trusted:
        ord_expr = F.col(spec.event_time)
    else:
        ord_expr = F.when(
            F.col("__unt"), F.lit(UNTRUSTED_EPOCH).cast("timestamp_ntz")
        ).otherwise(F.col(spec.event_time))
    # total order: precedence time, seeds-before-updates at equal times
    # (pseudo seeds before the anchor), then seq
    _order = [
        F.col("__ord"),
        F.col("__seed").desc(),
        F.col("__anchor"),
        F.col("__seq"),
    ]
    w = W.partitionBy(*key).orderBy(*_order)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    we = W.partitionBy(*key, "__epoch").orderBy(*_order)
    cume = we.rowsBetween(W.unboundedPreceding, W.currentRow)
    # WINDOW-OP FUSION (r6): a physical Window operator evaluates every
    # expression sharing its (partitionBy, orderBy) — frames may differ.
    # Partition-only aggregates are therefore written over the ORDERED
    # spec with an unbounded frame (same result: the frame covers the
    # whole partition) so they fuse into the passes that already exist
    # instead of adding a full extra pass per distinct unordered spec —
    # each Window op is a real per-row pass (~0.5 s per pass per table
    # per 100k batch, micro-benchmarked).
    #
    # ONE-SORT FOLD: measured and REJECTED (r9). The (key, __epoch)
    # windows force a second full-width sort per fold (Catalyst's
    # syntactic SortOrder matching cannot see that (key, _order) rows
    # are already (key, __epoch, _order)-ordered, __epoch being a
    # cumulative sum along _order). Folding the per-epoch restart into
    # the expressions instead — tagging every window contribution with
    # its __epoch over KEY-level windows and masking the picked struct
    # to the current row's epoch — produced the expected plan (2 Sort →
    # 1 Sort, windows/exchanges unchanged; plans/r09/mbv_fold_*.txt)
    # and passed all merge suites + an 8-seed all-columns differential,
    # but LOST the isolated interleaved A/B: a wash at a 400k-row fold
    # (mins 1.353 vs 1.339 s, 2/4 pairs) and 0/4 pairs at 2M rows (mins
    # 2.440 vs 1.788 s, +36%) — the epoch-tagged structs add per-row
    # allocation inside EVERY fold window aggregate, which costs more
    # than sorting already-clustered rows. Same lesson as the r9 LSH
    # projection-form and generator-unroll rejections: expression-tree
    # weight per row beats pass count at these shapes; re-measure
    # before re-trying.
    wfull_k = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wfull_ke = we.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)

    state_cols: list[Column] = [F.col(k) for k in key]
    for name, policy in spec.fields.items():
        state_cols.extend(_fold_field_cum(name, policy, spec, cume))
    # __floor_t (newest tombstone time known for the key — real update
    # tombs, deleted anchor, re-seeded stored floor) and __seen_t (the
    # newer-wins boundary: newest PRECEDENCE time absorbed; the anchor's
    # position re-seeds the stored boundary recursively) depend only on
    # pre-state columns, so they are computed IN the epoch select where
    # they fuse with the epoch sum's (key, order) Window op; here they
    # pass through.
    state_cols.append(F.col("__floor_t"))
    state_cols.append(F.col("__seen_t"))
    if spec.trusted:
        state_cols.append(F.col("__first_t"))
    # incarnation creation time: earliest live non-pseudo row of the
    # epoch (updates + the anchor; pseudo seeds are field history, not
    # creations) — merge_batch's retro-creation rule reads it
    state_cols.append(
        F.min(
            F.when(
                ~F.col("__tomb") & (~F.col("__seed") | F.col("__anchor")),
                F.col(spec.event_time),
            )
        )
        .over(wfull_ke)
        .alias("__cre_t")
    )
    state_cols.extend(
        [
            F.coalesce(F.col("__orig_vf"), F.col(spec.event_time)).alias(
                "valid_from"
            ),
            F.col("__tomb").alias("is_deleted"),
            F.first(F.col("__stored")).over(cume).alias("stored_from"),
            F.col("__seq").alias("__seq"),
            F.col("__seed").alias("__seed"),
            F.col("__anchor").alias("__anchor"),
            F.col("__epoch").alias("__epoch"),
            F.col("__ord").alias("__ord"),
            F.col("__unt").alias("__unt"),
        ]
    )
    _sorder = [
        F.col("__ord"),
        F.col("__seed").desc(),
        F.col("__anchor"),
        F.col("__seq"),
    ]
    sig = F.struct(*[F.col(f) for f in spec.fields], F.col("is_deleted"))
    # __epoch leads the ordering: it is a cumulative sum ALONG _sorder
    # within each key, so (epoch, _sorder) yields the identical row
    # sequence — but it makes the required sort exactly the states
    # pass's output order, so Catalyst elides the re-sort before the
    # changed/valid_until passes (one fewer wide-row sort per batch).
    wk = W.partitionBy(*key).orderBy(F.col("__epoch"), *_sorder)
    changed_expr = ~sig.eqNullSafe(F.lag(sig).over(wk))
    # Per-field last-write metadata rides on every version row, but it
    # is only ever CONSUMED from the current row (read_current filters
    # __rk == 1). The current row's OWN running __t is NOT enough: the
    # key's LAST fold row can be change-gated out of the versions (a
    # trailing no-visible-change action — e.g. a cancel that DELETEs an
    # already-null field, or a redelivered duplicate), in which case the
    # current row is an EARLIER fold row whose running __t misses the
    # trailing write and the next batch loses the per-field newer-wins
    # boundary (an older out-of-order update would resurrect the
    # cancelled value). The key-final running value is therefore taken
    # with a full-frame last() over the SAME (key, epoch-ordered) spec
    # as changed_expr — it fuses into that existing Window op, so this
    # costs no extra pass (the r5 shape ran it as its own pass).
    wk_full = wk.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ts_exprs = {
        f"__ts_{name}": F.last(F.col(f"__t_{name}")).over(wk_full)
        for name, policy in spec.fields.items()
        if policy in TS_TRACKED
    }
    wv = W.partitionBy(*key).orderBy(F.col("__epoch"), *_sorder)
    valid_until_expr = F.lead("valid_from").over(wv)
    # current-version rank, fused into the SAME Window pass as
    # valid_until (asc row_number + full-frame count instead of a
    # second desc-sorted pass): the last row under _sorder is the
    # current version. Downstream only distinguishes current (1) from
    # superseded (>1), so the rank is binary.
    rk_expr = F.when(
        F.row_number().over(wv)
        == F.count(F.lit(1)).over(
            wv.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
        F.lit(1),
    ).otherwise(F.lit(2))

    t = {
        "tomb": tomb,
        "upd_cols": upd_cols,
        # ONE generator expression replaces the r9 explode -> filter
        # isNotNull -> select("__s.*") chain: array_compact drops the
        # null (conditionally absent) seed structs and inline expands the
        # survivors straight into columns — identical rows, two fewer
        # eagerly-analyzed DataFrame ops per table per batch
        "seed_inline": F.inline(F.array_compact(F.array(*seed_structs))),
        # per-batch Column fragments that are spec-constant (each saved
        # py4j construction is small; the select/filter they feed still
        # happens per batch)
        "repart_keys": [F.col(k) for k in key],
        "state_filter": ~F.col("__seed") | F.col("__anchor"),
        "changed_filter": F.col("__changed"),
        "epoch_expr": F.sum(F.col("__tomb").cast("int")).over(cum),
        "epoch_extra": [
            # the floor is stored at the tombstone's PRECEDENCE time
            # (__ord), not its raw time: an UNTRUSTED creation-tombstone
            # may never cut anything — any earlier-timed arrival proves
            # the key existed first, so in event order the delete was
            # SKIPPED and its floor never existed (r6 floor-provenance
            # falsifier: creation-tombstone, trusted resurrection, then
            # a retro-creator older than the tombstone). Flooring its
            # stored time makes the floor self-voiding, exactly as
            # merge_batch's tomb_t (computed from the floored fold
            # event time) already behaves; trusted tombstones keep
            # their real time and their floor stands.
            F.max(F.when(F.col("__tomb"), F.col("__ord")))
            .over(wfull_k)
            .alias("__floor_t"),
            F.max(F.col("__ord")).over(wfull_k).alias("__seen_t"),
            # earliest APPLIED event ever: the anchor's stored bound
            # (dropped seeds — a voided creation — carry none) and this
            # batch's kept updates' REAL times; fuses into the same
            # wfull_k Window op as __floor_t/__seen_t
            *(
                [
                    F.least(
                        F.max(F.col("__first")).over(wfull_k),
                        F.min(
                            F.when(~F.col("__seed"), F.col(spec.event_time))
                        ).over(wfull_k),
                    ).alias("__first_t")
                ]
                if spec.trusted
                else []
            ),
        ],
        "ord_expr": ord_expr,
        "state_cols": state_cols,
        "ts_exprs": ts_exprs,
        "changed_expr": changed_expr,
        "valid_until_expr": valid_until_expr,
        "rk_expr": rk_expr,
        # pre-aliased select tails (alias() is a py4j round trip each —
        # building them per batch re-paid ~2x(fields+2) calls)
        "states_extra": [
            *[expr.alias(name) for name, expr in ts_exprs.items()],
            changed_expr.alias("__changed"),
        ],
        "versions_extra": [
            valid_until_expr.alias("valid_until"),
            rk_expr.alias("__rk"),
            *([F.col("__unt").alias("__untrusted")] if spec.trusted else []),
        ],
    }
    if spec.trusted and not all_trusted:
        # M6 at message granularity (visitShouldBeUpdated,
        # VisitController.java:188-204, under the event-order invariant):
        # an untrusted message may only CREATE the entity. The batch's
        # only possible creator is the raw-first UPDATE per key, and it
        # acts iff it is untrusted, no trusted-origin state exists, and
        # it precedes any stored untrusted creation (earliest REAL event
        # time wins — the batch-split-invariant choice). When the
        # creator wins, the stored untrusted creation's seed rows are
        # dropped: the replaced creation never happened, so the new
        # creator rebuilds the entity wholesale. Skipped messages
        # contribute no version (the reference writes no audit row for
        # skipped updates) and are dropped before the fold — the filter
        # depends only on the total order, never on arrival order.
        _raw_order = [
            F.col(spec.event_time),
            F.col("__seed").desc(),
            F.col("__anchor"),
            F.col("__seq"),
        ]
        wfull = W.partitionBy(*key)
        t["m6_rn"] = F.row_number().over(W.partitionBy(*key).orderBy(*_raw_order))
        first_rn = F.col("__m6_first_rn")
        rn = F.col("__m6_rn")
        t["m6_first_rn"] = F.min(F.when(~F.col("__seed"), rn)).over(wfull)
        # the key's earliest-ever APPLIED event, carried by the anchor
        # seed (__first_t metadata; null when no stored state exists)
        stored_first = F.max(F.col("__first")).over(wfull)
        # any stored untrusted provenance: a pure untrusted-origin
        # anchor OR a floored pseudo seed (a MIXED incarnation's
        # creation contribution — see the per-field __unt in
        # _seed_struct). When it exists, the stored creation was
        # untrusted and its real event time IS stored_first (an
        # untrusted creator only acts when its time precedes every
        # applied event, so it is the key's earliest applied event).
        stored_unt_any = (
            F.coalesce(
                F.max(
                    F.when(F.col("__seed") & F.col("__unt"), F.lit(1))
                ).over(wfull),
                F.lit(0),
            )
            == 1
        )
        first_is_unt = (
            F.coalesce(
                F.max(
                    F.when(rn == first_rn, (~F.col("__trusted")).cast("int"))
                ).over(wfull),
                F.lit(0),
            )
            == 1
        )
        first_upd_t = F.max(
            F.when(rn == first_rn, F.col(spec.event_time))
        ).over(wfull)
        # The batch's untrusted raw-first update creates iff its REAL
        # event time precedes EVERY event the key ever applied — in
        # event-order replay it runs first against no existing state.
        # This includes a TRUSTED-origin store (the creator creates,
        # the stored trusted seeds — kept below — re-apply on top via
        # per-field newer-wins); an UNTRUSTED-origin store is voided
        # wholesale (its seeds drop in m6_keep).
        t["m6_creator"] = first_is_unt & (
            stored_first.isNull() | (first_upd_t < stored_first)
        )
        creator = F.col("__m6_creator")
        # A TRUSTED update whose REAL event time precedes the stored
        # untrusted creation also voids it: in global event order the
        # trusted message creates the entity first, so the untrusted
        # message that created the stored state would have been skipped
        # (may-only-create against existing state) — its contributions,
        # including FILL values the precedence floor alone cannot
        # dislodge, never happened. (Explore-run falsifier, round 6:
        # untrusted creation with a fill field, then an older trusted
        # all-null update arriving alone in a later batch.)
        min_tr_upd_t = F.min(
            F.when(~F.col("__seed") & F.col("__trusted"), F.col(spec.event_time))
        ).over(wfull)
        t["m6_tr_voids"] = (
            stored_unt_any
            & min_tr_upd_t.isNotNull()
            & stored_first.isNotNull()
            & (min_tr_upd_t < stored_first)
        )
        tr_voids = F.col("__m6_tr_voids")
        t["m6_keep"] = (
            ~F.col("__seed") & (F.col("__trusted") | (creator & (rn == first_rn)))
        ) | (F.col("__seed") & ~(F.col("__unt") & (creator | tr_voids)))
    _MBV_CACHE[ck] = t
    return t


def merge_batch_versions(
    current: DataFrame | None,
    updates: DataFrame,
    spec: MergeSpec,
    stored_from,
    all_trusted: bool = False,
    parallelism: int | None = None,
) -> MergeResult:
    """Message-granularity merge (the reference's exact audit behavior):
    every state-changing message yields an audit row for the version it
    supersedes (RowState.java:186-201), so as-of works at any t.

    Implementation: seed the fold with the current rows (positioned at
    their validFrom in the total order), compute the running state after
    each message with cumulative windows, keep rows where the state
    changed, and split last-version-per-key (current) from the rest
    (audit). Tombstones open a new "epoch": field folding restarts, so
    resurrected entities inherit nothing (M9, order-invariant).

    Sequential-fold-by-event-time IS newer-wins: messages older than the
    seed land before it and are overwritten by it.

    Column templates are memoized per (spec, schema) — only the
    stored_from literals are fresh per batch (see _mbv_templates).

    all_trusted: trust-gate fast path for trusted specs — the caller
    certifies neither this batch nor the stored state contains an
    untrusted row (MergePipeline tracks both via a staging observation
    and a monotone per-table flag), so the M6 creator arbitration's
    three window passes are skipped. Passing True with untrusted rows
    present is a contract violation and silently treats them as
    trusted.
    """
    spark = updates.sparkSession
    if current is None:
        current = empty_current(spark, updates, spec)
    # tolerate pre-metadata frames: add any missing metadata columns in
    # ONE projection (a withColumn per column re-analyzes the plan)
    _missing = [
        c
        for c in [*_ts_cols(spec), "__floor_t", "__cre_t", "__seen_t"]
        + (["__first_t"] if spec.trusted else [])
        if c not in current.columns
    ]
    _adds = [F.lit(None).cast("timestamp_ntz").alias(c) for c in _missing]
    if spec.trusted and "__untrusted" not in current.columns:
        _adds.append(F.lit(False).alias("__untrusted"))
    if _adds:
        current = current.select("*", *_adds)

    key = spec.key
    T = _mbv_templates(spec, updates.schema, all_trusted=all_trusted)
    # tombstone field masking rides inside upd_cols (template-cached —
    # see _upd_field in _mbv_templates), not a separate select
    stored_lit = F.lit(stored_from).cast("timestamp_ntz")
    upd = updates.select(*T["upd_cols"], stored_lit.alias("__stored"))

    # one generator select (inline over the null-compacted seed array)
    # replaces the explode -> filter -> star-expand chain
    seeds = current.select(T["seed_inline"])
    seeded = upd.unionByName(seeds)
    # parallelism follows compute, not bytes (SURVEY §8a0 #7): the union
    # discards any upstream key partitioning, so the 11 window passes
    # below would otherwise run over ONE AQE-coalesced task (the
    # ENSURE_REQUIREMENTS exchange is bytes-tiny for a message batch but
    # compute-heavy) — a USER repartition on the fold key is exempt from
    # coalescing and every window pass reuses it (one exchange total).
    # The caller sizes `parallelism` from the batch row count (bounded
    # rows per task): per-task fixed costs (codegen instance init, sort
    # buffer alloc, scheduling) dominate sub-thousand-row tasks, so a
    # small batch on a wide cluster should NOT fan out to every core.
    seeded = seeded.repartition(
        parallelism or spark.sparkContext.defaultParallelism,
        *T["repart_keys"],
    )

    # Each transformation below is ONE select (not a withColumn chain):
    # every withColumn re-analyzes the whole accumulated plan, and this
    # function runs per micro-batch — the chain was the measured
    # per-batch driver floor (SURVEY §8a00).
    base_cols = seeded.columns
    if spec.trusted and not all_trusted:
        # three selects, not one: each m6 window expression references
        # the previous one's alias (rn -> first_rn -> creator), and a
        # lateral alias cannot be referenced inside a window expression
        seeded = (
            seeded.select("*", T["m6_rn"].alias("__m6_rn"))
            .select("*", T["m6_first_rn"].alias("__m6_first_rn"))
            .select(
                "*",
                T["m6_creator"].alias("__m6_creator"),
                T["m6_tr_voids"].alias("__m6_tr_voids"),
            )
            .filter(T["m6_keep"])
        )
    # the __ord select also drops the m6 helper columns; __epoch needs
    # __ord materialized first (its window orders by __ord), so it is
    # the one unavoidable extra pass
    seeded = seeded.select(*base_cols, T["ord_expr"].alias("__ord"))
    # tombstones split the history into epochs; folding restarts per
    # epoch (__floor_t/__seen_t fuse into the same Window pass)
    seeded = seeded.select(
        "*", T["epoch_expr"].alias("__epoch"), *T["epoch_extra"]
    )

    states = seeded.select(*T["state_cols"])
    # pseudo seeds exist to drive the fold windows; they are not states
    # of their own (the anchor carries the pre-batch snapshot).
    # One select adds the per-field final last-write times (the
    # cumulative contribution time at the END of each key's last epoch,
    # riding on whichever row becomes current even when the newest
    # action changed nothing visible) AND the change signature
    # (consecutive duplicates are non-changes; first row per key: lag is
    # NULL, eqNullSafe(struct, NULL) is false, so __changed is true).
    states = states.filter(T["state_filter"]).select("*", *T["states_extra"])
    versions = states.filter(T["changed_filter"]).select(
        "*", *T["versions_extra"]
    )

    out_cols = [*key, *spec.fields, "valid_from", "stored_from", "is_deleted"]

    # lazy views over the shared `versions` plan (see MergeResult)
    def _current() -> DataFrame:
        return versions.filter(F.col("__rk") == 1).select(
            *out_cols, *_meta_cols(spec)
        )

    def _audit() -> DataFrame:
        return versions.filter(F.col("__rk") > 1).select(
            *out_cols,
            F.col("valid_until"),
            F.lit(stored_from).cast("timestamp_ntz").alias("stored_until"),
        )

    def _combined() -> DataFrame:
        is_cur = F.col("__rk") == 1
        return versions.select(
            *out_cols,
            *_meta_cols(spec),
            F.when(~is_cur, F.col("valid_until")).alias("valid_until"),
            F.when(~is_cur, F.lit(stored_from).cast("timestamp_ntz")).alias(
                "stored_until"
            ),
            F.when(is_cur, F.lit(1)).otherwise(F.lit(2)).alias("__rk"),
        )

    return MergeResult(current=_current, audit=_audit, combined=_combined)


def replay(
    batches: list[DataFrame],
    spec: MergeSpec,
    stored_from_times: list | None = None,
    granularity: str = "batch",
) -> MergeResult:
    """Apply a sequence of batches (validation-run shape, SURVEY §3.3).

    granularity="message" uses merge_batch_versions for reference-exact
    per-change audit trails. Audit frames are unioned across batches.
    For large replays, persist current between iterations instead of
    chaining lineage.
    """
    merge = merge_batch if granularity == "batch" else merge_batch_versions
    current: DataFrame | None = None
    audits: list[DataFrame] = []
    for i, b in enumerate(batches):
        t = stored_from_times[i] if stored_from_times else "2020-01-01 00:00:00"
        res = merge(current, b, spec, t)
        # ONE materialization per batch (the combined frame), exactly
        # like the pipeline: current AND audit derive from the cut file.
        # Cutting only `current` left `audit` a lazy view that re-ran
        # the whole fold when consumed — a replay that reads its audit
        # trail (as_of) folded every batch twice. The cut also bounds
        # lineage growth for long replays (parquet roundtrip — see
        # emap_spark.lineage for why not localCheckpoint).
        c = cut(res.combined)
        current, audit_part = split_combined(c)
        audits.append(audit_part)
    audit = audits[0]
    for a in audits[1:]:
        audit = audit.unionByName(a)
    return MergeResult(current=current, audit=audit)


def as_of(result_current: DataFrame, audit: DataFrame, t) -> DataFrame:
    """Q5 time-travel: table state as of hospital-truth time t
    (AuditCore.isValidAsOf, informdb/AuditCore.java:83-97):
    storedUntil is null (current) or row version valid at t."""
    t = F.lit(t).cast("timestamp_ntz")
    meta = [c for c in result_current.columns if c.startswith("__")]
    cur = result_current.drop(*meta).filter(~F.col("is_deleted")).withColumn(
        "valid_until", F.lit(None).cast("timestamp_ntz")
    )
    old = audit.filter(~F.col("is_deleted")).drop("stored_until")
    return (
        cur.drop("is_deleted")
        .unionByName(old.drop("is_deleted"))
        .filter((F.col("valid_from") <= t) & (F.col("valid_until").isNull() | (t < F.col("valid_until"))))
        .drop("valid_until")
    )
