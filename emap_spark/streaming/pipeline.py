"""Streaming ingestion pipeline (SURVEY.md §3.1 Spark shape, K2/K3/P10):

readStream (file/kafka/rate source) -> parse/route -> foreachBatch:
  1. W4 at-least-once delivery: duplicates are absorbed by the merge
     FOLD itself (a redelivered message is a no-change row; cross-batch
     redelivery hits the newer-wins guards), so the staging pass is
     map-only — no dedupe shuffle. EMAP_STAGE_DEDUP=exact restores a
     physical dropDuplicates for out-of-contract feeds.
  2. quarantine malformed rows (K3 NACK/dead-letter analogue;
     at-least-once means a redelivered bad message may appear twice)
  3. apply the bitemporal merge per entity table — tables are
     independent, so their merges run CONCURRENTLY (local mode schedules
     the jobs side by side; a cluster does the same across stages)
  4. persist row versions durably through a table-format backend, append
     metrics (P10 IdsEffectLogging analogue)

The same functions run in batch mode (validation replay, §3.3) — batch
/ streaming symmetry is the design stance of SURVEY §7.

Durability (K2 — the reference persists every upsert to Postgres,
core/.../RowState.java:186-201, App.java:92-101) is delegated to a
table-format backend (emap_spark.storage):

  * backend="delta" (default, the scale path): incremental MERGE —
    each batch merges ONLY the keys it touches (current is semi-joined
    with the batch's key set, broadcast) and commits one delta file of
    the produced row versions. Write cost is O(touched keys), never
    O(table); an idempotent transaction log gives exactly-once replay.
  * backend="snapshot": the round-2 full-rewrite backend, kept so the
    durability tests can assert both backends agree.

Per-table, per-batch there is exactly ONE materializing write (the
merge's `combined` frame: current versions + audit rows together); the
current/audit views are derived from the committed file. Batch metrics
ride on Observation over the single staging action — no extra count()
jobs — and the number of Spark actions per batch is itself recorded
(n_actions), since write amplification is the thing that kills this
design at 100 TB if it regresses.
"""

from __future__ import annotations

import datetime
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from emap_spark.lineage import cut
from emap_spark.operators.merge import (
    MergeResult,
    MergeSpec,
    merge_batch,
    merge_batch_versions,
    split_combined,
)
from emap_spark.storage import DeltaLog, JdbcUpsertStore, SnapshotStore

# EMAP_BATCH_AQE=auto keeps AQE on for batches of at least this many
# deduped rows per core — the measured flip point (see process_batch).
# The row count it is compared with is an HLL estimate unless
# EMAP_STAGE_DEDUP=exact.
AQE_ROWS_PER_CORE = 80_000


def fold_rows_per_task() -> int:
    """EMAP_FOLD_ROWS_PER_TASK (merge-fold rows per task, 0 = all cores),
    degrading to the default 2500 on an empty, malformed or negative
    value — a typo in an ops knob must not fail every batch."""
    try:
        rpt = int(os.environ.get("EMAP_FOLD_ROWS_PER_TASK", "2500"))
    except ValueError:
        rpt = -1
    return rpt if rpt >= 0 else 2500


# deterministic, monotonic stored_from: base + batch_id seconds (audit
# bitemporal queries need stored_from non-decreasing in batch order)
_STORED_BASE = datetime.datetime(2024, 6, 1)


def stored_from_for_batch(batch_id: int) -> str:
    return (_STORED_BASE + datetime.timedelta(seconds=batch_id)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


@dataclass
class TableState:
    """Handle to one entity table's current + audit frames.

    In-memory mode: lineage-checkpointed frames (tests / ad-hoc replay).
    Durable mode: delegated to a storage backend (DeltaLog/SnapshotStore)."""

    spec: MergeSpec
    current: DataFrame | None = None
    audit_parts: list[DataFrame] = field(default_factory=list)
    store: object | None = None

    def current_df(self) -> DataFrame | None:
        if self.store is not None:
            return self.store.read_current()
        return self.current

    def audit(self) -> DataFrame | None:
        if self.store is not None:
            return self.store.read_audit()
        if not self.audit_parts:
            return None
        out = self.audit_parts[0]
        for a in self.audit_parts[1:]:
            out = out.unionByName(a)
        return out


@dataclass
class BatchMetrics:
    batch_id: int
    n_input: int
    n_deduped: int
    n_quarantined: int
    seconds: float
    n_actions: int = 0


class MergePipeline:
    """foreachBatch-able pipeline over a set of entity tables.

    tables: name -> (MergeSpec, router) where router(batch_df) selects +
    projects this table's update rows from the incoming message batch.
    storage_root: optional directory for durable state (see module doc);
    None keeps everything in lineage-checkpointed frames.
    backend: "delta" (incremental MERGE, scale path) or "snapshot".
    """

    def __init__(
        self,
        tables: dict[str, tuple[MergeSpec, callable]],
        message_id: str = "source_message_id",
        granularity: str = "batch",
        validator=None,
        storage_root: str | None = None,
        backend: str = "delta",
        untrusted_flags: dict | None = None,
    ) -> None:
        self.tables = {
            name: TableState(spec=spec) for name, (spec, _) in tables.items()
        }
        self.routers = {name: router for name, (_, router) in tables.items()}
        self.message_id = message_id
        self.granularity = granularity
        self.validator = validator
        self.storage_root = storage_root
        self.backend = backend
        self.quarantine: DataFrame | None = None
        self.metrics: list[BatchMetrics] = []
        self._applied: set[int] = set()
        self._loaded = storage_root is None
        self._n_actions = 0
        self._staged_cache: DataFrame | None = None
        # trust gate (M6 fast path): untrusted_flags maps a table name to
        # a boolean Column over the RAW batch that is true when a row MAY
        # be untrusted for that table (an over-approximation is fine —
        # it only disables the fast path). The flag is observed for free
        # in the staging pass; _store_all_trusted is the monotone
        # "this table's store has never absorbed an untrusted row" bit,
        # persisted with the batch marker. Both together let the merge
        # skip the M6 creator-arbitration window passes on all-trusted
        # feeds (the common topology: EPIC-only ADT).
        self.untrusted_flags = untrusted_flags or {}
        self._store_all_trusted: dict[str, bool] = {
            name: name in self.untrusted_flags for name in self.tables
        }
        self._batch_untrusted: dict[str, bool] = {}
        self._batch_rows: int = 0

    # -- durable state -----------------------------------------------------
    @property
    def applied_batches(self) -> set[int]:
        return self._applied

    def _marker_path(self) -> str:
        return os.path.join(self.storage_root, "_applied.json")

    def load(self, spark: SparkSession) -> None:
        """Reload durable state written by a previous run (restart path).

        Idempotent; called automatically by process_batch. Attaches every
        table's storage backend (whose transaction log carries the real
        exactly-once state) and restores the applied-batch set + metrics."""
        if self._loaded:
            return
        self._loaded = True
        for name, state in self.tables.items():
            if self.backend == "delta":
                state.store = DeltaLog(self.storage_root, name, state.spec.key)
            elif self.backend == "jdbc":
                state.store = JdbcUpsertStore(
                    self.storage_root, name, state.spec.key
                )
            else:
                state.store = SnapshotStore(self.storage_root, name, state.spec.key)
            state.store.load(spark)
        marker = self._marker_path()
        if os.path.isfile(marker):
            with open(marker) as fh:
                m = json.load(fh)
            self._applied = set(m["applied"])
            # markers written before the trust gate carry no flags:
            # assume the store may hold untrusted rows (gate stays off)
            stored_flags = m.get("all_trusted", {})
            self._store_all_trusted = {
                name: bool(stored_flags.get(name, False))
                for name in self.tables
            }
        metrics_file = os.path.join(self.storage_root, "metrics.jsonl")
        if os.path.isfile(metrics_file):
            with open(metrics_file) as fh:
                self.metrics = [BatchMetrics(**json.loads(line)) for line in fh]

    def _commit(self, batch_id: int) -> None:
        """Record overall batch completion (informational; each table's
        transaction log is the authoritative exactly-once state)."""
        self._applied.add(batch_id)
        tmp = self._marker_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "applied": sorted(self._applied),
                    "all_trusted": self._store_all_trusted,
                },
                fh,
            )
        os.replace(tmp, self._marker_path())

    # -- ingestion ---------------------------------------------------------
    def _build_merge(self, name: str, deduped: DataFrame, stored: str) -> MergeResult:
        """Construct one table's merge PLAN against its current state
        (no Spark action beyond the store's tiny bucket-id collect)."""
        state = self.tables[name]
        merge = merge_batch if self.granularity == "batch" else merge_batch_versions
        kwargs = {}
        if (
            self.granularity == "message"
            and state.spec.trusted
            and self._store_all_trusted.get(name, False)
            and not self._batch_untrusted.get(name, True)
        ):
            kwargs["all_trusted"] = True
        fold_par = self._fold_parallelism(deduped)
        if self.granularity == "message":
            kwargs["parallelism"] = fold_par
        updates = self.routers[name](deduped)
        # fan the fold's compute across the cluster: the staged batch is
        # one tiny parquet split and AQE's bytes-based coalescing would
        # otherwise run the window-heavy merge in ONE task (measured
        # 2.2s -> 1.5s on a 20k-message batch); a USER repartition on
        # the merge key is exempt from coalescing and the fold's windows
        # reuse it directly. The store write re-narrows the touched-rows
        # output so delta files stay bounded. merge_batch_versions
        # repartitions internally AFTER its seed union (the union would
        # discard this one), so only the batch-granularity path needs it.
        if self.granularity == "batch":
            updates = updates.repartition(fold_par, *state.spec.key)
        if state.store is not None and isinstance(
            state.store, (DeltaLog, JdbcUpsertStore)
        ):
            # incremental MERGE: fold only the keys this batch touches;
            # untouched rows are never read into the fold nor rewritten
            # (the key restriction is applied BELOW the store's
            # latest-per-key window, and the bucketed-base scan is
            # pruned to the touched buckets — see
            # DeltaLog.read_current — so the seed read is O(touched
            # base buckets + recent deltas), not O(table))
            # no .distinct(): the broadcast semi-join build dedupes
            # implicitly (HashedRelation keys), and the explicit
            # distinct cost a partial-agg + exchange + final-agg stage
            # chain per table per batch; read_current's bucket-id
            # collect applies its own distinct
            touched = updates.select(*state.spec.key)
            # bucket pruning pays only for batches SMALL relative to the
            # bucket count: at >= 64 rows/bucket the collect would come
            # back with (essentially) every bucket id — coupon-collector
            # odds of an untouched bucket are nil — so the tiny
            # bucket-discovery job is pure fixed cost. Skip it and scan
            # all buckets; the broadcast key semi-join below the window
            # still restricts the fold to touched keys.
            nb = getattr(state.store, "n_buckets", 0)
            buckets = (
                list(range(nb))
                if nb and self._batch_rows >= 64 * nb
                else None
            )
            if self.granularity == "message" and isinstance(state.store, DeltaLog):
                # the seed-struct explode + fold map side run in the
                # stage DOWNSTREAM of the store's latest-per-key window;
                # pin that stage's parallelism (else AQE bytes-coalesces
                # it to a handful of tasks and the compute serializes)
                current = state.store.read_current(
                    keys=touched, buckets=buckets, widen=fold_par
                )
            elif isinstance(state.store, DeltaLog):
                current = state.store.read_current(keys=touched, buckets=buckets)
            else:
                current = state.store.read_current(keys=touched)
        elif state.store is not None:
            current = state.store.read_current()
        else:
            current = state.current
        return merge(current, updates, state.spec, stored, **kwargs)

    def _fold_parallelism(self, df: DataFrame) -> int:
        """Merge-fold parallelism for the CURRENT batch: rows bounded
        per task (per-task fixed costs dominate sub-thousand-row tasks,
        so a 20k-message batch folds on ~8 tasks, a 100k batch on all
        cores, and a cluster-scale batch on rows/target tasks —
        EMAP_FOLD_ROWS_PER_TASK, default 2500; 0 = always all cores).
        One formula shared by the fold plan and the delta-commit write
        so the exchange-skip decision always sees the true partition
        count."""
        dp = df.sparkSession.sparkContext.defaultParallelism
        rpt = fold_rows_per_task()
        return min(dp, max(4, self._batch_rows // rpt)) if rpt > 0 else dp

    def _merge_one_table(self, name: str, deduped: DataFrame, batch_id: int, stored: str) -> int:
        """Merge + persist one table; returns the number of Spark actions
        spent. Independent across tables — called concurrently; the
        normal cost is exactly ONE action (the combined-frame write)."""
        state = self.tables[name]
        if state.store is not None and state.store.has_batch(batch_id):
            return 0  # this table already committed the batch (replay)
        # job attribution for the Spark UI / event-log profiling
        deduped.sparkSession.sparkContext.setJobDescription(f"merge:{name}")
        res = self._build_merge(name, deduped, stored)
        if state.store is not None:
            if isinstance(state.store, DeltaLog):
                # declare the fold's parallelism so the delta write can
                # skip its re-narrowing exchange when the fold's
                # partitioning is already within the store's
                # small-file bound
                return state.store.commit(
                    batch_id, res.combined, self._fold_parallelism(deduped)
                )
            return state.store.commit(batch_id, res.combined)
        # ONE materialization per table: persist combined, derive both
        # views from the file (cut also breaks cross-batch lineage)
        c = cut(res.combined)
        cur, aud = split_combined(c)
        state.current = cur
        state.audit_parts.append(aud)
        return 1

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        aux_tasks: list | None = None,
        gated_aux: list | None = None,
    ) -> None:
        """aux_tasks: callables () -> int (spark actions spent) that are
        independent of the merge results (e.g. history-log writes); they
        run concurrently with the table merges and are joined before the
        batch commits, so durability ordering is preserved.

        gated_aux: (gate, task) pairs where gate is a boolean Column over
        the raw batch. The gate rides the staging observation for FREE
        (no extra action) and the task runs — concurrently with the
        table merges, still joined before commit — only for batches that
        contain a gate-true row. This replaces per-batch emptiness
        probes: e.g. identity messages (A40/A45/A47) are rare in most
        feeds, and probing `merges.isEmpty()` re-parsed the batch in an
        escalating limit-scan (~0.5 s of single-task stages) every batch
        just to conclude "nothing to write"."""
        spark = batch_df.sparkSession
        if self.storage_root is not None:
            self.load(spark)
            if batch_id in self._applied:
                return  # exactly-once: restart replayed a committed batch

        # ingest-scoped scan sizing: spark.sql.files.minPartitionNum
        # defaults to defaultParallelism (32), which splits the ~8 small
        # staged files into 32 near-empty scan tasks — and every fold
        # re-scans the staged batch several times (route read, touched-
        # keys semi-join, seed joins), so the ~27 ms/task scheduler
        # overhead multiplies across 3 concurrent merges. dp/4 matches
        # the staging coalesce (one task per staged file); byte-based
        # splitting still kicks in for cluster-scale batches, so large
        # scans keep their parallelism. Interleaved A/B (min-of-3, this
        # box): 20k batch 2.09 -> 1.76 s, 100k 2.96 -> 2.68 s. Restored
        # on exit so analytic queries keep the default.
        conf_key = "spark.sql.files.minPartitionNum"
        try:
            old_mpn = spark.conf.get(conf_key)
        except Exception:
            old_mpn = None
        spark.conf.set(
            conf_key, str(max(4, spark.sparkContext.defaultParallelism // 4))
        )
        # Adaptive execution is scoped OUT of the batch window (default
        # since r9): AQE materializes a job wave per exchange, and the
        # merge plans are small, known, and explicitly partitioned
        # (EMAP_FOLD_ROWS_PER_TASK / the staging coalesce), so the
        # runtime re-plan buys nothing here while its wave barriers are
        # pure fixed cost per table per batch. Interleaved A/B (two
        # 4-pair sessions, fresh engine per rep): AQE-off won 6/8 pairs
        # at 20k (min 1.286 vs 1.417 s, median -14%) and 7/8 at 100k
        # (min 1.922 vs 2.104 s). Results are identical either way —
        # AQE only changes the physical schedule — and the conf is
        # restored on exit so analytic queries keep runtime re-planning
        # (incl. skew-join splitting, which never triggers at
        # micro-batch sizes anyway). EMAP_BATCH_AQE=on keeps AQE inside
        # the batch window for cluster-scale deployments whose batches
        # are large or skewed enough for runtime re-planning to pay.
        # r10 (VERDICT r9 #3): the default is SIZE-AWARE ("auto") — AQE
        # stays off only while the staged batch is below a row threshold
        # (micro-batch regime, where the job-wave fixed cost is the
        # measured loser), and is restored to the session's value for the
        # merge window of LARGE batches, where runtime re-planning (skew
        # splitting, coalescing) is what a cluster-scale deployment
        # needs. The threshold is AQE_ROWS_PER_CORE x defaultParallelism
        # (2.56M rows on local[32]), compared against n_deduped — an HLL
        # estimate in the default staging mode (see the comparison in
        # _process_batch_inner). 80k rows/core is the MEASURED flip
        # point (interleaved fresh-engine pairs, uniform synthetic ADT):
        # AQE-off wins 3/3 pairs at 1M rows (min 3.88 vs 5.19 s) and 2/2
        # at 2M (13.6 vs 18.2);
        # AQE-on wins 2/2 at 4M (10.02 vs 10.54) — the job-wave fixed
        # cost amortizes somewhere in (2M, 4M) rows on 32 cores, and
        # above it runtime re-planning is free insurance against the
        # skew that uniform synthetic data cannot show.
        # The staging pass itself is map-only (no exchange), so running
        # it AQE-off in every mode is shape-neutral; the decision point
        # is the staging count, the only place the batch's true row
        # count exists. EMAP_BATCH_AQE=on|off remain manual overrides.
        aqe_key = "spark.sql.adaptive.enabled"
        old_aqe = None
        mode = os.environ.get("EMAP_BATCH_AQE", "auto")
        self._aqe_restore_at = None
        if mode in ("off", "auto"):
            try:
                old_aqe = spark.conf.get(aqe_key)
            except Exception:
                old_aqe = "true"
            spark.conf.set(aqe_key, "false")
            if mode == "auto":
                self._aqe_restore_at = (
                    AQE_ROWS_PER_CORE * spark.sparkContext.defaultParallelism
                )
                self._aqe_session_value = old_aqe
        try:
            self._process_batch_inner(batch_df, batch_id, aux_tasks, gated_aux)
        finally:
            if old_mpn is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, old_mpn)
            if old_aqe is not None:
                spark.conf.set(aqe_key, old_aqe)
            # drop the staged-batch cache even when a merge raised —
            # a long-running stream must not leak one cache per failure
            if self._staged_cache is not None:
                self._staged_cache.unpersist()
                self._staged_cache = None

    def _process_batch_inner(
        self,
        batch_df: DataFrame,
        batch_id: int,
        aux_tasks: list | None,
        gated_aux: list | None,
    ) -> None:
        spark = batch_df.sparkSession
        t0 = time.perf_counter()
        actions0 = self._n_actions

        # aux tasks depend only on the raw batch — start them NOW so
        # their jobs overlap the staging materialization below (the
        # table merges must wait for staging; the histories need not)
        aux_tasks = aux_tasks or []
        gated_aux = gated_aux or []
        n_workers = len(self.tables) + len(aux_tasks) + len(gated_aux)
        ex = ThreadPoolExecutor(max_workers=n_workers) if n_workers > 1 else None
        aux_futs = [ex.submit(task) for task in aux_tasks] if ex else []

        # ONE materializing pass computes dedupe + validation + metrics
        # (Observation piggybacks on the checkpoint action; the reference's
        # per-message IdsEffectLogging becomes per-batch counters).
        obs_in, obs_out = Observation(), Observation()
        valid = self.validator if self.validator is not None else F.lit(True)
        # trust-gate flags ride the same observation (zero extra actions)
        flag_aggs = [
            F.coalesce(F.max(flag.cast("int")), F.lit(0)).alias(f"__unt_{name}")
            for name, flag in self.untrusted_flags.items()
        ]
        # W4 duplicate-delivery handling: the merge FOLD is duplicate-
        # insensitive by construction — a redelivered message is an
        # adjacent no-change row in the fold's total order (no version
        # emitted, no change mark advanced), and cross-batch redelivery
        # is absorbed by the newer-wins/__seen_t guards. The staging
        # pass therefore skips the dropDuplicates SHUFFLE entirely
        # (scan -> project -> write, map-only) and reports the deduped
        # count from an HLL sketch in the same observation (exact in
        # sparse mode, i.e. for any realistic duplicate count).
        # EMAP_STAGE_DEDUP=exact restores the physical dedupe (and exact
        # counts) for feeds where redelivered messages may differ in
        # payload under the same id — outside the at-least-once
        # contract, but the fallback is one env var away.
        # (Also measured and rejected here: user-repartition before the
        # dedupe, ~2 s slower; persist+count staging, ~0.8 s slower.)
        exact_dedupe = os.environ.get("EMAP_STAGE_DEDUP", "fold") == "exact"
        staged = batch_df.observe(
            obs_in, F.count(F.lit(1)).alias("n_input")
        ).withColumn("__valid", valid)
        if exact_dedupe:
            staged = staged.dropDuplicates([self.message_id])
            n_dedup_agg = F.coalesce(
                F.sum(F.col("__valid").cast("long")), F.lit(0)
            ).alias("n_deduped")
            n_quar_agg = F.coalesce(
                F.sum((~F.col("__valid")).cast("long")), F.lit(0)
            ).alias("n_quarantined")
        else:
            n_dedup_agg = F.coalesce(
                F.approx_count_distinct(
                    F.when(F.col("__valid"), F.col(self.message_id))
                ),
                F.lit(0),
            ).alias("n_deduped")
            n_quar_agg = F.coalesce(
                F.approx_count_distinct(
                    F.when(~F.col("__valid"), F.col(self.message_id))
                ),
                F.lit(0),
            ).alias("n_quarantined")
        gate_aggs = [
            F.coalesce(F.max(gate.cast("int")), F.lit(0)).alias(f"__gaux_{i}")
            for i, (gate, _) in enumerate(gated_aux)
        ]
        staged = staged.observe(
            obs_out, n_dedup_agg, n_quar_agg, *flag_aggs, *gate_aggs
        )
        # staging is map-only, so output file count = input partition
        # count (a generator/union source arrives at full parallelism:
        # 32 tiny files for a 20k batch, each re-read by every table
        # merge). coalesce — no shuffle, merges input splits — bounds
        # the file count; dp/4 keeps the parse+encode distributed for
        # cluster-scale batches while cutting small-batch footer churn.
        staged = staged.coalesce(
            max(4, spark.sparkContext.defaultParallelism // 4)
        )
        spark.sparkContext.setJobDescription(f"stage-batch:{batch_id}")
        # Staging materialization: persist(MEMORY_AND_DISK) + count.
        # The r6 A/B rejected the cached path (~0.8 s slower at the 100k
        # batch: cached-scan re-reads vs page-cached pruned parquet),
        # but that measurement predates the r8 levers (no write-side
        # dedup shuffle, minPartitionNum-scoped scans, gated aux). The
        # r9 interleaved A/B (8 pairs, fresh engine per rep, sides
        # alternating) REVERSED it at the small batch and tied the big
        # one: 20k persist wins 7/8 pairs (min 1.500 vs 1.600 s, median
        # -8%), 100k split 4/4 with mins 2.27 vs 2.28 — the parquet
        # cut's encode+write+re-read is pure fixed cost at micro-batch
        # sizes. On a cluster the persisted batch lives in executor
        # memory/disk instead of a distributed-FS round trip; the
        # quarantine write and all three merges consume the cache and
        # it is dropped at batch end.
        staged = staged.persist()
        staged.count()  # materializes -> observations fire
        self._staged_cache = staged  # unpersisted at batch end
        spark.sparkContext.setJobDescription(None)
        self._n_actions += 1
        n_input = int(obs_in.get["n_input"])
        n_deduped = int(obs_out.get["n_deduped"])
        n_quarantined = int(obs_out.get["n_quarantined"])
        self._batch_rows = n_deduped  # sizes the fold parallelism
        # size-aware AQE (mode "auto"): a batch at or above the row
        # threshold gets the session's adaptive execution back for its
        # merge window — runtime skew-split/coalesce matter exactly when
        # batches are big (the restore-on-exit in process_batch still
        # runs; setting the session value here is idempotent with it).
        # n_deduped is the HLL sketch's estimate unless
        # EMAP_STAGE_DEDUP=exact, so a batch within the sketch's error of
        # the threshold may land on either side of it.
        self._last_batch_aqe = (
            os.environ.get("EMAP_BATCH_AQE", "auto") == "on"
        )
        if (
            getattr(self, "_aqe_restore_at", None) is not None
            and n_deduped >= self._aqe_restore_at
        ):
            spark.conf.set(
                "spark.sql.adaptive.enabled", self._aqe_session_value or "true"
            )
            self._last_batch_aqe = self._aqe_session_value != "false"
        self._batch_untrusted = {
            name: bool(obs_out.get[f"__unt_{name}"])
            for name in self.untrusted_flags
        }
        # fire the gated aux tasks whose gate observed a true row; they
        # join the same pre-commit barrier as the unconditional aux tasks
        fired = [
            task
            for i, (_, task) in enumerate(gated_aux)
            if int(obs_out.get[f"__gaux_{i}"])
        ]
        if ex is not None:
            aux_futs = aux_futs + [ex.submit(task) for task in fired]
        deduped = staged.filter(F.col("__valid")).drop("__valid")
        if n_quarantined:
            bad = staged.filter(~F.col("__valid")).drop("__valid")
            self._n_actions += 1
            if self.storage_root is not None:
                bad.write.mode("overwrite").parquet(
                    os.path.join(self.storage_root, f"quarantine/batch={batch_id}")
                )
            else:
                self.quarantine = (
                    bad if self.quarantine is None else self.quarantine.unionByName(bad)
                )

        stored = stored_from_for_batch(batch_id)
        # NOTE (r6, measured): conf-scoped AQE OFF for the fold actions
        # (the ledger's candidate for the ~4 s/batch scheduler floor —
        # each fold spawns ~28 AQE query-stage jobs) is catastrophically
        # WRONG: 20k batch 4.6 s -> 141 s. The fold's touched-keys
        # semi-join and seed joins rely on AQE's runtime broadcast
        # decisions (static estimates see unbounded parquet scans and
        # plan sort-merge over the full base). AQE stays on; the job-
        # submission overhead is the price of runtime join planning.
        # Each table commits on its own (one write per table): a single
        # fused write of every table's rows measured slower in both A/Bs
        # (r5 5.6 vs 4.1 s, r9a 2.97 vs 1.79 s on a 20k batch).
        if ex is not None:
            try:
                futs = [
                    ex.submit(self._merge_one_table, name, deduped, batch_id, stored)
                    for name in self.tables
                ] + aux_futs
                self._n_actions += sum(f.result() for f in futs)
            finally:
                ex.shutdown()
        else:
            for name in self.tables:
                self._n_actions += self._merge_one_table(name, deduped, batch_id, stored)
            for task in aux_tasks + fired:
                self._n_actions += task()

        # the monotone store flag flips AFTER the merges consumed this
        # batch (the gate for batch N reads the pre-N state)
        for name, unt in self._batch_untrusted.items():
            if unt:
                self._store_all_trusted[name] = False

        if getattr(self, "_staged_cache", None) is not None:
            self._staged_cache.unpersist()
            self._staged_cache = None

        m = BatchMetrics(
            batch_id, n_input, n_deduped, n_quarantined,
            round(time.perf_counter() - t0, 3),
            self._n_actions - actions0,
        )
        self.metrics.append(m)
        if self.storage_root is not None:
            with open(os.path.join(self.storage_root, "metrics.jsonl"), "a") as fh:
                fh.write(json.dumps(vars(m)) + "\n")
            self._commit(batch_id)

    def quarantine_df(self, spark: SparkSession) -> DataFrame | None:
        if self.storage_root is not None:
            qdir = os.path.join(self.storage_root, "quarantine")
            if not os.path.isdir(qdir):
                return None
            return spark.read.parquet(qdir).drop("batch")
        return self.quarantine

    def run_stream(self, stream_df: DataFrame, checkpoint_dir: str, trigger_seconds: int = 10):
        """Attach to a streaming DataFrame; micro-batch cadence mirrors
        the reference's 10 s collation drain (W2)."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [
                (m.batch_id, m.n_input, m.n_deduped, m.n_quarantined, m.seconds, m.n_actions)
                for m in self.metrics
            ],
            "batch_id long, n_input long, n_deduped long, n_quarantined long,"
            " seconds double, n_actions long",
        )


def retention_sweep(
    table: DataFrame,
    ts_col: str = "observation_datetime",
    retention_hours: int = 24 * 7,
) -> DataFrame:
    """K4/W7: retention delete baselined on max observed time, not wall
    clock (WaveformProcessor.java:58-96; WaveformRepository.java:39-43).
    Returns the retained frame; on a date-partitioned lakehouse table
    this compiles to partition drops."""
    cutoff = table.agg(
        (F.max(F.col(ts_col)) - F.expr(f"INTERVAL {retention_hours} HOURS")).alias("c")
    )
    return table.join(F.broadcast(cutoff)).filter(F.col(ts_col) >= F.col("c")).drop("c")


def process_prioritized(
    pipeline: MergePipeline,
    live: DataFrame,
    backfill: DataFrame | None,
    batch_id: int,
    backfill_budget_rows: int | None = None,
) -> None:
    """W5: live messages drain before backfill (the reference consumes
    queues in priority order, core App.java:68-75 'ordering of queue
    names ... matters'; hoover drains between live messages).

    Processes the live batch first, then at most backfill_budget_rows of
    backfill in the same cycle — the remainder waits for an idle cycle.
    Order-permutation invariance (W3) makes the interleaving safe: final
    state is independent of which cycle a backfill message lands in.
    """
    pipeline.process_batch(live, batch_id)
    if backfill is not None:
        if backfill_budget_rows is not None:
            backfill = backfill.limit(backfill_budget_rows)
        pipeline.process_batch(backfill, batch_id + 1_000_000)
