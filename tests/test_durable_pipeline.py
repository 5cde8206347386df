"""K2 durability: the pipeline persists current+audit+history to parquet
and a restarted engine resumes with identical state (the reference
persists every upsert to Postgres, core/.../RowState.java:186-201;
BASELINE.json: 'Structured Streaming + JDBC sink' — parquet dirs + an
atomic commit marker are the dependency-free local equivalent)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from emap_spark.app import EmapEngine
from emap_spark.sources.generators import adt_messages


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="durable_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _snapshot(eng):
    vis = sorted(
        (r.encounter, str(r.admission_datetime), str(r.discharge_datetime))
        for r in eng.table("hospital_visit").collect()
    )
    lv = sorted(
        (r.visit_number, r.location_string, str(r.admission_datetime))
        for r in eng.location_visits().collect()
    )
    aud = eng.audit("hospital_visit")
    n_aud = aud.count() if aud is not None else 0
    return vis, lv, n_aud


@pytest.mark.parametrize("backend", ["delta", "snapshot", "jdbc"])
def test_restart_resumes_identical_state(spark, tmpdir, backend):
    adt = adt_messages(spark, n_patients=4)
    b1 = adt.filter(F.col("message_type") == "ADMIT")
    b2 = adt.filter(F.col("message_type") == "TRANSFER")
    b3 = adt.filter(~F.col("message_type").isin("ADMIT", "TRANSFER"))

    # reference run: one engine, all three batches, in memory
    ref = EmapEngine()
    for i, b in enumerate([b1, b2, b3]):
        ref.process_batch(b, i)

    # durable run: process 0,1 -> kill -> new engine resumes -> process 2
    e1 = EmapEngine(storage_root=tmpdir, backend=backend)
    e1.process_batch(b1, 0)
    e1.process_batch(b2, 1)
    del e1

    e2 = EmapEngine(storage_root=tmpdir, backend=backend)
    e2.load(spark)
    # state survived the restart before any new batch
    assert e2.table("hospital_visit").count() == 4
    # replaying an already-committed batch is a no-op (exactly-once)
    n_aud_before = e2.audit("hospital_visit").count()
    e2.process_batch(b2, 1)
    assert e2.audit("hospital_visit").count() == n_aud_before
    e2.process_batch(b3, 2)

    assert _snapshot(e2) == _snapshot(ref)
    # as-of works against the durable audit log too
    t = "2024-01-01 09:00:00"
    asof_ref = sorted(
        (r.encounter, str(r.discharge_datetime))
        for r in ref.table_asof("hospital_visit", t).collect()
    )
    asof_dur = sorted(
        (r.encounter, str(r.discharge_datetime))
        for r in e2.table_asof("hospital_visit", t).collect()
    )
    assert asof_dur == asof_ref
    # metrics log reloaded across the restart
    m = e2.metrics(spark).collect()
    assert sorted(x.batch_id for x in m) == [0, 1, 2]


@pytest.mark.parametrize("staging", ["parallel", "driver"])
def test_jdbc_mirror_matches_delta(spark, tmpdir, staging):
    """The SQL-warehouse mirror (JdbcUpsertStore, DuckDB stand-in for
    the reference's Postgres star schema) holds EXACTLY the rows the
    DeltaLog backend holds — current AND audit — after the same batches,
    including an idempotent replay of a committed batch. Both staging
    shapes are pinned: "parallel" (executors stage the batch's files,
    the warehouse MERGE ingests them server-side — the df.write.jdbc
    analogue, VERDICT r4 #6) and "driver" (Arrow collect + register)."""
    import os

    adt = adt_messages(spark, n_patients=4)
    b1 = adt.filter(F.col("message_type") == "ADMIT")
    b2 = adt.filter(~(F.col("message_type") == "ADMIT"))

    ed = EmapEngine(storage_root=os.path.join(tmpdir, "d"), backend="delta")
    ej = EmapEngine(storage_root=os.path.join(tmpdir, "j"), backend="jdbc")
    ej.pipeline.load(spark)
    for state in ej.pipeline.tables.values():
        state.store.staging = staging
    for i, b in enumerate([b1, b2]):
        ed.process_batch(b, i)
        ej.process_batch(b, i)
    ej.process_batch(b2, 1)  # replay: transactional ledger makes it a no-op

    for table in ["mrn", "core_demographic", "hospital_visit"]:
        cur_d = sorted(map(tuple, ed.table(table).collect()))
        cur_j = sorted(map(tuple, ej.table(table).collect()))
        assert cur_j == cur_d, table
        aud_d, aud_j = ed.audit(table), ej.audit(table)
        rows_d = sorted(map(tuple, aud_d.collect())) if aud_d is not None else []
        rows_j = sorted(map(tuple, aud_j.collect())) if aud_j is not None else []
        assert rows_j == rows_d, f"audit {table}"


def test_quarantine_and_stored_from_monotonic(spark, tmpdir):
    adt = adt_messages(spark, n_patients=2)
    bad = (
        adt.limit(1)
        .withColumn("mrn", F.lit(None).cast("string"))
        .withColumn("visit_number", F.lit(None).cast("string"))
        .withColumn("source_message_id", F.lit("BAD-0001"))
    )
    eng = EmapEngine(storage_root=tmpdir)
    eng.process_batch(adt.unionByName(bad), 0)
    eng.process_batch(adt.limit(0), 61)  # id past the old %60 wraparound
    q = eng.pipeline.quarantine_df(spark)
    assert q is not None and q.count() == 1
    # stored_from strictly increases with batch id (no wraparound)
    from emap_spark.streaming.pipeline import stored_from_for_batch

    assert stored_from_for_batch(61) > stored_from_for_batch(60) > stored_from_for_batch(0)


def test_merge_history_write_is_gated_on_identity_presence(spark, tmpdir):
    """The merge-history write rides the staging observation's gate:
    identity-free batches write NO merge_history dir (and spend no probe
    job), an identity-carrying batch writes exactly its own dir, and
    mrn_to_live still resolves the merge chain after a restart."""
    import os

    adt = adt_messages(spark, n_patients=4)  # emits NO identity messages
    eng = EmapEngine(storage_root=tmpdir)
    eng.process_batch(adt, batch_id=0)
    hist_root = os.path.join(tmpdir, "merge_history")
    assert not os.path.isdir(hist_root)

    mrns = sorted(r.mrn for r in eng.table("mrn").select("mrn").collect())
    a, b = mrns[0], mrns[1]
    merge_msg = adt.limit(1).select(
        *[
            F.lit("MERGE").alias(c) if c == "message_type"
            else F.lit(a).alias(c) if c == "retired_mrn"
            else F.lit(b).alias(c) if c == "mrn"
            else F.col(c)
            for c in adt.columns
        ]
    )
    eng.process_batch(merge_msg, batch_id=1)
    assert sorted(os.listdir(hist_root)) == ["batch=1"]

    eng2 = EmapEngine(storage_root=tmpdir)
    eng2.load(spark)
    live = {r.mrn: r.live_mrn for r in eng2.mrn_to_live().collect()}
    assert live[a] == b


def test_ingest_scan_sizing_conf_is_scoped_to_the_batch(spark, tmpdir):
    """process_batch sets spark.sql.files.minPartitionNum for the
    ingest's small-file scans and must RESTORE it on exit (success and
    failure), so analytic queries keep the session default."""
    key = "spark.sql.files.minPartitionNum"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None

    adt = adt_messages(spark, n_patients=3)
    eng = EmapEngine(storage_root=tmpdir)
    eng.process_batch(adt, batch_id=0)
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before

    # failure path: a batch missing required columns raises inside the
    # scoped region; the conf must still come back
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.process_batch(adt.select("mrn"), batch_id=1)
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


def test_stage_cut_modes_produce_identical_state(spark, tmpdir):
    """The staged batch is persisted for the batch's merges and dropped
    at batch end: no engine-held cache and no growth in the session's
    persisted RDDs across batches."""
    adt = adt_messages(spark, n_patients=6)
    b1 = adt.filter(F.col("message_type") == "ADMIT")
    b2 = adt.filter(F.col("message_type") != "ADMIT")

    jsc = spark.sparkContext._jsc.sc()
    n_cached_before = jsc.getPersistentRDDs().size()
    eng = EmapEngine(storage_root=tmpdir)
    for i, b in enumerate([b1, b2]):
        eng.process_batch(b, i)
        assert eng.pipeline._staged_cache is None
    # other tests' localCheckpoint RDDs may linger in the shared session,
    # so assert no GROWTH rather than emptiness; the engine's own
    # localCheckpoints are eagerly replaced per batch, not grown
    assert jsc.getPersistentRDDs().size() <= n_cached_before + 8


def test_stage_cut_cache_released_on_merge_failure(spark, tmpdir):
    """A batch that fails AFTER staging materializes must still drop the
    cached staged frame (outer finally) — a long-running stream cannot
    leak one cache per failed batch."""
    adt = adt_messages(spark, n_patients=3)
    eng = EmapEngine(storage_root=tmpdir)
    eng.process_batch(adt, batch_id=0)

    import pytest as _pytest

    # missing required columns raises inside _process_batch_inner after
    # observation wiring; whether it fails before or after the persist,
    # the finally must clear the cache bookkeeping (the field is set to
    # None only AFTER unpersist, so None proves the drop happened)
    with _pytest.raises(Exception):
        eng.process_batch(adt.select("mrn", "source_message_id"), batch_id=1)
    assert eng.pipeline._staged_cache is None


def test_batch_aqe_auto_is_size_aware(spark, tmpdir, monkeypatch):
    """r10 (VERDICT r9 #3): EMAP_BATCH_AQE defaults to auto — AQE is
    scoped off for the merge window of SMALL batches (the measured
    micro-batch winner) and restored to the session value for batches at
    or above the row threshold, and the session conf always comes back
    after the batch. The per-core threshold is patched so the test stays
    tiny."""
    from emap_spark.streaming import pipeline as pipeline_mod

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    adt = adt_messages(spark, n_patients=40)  # 160 messages

    # below threshold: merge window ran AQE-off
    monkeypatch.setattr(pipeline_mod, "AQE_ROWS_PER_CORE", 1_000_000)
    eng = EmapEngine(storage_root=tmpdir)
    eng.process_batch(adt, batch_id=0)
    assert eng.pipeline._last_batch_aqe is False
    assert spark.conf.get(key) == before  # restored

    # at/above threshold (1 row per core): the session's AQE is
    # restored for the merges
    monkeypatch.setattr(pipeline_mod, "AQE_ROWS_PER_CORE", 1)
    eng.process_batch(adt_messages(spark, n_patients=50), batch_id=1)
    assert eng.pipeline._last_batch_aqe is True
    assert spark.conf.get(key) == before

    # manual overrides still win
    monkeypatch.setenv("EMAP_BATCH_AQE", "off")
    eng.process_batch(adt_messages(spark, n_patients=60), batch_id=2)
    assert eng.pipeline._last_batch_aqe is False
    assert spark.conf.get(key) == before


def test_malformed_fold_rows_per_task_degrades_to_default(spark, tmpdir, monkeypatch):
    """An empty, malformed or negative EMAP_FOLD_ROWS_PER_TASK falls back
    to the default instead of failing every batch."""
    from emap_spark.streaming.pipeline import fold_rows_per_task

    for value in ("", "abc", "-5"):
        monkeypatch.setenv("EMAP_FOLD_ROWS_PER_TASK", value)
        assert fold_rows_per_task() == 2500
    adt = adt_messages(spark, n_patients=3)
    admits = F.col("message_type") == "ADMIT"
    eng = EmapEngine(storage_root=tmpdir)
    for i, (value, batch) in enumerate(
        [("", adt.filter(admits)), ("abc", adt.filter(~admits))]
    ):
        monkeypatch.setenv("EMAP_FOLD_ROWS_PER_TASK", value)
        eng.process_batch(batch, i)
    assert {0, 1} <= eng.pipeline.applied_batches
    assert eng.table("hospital_visit").count() == 3


def _tables(eng):
    """Every ADT star table's current and audit rows, order-free."""
    out = {}
    for name in eng.pipeline.tables:
        aud = eng.audit(name)
        out[name] = (
            sorted(str(tuple(r)) for r in eng.table(name).collect()),
            sorted(str(tuple(r)) for r in aud.collect()) if aud is not None else [],
        )
    return out


def test_replay_after_partial_table_commit_converges(spark, tmpdir, monkeypatch):
    """Crash window inside one batch: hospital_visit's DeltaLog committed
    batch 1, but the other tables and the _applied.json marker did not.
    A restarted engine replays the batch; the tables must equal an
    uninterrupted run, and the pre-committed table must skip the replay
    (its audit rows are not duplicated)."""
    import os

    from emap_spark.storage import DeltaLog

    adt = adt_messages(spark, n_patients=3)
    b0 = adt.filter(F.col("message_type") == "ADMIT")
    b1 = adt.filter(F.col("message_type") != "ADMIT")

    ref = EmapEngine(storage_root=os.path.join(tmpdir, "ref"))
    ref.process_batch(b0, 0)
    ref.process_batch(b1, 1)

    root = os.path.join(tmpdir, "crash")
    e1 = EmapEngine(storage_root=root)
    e1.process_batch(b0, 0)
    commit = DeltaLog.commit

    def crash_unless_visits(self, batch_id, combined, n_parts=None):
        if batch_id == 1 and self.name != "hospital_visit":
            raise RuntimeError("simulated crash before this table's commit")
        return commit(self, batch_id, combined, n_parts)

    monkeypatch.setattr(DeltaLog, "commit", crash_unless_visits)
    with pytest.raises(RuntimeError, match="simulated crash"):
        e1.process_batch(b1, 1)
    monkeypatch.setattr(DeltaLog, "commit", commit)
    assert e1.pipeline.tables["hospital_visit"].store.has_batch(1)
    assert not e1.pipeline.tables["mrn"].store.has_batch(1)
    assert 1 not in e1.pipeline.applied_batches
    n_aud = e1.audit("hospital_visit").count()
    assert n_aud > 0  # batch 1 superseded visit versions
    del e1

    e2 = EmapEngine(storage_root=root)
    e2.load(spark)
    assert 1 not in e2.pipeline.applied_batches  # the marker never landed
    e2.process_batch(b1, 1)
    assert 1 in e2.pipeline.applied_batches
    assert e2.audit("hospital_visit").count() == n_aud  # no re-merge
    assert _tables(e2) == _tables(ref)
    assert _snapshot(e2) == _snapshot(ref)
