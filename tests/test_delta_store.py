"""DeltaLog transaction-log semantics: compaction equivalence, replay
idempotence at the table level, and O(touched) delta sizing — the
properties that make the K2 sink survive 100 TB (write cost per batch
must scale with the BATCH, never the table)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from emap_spark.operators.merge import ASSIGN, FILL_IF_NULL, MergeSpec, merge_batch
from emap_spark.storage import DeltaLog, SnapshotStore

SPEC = MergeSpec(
    key=["k"],
    fields={"v": ASSIGN, "first_v": FILL_IF_NULL},
    event_time="valid_from",
    seq="seq",
)


def _batch(spark, ids, day, tag):
    return spark.createDataFrame(
        [(f"k{i:03d}", f"2024-01-{day:02d} 00:00:00", i, f"{tag}-{i}", f"{tag}-{i}")
         for i in ids],
        "k string, valid_from string, seq long, v string, first_v string",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp_ntz"))


def _run(store, spark, batches):
    for bid, (ids, day, tag) in enumerate(batches):
        if store.has_batch(bid):
            continue
        updates = _batch(spark, ids, day, tag)
        current = store.read_current()
        if isinstance(store, DeltaLog) and current is not None:
            touched = updates.select("k").distinct()
            current = current.join(F.broadcast(touched), ["k"], "left_semi")
        res = merge_batch(current, updates, SPEC, f"2024-06-01 00:00:{bid:02d}")
        store.commit(bid, res.combined)


def _snap(df):
    return sorted((r.k, r.v, r.first_v, str(r.valid_from)) for r in df.collect())


def test_compaction_preserves_state_and_bounds_files(spark, tmp_path):
    # 12 commits with compact_every=4 -> at least two compactions
    batches = [
        (range(0, 40), 1 + b, f"b{b}") if b % 3 else (range(20, 60), 1 + b, f"b{b}")
        for b in range(12)
    ]
    delta = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=4)
    snap = SnapshotStore(str(tmp_path / "s"), "t", ["k"])
    delta.load(spark)
    snap.load(spark)
    _run(delta, spark, batches)
    _run(snap, spark, batches)

    assert _snap(delta.read_current()) == _snap(snap.read_current())
    # audit preserved across compactions: same superseded versions
    da = sorted((r.k, r.v, str(r.valid_from), str(r.valid_until))
                for r in delta.read_audit().collect())
    sa = sorted((r.k, r.v, str(r.valid_from), str(r.valid_until))
                for r in snap.read_audit().collect())
    assert da == sa and len(da) > 0
    # the log stayed bounded: fewer than compact_every live deltas + base
    with open(os.path.join(str(tmp_path / "d"), "tables", "t", "_manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["base"] is not None
    assert len(manifest["deltas"]) < 4
    # every committed batch is remembered for replay skipping
    for bid in range(12):
        assert delta.has_batch(bid)


def test_replayed_commit_is_noop(spark, tmp_path):
    delta = DeltaLog(str(tmp_path / "d2"), "t", ["k"], compact_every=100)
    delta.load(spark)
    _run(delta, spark, [(range(10), 1, "a"), (range(5, 15), 2, "b")])
    before = _snap(delta.read_current())
    n_audit = delta.read_audit().count()
    # crash-replay of batch 1: caller consults has_batch and skips; even
    # a direct re-commit call is a no-op
    assert delta.has_batch(1)
    res = merge_batch(None, _batch(spark, range(5, 15), 3, "c"), SPEC, "x")
    assert delta.commit(1, res.combined) == 0
    assert _snap(delta.read_current()) == before
    assert delta.read_audit().count() == n_audit


def test_delta_files_scale_with_batch_not_table(spark, tmp_path):
    delta = DeltaLog(str(tmp_path / "d3"), "t", ["k"], compact_every=100)
    delta.load(spark)
    # batch 0: 500 keys; batch 1 touches only 10
    _run(delta, spark, [(range(500), 1, "big"), (range(10), 2, "small")])
    small = spark.read.parquet(
        os.path.join(str(tmp_path / "d3"), "tables", "t", "delta", "batch=1")
    )
    # 10 new current versions + 10 superseded audit rows — not 500
    assert small.count() == 20
    assert delta.read_current().count() == 500


def test_key_restricted_read_filters_below_window(spark, tmp_path):
    """The incremental merge's seed read must semi-join the touched keys
    BELOW the latest-per-key window (windows block join pushdown, so
    filtering above would shuffle the whole table every batch)."""
    delta = DeltaLog(str(tmp_path / "d4"), "t", ["k"], compact_every=100)
    delta.load(spark)
    _run(delta, spark, [(range(100), 1, "a"), (range(50), 2, "b")])
    touched = spark.createDataFrame([("k001",), ("k002",)], "k string")
    restricted = delta.read_current(keys=touched)
    assert restricted.count() == 2
    plan = restricted._jdf.queryExecution().executedPlan().toString()
    # the Window node sits ABOVE the semi join in the tree printout
    assert "LeftSemi" in plan
    assert plan.index("Window") < plan.index("LeftSemi")
    # and the restricted read equals the filtered full read
    full = delta.read_current().join(F.broadcast(touched), ["k"], "left_semi")
    assert _snap(restricted) == _snap(full)


def test_crash_windows_converge(spark, tmp_path):
    """Exactly-once under every crash window:
    (1) delta dir written but manifest NOT updated (crash between data
        write and log rename) -> replay recomputes from the pre-batch
        state and overwrites the orphan;
    (2) manifest updated but the PIPELINE marker not written (crash
        before the driver-level commit) -> has_batch() makes the replay
        skip the table merge entirely, so audit rows are neither lost
        nor duplicated."""
    root = str(tmp_path / "cw")
    delta = DeltaLog(root, "t", ["k"], compact_every=100)
    delta.load(spark)
    _run(delta, spark, [(range(10), 1, "a")])
    state_after_0 = _snap(delta.read_current())

    # window (1): write the data files for batch 1 but "crash" before
    # the manifest rename — simulate by writing the delta dir directly
    updates = _batch(spark, range(5, 15), 2, "b")
    res = merge_batch(
        delta.read_current(keys=updates.select("k").distinct()),
        updates, SPEC, "2024-06-01 00:00:01",
    )
    res.combined.withColumn("__v", F.lit(1).cast("long")).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "tables", "t", "delta", "batch=1"))
    # orphan not in the log: reads are unaffected
    assert _snap(delta.read_current()) == state_after_0
    assert not delta.has_batch(1)
    # replay of batch 1 recomputes and commits normally
    _run(delta, spark, [(range(10), 1, "a"), (range(5, 15), 2, "b")])
    state_after_1 = _snap(delta.read_current())
    n_audit_1 = delta.read_audit().count()
    assert delta.has_batch(1)

    # window (2): manifest committed, pipeline marker lost -> the
    # caller's replay consults has_batch and skips; state unchanged
    _run(delta, spark, [(range(10), 1, "a"), (range(5, 15), 2, "b")])
    assert _snap(delta.read_current()) == state_after_1
    assert delta.read_audit().count() == n_audit_1


def test_manifest_schema_cache_matches_mergeschema_read(spark, tmp_path):
    """r9 optimization: commits record every written column's exact
    dataType in the manifest so _read_live reads with an explicit schema
    (no footer-merge job per table per batch). The fast path must agree
    with the mergeSchema fallback through commits AND compaction, and a
    tombstoned (conflicting) type must force the fallback. The fallback
    is reached through the manifest state a pre-type table loads with
    (types_full=False)."""
    batches = [
        (range(0, 40), 1 + b, f"b{b}") if b % 3 else (range(20, 60), 1 + b, f"b{b}")
        for b in range(6)
    ]
    delta = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=4)
    delta.load(spark)
    _run(delta, spark, batches)

    # every live column carries a recorded, non-tombstoned type
    man = delta._manifest
    types = man.get("types") or {}
    want = list(man["columns"]) + ["__v"]
    assert all(types.get(c) for c in want), f"untyped columns: {[c for c in want if not types.get(c)]}"

    fast_cur, fast_aud = delta.read_current(), delta.read_audit()
    man["types_full"] = False
    slow_cur, slow_aud = delta.read_current(), delta.read_audit()
    man["types_full"] = True

    for fast, slow in ((fast_cur, slow_cur), (fast_aud, slow_aud)):
        assert [(f.name, f.dataType) for f in fast.schema.fields] == [
            (f.name, f.dataType) for f in slow.schema.fields
        ]
        assert fast.exceptAll(slow).count() == 0
        assert slow.exceptAll(fast).count() == 0

    # the property that DISTINGUISHES the paths (ADVICE r9: a plan
    # substring holds for both): the explicit-schema read launches NO
    # Spark job at DataFrameReader/plan-construction time, while the
    # mergeSchema fallback runs a footer-merge job there
    assert _jobs_during(spark, lambda: delta.read_current()) == 0
    man["types_full"] = False
    assert _jobs_during(spark, lambda: delta.read_current()) >= 1
    man["types_full"] = True

    # a type conflict tombstones the column and disables the fast path
    # (falls back to mergeSchema rather than risk a wrong explicit schema)
    from pyspark.sql.types import IntegerType, StructField, StructType

    delta._merge_types(StructType([StructField("v", IntegerType(), True)]))
    assert types["v"] is None
    fb_cur = delta.read_current()  # must take the fallback path, still correct
    assert _snap(fb_cur) == _snap(slow_cur)
    assert _jobs_during(spark, lambda: delta.read_current()) >= 1

    # ...but not FOREVER (ADVICE r9): compaction folds the conflicting
    # files away and rebuilds the types from the base it just wrote, so
    # the fast path is restored after one compaction cycle
    n0 = delta._manifest["n_commits"]
    base0 = delta._manifest["base"]
    more = [(range(0, 30), 10 + b, f"c{b}") for b in range(delta.compact_every)]
    for bid, (ids, day, tag) in enumerate(more):
        res = merge_batch(
            delta.read_current(), _batch(spark, ids, day, tag), SPEC,
            f"2024-06-02 00:00:{bid:02d}",
        )
        delta.commit(100 + bid, res.combined)
    # compact_every more commits guarantee at least one compaction ran
    assert (delta._manifest["base"] or -1) > (base0 or -1)
    man2 = delta._manifest
    assert man2["types_full"] and all(
        man2["types"].get(c) for c in list(man2["columns"]) + ["__v"]
    )
    assert _jobs_during(spark, lambda: delta.read_current()) == 0
    assert delta._manifest["n_commits"] == n0 + len(more)


def _jobs_during(spark, fn):
    """Number of Spark jobs launched while fn() runs (plan construction
    only — nothing here executes the returned frame)."""
    group = f"schemaprobe-{os.urandom(4).hex()}"
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_legacy_manifest_upgrade_guards_fast_path(spark, tmp_path):
    """ADVICE r9 (medium): a pre-existing table whose manifest predates
    type tracking has live files whose physical types were never
    observed — the explicit-schema fast path must NOT fire (a later
    commit's types may not describe the legacy files), the mergeSchema
    fallback must serve reads, and one compaction cycle must restore the
    fast path (every legacy file folded into a just-observed base)."""
    delta = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=4)
    delta.load(spark)
    _run(delta, spark, [(range(0, 20), 1, "a"), (range(10, 30), 2, "b")])
    # simulate the pre-r9 manifest: strip type tracking entirely
    man_path = delta._manifest_path()
    with open(man_path) as fh:
        man = json.load(fh)
    man.pop("types", None)
    man.pop("types_full", None)
    with open(man_path, "w") as fh:
        json.dump(man, fh)

    legacy = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=4)
    legacy.load(spark)
    assert legacy._manifest.get("types_full") is False
    before = _snap(legacy.read_current())
    # a post-upgrade commit records only ITS schema; the guard must keep
    # the table on the fallback (legacy files remain unobserved)
    res = merge_batch(
        legacy.read_current(), _batch(spark, range(5, 15), 3, "c"), SPEC,
        "2024-06-01 00:00:02",
    )
    legacy.commit(2, res.combined)
    assert legacy._manifest.get("types_full") is False
    assert _jobs_during(spark, lambda: legacy.read_current()) >= 1  # fallback
    # one compaction cycle clears the guard: drive past compact_every
    for bid in range(3, 3 + legacy.compact_every):
        res = merge_batch(
            legacy.read_current(),
            _batch(spark, range(0, 10), bid + 1, f"d{bid}"),
            SPEC,
            f"2024-06-01 00:00:{bid:02d}",
        )
        legacy.commit(bid, res.combined)
    assert legacy._manifest["base"] is not None  # compaction ran
    assert legacy._manifest["types_full"] is True
    assert _jobs_during(spark, lambda: legacy.read_current()) == 0  # fast path
    after = _snap(legacy.read_current())
    assert {k for k, *_ in before} <= {k for k, *_ in after}


def test_manifest_and_live_files_bounded_as_batches_accumulate(spark, tmp_path):
    """r10 (VERDICT r9 #6): under a long micro-batch stream the read
    plan and the transaction log must stay BOUNDED — live file count
    <= base buckets + compact_every deltas, and the manifest must not
    grow with the number of commits (compacted batch ids are kept as
    coalesced ranges: a dense stream is ONE range forever; the pre-r10
    flat list grew by one entry per batch and was rewritten per commit)."""
    delta = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=8)
    delta.load(spark)
    # materialized once: every commit writes these same rows, so the
    # merge plan need not re-run 96 times
    combined = merge_batch(
        None, _batch(spark, range(2), 1, "a"), SPEC, "2024-06-01 00:00:00"
    ).combined.localCheckpoint()
    sizes, live_counts = [], []
    n = 96
    for bid in range(n):
        delta.commit(bid, combined)  # same tiny frame: bookkeeping is under test
        live_counts.append(len(delta._live_paths()))
        sizes.append(os.path.getsize(delta._manifest_path()))
    assert all(delta.has_batch(b) for b in range(n))
    assert not delta.has_batch(n)
    # live paths bounded by layout, never by stream length
    assert max(live_counts) <= delta.n_buckets + delta.compact_every + 1
    # manifest size FLAT across compaction cycles: the size right after
    # each compaction must not grow as commits accumulate
    post_compact = [
        sizes[i] for i in range(n) if (i + 1) % delta.compact_every == 0
    ]
    assert len(post_compact) >= 10
    # byte-identical from the second cycle on (the first differs only by
    # range-endpoint digit widths); the pre-r10 flat list grew ~5 bytes
    # per batch forever
    assert max(post_compact[1:]) == min(post_compact[1:]), post_compact
    # dense stream -> exactly one compacted range
    assert delta._manifest["compacted"] == [[0, (n // 8) * 8 - 1]]
    # sparse ids (crash-gap shape) stay a short range list, not a flat list
    from emap_spark.storage.delta import _ranges_contain, _ranges_merge

    rs = []
    for i in range(0, 20000, 2):
        rs = _ranges_merge(rs, [i])
    assert len(rs) == 10000 and _ranges_contain(rs, 19998)
    rs2 = _ranges_merge(rs, range(1, 20000, 2))
    assert rs2 == [[0, 19999]]


def test_fused_commit_manifest_refuses_to_load(spark, tmp_path):
    """A manifest written by the removed fused multi-table commit points
    some batches at a shared _fused/ dir (delta_paths). This build reads
    only delta/batch=N, so loading it must fail loudly, naming the
    format, instead of reporting those batches committed while every
    read misses their rows."""
    delta = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=8)
    delta.load(spark)
    _run(delta, spark, [(range(0, 5), 1, "a")])
    man_path = delta._manifest_path()
    with open(man_path) as fh:
        man = json.load(fh)
    man["deltas"].append(1)
    man["delta_paths"] = {"1": str(tmp_path / "d" / "tables" / "_fused" / "batch=1" / "__tbl=t")}
    with open(man_path, "w") as fh:
        json.dump(man, fh)

    old = DeltaLog(str(tmp_path / "d"), "t", ["k"], compact_every=8)
    with pytest.raises(RuntimeError, match="fused-commit format"):
        old.load(spark)
    # a retried load refuses again rather than serving a half-loaded log
    with pytest.raises(RuntimeError, match="fused-commit format"):
        old.load(spark)
