"""The benchmark's workloads, their output checks and their metrics.

Each workload function takes a :class:`Context`, sets up (timed into
``setup_s``, input generation excluded), measures for ``ctx.seconds``
seconds, then checks its outputs outside every timed region. Every
operation it attempts (a batch, a read, a query, a check) counts in
``attempted``; every one that raises or disagrees counts in ``failed``.

Every workload reports the same end-to-end metrics (defined per workload
in NOTES.md) and the same per-layer metrics (0 where a workload does not
touch a layer).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from emap_spark.app import EmapEngine
from emap_spark.lineage import cut
from emap_spark.operators.locations import repair_orphan_waveforms
from emap_spark.sources import hl7_text
from emap_spark.streaming import collation

import gen
from tracing import Tracer, jvm_cpu_s, jvm_peak_rss_mb, jvm_pid, quantile

LAYERS = ("sources", "pipeline", "merge", "delta", "locations", "collation",
          "waveform_store", "plans", "app")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    session_s: float
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    layer_metrics: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    t_start: float = 0.0

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.spark, self.trace)
        self.tracer.install()

    def phase(self, name: str) -> None:
        """Mark the end of a phase (wall seconds since the session began)."""
        self.notes.setdefault("phases", {})[name] = round(
            time.perf_counter() - self.t_start, 2)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layer_metrics[name] = {"value": float(value), "unit": unit}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def attempt(self, name: str, fn, *args):
        """Run one operation; a raise counts as failed (and returns None)."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            print(f"OPERATION FAILED {name}", file=sys.stderr)
            traceback.print_exc()
            return None


def box_probes(spark) -> dict:
    """bench.py's two box-health probes (single-core and all-core)."""
    import bench

    bench._probe_spark(spark)  # warm the probe's own plan once
    return {"cpu_sec": round(bench._probe_cpu(), 3),
            "spark_sec": round(bench._probe_spark(spark), 3)}


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------
def _raw_frame(messages: list[tuple[str, str]]) -> pd.DataFrame:
    return pd.DataFrame({"hl7": [raw for _, raw in messages]})


def land(ctx: Context, name: str, pdf: pd.DataFrame) -> DataFrame:
    """Land generated input as parquet (untimed) and return it as the
    DataFrame the engine reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(ctx.work, name)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    return ctx.spark.read.parquet(path)


def parse(ctx: Context, raw: DataFrame) -> DataFrame:
    """The sources layer: raw HL7 -> interchange rows, materialized once
    so the engine's concurrent consumers do not re-parse."""
    with ctx.tracer.span("sources.parse"):
        return cut(hl7_text.adt_from_hl7(raw))


def engine(ctx: Context, name: str) -> EmapEngine:
    return EmapEngine(storage_root=os.path.join(ctx.work, name),
                      maintain_location_visits=True)


# version metadata: stored_from follows batch ids, and valid_from (the
# event time of a row's newest version) depends on batch boundaries when
# a late message fills a field of a row created by a newer one (see
# NOTES.md); the checks compare field values
VERSION_COLUMNS = ("stored_from", "valid_from")


def star_frames(eng: EmapEngine) -> dict[str, pd.DataFrame]:
    """The star tables and location_visit, collected once."""
    out = {name: eng.table(name).toPandas()
           for name in ("mrn", "core_demographic", "hospital_visit")}
    out["location_visit"] = eng.location_visits().toPandas()
    return out


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.drop(columns=[c for c in VERSION_COLUMNS if c in pdf.columns])
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).astype(str)
    return sorted(map(tuple, pdf.values.tolist()))


def compare_star_tables(ctx: Context, ours: dict, ref: dict, tag: str) -> None:
    """Star tables (and location_visit) of two engines must be equal."""
    for name in ours:
        a, b = _rows(ours[name]), _rows(ref[name])
        detail = "" if a == b else (
            f"{len(a)} vs {len(b)} rows; first diff {sorted(set(a) ^ set(b))[:1]}")
        ctx.check(f"{tag}.{name}", a == b, detail)


def check_truth(ctx: Context, frames: dict, feed: gen.AdtFeed) -> None:
    """An engine's tables against the generator's per-visit truth."""
    hv = frames["hospital_visit"].set_index("encounter")
    ctx.check("truth.encounters", feed.encounters <= set(hv.index),
              f"{len(feed.encounters - set(hv.index))} encounters missing")
    bad = []
    for enc, t in feed.truth.items():
        if enc not in hv.index:
            bad.append(enc)
            continue
        r = hv.loc[enc]
        dis = None if pd.isna(r["discharge_datetime"]) else r["discharge_datetime"]
        if (r["mrn"], r["admission_datetime"], dis) != (t.mrn, t.admission, t.discharge):
            bad.append(enc)
    ctx.check("truth.hospital_visit", not bad, f"{len(bad)} visits differ, e.g. {bad[:3]}")

    demo = frames["core_demographic"].set_index("mrn")["name_family"]
    bad = [t.mrn for t in feed.truth.values() if demo.get(t.mrn) != t.name_family]
    ctx.check("truth.core_demographic", not bad, f"{len(bad)} names differ, e.g. {bad[:3]}")

    lv = frames["location_visit"]
    lv = lv[lv["visit_number"].isin(feed.truth.keys())]
    got: dict[str, list] = {}
    for r in lv.sort_values(["visit_number", "admission_datetime"]).itertuples():
        dis = None if pd.isna(r.discharge_datetime) else r.discharge_datetime
        got.setdefault(r.visit_number, []).append(
            (r.location_string, r.admission_datetime, dis,
             bool(r.inferred_admission), bool(r.inferred_discharge)))
    bad = [enc for enc, t in feed.truth.items()
           if got.get(enc) != [(*iv, False, False) for iv in t.intervals]]
    ctx.check("truth.location_visit", not bad, f"{len(bad)} visits differ, e.g. {bad[:3]}")


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def _store_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(os.path.join(root, "pipeline", "tables")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def report_layers(ctx: Context, w0: float, w1: float, cpu: tuple[float, float],
                  overhead_s: float, eng: EmapEngine | None = None, reads=(),
                  store_t0: float | None = None) -> None:
    """Per-layer metrics over the measured window [w0, w1] (traced run).
    Every workload reports every metric; a layer a workload does not
    touch reports 0. ``cpu``: (JVM CPU seconds, wall seconds they were
    read over); ``overhead_s``: tracer bookkeeping inside the window;
    ``reads``: the workload's read times; ``store_t0``: when the store
    was created, so commits and compactions count over its whole life."""
    if not ctx.trace:
        return
    tr = ctx.tracer
    spans = [s for s in tr.spans if w0 <= s.t0 <= w1]
    life = [s for s in tr.spans if (w0 if store_t0 is None else store_t0) <= s.t0 <= w1]
    selfs = tr.self_times()

    def durs(name):
        return [s.t1 - s.t0 for s in spans if s.name == name]

    batches = [s for s in spans if s.name == "pipeline.process_batch"]
    triggers = [s for s in spans if s.name == "bench.trigger"]
    ctx.layer("pipeline.batch_s", _med(durs("pipeline.process_batch")), "s")
    ctx.layer("spark.jobs_per_batch", _med([s.jobs for s in batches]), "count")
    ctx.layer("spark.stages_per_batch", _med([s.stages for s in batches]), "count")
    ctx.layer("pipeline.actions", _med([s.attrs["actions"] for s in triggers]), "count")
    ctx.layer("merge.build_s", _med(durs("merge.build")), "s")
    ctx.layer("delta.read_current_s", _med(durs("delta.read_current")), "s")
    ctx.layer("locations.infer_s", _med(durs("locations.infer")), "s")
    commits = durs("delta.commit")
    ctx.layer("delta.commit_s", _med(commits), "s")
    ctx.layer("delta.commit_p90_s", quantile(commits, 0.9) if commits else 0.0, "s")
    ctx.layer("delta.commits", sum(s.name == "delta.commit" for s in life), "count")
    ctx.layer("delta.compactions", sum(s.name == "delta.compact" for s in life), "count")
    files, size = _store_size(eng.storage_root) if eng is not None else (0, 0)
    ctx.layer("delta.live_files", files, "count")
    ctx.layer("delta.bytes", size, "bytes")
    ctx.layer("sources.parse_s", _med(durs("sources.parse")), "s")
    n_in = sum(s.attrs["rows_in"] for s in triggers)
    ctx.layer("sources.rows_out_per_in",
              sum(s.attrs["rows_out"] for s in triggers) / n_in if n_in else 0.0, "ratio")
    colls = [s for s in spans if s.name == "collation.materialize"]
    rows = sum(s.attrs["rows"] for s in colls)
    ctx.layer("collation.collate_s", _med([s.t1 - s.t0 for s in colls]), "s")
    ctx.layer("collation.samples_per_row",
              sum(s.attrs["samples"] for s in colls) / rows if rows else 0.0, "ratio")
    ctx.layer("waveform_store.ingest_s", _med(durs("waveform_store.ingest")), "s")
    ctx.layer("waveform_store.repair_s", _med(durs("waveform_store.repair")), "s")
    # orphan rows the scheduled repair passes re-attached in the window
    ctx.layer("waveform_store.orphans", sum(
        s.attrs.get("result", 0) for s in spans if s.name == "waveform_store.repair"), "count")
    import bench

    for q in bench.HEADLINE:
        for kind in ("build", "exec"):
            ctx.layer(f"plans.{q}.{kind}_s", _med(
                [s.t1 - s.t0 for s in spans
                 if s.name == f"plans.{kind}" and s.attrs["query"] == q]), "s")
    wall = w1 - w0
    ctx.layer("spark.jvm_cpu_s", cpu[0], "s")
    ctx.layer("spark.cpu_util", cpu[0] / (cpu[1] * ctx.cores), "ratio")
    for layer in LAYERS:
        ctx.layer(f"self.{layer}_s",
                  sum(selfs[s.id] for s in spans if s.name.startswith(layer + ".")), "s")
    ctx.layer("bench.trace_overhead_frac", overhead_s / wall if wall > 0 else 0.0, "ratio")
    ctx.layer("spark.peak_rss_mb", jvm_peak_rss_mb(jvm_pid(ctx.spark)), "MB")
    ctx.layer("bench.read_p50_s", _med(reads), "s")


# --------------------------------------------------------------------------
# adt_live: rounds of raw HL7 ADT arriving at a fixed rate, each ended by one
# trigger over what arrived, on a store that has been running; the bedside
# waveform feed of the monitored beds is ingested after the last trigger
# --------------------------------------------------------------------------
LIVE_RATE = 1000  # ADT messages per second of feed: the design load
# the window's --seconds of feed come in this many rounds, each ended by a
# trigger, so the freshness figures pool several batches
ROUNDS = 2
LIVE_HISTORY_VISITS = 400  # pre-populated store (~2k messages)
# set-up commits the first 90% of the history's arrivals as one batch; the
# last 10% arrive in the window with the live feed, so visits, late
# messages and redeliveries straddle the batch boundary
HISTORY_SHARE = 0.9
LIVE_T0 = gen.EPOCH + dt.timedelta(days=14)  # clinical start of the live feed
MONITORED_BEDS = 30  # each with a 300 Hz and a 50 Hz stream
# three monitored beds whose admission arrives in the window, after their
# streams began in the set-up prelude: their samples land as orphans first
LATE_BEDS = (0, 10, 20)
# the set-up prelude is collated once and ingested in three slices, so the
# store's every-4th-ingest repair pass is the window's ingest, after the
# late admissions committed
PRELUDE_INGESTS, PRELUDE_S = 3, 3


def _event_time(raw: str) -> dt.datetime:
    return dt.datetime.strptime(raw.split("|", 7)[6], "%Y%m%d%H%M%S")


def _monitor_bed(b: int) -> str:
    return f"MON{b:02d}^ICU^BED"


def _monitor_admissions() -> dict[int, tuple[str, str]]:
    """A01 per monitored bed: a long-stay patient admitted an hour before
    the live feed starts."""
    t = LIVE_T0 - dt.timedelta(hours=1)
    out = {}
    for b in range(MONITORED_BEDS):
        mid = f"MON{b:05d}"
        out[b] = (mid, gen.hl7_message("A01", mid, t, "EPIC", [(
            {3: f"MM{b:05d}^^^MRN", 5: f"Mon{b}^Pat"},
            {2: "I", 3: _monitor_bed(b), 19: f"ME{b:05d}", 44: gen.hl7_ts(t)})]))
    return out


def adt_live(ctx: Context) -> None:
    round_s = int(ctx.seconds) // ROUNDS
    if round_s < 1:
        raise ValueError(f"adt_live needs --seconds >= {ROUNDS} (one per round)")
    per_round = LIVE_RATE * round_s
    n_live = per_round * ROUNDS
    hist = gen.adt_feed(ctx.seed, LIVE_HISTORY_VISITS, dt.timedelta(days=14),
                        prefix="H", hot_visits=0)
    monitors = _monitor_admissions()
    split = int(HISTORY_SHARE * len(hist.messages))
    pre = hist.messages[:split] + [m for b, m in monitors.items() if b not in LATE_BEDS]
    # the window's feed: the history's last arrivals, the late monitored
    # admissions, then the live population's messages
    live_msgs = hist.messages[split:] + [monitors[b] for b in LATE_BEDS]
    live = gen.adt_feed(ctx.seed + 7919, n_live // 3 + 100, dt.timedelta(days=2),
                        start=LIVE_T0, prefix="L", hot_visits=3, hot_updates=n_live // 10)
    live_msgs += live.messages[:n_live - len(live_msgs)]
    rounds = [live_msgs[k * per_round:(k + 1) * per_round] for k in range(ROUNDS)]
    hist_raw = land(ctx, "hist_raw", _raw_frame(pre))
    round_raw = [land(ctx, f"live_raw_{k}", _raw_frame(m)) for k, m in enumerate(rounds)]
    beds = [_monitor_bed(b) for b in range(MONITORED_BEDS)]
    t_prelude = LIVE_T0 - dt.timedelta(seconds=PRELUDE_S)
    prelude = gen.waveform_batch(ctx.seed, beds, PRELUDE_S, start=t_prelude)
    signal = gen.waveform_batch(ctx.seed, beds, round_s * ROUNDS, start=LIVE_T0)
    prelude_df, signal_df = land(ctx, "prelude", prelude), land(ctx, "signal", signal)
    ctx.phase("generate")

    n_ingests = 0

    def collate(msgs: DataFrame) -> DataFrame:
        with ctx.tracer.span("collation.materialize") as s:
            collated = cut(collation.collate_batch(msgs))
        if s is not None:
            s.attrs.update(rows=collated.count(), samples=collated.agg(F.sum("n_samples")).first()[0])
        return collated

    def ingest(collated: DataFrame) -> bool:
        nonlocal n_ingests
        n_ingests += 1
        eng.ingest_waveforms(collated, n_ingests)
        return True

    # set-up: the store takes the history as one batch, and the waveform
    # path is warmed with a prelude of signal
    t = time.perf_counter()
    eng = engine(ctx, "live_store")
    history = parse(ctx, hist_raw)
    eng.process_batch(history, 0)
    ctx.phase("prepopulate")
    warm = collate(prelude_df)
    for k in range(PRELUDE_INGESTS):
        ingest(warm.filter(F.col("source_location").isin(beds[k::PRELUDE_INGESTS])))
    setup_s = ctx.session_s + time.perf_counter() - t
    ctx.phase("setup")

    # the window, ROUNDS times: the round's feed starts at r0 (ADT message i
    # is due at r0 + (i + 1) / LIVE_RATE); one trigger fires when the feed
    # ends and commits every message, then serves a dashboard read. After
    # the last round the window's signal is collated and ingested.
    pid = jvm_pid(ctx.spark)
    ov0 = ctx.tracer.overhead_s
    fresh, reads, parsed = [], [], []
    cpu = cycle_s = 0.0

    def trigger(k: int) -> bool:
        with ctx.tracer.span("bench.trigger") as s:
            parsed.append(parse(ctx, round_raw[k]))
            eng.process_batch(parsed[-1], k + 1)
        if s is not None:
            m = eng.pipeline.metrics[-1]
            s.attrs.update(actions=m.n_actions, rows_in=per_round, rows_out=m.n_input)
        return True

    def dashboard(now: dt.datetime) -> float:
        t = time.perf_counter()
        eng.occupancy(now).count()
        eng.table("hospital_visit").count()
        return time.perf_counter() - t

    t0 = time.perf_counter()
    for k in range(ROUNDS):
        r0 = time.perf_counter()
        time.sleep(round_s)
        t_trigger, cpu0 = time.perf_counter(), jvm_cpu_s(pid)
        if ctx.attempt(f"trigger {k}", trigger, k):
            t_commit = time.perf_counter()
            fresh += [t_commit - (r0 + (i + 1) / LIVE_RATE) for i in range(per_round)]
        read = ctx.attempt(f"dashboard read {k}", dashboard, _event_time(rounds[k][-1][1]))
        if read is not None:
            reads.append(read)
        cpu += jvm_cpu_s(pid) - cpu0
        cycle_s += time.perf_counter() - t_trigger
    t_ingest, cpu0 = time.perf_counter(), jvm_cpu_s(pid)
    ctx.attempt("waveform ingest", lambda: ingest(collate(signal_df)))
    w1 = time.perf_counter()
    cpu += jvm_cpu_s(pid) - cpu0
    cycle_s += w1 - t_ingest
    ctx.notes.update(live_messages=n_live, rounds=ROUNDS, history_messages=len(pre),
                     waveform_ingests=n_ingests)

    ctx.metric("setup_s", setup_s, "s")
    ctx.metric("latency_p50_s", quantile(fresh, 0.5), "s")
    ctx.metric("latency_p90_s", quantile(fresh, 0.9), "s")
    ctx.metric("throughput_per_s", len(fresh) / (w1 - t0), "1/s")
    report_layers(ctx, t0, w1, (cpu, cycle_s), ctx.tracer.overhead_s - ov0, eng, reads, t)
    ctx.phase("window")

    # checks: the live store (the history batch, then the triggers) must
    # equal one in-order replay of every message, redeliveries included,
    # as ONE batch into a fresh engine (order, batch-split and redelivery
    # invariance); the history's simple visits must match the generator's
    # truth; and after one more repair pass every generated sample is
    # stored exactly once, attached to its bed's visit
    ctx.tracer.uninstall()
    ours = star_frames(eng)
    check_truth(ctx, ours, hist)
    if len(parsed) == ROUNDS:
        ref = engine(ctx, "replay_store")
        replay = history
        for p in parsed:
            replay = replay.unionByName(p)
        replay = cut(replay.orderBy("valid_from", "source_message_id"))
        if ctx.attempt("replay", lambda: ref.process_batch(replay, 0) or True):
            compare_star_tables(ctx, ours, star_frames(ref), "replay")
    ctx.phase("compare")
    check_waveforms(ctx, eng, pd.concat([prelude, signal]),
                    {b: f"ME{b:05d}" for b in range(MONITORED_BEDS)})
    ctx.phase("checks")


def check_waveforms(ctx: Context, eng: EmapEngine, sent: pd.DataFrame,
                    visit_of_bed: dict[int, str]) -> None:
    store = eng.waveform_store()
    ctx.attempt("final repair", lambda: store.repair(eng.location_visits()) or True)
    wf = eng.waveforms()
    want = sent["values"].map(len).groupby(
        [sent["source_location"], sent["source_stream_id"]]).sum().to_dict()
    got = {
        (r["source_location"], r["source_stream_id"]): (r["n"], r["rows"], r["starts"])
        for r in wf.groupBy("source_location", "source_stream_id").agg(
            F.sum("n_samples").alias("n"), F.count(F.lit(1)).alias("rows"),
            F.countDistinct("observation_datetime").alias("starts")).collect()
    }
    bad = [key for key, n in want.items()
           if key not in got or got[key][0] != n or got[key][1] != got[key][2]]
    ctx.check("waveform.exactly_once", not bad and set(got) == set(want),
              f"{len(bad)} streams differ, e.g. {bad[:3]}")
    orphans = wf.filter(F.col("visit_number").isNull())
    ctx.check("waveform.no_repairable_orphans", repair_orphan_waveforms(
        orphans, eng.location_visits()).filter(F.col("visit_number").isNotNull()).count() == 0)
    beds = {_monitor_bed(b): v for b, v in visit_of_bed.items()}
    owners = wf.select("source_location", "visit_number").distinct().collect()
    bad = [r for r in owners if beds.get(r["source_location"]) != r["visit_number"]]
    ctx.check("waveform.attached_to_visit", not bad, f"{len(bad)} wrong, e.g. {bad[:3]}")


# --------------------------------------------------------------------------
# analytics: one client running the bench.py headline queries
# --------------------------------------------------------------------------
ANALYTICS_SCALE = 0.01
# the window runs whole passes over the list until --seconds elapse, and at
# least this many, so the medians cover every query more than once
MIN_PASSES = 2


def analytics(ctx: Context) -> None:
    import bench
    from emap_spark.registry import specs
    from tools.check_correctness import compare, duck_con

    spark = ctx.spark
    data = os.path.join(ctx.work, "tables")
    gen.analytic_tables(ctx.seed, data, ANALYTICS_SCALE)
    all_specs = specs()
    names = [n for n in bench.HEADLINE if n in all_specs]
    ctx.phase("generate")

    def build(name: str) -> DataFrame:
        with ctx.tracer.span("plans.build", query=name):
            return all_specs[name].fn(spark, data)

    def run(name: str) -> float:
        t = time.perf_counter()
        df = build(name)
        with ctx.tracer.span("plans.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def read(name: str) -> pd.DataFrame:
        df = build(name)
        with ctx.tracer.span("plans.exec", query=name):
            return df.toPandas()

    # set-up: one cold pass compiles every plan shape (JIT, codegen, the
    # engine's plan-template caches); each result is collected to the
    # driver, as a researcher's pandas frame, and checked below
    t = time.perf_counter()
    results, reads = {}, []
    for name in names:
        t_read = time.perf_counter()
        results[name] = ctx.attempt(f"read {name}", read, name)
        reads.append(time.perf_counter() - t_read)
    setup_s = ctx.session_s + time.perf_counter() - t
    ctx.phase("setup")

    # checks: each result against the query's DuckDB oracle, compared the
    # way tools/check_correctness.py does
    con = duck_con(data)
    for name, got in results.items():
        if got is not None and all_specs[name].oracle is not None:
            problems = compare(name, got, con.execute(all_specs[name].oracle).df())
            ctx.check(f"oracle {name}", not problems, "; ".join(problems))
    con.close()
    ctx.phase("checks")

    times: dict[str, list[float]] = {n: [] for n in names}
    passes = []
    pid = jvm_pid(spark)
    cpu0, ov0 = jvm_cpu_s(pid), ctx.tracer.overhead_s
    w0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - w0 < ctx.seconds:
        # each pass's wall and CPU (JVM + this process) seconds, for the
        # run record: CPU time shows how much of a slow pass was the host
        p0, c0 = time.perf_counter(), jvm_cpu_s(pid) + time.process_time()
        for name in names:
            r = ctx.attempt(name, run, name)
            if r is not None:
                times[name].append(r)
        passes.append((round(time.perf_counter() - p0, 3),
                       round(jvm_cpu_s(pid) + time.process_time() - c0, 3)))
    w1 = time.perf_counter()
    cpu = jvm_cpu_s(pid) - cpu0
    # each query's best pass (bench.py takes the same min-of-N): a slow
    # pass is another guest's load on the host, not the query's cost
    best = [min(v) for v in times.values() if v]
    ctx.notes.update(passes=passes, scale=ANALYTICS_SCALE)
    ctx.phase("window")

    ctx.metric("setup_s", setup_s, "s")
    ctx.metric("latency_p50_s", quantile(best, 0.5), "s")
    ctx.metric("latency_p90_s", quantile(best, 0.9), "s")
    ctx.metric("throughput_per_s", len(best) / sum(best), "1/s")
    report_layers(ctx, w0, w1, (cpu, w1 - w0), ctx.tracer.overhead_s - ov0, reads=reads)


WORKLOADS = {"adt_live": adt_live, "analytics": analytics}
