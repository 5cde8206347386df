"""Seeded input generators with ground truth.

Everything here is plain Python / NumPy driven by one ``random.Random``
(or ``numpy`` Generator) seeded from the command line, so the same seed
gives byte-identical inputs. The engine only ever sees the DataFrames
the workloads build from these outputs; generation is never inside a
timed region.

- :func:`adt_feed` — raw HL7 v2 ADT text (MSH/EVN/PID/PV1/MRG) for a
  population of visits, in *arrival* order, with a share of
  out-of-order messages, redelivered duplicates, a few hot long-stay
  visits that receive many A08 updates, and rare
  A11/A12/A13/A15/A17/A26/A29/A40/A45/A47 triggers, all from EPIC.
  Returns the per-visit ground truth of every "simple" visit (one
  untouched by a rare trigger).
- :func:`waveform_batch` — waveform sample messages for a slice of
  signal, with dropped messages (gaps).
- :func:`analytic_tables` — the TPC-H-like star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables the registered
  queries read, written as parquet.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import numpy as np

EPOCH = dt.datetime(2024, 1, 1)
OUT_OF_ORDER = 0.10  # share of messages delivered after later events
DUPLICATES = 0.03  # share of messages delivered twice
RARE = 0.01  # share of visits with a rare-trigger scenario
GAP_SHARE = 0.002  # share of waveform messages dropped (gaps)


def hl7_ts(t: dt.datetime) -> str:
    return t.strftime("%Y%m%d%H%M%S")


def _segment(name: str, n: int, values: dict[int, str]) -> str:
    f = [""] * (n + 1)
    f[0] = name
    for k, v in values.items():
        f[k] = v
    return "|".join(f)


def hl7_message(
    trigger: str,
    msg_id: str,
    t: dt.datetime,
    source: str,
    patients: list[tuple[dict[int, str], dict[int, str]]],
    mrg: str | None = None,
) -> str:
    """One ADT message. ``patients`` holds (PID fields, PV1 fields)
    groups; an A17 swap carries two. MSH-4 names the source system."""
    segs = [
        f"MSH|^~\\&|{source}|{source}|EMAP|UCLH|{hl7_ts(t)}||ADT^{trigger}|{msg_id}|P|2.4",
        f"EVN|{trigger}|{hl7_ts(t)}||||{hl7_ts(t)}",
    ]
    for pid, pv1 in patients:
        segs.append(_segment("PID", 30, {1: "1", **pid}))
        segs.append(_segment("PV1", 45, {1: "1", **pv1}))
    if mrg is not None:
        segs.append(mrg)
    return "\r".join(segs)


@dataclass
class VisitTruth:
    """Expected end state of one simple visit after every message."""

    encounter: str
    mrn: str
    admission: dt.datetime
    discharge: dt.datetime | None
    name_family: str
    # (location, admission, discharge-or-None) in time order
    intervals: list[tuple[str, dt.datetime, dt.datetime | None]] = field(
        default_factory=list
    )


@dataclass
class AdtFeed:
    # (source_message_id, raw hl7) in arrival order, duplicates included
    messages: list[tuple[str, str]]
    truth: dict[str, VisitTruth]  # simple visits only, by encounter
    encounters: set[str]  # every encounter a visit-creating message names


class _Patient:
    def __init__(self, idx: int, prefix: str) -> None:
        self.mrn = f"{prefix}M{idx:07d}"
        self.nhs = f"9{idx:09d}"
        self.given = f"Giv{idx}"
        self.family = f"Fam{idx}"
        self.sex = "F" if idx % 2 else "M"
        self.enc = f"{prefix}E{idx:07d}"

    def pid(self, mrn: str | None = None) -> dict[int, str]:
        return {
            3: f"{mrn or self.mrn}^^^MRN~{self.nhs}^^^NHS",
            5: f"{self.family}^{self.given}",
            7: "19700101",
            8: self.sex,
        }


def _bed(rng: random.Random) -> str:
    return f"T{rng.randrange(40):02d}^BY{rng.randrange(4):02d}^BED-{rng.randrange(8):02d}"


def adt_feed(
    seed: int,
    n_visits: int,
    span: dt.timedelta,
    start: dt.datetime = EPOCH,
    prefix: str = "",
    hot_visits: int = 0,
    hot_updates: int = 0,
) -> AdtFeed:
    """A population of ``n_visits`` visits admitted uniformly over
    ``span`` from ``start``. Each simple visit is admit (A01, some after
    an A04 registration) -> 0-4 transfers (A02) with A08 updates in
    between -> discharge (A03) for ~70%. ``hot_visits`` long-stay visits
    admitted at ``start`` receive ``hot_updates`` A08s between them. A
    ``RARE`` share of visits also gets one of the rare trigger scenarios;
    ``OUT_OF_ORDER`` / ``DUPLICATES`` set the delivery disorder."""
    rng = random.Random(seed)
    events: list[tuple[dt.datetime, str, str]] = []  # (event time, id, raw)
    truth: dict[str, VisitTruth] = {}
    encounters: set[str] = set()
    counter = 0

    def emit(trig: str, t: dt.datetime, groups, mrg=None) -> None:
        nonlocal counter
        counter += 1
        msg_id = f"{prefix}{counter:09d}"
        events.append((t, msg_id, hl7_message(trig, msg_id, t, "EPIC", groups, mrg)))

    span_s = span.total_seconds()
    patients = [_Patient(i, prefix) for i in range(n_visits + hot_visits)]
    for i, p in enumerate(patients):
        hot = i >= n_visits
        t = start if hot else start + dt.timedelta(seconds=rng.uniform(0, span_s))
        t = t.replace(microsecond=0)
        scenario = None
        if not hot and rng.random() < RARE:
            scenario = rng.choice(
                ["A11", "A12", "A13", "A15", "A17", "A29", "A40", "A45", "A47"]
            )
        loc = _bed(rng)
        encounters.add(p.enc)
        if not hot and rng.random() < 0.2:
            emit("A04", t, [(p.pid(), {2: "E", 3: loc, 19: p.enc})])
            t += dt.timedelta(minutes=rng.randint(5, 90))
        emit("A01", t, [(p.pid(), {2: "I", 3: loc, 19: p.enc, 44: hl7_ts(t)})])
        vt = VisitTruth(p.enc, p.mrn, t, None, p.family, [(loc, t, None)])
        n_moves = rng.randint(0, 4)
        n_upd = hot_updates if hot else rng.randint(0, 2)
        steps = ["A02"] * n_moves + ["A08"] * n_upd
        rng.shuffle(steps)
        if scenario == "A12" and "A02" not in steps:
            steps.append("A02")
        # hot visits stretch their updates over the whole span; a normal
        # stay moves every 1-12 h
        gap_s = (span_s / max(1, len(steps) + 1)) if hot else None
        upd_k = 0
        for step in steps:
            t += dt.timedelta(
                seconds=int(gap_s * rng.uniform(0.5, 1.0)) + 1
                if hot
                else rng.randint(3600, 12 * 3600)
            )
            if step == "A08":
                upd_k += 1
                p.family = f"Fam{i}u{upd_k}"
                emit("A08", t, [(p.pid(), {2: "I", 3: loc, 19: p.enc})])
                vt.name_family = p.family
                continue
            new = _bed(rng)
            while new == loc:
                new = _bed(rng)
            emit("A02", t, [(p.pid(), {2: "I", 3: new, 6: loc, 19: p.enc})])
            if scenario == "A12":
                # the transfer is cancelled: the patient never moved
                t += dt.timedelta(minutes=rng.randint(1, 30))
                emit("A12", t, [(p.pid(), {2: "I", 3: new, 6: loc, 19: p.enc})])
                break
            prev_loc, start_t, _ = vt.intervals[-1]
            vt.intervals[-1] = (prev_loc, start_t, t)
            vt.intervals.append((new, t, None))
            loc = new
        if scenario == "A15":
            t += dt.timedelta(minutes=rng.randint(5, 120))
            pend = _bed(rng)
            emit("A15", t, [(p.pid(), {2: "I", 3: loc, 19: p.enc, 42: pend})])
            t += dt.timedelta(minutes=rng.randint(5, 120))
            emit("A26", t, [(p.pid(), {2: "I", 3: loc, 19: p.enc, 42: pend})])
        discharged = (not hot) and rng.random() < 0.7
        if scenario == "A13":
            discharged = True
        if discharged:
            t += dt.timedelta(seconds=rng.randint(3600, 24 * 3600))
            dis = {2: "I", 3: loc, 19: p.enc, 36: "HOME", 45: hl7_ts(t)}
            emit("A03", t, [(p.pid(), dis)])
            if scenario == "A13":
                t += dt.timedelta(minutes=rng.randint(1, 60))
                emit("A13", t, [(p.pid(), {2: "I", 3: loc, 19: p.enc, 45: '""'})])
                t += dt.timedelta(minutes=rng.randint(30, 600))
                emit("A03", t, [(p.pid(), {**dis, 45: hl7_ts(t)})])
            vt.discharge = t
            last_loc, last_start, _ = vt.intervals[-1]
            vt.intervals[-1] = (last_loc, last_start, t)
        t += dt.timedelta(minutes=rng.randint(1, 60))
        if scenario == "A11":
            emit("A11", t, [(p.pid(), {2: "I", 3: vt.intervals[0][0], 19: p.enc})])
        elif scenario == "A29":
            emit("A29", t, [(p.pid(), {19: p.enc})])
        elif scenario == "A17" and i > 0:
            q = patients[i - 1]
            mine, theirs = loc, _bed(rng)
            emit(
                "A17", t,
                [(p.pid(), {2: "I", 3: theirs, 6: mine, 19: p.enc}),
                 (q.pid(), {2: "I", 3: mine, 6: theirs, 19: q.enc})],
            )
            truth.pop(q.enc, None)
        elif scenario in ("A40", "A47") and i > 0:
            q = patients[i - 1]
            if scenario == "A40":  # q's record merges into p's
                emit("A40", t, [(p.pid(), {19: p.enc})], mrg=f"MRG|{q.mrn}^^^MRN")
            else:  # p's mrn is re-issued
                emit("A47", t, [(p.pid(f"X{p.mrn}"), {19: p.enc})], mrg=f"MRG|{p.mrn}^^^MRN")
            truth.pop(q.enc, None)
        elif scenario == "A45" and i > 0:
            q = patients[i - 1]  # p's visit moves under q's mrn
            emit(
                "A45", t, [(q.pid(), {19: p.enc})],
                mrg=f"MRG|{p.mrn}^^^MRN||||{p.enc}",
            )
            truth.pop(q.enc, None)
        if scenario in (None, "A15"):
            truth[p.enc] = vt

    # arrival order: most messages arrive in event order; a share arrive
    # late (delivered after later events), and a share are redelivered
    arrival = []
    for t, msg_id, raw in events:
        delay = 0.0
        if rng.random() < OUT_OF_ORDER:
            delay = rng.uniform(60, 6 * 3600)
        key = t.timestamp() + delay
        arrival.append((key, msg_id, raw))
        if rng.random() < DUPLICATES:
            arrival.append((key + rng.uniform(1, 2 * 3600), msg_id, raw))
    arrival.sort(key=lambda a: (a[0], a[1]))
    return AdtFeed(
        messages=[(m, r) for _, m, r in arrival],
        truth=truth,
        encounters=encounters,
    )


# --------------------------------------------------------------------------
# waveform sample messages
# --------------------------------------------------------------------------
# (sampling rate, samples per message, stream id) per patient
WAVE_STREAMS = ((300, 10, "52912"), (50, 5, "27"))


def waveform_batch(
    seed: int,
    beds: list[str],
    seconds: int,
    start: dt.datetime,
):
    """Sample messages (a pandas frame) for clinical seconds
    [start, start + seconds) of every bed's two streams. A ``GAP_SHARE``
    of messages is dropped (the collator must not bridge the gap).
    Values are a seeded random walk, rounded like the HL7 feed's
    fixed-point text."""
    import pandas as pd

    t0 = np.datetime64(start, "us")
    rng = np.random.default_rng([seed, int((start - EPOCH).total_seconds())])
    parts = []
    for p, bed in enumerate(beds):
        for rate, per_msg, sid in WAVE_STREAMS:
            n_msgs = seconds * rate // per_msg
            keep = np.flatnonzero(rng.random(n_msgs) >= GAP_SHARE)
            vals = np.round(np.cumsum(rng.normal(0, 1, (n_msgs, per_msg))), 3).reshape(
                n_msgs, per_msg
            )
            first = keep * per_msg
            parts.append(pd.DataFrame({
                "source_message_id": [f"w{t0}-{p}-{sid}-{m}" for m in keep],
                "source_location": bed,
                "source_stream_id": sid,
                "sampling_rate": np.int32(rate),
                "unit": "uV",
                "observation_time": t0 + (first * 1_000_000 // rate).astype("timedelta64[us]"),
                "values": list(vals[keep]),
            }))
    return pd.concat(parts, ignore_index=True)


# --------------------------------------------------------------------------
# analytic tables (the schema the registered queries read)
# --------------------------------------------------------------------------
_WORDS = (
    "a batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector "
    "window agg join index"
).split()


def analytic_tables(seed: int, out_dir: str, scale: float) -> None:
    """Write region/nation/customer/supplier/part/orders/lineitem/events/
    documents/embeddings parquet files under ``out_dir``. ``scale`` is
    the TPC-H-style scale factor (0.1 -> 600k lineitem rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options: list[str], n: int) -> list[str]:
        return [options[i] for i in rng.integers(0, len(options), n)]

    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs, n_emb = int(50_000 * scale), int(20_000 * scale)
    i32 = pa.int32()
    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjs, nouns = ["large", "hot", "blue", "old", "cold", "small", "red", "new"], [
        "ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adjs, n_part), pick(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(900, 500_000, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    l_order = rng.integers(0, n_ord, n_line)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        # whole hundreds: every price * (1 - discount) * (1 + tax) then has at
        # most two decimals, so the queries' round(..., 2) never meets a
        # half-cent tie (Spark rounds ties half-up from the decimal string,
        # DuckDB from the binary double, so a tie can differ by a cent)
        "l_extendedprice": 100.0 * rng.integers(9, 1051, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": (
            odate[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
    ).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word sequences, ~5% near-duplicates of an
    # earlier document (a couple of words substituted) for the dedup plans
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = pick(_WORDS, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0, 1.5, (n_emb, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
