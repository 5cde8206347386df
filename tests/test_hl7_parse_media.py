"""HL7 text parsing golden tests (§5.1 style) + multimodal plumbing."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from emap_spark.multimodal.binary_ops import (
    decode_media,
    extract_features,
    frame_sample,
    synthetic_media,
)
from emap_spark.functions.hl7 import best_guess_valid_from, tristate_from_hl7
from emap_spark.sources.hl7_text import (
    TRIGGER_TO_TYPE,
    adt_from_hl7,
    field,
    hl7_ts,
    nth_segment_fields,
    synthetic_hl7_adt_full,
    synthetic_hl7_messages,
    tristate_ts,
)


def test_hl7_field_extraction(spark):
    raw = "MSH|^~\\&|EPIC|UCLH|x|x|20130101073000||ADT^A01|MSG1|P|2.4\rPID|1||40180000^^^MRN\rPV1|1|I|T42E^T42E BY02^BY02-17"
    df = spark.createDataFrame([(raw,)], "hl7 string")
    r = df.select(
        field(F.col("hl7"), "MSH", 9, 2).alias("trigger"),
        field(F.col("hl7"), "PID", 3, 1).alias("mrn"),
        field(F.col("hl7"), "PV1", 3, 1).alias("loc"),
        hl7_ts(field(F.col("hl7"), "MSH", 7)).alias("ts"),
    ).collect()[0]
    assert r.trigger == "A01"
    assert r.mrn == "40180000"
    assert r.loc == "T42E"
    assert str(r.ts) == "2013-01-01 07:30:00"


def test_adt_from_hl7_routing(spark):
    out = adt_from_hl7(synthetic_hl7_messages(spark, n=8)).collect()
    by_id = {r.source_message_id: r for r in out}
    assert by_id["MSG00000000"].message_type == "ADMIT"
    assert by_id["MSG00000001"].message_type == "TRANSFER"
    assert by_id["MSG00000002"].message_type == "DISCHARGE"
    assert by_id["MSG00000003"].message_type == "UPDATE_PATIENT_INFO"
    r = by_id["MSG00000000"]
    assert r.mrn == "40180000"
    assert r.location.value.startswith("T42E")
    assert r.name_family.value == "Family0" and r.name_given.value == "Given0"


def _reference_adt(df):
    """The per-field ADT projection adt_from_hl7 replaced, kept as the
    differential oracle: every read goes through the public field()
    helper (re-splitting the whole message), and the A17 second patient
    is a second projection over a second scan, unioned back."""
    raw = F.col("hl7")
    trigger = field(raw, "MSH", 9, 2)

    def nhs(occ):
        reps = F.split(field(raw, "PID", 3, occurrence=occ), "~")
        hit = F.filter(
            reps, lambda r: F.try_element_at(F.split(r, r"\^"), F.lit(4)) == "NHS"
        )
        return F.try_element_at(F.split(F.try_element_at(hit, F.lit(1)), r"\^"), F.lit(1))

    def projection(occ):
        msg_type = F.lit(None).cast("string")
        for trig, mtype in TRIGGER_TO_TYPE.items():
            msg_type = F.when(trigger == trig, F.lit(mtype)).otherwise(msg_type)
        event_occurred = F.coalesce(
            hl7_ts(field(raw, "EVN", 6)), hl7_ts(field(raw, "EVN", 2))
        )
        recorded = hl7_ts(field(raw, "MSH", 7))
        cur_loc = field(raw, "PV1", 3, occurrence=occ)
        loc = F.when(
            trigger.isin("A15", "A26"),
            F.coalesce(F.nullif(field(raw, "PV1", 42, occurrence=occ), F.lit("")), cur_loc),
        ).otherwise(cur_loc)
        msg_id = F.coalesce(field(raw, "MSH", 10), F.lit("?"))
        if occ > 1:
            msg_id = F.concat(msg_id, F.lit("-B"))

        def pid(n, c=None):
            return field(raw, "PID", n, c, occurrence=occ)

        def pv1(n, c=None):
            return field(raw, "PV1", n, c, occurrence=occ)

        return [
            msg_id.alias("source_message_id"),
            field(raw, "MSH", 4, 1).alias("source_system"),
            best_guess_valid_from(event_occurred, recorded).alias("valid_from"),
            msg_type.alias("message_type"),
            pid(3, 1).alias("mrn"),
            nhs(occ).alias("nhs_number"),
            pv1(19, 1).alias("visit_number"),
            tristate_from_hl7(pv1(2, 1)).alias("patient_class"),
            tristate_from_hl7(loc).alias("location"),
            tristate_from_hl7(pv1(6)).alias("previous_location"),
            event_occurred.alias("event_occurred"),
            recorded.alias("recorded_datetime"),
            tristate_ts(pv1(44)).alias("admission_datetime"),
            tristate_ts(pv1(45)).alias("discharge_datetime"),
            tristate_from_hl7(pv1(36)).alias("discharge_disposition"),
            tristate_from_hl7(pv1(37, 1)).alias("discharge_destination"),
            tristate_from_hl7(pid(5, 2)).alias("name_given"),
            tristate_from_hl7(pid(5, 1)).alias("name_family"),
            tristate_ts(pid(7)).alias("birth_datetime"),
            tristate_from_hl7(pid(8, 1)).alias("sex"),
            tristate_from_hl7(pid(30)).alias("death_indicator"),
            tristate_ts(pid(29)).alias("death_datetime"),
            field(raw, "MRG", 1, 1).alias("retired_mrn"),
            field(raw, "MRG", 5, 1).alias("retired_visit_number"),
        ]

    first = df.select(*projection(1))
    second = df.filter(
        (trigger == "A17") & nth_segment_fields(raw, "PID", 2).isNotNull()
    ).select(*projection(2))
    return first.unionByName(second).filter(F.col("message_type").isNotNull())


def _edge_messages() -> list[str]:
    def msh(trig, mid):
        return f"MSH|^~\\&|EPIC|UCLH|x|x|20240501101500||ADT^{trig}|{mid}|P|2.4"

    def pid(mrn, pid3=None, death=""):
        f = [""] * 31
        f[0], f[1], f[3], f[5] = "PID", "1", pid3 or f"{mrn}^^^MRN", "Fam^Giv"
        f[29] = death
        return "|".join(f)

    def pv1(bed, enc, pend=None, discharge=""):
        f = [""] * 46
        f[0], f[1], f[2], f[3], f[19] = "PV1", "1", "I", bed, enc
        f[42] = "" if pend is None else pend
        f[45] = discharge
        return "|".join(f)

    evn = "EVN|A01|20240501101000"
    return [
        # no EVN: valid_from falls back to MSH-7
        "\r".join([msh("A01", "NOEVN"), pid("M1"), pv1("W1^B1^1", "E1")]),
        # A17 with one PID/PV1 group: one row, no -B id
        "\r".join([msh("A17", "SWAP1"), evn, pid("M2"), pv1("W1^B1^2", "E2")]),
        # A17 with two groups: two rows
        "\r".join([msh("A17", "SWAP2"), evn, pid("M3"), pv1("W1^B1^3", "E3"),
                   pid("M4"), pv1("W1^B1^4", "E4")]),
        # unknown trigger: dropped
        "\r".join([msh("A99", "UNKNOWN"), evn, pid("M5"), pv1("W1^B1^5", "E5")]),
        # "" DELETE markers in PV1-45 and PID-29
        "\r".join([msh("A03", "DELETES"), evn, pid("M6", death='""'),
                   pv1("W1^B1^6", "E6", discharge='""')]),
        # trailing \r and an empty segment
        "\r".join([msh("A08", "TRAILING"), evn, "", pid("M7"), pv1("W1^B1^7", "E7")]) + "\r",
        # NHS as the second PID-3 repetition
        "\r".join([msh("A08", "NHS2"), evn, pid("M8", pid3="M8^^^MRN~9990008^^^NHS"),
                   pv1("W1^B1^8", "E8")]),
        # A15 with an empty PV1-42: location falls back to PV1-3
        "\r".join([msh("A15", "PENDEMPTY"), evn, pid("M9"), pv1("W1^B1^9", "E9", pend="")]),
    ]


def test_adt_from_hl7_matches_per_field_reference(spark):
    """Differential: the one-split, one-scan parse gives the same rows
    and the same schema (names, types, nullability) as the per-field
    reference, over the full trigger fixture plus hand-written edges."""
    frame = synthetic_hl7_adt_full(spark, n=40).select("hl7").union(
        spark.createDataFrame([(m,) for m in _edge_messages()], "hl7 string")
    )
    got, ref = adt_from_hl7(frame), _reference_adt(frame)
    assert got.schema == ref.schema
    # exceptAll both ways, as multisets of the two collected sides: one
    # action per side (a Spark-side exceptAll of these plans costs ~12 s)
    rows, ref_rows = Counter(got.collect()), Counter(ref.collect())
    extra, missing = rows - ref_rows, ref_rows - rows
    assert not extra and not missing, (extra, missing)

    by_id = {r.source_message_id: r for r in rows}
    # 42 fixture rows; the 8 edges drop the unknown trigger and add SWAP2-B
    assert rows.total() == 42 + 8
    noevn = by_id["NOEVN"]
    assert noevn.event_occurred is None and noevn.valid_from == noevn.recorded_datetime
    assert "SWAP1-B" not in by_id and by_id["SWAP2-B"].mrn == "M4"
    assert "UNKNOWN" not in by_id
    assert by_id["DELETES"].discharge_datetime.status == "DELETE"
    assert by_id["DELETES"].death_datetime.status == "DELETE"
    assert by_id["TRAILING"].mrn == "M7"
    assert by_id["NHS2"].nhs_number == "9990008"
    assert by_id["PENDEMPTY"].location.value == "W1^B1^9"


def test_adt_from_hl7_plan_shape(spark, tmp_path):
    """One scan, no Union, the \\r split computed once (CollapseProject
    has not inlined the segment picks back into every field read), and
    the built Columns are cached per session."""
    from emap_spark import expr_cache

    path = str(tmp_path / "raw")
    synthetic_hl7_messages(spark, n=4).write.parquet(path)
    raw = spark.read.parquet(path)
    qe = adt_from_hl7(raw)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "Union" not in optimized
    assert optimized.count("Relation [") == 1
    executed = qe.executedPlan().toString()
    assert len(re.findall(r"split\(hl7#\d+, \r, -1\)", executed)) == 1

    cache = spark.sparkContext._gateway.__dict__[expr_cache.EXPR_CACHE_ATTR]
    first = cache[("adt_from_hl7", "hl7")]
    adt_from_hl7(raw)
    assert cache[("adt_from_hl7", "hl7")] is first
    assert all(a is b for a, b in zip(first, cache[("adt_from_hl7", "hl7")]))


def test_media_decode_deterministic(spark):
    media = synthetic_media(spark, n=12)
    a = sorted((r.media_id, r.checksum) for r in decode_media(media).collect())
    b = sorted((r.media_id, r.checksum) for r in decode_media(media).collect())
    assert a == b and len(a) == 12


def test_media_unsupported_codec_raises(spark):
    import pytest

    media = synthetic_media(spark, n=2)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_media(media, codec="jpeg").collect()


def test_media_features_feed_similarity(spark):
    feats = extract_features(synthetic_media(spark, n=10), dim=8).collect()
    assert all(len(r.feature) == 8 for r in feats)
    assert all(-1.0 <= v <= 1.0 for r in feats for v in r.feature)


def test_frame_sampling_plan(spark):
    media = synthetic_media(spark, n=9)
    frames = frame_sample(media, every_ms=10_000).collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len({r.media_id for r in frames}) == vids


def test_oru_vendor_routing_and_calibration_quirk(spark):
    from emap_spark.sources.hl7_text import observations_from_oru, synthetic_oru_messages

    out = observations_from_oru(synthetic_oru_messages(spark, n=8)).collect()
    vendors = {r.vendor for r in out}
    assert vendors == {"EPIC_FLOWSHEET", "WINPATH", "ABL90_FLEX"}  # unknown dropped
    # ABL90 calibration OBX rows are filtered
    abl = [r for r in out if r.vendor == "ABL90_FLEX"]
    assert abl and all(not r.observation_id.lower().startswith("cal") for r in abl)
    hr = [r for r in out if r.observation_id == "HR"][0]
    assert hr.value_type == "NUMERIC" and hr.value_as_real >= 60.0 and hr.unit == "bpm"
    note = [r for r in out if r.observation_id == "NOTE"][0]
    assert note.value_type == "TEXT" and note.value_as_text.startswith("stable")


def test_identifier_changes_and_move_visit(spark):
    from emap_spark.operators.identity import apply_identifier_changes, move_visit
    from pyspark.sql import functions as F

    mrns = spark.createDataFrame([("a",), ("b",), ("c",)], "mrn string")
    changes = spark.createDataFrame(
        [("a", "a2"), ("c", "b")], "old_mrn string, new_mrn string"
    )  # c->b collides with existing b: must NOT apply
    out = sorted(r.mrn for r in apply_identifier_changes(mrns, changes).collect())
    assert out == ["a2", "b", "c"]

    visits = spark.createDataFrame(
        [("E1", "a"), ("E2", "b")], "encounter string, mrn string"
    )
    moves = spark.createDataFrame([("E1", "b")], "encounter string, to_mrn string")
    moved = {r.encounter: r.mrn for r in move_visit(visits, moves).collect()}
    assert moved == {"E1": "b", "E2": "b"}


def test_death_info_consistency(spark):
    from emap_spark.functions.hl7 import death_info_consistent
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Y", "2024-01-01 10:00:00"), ("N", "2024-01-01 10:00:00"), ("N", None), ("Y", None)],
        "ind string, dt string",
    ).select(
        death_info_consistent(
            F.col("ind"), F.col("dt").cast("timestamp_ntz")
        ).alias("ok")
    )
    assert [r.ok for r in df.collect()] == [True, False, True, True]


def test_audio_features_real_dsp_and_width_guard(spark):
    """audio_features computes framing/peak/zero-crossings on the TRUE
    decoded PCM (not metadata): a hand-built two-tone WAV with a known
    sign pattern checks the DSP; a stereo payload hits the documented
    NotImplementedError swap point."""
    import io
    import struct
    import wave as _wave

    import pytest as _pytest

    from emap_spark.multimodal.binary_ops import MEDIA_SCHEMA, audio_features

    # 400 samples alternating [+5, +5, -5, -5]: sign flips every 2
    # samples -> 199 transitions over 399 pairs; peak 5; 2 full frames
    pcm = b"".join(
        struct.pack("<h", 5 if (k // 2) % 2 == 0 else -5) for k in range(400)
    )
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm)
    stereo = io.BytesIO()
    with _wave.open(stereo, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm)
    rows = [
        (1, "audio", "audio/wav", None, None, 50, buf.getvalue()),
        (2, "image", "image/x-portable-pixmap", 1, 1, None, b"P6\n1 1\n255\nabc"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = audio_features(media, frame_len=160).collect()
    assert len(got) == 1  # image rows filtered before the UDF
    r = got[0]
    assert (r.n_samples, r.n_frames, r.peak_abs) == (400, 2, 5)
    assert r.zero_crossings == 199 and r.duration_ms == 50

    bad = spark.createDataFrame(
        [(3, "audio", "audio/wav", None, None, 50, stereo.getvalue())],
        MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="16-bit mono"):
        audio_features(bad).collect()

    # corrupt payloads are isolated per row (null features), they do
    # not fail the batch — the good row in the same batch still decodes
    corrupt = spark.createDataFrame(
        [
            (4, "audio", "audio/wav", None, None, 50, b"not RIFF at all"),
            (5, "audio", "audio/wav", None, None, 50, buf.getvalue()[:20]),
            (6, "audio", "audio/wav", None, None, 50, buf.getvalue()),
        ],
        MEDIA_SCHEMA,
    ).coalesce(1)
    by_id = {r.media_id: r for r in audio_features(corrupt, frame_len=160).collect()}
    assert len(by_id) == 3
    assert by_id[4].n_samples is None and by_id[4].peak_abs is None
    assert by_id[5].n_samples is None
    assert (by_id[6].n_samples, by_id[6].zero_crossings) == (400, 199)

    # a data chunk truncated to an ODD byte count parses through wave
    # but breaks np.frombuffer(dtype='<i2') with ValueError — it must
    # take the same per-row null-feature path, not fail the batch
    odd = spark.createDataFrame(
        [
            (7, "audio", "audio/wav", None, None, 50, buf.getvalue()[:-1]),
            (8, "audio", "audio/wav", None, None, 50, buf.getvalue()),
        ],
        MEDIA_SCHEMA,
    ).coalesce(1)
    by_id = {r.media_id: r for r in audio_features(odd, frame_len=160).collect()}
    assert by_id[7].n_samples is None
    assert (by_id[8].n_samples, by_id[8].peak_abs) == (400, 5)
