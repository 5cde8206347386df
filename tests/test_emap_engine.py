"""End-to-end EmapEngine test: ADT stream in (two out-of-order batches),
star tables + audit + as-of + occupancy out — the §3.1/§3.3 lifecycle."""

from __future__ import annotations

from pyspark.sql import functions as F

from emap_spark.app import EmapEngine
from emap_spark.sources.generators import adt_messages


def test_engine_end_to_end(spark):
    adt = adt_messages(spark, n_patients=6)
    b1 = adt.filter(F.col("message_type").isin("ADMIT", "DISCHARGE"))
    b2 = adt.filter(~F.col("message_type").isin("ADMIT", "DISCHARGE"))

    eng = EmapEngine()
    eng.process_batch(b1, 0)  # discharge arrives BEFORE the transfers
    eng.process_batch(b2, 1)

    visits = {r.encounter: r for r in eng.table("hospital_visit").collect()}
    assert len(visits) == 6
    v = visits["ENC00000"]
    assert str(v.admission_datetime) == "2024-01-01 08:00:00"
    assert str(v.discharge_datetime) == "2024-01-02 10:00:00"

    mrns = eng.table("mrn").collect()
    assert len(mrns) == 6

    # location intervals recomputed across both batches: 3 stays per visit
    lv = eng.location_visits().filter(F.col("visit_number") == "ENC00000").collect()
    assert len(lv) == 3
    closed = sorted(
        (r.location_string, str(r.discharge_datetime)) for r in lv
    )
    assert closed[-1] == ("T0E^BY03^BED-3", "2024-01-02 10:00:00")

    # occupancy mid-stay
    occ = eng.occupancy("2024-01-01 13:00:00").collect()
    assert all(r.location_string.endswith("BED-2") for r in occ)
    assert len(occ) >= 1

    # audit + as-of: visit state before the discharge landed
    asof = eng.table_asof("hospital_visit", "2024-01-01 09:00:00").collect()
    enc0 = [r for r in asof if r.encounter == "ENC00000"]
    assert len(enc0) == 1 and enc0[0].discharge_datetime is None

    m = eng.metrics(spark).collect()
    assert [x.batch_id for x in m] == [0, 1]


def test_engine_batch_order_invariance(spark):
    adt = adt_messages(spark, n_patients=3)
    b1 = adt.filter(F.col("message_type").isin("ADMIT", "DISCHARGE"))
    b2 = adt.filter(~F.col("message_type").isin("ADMIT", "DISCHARGE"))

    def final(batches):
        eng = EmapEngine()
        for i, b in enumerate(batches):
            eng.process_batch(b, i)
        vis = sorted(
            (r.encounter, str(r.admission_datetime), str(r.discharge_datetime))
            for r in eng.table("hospital_visit").collect()
        )
        lv = sorted(
            (r.visit_number, r.location_string, str(r.admission_datetime))
            for r in eng.location_visits().collect()
        )
        return vis, lv

    assert final([b1, b2]) == final([b2, b1]) == final([adt])


def test_router_expr_cache_keyed_on_gateway_object(spark):
    """r10 (VERDICT r9 #4 / ADVICE r9): the router Column cache lives AS
    AN ATTRIBUTE ON the py4j gateway object, so (a) repeated calls on one
    gateway memoize, (b) a fresh gateway — even one allocated at a GC'd
    gateway's reused address, the id()-keyed cache's failure mode — gets
    a fresh build, and (c) a SparkContext restart on the SAME gateway
    (same JVM) keeps the still-valid Columns."""
    import gc

    from emap_spark import app, expr_cache

    calls: list[int] = []

    def build():
        calls.append(1)
        return ("pred", "cols")

    class _FakeGw:
        pass

    class _FakeSC:
        def __init__(self, gw):
            self._gateway = gw

    class _FakeSession:
        def __init__(self, gw):
            self.sparkContext = _FakeSC(gw)

    class _FakeDF:
        def __init__(self, gw):
            self.sparkSession = _FakeSession(gw)

    gw1 = _FakeGw()
    assert expr_cache.cached_exprs("t", _FakeDF(gw1), build) == ("pred", "cols")
    assert expr_cache.cached_exprs("t", _FakeDF(gw1), build) == ("pred", "cols")
    assert len(calls) == 1  # memoized on the gateway
    # SparkContext "restart" within one gateway: a NEW context/session
    # object wrapping the SAME gateway reuses the cache
    assert expr_cache.cached_exprs("t", _FakeDF(gw1), build) == ("pred", "cols")
    assert len(calls) == 1
    # the cache dies WITH the gateway: a new gateway object — possibly
    # at the dead one's reused address — must rebuild
    addr1 = id(gw1)
    del gw1
    gc.collect()
    gw2 = _FakeGw()  # may or may not reuse addr1; either way must rebuild
    expr_cache.cached_exprs("t", _FakeDF(gw2), build)
    assert len(calls) == 2, f"stale cache served (addr reuse={id(gw2) == addr1})"
    assert getattr(gw2, expr_cache.EXPR_CACHE_ATTR)["t"] == ("pred", "cols")

    # the real gateway: identical objects returned across calls (the
    # per-batch py4j round-trip rebuild is gone)
    df = spark.range(1)
    e1 = expr_cache.cached_exprs("mrn", df, app._build_mrn_exprs)
    e2 = expr_cache.cached_exprs("mrn", df, app._build_mrn_exprs)
    assert e1 is e2
