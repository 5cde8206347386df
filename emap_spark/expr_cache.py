"""Per-JVM cache of built Column expressions.

Expression trees made of unresolved Columns do not depend on the frame
they are applied to, but building them costs one py4j round trip per
node: 25–155 ms per call for the ADT router (r9h profile,
OPTIMIZATION_r09.md §9/§12), more for the HL7 ADT parse's ~50 field
reads. The ingest path rebuilds them identically on every
batch, which is pure GIL-bound driver fixed cost. Columns are immutable
expression ASTs, valid for the life of the py4j gateway (JVM), so the
cache lives AS AN ATTRIBUTE ON the gateway object: a restarted
SparkContext inside one JVM reuses it safely, a NEW gateway (fresh JVM)
necessarily starts empty, and — unlike an id(gateway)-keyed module
dict (ADVICE r9) — a GC'd gateway whose address is reused can never
serve stale Columns bound to a dead JVM, because the cache died with
the gateway.

Both the ADT router (`emap_spark.app`) and the HL7 parse
(`emap_spark.sources.hl7_text`) use it; it imports neither.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

EXPR_CACHE_ATTR = "_emap_expr_cache"


def cached_exprs(key, frame: DataFrame, build):
    """`build()`'s result, built once per py4j gateway and `key` (any
    hashable naming the expressions and whatever they are built from)."""
    gw = frame.sparkSession.sparkContext._gateway
    # NOTE: plain getattr() is unusable here — py4j's JavaGateway
    # __getattr__ resolves any unknown attribute to a JVM member proxy
    # instead of raising, so the instance __dict__ is consulted directly
    cache = gw.__dict__.get(EXPR_CACHE_ATTR)
    if cache is None:
        cache = gw.__dict__[EXPR_CACHE_ATTR] = {}
    got = cache.get(key)
    if got is None:
        got = cache[key] = build()
    return got
