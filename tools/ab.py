"""Interleaved A/B timing of one lane under two settings.

One protocol for every comparison: each rep runs in a fresh subprocess
(its own JVM), the two sides alternate within each pair (A,B then B,A)
so box drift cancels, and a fixed-cost single-core CPU probe runs before
every rep as evidence of the box's state. Each rep prints its times;
the summary gives each side's median, min and pairs won.

Sides are two values of an env knob on this checkout ("unset" removes
the variable), or this checkout against another one (a `git clone` or
`git archive` of the commit to compare):

    python tools/ab.py --knob EMAP_BATCH_AQE=off,on --lane adt-big --pairs 3
    python tools/ab.py --tree ../emap_parent --lane q60_merge_engine_snapshot

Lanes: `adt` times bench.py's 20k and 100k ADT batches, `adt-big` one
batch of --patients x 4 messages, `collation` the 30-bed waveform lane
(min of 2), `parse` the materialized HL7 ADT parse of 1,000 generated
messages (after two warm reps), `locations` the materialized location-
visit inference over 4,000 generated ADT messages (after two warm reps);
any registered query name runs it at --sf-dir (min of 2, warmed on the
sibling sf0.001 dir when present).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_RESULT = "AB_RESULT "
_REP_TIMEOUT_S = 1800
FIXED_LANES = ("adt", "adt-big", "collation", "parse", "locations")


# -- protocol (pure Python) ------------------------------------------------
def pair_order(i: int) -> tuple[str, str]:
    """Side order within pair i: A first on even pairs, B first on odd."""
    return ("A", "B") if i % 2 == 0 else ("B", "A")


def summarize(a: list[float], b: list[float]) -> dict[str, dict]:
    """Per-side median, min and pairs won over paired times (a[i] and
    b[i] form pair i). A tied pair is won by neither."""
    if len(a) != len(b) or not a:
        raise ValueError("need the same non-zero number of times per side")
    out = {}
    for side, mine, theirs in (("A", a, b), ("B", b, a)):
        out[side] = {
            "median": statistics.median(mine),
            "min": min(mine),
            "wins": sum(1 for x, y in zip(mine, theirs) if x < y),
        }
    return out


# -- one rep (runs in the subprocess) --------------------------------------
def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rep_adt(spark, batches: dict[str, int]) -> dict[str, float]:
    """Time each named batch (patients -> 4 messages each) on a fresh
    durable engine after bench.py's two warm batches."""
    from emap_spark.app import EmapEngine
    from emap_spark.lineage import cut
    from emap_spark.sources.generators import adt_messages

    warm = cut(adt_messages(spark, n_patients=200))
    frames = {k: cut(adt_messages(spark, n_patients=n)) for k, n in batches.items()}
    for _ in range(2):  # the first engine absorbs JIT tier-up
        with tempfile.TemporaryDirectory(prefix="ab_adt_") as root:
            eng = EmapEngine(storage_root=root)
            eng.process_batch(warm, 0)
            eng.process_batch(warm.limit(400), 1)
            secs = {
                k: _timed(lambda: eng.process_batch(df, 2 + i))
                for i, (k, df) in enumerate(frames.items())
            }
    return secs


def _rep_collation(spark) -> dict[str, float]:
    from emap_spark.sources.generators import waveform_stream
    from emap_spark.streaming.collation import collate_batch

    # warm the Python-worker/Arrow path on a tiny feed first
    _noop(collate_batch(
        waveform_stream(spark, n_patients=2, sampling_rate=300, seconds=2)
    ))
    msgs = waveform_stream(
        spark, n_patients=30, sampling_rate=300, seconds=60,
        samples_per_message=40,
    )
    return {"collation": min(
        _timed(lambda: _noop(collate_batch(msgs))) for _ in range(2)
    )}


def _rep_parse(spark) -> dict[str, float]:
    """The sources layer as the benchmark runs it: raw HL7 read from
    parquet, parsed and materialized once."""
    from emap_spark.lineage import cut
    from emap_spark.sources.hl7_text import adt_from_hl7, synthetic_hl7_adt_full

    raw = cut(synthetic_hl7_adt_full(spark, n=1000).select("hl7"))
    for _ in range(2):
        cut(adt_from_hl7(raw))
    return {"parse": _timed(lambda: cut(adt_from_hl7(raw)))}


def _rep_locations(spark) -> dict[str, float]:
    """Location-visit inference over a materialized movement history."""
    from emap_spark.lineage import cut
    from emap_spark.operators.locations import infer_location_visits
    from emap_spark.sources.generators import adt_messages

    adt = cut(adt_messages(spark, n_patients=1000))
    for _ in range(2):
        cut(infer_location_visits(adt))
    return {"locations": _timed(lambda: cut(infer_location_visits(adt)))}


def _rep_query(spark, args) -> dict[str, float]:
    from emap_spark.registry import queries

    q = queries()[args.lane]
    # plan-cache warm on the small scale factor, one full pass to settle
    # JIT tier-up, then min of 2
    _noop(q(spark, args.warm_dir))
    _noop(q(spark, args.sf_dir))
    return {args.lane: min(
        _timed(lambda: _noop(q(spark, args.sf_dir))) for _ in range(2)
    )}


def _run_rep(args) -> None:
    sys.path.insert(0, args.repo)
    from emap_spark.session import get_spark

    spark = get_spark(f"ab_{args.lane}")
    if args.lane == "adt":
        secs = _rep_adt(spark, {"20k": 5000, "100k": 25000})
    elif args.lane == "adt-big":
        secs = _rep_adt(spark, {"batch": args.patients})
    elif args.lane == "collation":
        secs = _rep_collation(spark)
    elif args.lane == "parse":
        secs = _rep_parse(spark)
    elif args.lane == "locations":
        secs = _rep_locations(spark)
    else:
        secs = _rep_query(spark, args)
    print(_RESULT + json.dumps({k: round(v, 3) for k, v in secs.items()}), flush=True)


# -- driver ----------------------------------------------------------------
def _sides(args) -> dict[str, tuple[str, str, dict[str, str | None]]]:
    """side -> (label, checkout, env overrides; None unsets the var)."""
    if args.tree:
        return {
            "A": ("this checkout", _REPO_DIR, {}),
            "B": (args.tree, os.path.abspath(args.tree), {}),
        }
    knob, _, vals = args.knob.partition("=")
    a, _, b = vals.partition(",")
    if not knob or not a or not b:
        raise SystemExit("--knob wants K=A,B")
    return {
        side: (f"{knob}={v}", _REPO_DIR, {knob: None if v == "unset" else v})
        for side, v in (("A", a), ("B", b))
    }


def _spawn(args, repo: str, env_over: dict) -> dict[str, float]:
    env = dict(os.environ)
    for k, v in env_over.items():
        if v is None:
            env.pop(k, None)
        else:
            env[k] = v
    cmd = [
        sys.executable, os.path.abspath(__file__), "--rep", "--repo", repo,
        "--lane", args.lane, "--patients", str(args.patients),
    ]
    if args.sf_dir:
        cmd += ["--sf-dir", args.sf_dir]
    out = subprocess.run(
        cmd, env=env, cwd=repo, capture_output=True, text=True, timeout=_REP_TIMEOUT_S
    )
    for line in out.stdout.splitlines():
        if line.startswith(_RESULT):
            return json.loads(line[len(_RESULT):])
    raise RuntimeError(
        f"rep failed in {repo}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def _parse(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    side = ap.add_mutually_exclusive_group()
    side.add_argument("--knob", help="K=A,B: env var K set to A vs B")
    side.add_argument("--tree", help="another checkout to compare against")
    ap.add_argument("--lane", required=True,
                    help=f"{', '.join(FIXED_LANES)} or a registered query name")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--patients", type=int, default=250_000,
                    help="adt-big batch size in patients (4 messages each)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="query lanes: the timed scale-factor dir")
    ap.add_argument("--rep", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--repo", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.sf_dir:
        small = os.path.join(os.path.dirname(args.sf_dir.rstrip("/")), "sf0.001")
        args.warm_dir = small if os.path.isdir(small) else args.sf_dir
    if args.rep:
        return args
    if not (args.knob or args.tree):
        ap.error("one of --knob or --tree is required")
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    if args.lane not in FIXED_LANES and not args.sf_dir:
        ap.error("query lanes need --sf-dir (or SPARK_GRAFT_SF_DIR)")
    return args


def main(argv: list[str] | None = None) -> None:
    args = _parse(argv)
    if args.rep:
        _run_rep(args)
        return
    sys.path.insert(0, _REPO_DIR)
    from bench import _probe_cpu

    sides = _sides(args)
    res: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in pair_order(i):
            label, repo, env_over = sides[side]
            probe = _probe_cpu()
            secs = _spawn(args, repo, env_over)
            res[side].append(secs)
            times = "  ".join(f"{k} {v:.3f}s" for k, v in secs.items())
            print(f"pair {i + 1} {side} ({label}): {times}"
                  f"  (cpu probe {probe:.3f}s)", flush=True)
    for metric in res["A"][0]:
        s = summarize([r[metric] for r in res["A"]], [r[metric] for r in res["B"]])
        print(f"{metric}:")
        for side in ("A", "B"):
            d = s[side]
            print(f"  {side} ({sides[side][0]}): median {d['median']:.3f}"
                  f" min {d['min']:.3f} won {d['wins']}/{args.pairs}")


if __name__ == "__main__":
    main()
