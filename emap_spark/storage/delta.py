"""Minimal transaction-logged multi-version table store — the
incremental MERGE contract for the K2 sink (SURVEY §2.1; the reference
commits one transaction per message, core/.../RowState.java:186-201;
SURVEY maps that to "idempotent MERGE (Delta)" on Spark).

Why not a per-batch full snapshot rewrite: at 100 TB a table rewrite per
micro-batch is O(table x batches) write amplification. The MERGE
contract here is what Delta/Iceberg implement — this is the
dependency-free local equivalent with the same interface shape:

  tables/{name}/delta/batch={id}/   row VERSIONS for keys touched by the
                                    batch (current rows tagged __rk=1,
                                    superseded/audit rows __rk>1, each
                                    carrying __v = batch id) — small by
                                    construction, written unbucketed
  tables/{name}/base/v={id}/__kb={b}/  compacted fold of older deltas,
                                    hash-bucketed by key (__kb =
                                    crc32(key) % n_buckets): the ONLY
                                    O(table-state) file, so it alone
                                    needs bucket pruning
  tables/{name}/_manifest.json      the transaction log: which files are
                                    live, which batches are committed,
                                    and WHICH BUCKETS each live file
                                    holds

Contract:
  * commit(batch_id, combined)  — O(touched keys) write, never O(table).
    The manifest update is an atomic rename; a batch id already in the
    manifest is a no-op (exactly-once under crash/replay: the caller
    skips the merge entirely when has_batch(id) is true, so a crash
    after the manifest rename but before the pipeline marker cannot
    re-merge against state that already absorbed the batch).
  * read_current(keys=...)      — latest committed version per key:
    union(live bucket files) -> window max(__v) per key, __rk == 1.
    With a key restriction the BASE scan is PRUNED TO THE TOUCHED
    BUCKETS (explicit file enumeration off the manifest; callers pass
    precomputed bucket ids or the store learns them with one tiny
    collect on the broadcast-size key frame), so a micro-batch's seed
    read is O(touched base buckets + recent deltas), not O(table
    bytes): the scan cost per batch stays flat as table state grows.  In "replace_set" mode the whole
    row-set of the latest __v per set key wins (D6 interval tables,
    where a new message for a visit replaces ALL of that visit's
    interval rows, including removals).
  * read_audit()                — append-only union of __rk>1 rows.
  * compaction every `compact_every` commits folds live files into one
    base so the read plan stays O(base + compact_every x batch).

At cluster scale the same layout maps 1:1 onto Delta Lake (delta bucket
dirs = AddFiles with partition values, manifest = _delta_log + file
stats, compaction = OPTIMIZE, bucket pruning = partition pruning off the
log); swapping the backend is a constructor change, which is the point
of the interface.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import (
    StructField,
    StructType,
    _parse_datatype_json_string,
)

META_RK = "__rk"
META_V = "__v"
META_KB = "__kb"


def _to_ranges(ids) -> list[list[int]]:
    """Collapse a collection of batch ids into sorted inclusive [lo, hi]
    ranges. Dense micro-batch streams (ids 0..N) collapse to ONE range,
    so the manifest's compacted-batch bookkeeping stays O(#gaps), not
    O(#batches) — a manifest rewritten on every commit must not grow
    with the stream's lifetime (r10, VERDICT r9 #6)."""
    out: list[list[int]] = []
    for i in sorted(set(int(x) for x in ids)):
        if out and i <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], i)
        else:
            out.append([i, i])
    return out


def _ranges_contain(ranges, x: int) -> bool:
    return any(lo <= x <= hi for lo, hi in ranges)


def _ranges_merge(ranges, ids) -> list[list[int]]:
    """Fold new ids into existing ranges (kept sorted + coalesced)."""
    out = [list(r) for r in ranges] + [[int(i), int(i)] for i in ids]
    out.sort()
    merged: list[list[int]] = []
    for r in out:
        if merged and r[0] <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], r[1])
        else:
            merged.append(r)
    return merged


class DeltaLog:
    """One logical table backed by bucketed delta files + a JSON
    transaction log."""

    def __init__(
        self,
        root: str,
        name: str,
        key: list[str],
        compact_every: int = 8,
        replace_set: bool = False,
        n_buckets: int = 16,
        n_delta_files: int = 16,
    ) -> None:
        self.root = os.path.join(root, "tables", name)
        self.name = name
        self.key = key
        self.compact_every = compact_every
        self.replace_set = replace_set
        # n_buckets is a TABLE property: fixed at creation, recorded in
        # the manifest, and read back for existing tables (a mixed
        # layout would break bucket pruning). 0 = unbucketed legacy.
        self.n_buckets = n_buckets
        self.n_delta_files = n_delta_files
        self.spark: SparkSession | None = None
        self._manifest: dict | None = None

    # -- transaction log ---------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def load(self, spark: SparkSession) -> None:
        self.spark = spark
        if self._manifest is not None:
            return
        p = self._manifest_path()
        if os.path.isfile(p):
            with open(p) as fh:
                man = json.load(fh)
            if man.get("delta_paths"):
                # the retired fused multi-table commit registered deltas
                # under a shared _fused/ dir; this build reads only
                # delta/batch=N, so serving the log would make has_batch
                # report batches whose rows every read silently misses
                raise RuntimeError(
                    f"{p}: manifest uses the retired fused-commit format "
                    f"(delta_paths for batches {sorted(man['delta_paths'])}); "
                    f"this engine reads only per-table deltas — rebuild the "
                    f"table by replaying its batches, or compact it with the "
                    f"build that wrote it"
                )
            self._manifest = man
            self.n_buckets = self._manifest.get("n_buckets", 0)
            # upgrade guard (ADVICE r9): a manifest written before type
            # tracking may hold live files whose physical types were
            # never observed by _merge_types — the explicit-schema fast
            # path is only sound once every live file was committed with
            # tracking active. An existing manifest without the flag
            # stays on the mergeSchema fallback until one compaction
            # folds the unobserved files away (_compact re-derives the
            # flag from the folded base it just wrote).
            self._manifest.setdefault("types_full", False)
            # legacy manifests stored compacted batch ids as a FLAT list
            # (O(batches) manifest growth + O(n) has_batch); normalize to
            # inclusive [lo, hi] ranges on load
            comp = self._manifest.get("compacted")
            if comp and not isinstance(comp[0], list):
                self._manifest["compacted"] = _to_ranges(comp)
        else:
            self._manifest = {
                "base": None,
                "deltas": [],
                "n_commits": 0,
                "n_buckets": self.n_buckets,
                "buckets": {},
                # fresh table: every file it will ever hold is committed
                # through _merge_types, so explicit-schema reads are safe
                "types_full": True,
            }

    def _write_manifest(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._manifest, fh)
        os.replace(tmp, self._manifest_path())

    def has_batch(self, batch_id: int) -> bool:
        return batch_id in self._manifest["deltas"] or (
            self._manifest["base"] is not None
            and batch_id <= self._manifest["base"]
            and _ranges_contain(self._manifest.get("compacted", []), batch_id)
        )

    # -- bucketing ---------------------------------------------------------
    def bucket_expr(self) -> Column:
        """Deterministic key -> bucket id (crc32 of the concatenated key
        cast to string, mod n_buckets)."""
        raw = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in self.key])
        return (F.crc32(raw.cast("binary")) % self.n_buckets).cast("int")

    def bucket_of(self, values: list) -> int:
        """Python mirror of bucket_expr for driver-side pruning: callers
        that already hold the touched key values (e.g. the pipeline's
        capped key collect) compute bucket ids without a Spark job.
        zlib.crc32 is the same CRC-32 Spark's crc32() computes, and
        concat_ws skips nulls — pinned by test_delta_bucketing.

        Values are rendered the way Spark's cast-to-string renders them
        (booleans as 'true'/'false', floats via repr which matches JVM
        Double.toString for round-trippable values); key columns beyond
        string/int/bool are rejected rather than silently pruning to the
        wrong bucket (ADVICE r4)."""
        import zlib

        def _spark_str(v) -> str:
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (str, int)):
                return str(v)
            raise TypeError(
                f"bucket_of supports string/int/bool key values only, got "
                f"{type(v).__name__}: Python str() diverges from Spark's "
                f"cast-to-string for this type (use string keys or extend "
                f"_spark_str with the exact JVM rendering)"
            )

        raw = "\x1f".join(_spark_str(v) for v in values if v is not None)
        return zlib.crc32(raw.encode("utf-8")) % self.n_buckets

    def _file_buckets(self, path: str) -> list[int]:
        """Bucket ids present under a written delta/base dir — a driver
        metadata listing (one LIST call on an object store), no Spark
        action."""
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith(f"{META_KB}=")
        )

    # -- paths -------------------------------------------------------------
    def _delta_path(self, batch_id: int) -> str:
        return os.path.join(self.root, f"delta/batch={batch_id}")

    def _base_path(self, v: int) -> str:
        return os.path.join(self.root, f"base/v={v}")

    def _live_paths(self, buckets: list[int] | None = None) -> list[str]:
        """Live file paths, pruned to `buckets` when given (bucketed
        tables record each file's bucket ids in the manifest, so pruning
        is a pure log lookup — no filesystem listing, no data read)."""
        roots: list[tuple[str, str]] = []
        if self._manifest["base"] is not None:
            roots.append((f"base:{self._manifest['base']}", self._base_path(self._manifest["base"])))
        roots.extend(
            (str(b), self._delta_path(b)) for b in self._manifest["deltas"]
        )
        if not self.n_buckets:
            return [p for _, p in roots]
        # bucketed tables always enumerate LEAF bucket dirs (never the
        # batch roots): the scan then has no partition-style subdirs to
        # discover, so no __kb column leaks into the schema and multiple
        # batches' files read together without a basePath
        want = None if buckets is None else set(buckets)
        paths = []
        for tag, p in roots:
            have = self._manifest.get("buckets", {}).get(tag)
            if have is None:  # pre-bucketing file: cannot prune it
                paths.append(p)
                continue
            sel = have if want is None else [b for b in have if b in want]
            paths.extend(os.path.join(p, f"{META_KB}={b}") for b in sel)
        return paths

    # -- reads -------------------------------------------------------------
    def _read_live(self, buckets: list[int] | None = None) -> DataFrame | None:
        paths = self._live_paths(buckets)
        if not paths:
            return None
        # explicit-schema fast path: the manifest records each column's
        # exact written dataType (commit/_register), so the read needs no
        # footer inference — spark.read with mergeSchema ran a small
        # footer-merge JOB plus driver-side schema resolution per table
        # per batch (~35-40 ms stage + ~60-100 ms driver on the profiled
        # 20k ADT batch, x3 tables), pure fixed cost on the ingest path.
        # Files missing a column (written before a schema-evolution
        # append) yield nulls, exactly as mergeSchema did. Manifests
        # without full types (pre-type tables, a tombstoned conflict)
        # fall through to the mergeSchema read.
        cols = self._manifest.get("columns")
        types = self._manifest.get("types") or {}
        if cols and self._manifest.get("types_full"):
            want = list(cols) + [c for c in (META_V,) if c not in cols]
            if all(types.get(c) for c in want):
                st = StructType(
                    [
                        StructField(c, _parse_datatype_json_string(types[c]), True)
                        for c in want
                    ]
                )
                # the trailing select keeps the surface exactly the table
                # schema even if partition discovery appends a column
                # (pre-bucketing batch roots)
                return self.spark.read.schema(st).parquet(*paths).select(*want)
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        # project back to the manifest's column list so the fallback's
        # surface is the fast path's: a manifest column absent from every
        # live file is null-filled with its recorded type, so a tombstone
        # or a pre-type manifest never changes read_current's schema
        # (ADVICE r9). Only a column that is both absent from all files
        # AND untyped (legacy manifest) is dropped — its type is
        # unknowable.
        if cols:
            sel = [
                F.col(c)
                if c in df.columns
                else F.lit(None)
                .cast(_parse_datatype_json_string(types[c]))
                .alias(c)
                for c in cols
                if c in df.columns or types.get(c)
            ]
            if META_V in df.columns and META_V not in cols:
                sel.append(F.col(META_V))
            df = df.select(*sel)
        return df

    def read_current(
        self,
        keys: DataFrame | None = None,
        buckets: list[int] | None = None,
        widen: int | None = None,
    ) -> DataFrame | None:
        """Latest committed version per key (tombstones included — the
        merge engine needs them; readers filter).

        keys: optional frame of key values to restrict to. Two-level
        restriction: (1) the SCAN is pruned to the buckets the keys hash
        into (explicit bucket-file enumeration off the manifest — one
        tiny collect on the broadcast-size key frame learns the ids), so
        untouched buckets cost zero bytes; (2) within the scanned
        buckets, a broadcast semi-join BELOW the latest-per-key window
        drops other keys' rows before the shuffle (a key-filtered set
        has the same per-key latest rows; filtering after read_current()
        would shuffle the WHOLE table every batch).

        buckets: optional precomputed touched-bucket ids (bucket_of) —
        skips the collect when the caller already knows them.

        widen: pin the latest-per-key window's parallelism to this many
        partitions via a USER repartition on the key (exempt from AQE
        coalescing). Without it, the window's ENSURE_REQUIREMENTS
        exchange is bytes-based-coalesced to a handful of tasks — fine
        for plain reads, but when compute-heavy work sits downstream of
        this frame in the SAME stage (the merge fold's seed explode,
        §8a0 #7), those few tasks serialize it. Callers that feed the
        result into per-row-expensive plans pass their target
        parallelism; plain readers leave it None and let AQE coalesce."""
        if (
            keys is not None
            and self.n_buckets
            and buckets is None
            and self._manifest["base"] is not None
        ):
            # learn the touched bucket ids with one tiny job (<=
            # n_buckets distinct ints come back, never the keys) — only
            # when a bucketed base exists, i.e. exactly when pruning can
            # pay; a young table's files are all O(touched) deltas and
            # reading them costs less than the extra job would
            buckets = sorted(
                r[0]
                for r in keys.select(self.bucket_expr().alias(META_KB))
                .distinct()
                .collect()
            )
        live = self._read_live(buckets)
        if live is None:
            return None
        if keys is not None:
            live = live.join(F.broadcast(keys), self.key, "left_semi")
        if widen:
            live = live.repartition(widen, *[F.col(k) for k in self.key])
        if self.replace_set:
            # newest batch that touched the set key owns its whole row-set.
            # __rk=0 marker rows advance the set's version WITHOUT adding
            # content — they are how a batch replaces a set with the EMPTY
            # set (e.g. a cancel voiding every interval of a visit).
            wmax = W.partitionBy(*self.key)
            return (
                live.withColumn("__vmax", F.max(META_V).over(wmax))
                .filter((F.col(META_V) == F.col("__vmax")) & (F.col(META_RK) == 1))
                .drop("__vmax", META_V, META_RK, "valid_until", "stored_until")
            )
        w = W.partitionBy(*self.key).orderBy(F.col(META_V).desc())
        return (
            live.filter(F.col(META_RK) == 1)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", META_V, META_RK, "valid_until", "stored_until")
        )

    def read_audit(self) -> DataFrame | None:
        live = self._read_live()
        if live is None:
            return None
        aud = live.filter(F.col(META_RK) > 1).drop(META_V, META_RK)
        # per-field last-write markers / provenance flags are
        # current-frame merge metadata, not part of the audit surface
        return aud.drop(*[c for c in aud.columns if c.startswith("__")])

    # -- writes ------------------------------------------------------------
    def _write_bucketed(self, df: DataFrame, path: str) -> None:
        """Write a frame hash-bucketed by key: one shuffle of the frame
        (O(touched rows)) so each bucket lands in a single task — at
        most one file per touched bucket, never tasks x buckets files."""
        out = df.withColumn(META_KB, self.bucket_expr())
        (
            out.repartition(self.n_buckets, F.col(META_KB))
            .write.mode("overwrite")
            .partitionBy(META_KB)
            .parquet(path)
        )

    def commit(
        self, batch_id: int, combined: DataFrame, n_parts: int | None = None
    ) -> int:
        """Write the batch's row versions and commit them to the log;
        returns the number of Spark actions spent (1, +1 when this
        commit triggered a compaction).

        ``combined`` must carry __rk (1 = new current version for its
        key, >1 = superseded/audit version) plus valid_until /
        stored_until columns (null on current rows). Write cost is
        O(rows in combined) = O(keys touched by the batch).

        n_parts: the caller-declared partition count of ``combined``
        (the merge fold's parallelism). Deltas are written UNBUCKETED
        (O(touched keys) small by construction; only the BASE is
        bucketed, at compaction). When the fold's own partitioning is
        already within the small-file bound, the write rides the fold's
        final stage DIRECTLY — no exchange, one fewer AQE stage wave
        per table per batch, and the parquet encode keeps the fold's
        parallelism (r6 measured 4 serialized tasks costing ~1.7 s of
        encode on a 100k batch — the fold's 32 tasks encode in
        parallel). Only a cluster-scale fold (n_parts beyond the
        bound, or undeclared) re-narrows to n_delta_files so a
        100M-row batch doesn't commit thousands of files; compaction
        folds them away periodically either way."""
        if self.has_batch(batch_id):
            return 0
        path = self._delta_path(batch_id)
        versioned = combined.withColumn(META_V, F.lit(batch_id).cast("long"))
        skip_exchange = n_parts is not None and n_parts <= 4 * self.n_delta_files
        if not skip_exchange:
            versioned = versioned.repartition(self.n_delta_files)
        versioned.write.mode("overwrite").parquet(path)
        actions = 1
        if skip_exchange:
            # the exchange-skip trusted the CALLER-DECLARED fold
            # parallelism; verify against what actually landed (one
            # driver-side listing, no Spark job) and re-narrow if a
            # re-planned final stage (AQE, a stale n_parts) emitted more
            # files than the bound — a stale declaration can then never
            # leak unbounded small files into the log
            n_files = sum(
                1
                for f in os.listdir(path)
                if f.startswith("part-") and not f.endswith(".crc")
            )
            if n_files > 4 * self.n_delta_files:
                tmp = path + ".__narrow"
                (
                    combined.sparkSession.read.parquet(path)
                    .repartition(self.n_delta_files)
                    .write.mode("overwrite")
                    .parquet(tmp)
                )
                shutil.rmtree(path)
                os.replace(tmp, path)
                actions += 1
        self._merge_types(versioned.schema)
        return actions + self._register(batch_id, combined.columns)

    def _merge_types(self, schema: StructType) -> None:
        """Record each written column's exact dataType in the manifest so
        _read_live can skip footer-merge schema inference. A column whose
        type ever CONFLICTS with a previously recorded one is tombstoned
        (null) — live files then disagree on that column, so reads fall
        back to the mergeSchema path rather than risk a wrong explicit
        schema."""
        types = self._manifest.setdefault("types", {})
        for f in schema.fields:
            if f.name == META_KB:
                continue
            tj = f.dataType.json()
            if f.name not in types:
                types[f.name] = tj
            elif types[f.name] is not None and types[f.name] != tj:
                types[f.name] = None

    def _register(self, batch_id: int, columns: list[str]) -> int:
        """Append a written delta to the log (atomic manifest rename) and
        compact when due. Also records the table's column list — new
        columns append (schema evolution) — which the mergeSchema
        fallback read projects back to."""
        cols = self._manifest.get("columns") or []
        cols = cols + [c for c in columns if c not in cols]
        self._manifest["columns"] = cols
        self._manifest["deltas"].append(batch_id)
        self._manifest["n_commits"] += 1
        self._write_manifest()
        if len(self._manifest["deltas"]) >= self.compact_every:
            self._compact()
            return 1
        return 0

    def _compact(self) -> None:
        """Fold live files into one base (current + all audit rows) so
        the read plan stays bounded. Old files are removed only after
        the manifest rename — readers never see a partial state."""
        v = max(self._manifest["deltas"])
        cur = self.read_current().select(
            "*",
            F.lit(None).cast("timestamp_ntz").alias("valid_until"),
            F.lit(None).cast("timestamp_ntz").alias("stored_until"),
            F.lit(1).alias(META_RK),
        )
        aud = self.read_audit().withColumn(META_RK, F.lit(2))
        old_paths = self._live_paths()
        folded = cur.unionByName(aud, allowMissingColumns=True).withColumn(
            META_V, F.lit(v).cast("long")
        )
        base = self._base_path(v)
        buckets_entry = None
        if self.n_buckets:
            self._write_bucketed(folded, base)
            buckets_entry = self._file_buckets(base)
        else:
            folded.write.mode("overwrite").parquet(base)
        compacted = _ranges_merge(
            self._manifest.get("compacted", []), self._manifest["deltas"]
        )
        self._manifest = {
            "base": v,
            "deltas": [],
            "n_commits": self._manifest["n_commits"],
            "compacted": compacted,
            "n_buckets": self.n_buckets,
            "buckets": {} if buckets_entry is None else {f"base:{v}": buckets_entry},
            # the base was written through the pruned read surface, so
            # from here the table's files carry exactly these columns
            "columns": self._manifest.get("columns"),
            # types are rebuilt FRESH from the folded base's schema
            # (ADVICE r9): the conflicting/unobserved files that caused a
            # tombstone or the types_full=False upgrade guard are deleted
            # below, so after compaction the base is the only live file
            # and its just-written schema fully describes the table — the
            # explicit-schema fast path is restored instead of paying the
            # mergeSchema fallback forever after one historical conflict.
            "types": {},
            "types_full": True,
        }
        self._merge_types(folded.schema)
        self._write_manifest()
        for p in old_paths:
            if p != base:
                shutil.rmtree(p, ignore_errors=True)


class SnapshotStore:
    """The round-2 backend, kept behind the same interface: full current
    snapshot per batch + append-only audit dirs. Correct and
    restart-safe, but O(table) write per batch — superseded by DeltaLog
    for the scale path; retained so the durability tests can assert both
    backends agree."""

    def __init__(self, root: str, name: str, key: list[str]) -> None:
        self.root = os.path.join(root, "tables", name)
        self.name = name
        self.key = key
        self.spark: SparkSession | None = None
        self._manifest: dict | None = None

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def load(self, spark: SparkSession) -> None:
        self.spark = spark
        if self._manifest is not None:
            return
        p = self._manifest_path()
        if os.path.isfile(p):
            with open(p) as fh:
                self._manifest = json.load(fh)
        else:
            self._manifest = {"latest": None, "applied": []}

    def has_batch(self, batch_id: int) -> bool:
        return batch_id in self._manifest["applied"]

    def read_current(self) -> DataFrame | None:
        if self._manifest["latest"] is None:
            return None
        return self.spark.read.parquet(
            os.path.join(self.root, f"current/batch={self._manifest['latest']}")
        )

    def read_audit(self) -> DataFrame | None:
        audit_root = os.path.join(self.root, "audit")
        if not os.path.isdir(audit_root):
            return None
        return self.spark.read.parquet(audit_root).drop("batch")

    def commit(self, batch_id: int, combined: DataFrame) -> int:
        if self.has_batch(batch_id):
            return 0
        from emap_spark.operators.merge import split_combined

        prev = self._manifest["latest"]
        # one fold materialization (stage), then two cheap file-to-file
        # splits — this backend's O(table) cost is the SNAPSHOT rewrite,
        # not a double fold
        stage = os.path.join(self.root, f"stage/batch={batch_id}")
        combined.write.mode("overwrite").parquet(stage)
        cur, aud = split_combined(self.spark.read.parquet(stage))
        cur_path = os.path.join(self.root, f"current/batch={batch_id}")
        cur.write.mode("overwrite").parquet(cur_path)
        aud.write.mode("overwrite").parquet(
            os.path.join(self.root, f"audit/batch={batch_id}")
        )
        self._manifest["applied"].append(batch_id)
        self._manifest["latest"] = batch_id
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._manifest, fh)
        os.replace(tmp, self._manifest_path())
        cur_root = os.path.join(self.root, "current")
        for d in os.listdir(cur_root):
            bid = int(d.split("=", 1)[1])
            if bid not in (batch_id, prev):
                shutil.rmtree(os.path.join(cur_root, d), ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "stage"), ignore_errors=True)
        return 3
