"""Mini lakehouse table format — snapshots, MERGE, time travel.

The missing storage half of the engine (VERDICT r4 #5 / r5 next #1):
q_upsert/q_scd2_build (operators/cdc.py) implement MERGE *logic*
relationally, and sources/custom.py's two-phase manifest commit gives
a sink job-level atomicity — but nothing persisted an ACID *table*.
This module is that table format, shaped like a public
Iceberg/Delta-class design reduced to its load-bearing core:

Layout (one directory per table)::

    <path>/data/<commit-uuid>/_bucket=<b>/part-*.parquet   immutable
    <path>/_snapshots/v<NNNNNNNN>.json                     manifests
    <path>/_snapshots/CURRENT                              version ptr

- **Snapshot manifest** = the complete table state: a map
  ``bucket -> [data dirs]`` plus schema DDL, row count, parent version
  and the operation that produced it.  Readers NEVER list the data
  directory; they read exactly the files a manifest names, so a
  reader holding snapshot N is isolated from every later commit
  (data files are immutable — nothing it references is ever mutated).
- **Atomic commit** = exclusive create (``open(..., 'x')``) of the
  next manifest: two writers racing from the same parent can both
  write data files, but only one creates ``v<N+1>.json`` — the loser
  gets :class:`CommitConflict` (optimistic concurrency, the
  Iceberg/Delta protocol).  The ``CURRENT`` pointer is a convenience
  cache updated by tmp-write + ``os.replace`` and verified against
  the manifest listing, so a torn pointer can never corrupt state.
- **MERGE (copy-on-write, bucket-pruned)**: rows are hash-bucketed on
  the merge key at write time (``key % num_buckets``, stored as a
  partition directory, derivable — never a data column).  A MERGE
  rewrites ONLY the buckets that contain source keys and carries
  every untouched bucket's data dirs forward by reference.  This is
  the property that survives 100 TB: rewrite amplification is
  |touched buckets| / num_buckets of the table, not the whole table,
  and the touched-bucket read is file-pruned at planning time (the
  manifest, not a scan, decides what to open).  Deletes ride the same
  path: a source row marked in ``delete_col`` removes its target row
  (matched) or is ignored (unmatched).
- **Time travel** = read any retained manifest by version number.
- **DELETE, merge-on-read or copy-on-write** (``delete_keys``):
  merge-on-read writes per-bucket deletion-vector files (just the
  deleted keys, each recording the data dirs it covers) and leaves
  every data file in place — O(|deleted|) commit IO at any table
  size; readers fold vectors in via a broadcast anti-join, and
  ``optimize`` purges them on its compaction cadence.

- **Zone maps / data skipping** (``stats_cols`` at create): every
  commit stores per-data-dir [min, max] of the chosen columns in the
  manifest; :meth:`LakeTable.read_range` prunes whole dirs by pure
  manifest arithmetic before any file is opened.  Pays off across
  COMMITS (time-ordered ingest gives each append's files a narrow
  range of the ingest-correlated column), exactly like
  Delta/Iceberg file stats.

- **Key bloom sidecars** (``key_blooms`` at create): each commit
  writes one parquet sidecar of per-dir bloom filters over the merge
  key (Iceberg-puffin shape — index artifacts next to the data, the
  manifest references them); :meth:`LakeTable.read_keys` then opens
  only the dirs that MAY contain each key, pruning point lookups
  within a bucket across ingest commits (a bucket accumulates one dir
  per append — blooms cut that back to ~1 open per key).

- **Cross-table transactions** (:class:`LakeCatalog`): a catalog
  snapshot pins {table: version} and is published with the same
  atomic+exclusive protocol; a :class:`CatalogTransaction` applies
  several tables' commits then flips ONE catalog snapshot, so
  catalog-resolved readers can never observe a half-applied
  transaction.

What a production format adds on top of this core — manifest
compaction — layers onto exactly these primitives without changing
them.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_BUCKET = "_bucket"
DEFAULT_BUCKETS = 16
# key bloom sidecars: ~10 bits/key, 4 probes from ONE md5 digest (the
# 32-bit-chunk family), words pack 63 bits (sign bit never touched —
# the portable-bitmap rule, CLAUDE.md)
_BLOOM_BITS_PER_KEY = 10
_BLOOM_SEED = "blm:"


class CommitConflict(Exception):
    """Another writer committed the same version first (optimistic
    concurrency loss) — re-read the table and retry the merge."""


def _bucket_expr(df: DataFrame, key: str, num_buckets: int):
    """Bucket assignment for ``key``: integral keys bucket on the value
    itself (deterministic, human-auditable); anything else hashes
    first.  The bucket function only shapes LAYOUT — results never
    depend on it — so the integral fast path is safe to keep stable.

    NULL keys are REJECTED at evaluation time (ADVICE r6): pmod(NULL)
    is NULL, which would silently route rows to the
    ``__HIVE_DEFAULT_PARTITION__`` dir while the probe side collects
    ``str(None)`` — rows MERGE/DELETE/read_keys could never match yet
    full reads still return.  assert_true costs nothing in codegen and
    guards every write AND probe path through one definition."""
    dtype = dict(df.dtypes)[key]
    col = (
        F.col(key)
        if dtype in ("tinyint", "smallint", "int", "bigint")
        else F.xxhash64(F.col(key))
    )
    guard = F.assert_true(
        F.col(key).isNotNull(),
        F.lit(
            f"NULL merge key in column {key!r}: lakehouse tables "
            "require non-null keys (NULL cannot be bucketed or matched)"
        ),
    )
    return F.when(guard.isNull(), F.pmod(col, F.lit(num_buckets)))


def _widen_ddl(spark: SparkSession, old_ddl: str, new_ddl: str) -> str:
    """Schema evolution rule: keep every existing column (order and
    type pinned), append columns the new data adds.  A type CHANGE on
    an existing column raises — silent type drift corrupts every old
    file's read, and real formats reject it too."""
    old = spark.createDataFrame([], old_ddl).schema
    new = spark.createDataFrame([], new_ddl).schema
    old_types = {f.name: f.dataType.simpleString() for f in old.fields}
    out = [f"{f.name} {f.dataType.simpleString()}" for f in old.fields]
    for f in new.fields:
        t = f.dataType.simpleString()
        if f.name in old_types:
            if old_types[f.name] != t:
                raise ValueError(
                    f"type change on column {f.name!r}: "
                    f"{old_types[f.name]} -> {t} (not supported)"
                )
        else:
            out.append(f"{f.name} {t}")
    return ", ".join(out)


class LakeTable:
    """Handle on a lakehouse table directory (cheap; no Spark state)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.snap_dir = os.path.join(path, _SNAP_DIR)

    # ---------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.snap_dir, f"v{version:08d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        out = []
        for name in os.listdir(self.snap_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _parses(self, version: int) -> bool:
        """True iff the manifest file for ``version`` is valid JSON.
        The tmp+hard-link commit protocol (:meth:`_commit`) cannot
        publish a torn manifest, but tables written by the pre-fix
        in-place ``json.dump`` protocol (ADVICE r6) — or any garbage a
        foreign process drops into ``_snapshots/`` — must read as
        *uncommitted*, not brick the table."""
        try:
            with open(self._manifest_path(version)) as fh:
                json.load(fh)
            return True
        except (OSError, json.JSONDecodeError):
            return False

    def current_version(self) -> int:
        """Latest committed (= parseable) version.  The CURRENT pointer
        is only a cache: the manifest listing is authoritative, so a
        stale or torn pointer (crash between manifest create and
        pointer swap) is self-healing.  An unparseable newest manifest
        is treated as uncommitted garbage and skipped (see
        :meth:`_parses`)."""
        vs = self.versions()
        for v in reversed(vs):
            if self._parses(v):
                return v
        if not vs:
            raise FileNotFoundError(f"no lakehouse table at {self.path}")
        raise FileNotFoundError(
            f"no committed (parseable) snapshot at {self.path} "
            f"({len(vs)} torn manifest(s) present)"
        )

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(self._manifest_path(v)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All retained snapshots, oldest first (operation, rows,
        parent).  Torn manifests are skipped, not fatal."""
        return [
            {k: m[k] for k in ("version", "parent", "operation", "total_rows")}
            for m in (
                self.manifest(v) for v in self.versions() if self._parses(v)
            )
        ]

    def _commit(self, manifest: dict) -> None:
        """Publish a manifest atomically AND exclusively.

        The manifest is fully serialized (and fsynced) to a tmp file
        first, then published with one ``os.link(tmp, target)`` — a
        hard link either appears complete or not at all, so a crash or
        ENOSPC mid-serialization can never leave a truncated
        ``v<N>.json`` that :meth:`current_version` would select (ADVICE
        r6: the old exclusive-create-then-dump wrote in place and a
        torn dump bricked the table).  ``link`` keeps exclusivity: it
        fails with FileExistsError if the target exists, so exactly one
        of two racing writers publishes a given version.  If the
        existing target is itself unparseable garbage (pre-fix torn
        manifest), it is uncommitted by definition and this writer
        repairs it via ``os.replace`` — complete-over-torn, never
        complete-over-complete."""
        version = manifest["version"]
        os.makedirs(self.snap_dir, exist_ok=True)
        target = self._manifest_path(version)
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            if self._parses(version):
                os.unlink(tmp)
                raise CommitConflict(
                    f"version {version} of {self.path} was committed concurrently"
                ) from None
            # torn leftover from the pre-fix protocol: uncommitted
            # garbage — replace it with this complete manifest
            os.replace(tmp, target)
        else:
            os.unlink(tmp)
        cur = os.path.join(self.snap_dir, "CURRENT")
        ctmp = cur + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(ctmp, "w") as fh:
            fh.write(str(version))
        os.replace(ctmp, cur)

    # -------------------------------------------------------------- write

    @staticmethod
    def _stat_val(v):
        """JSON-serializable, ORDER-PRESERVING encoding of a stats
        value: datetimes/dates become ``YYYY-MM-DD[ HH:MM:SS]`` strings
        (lexicographic == chronological), numbers and strings pass
        through.  Used identically at write (store) and read (probe)
        time so comparisons happen in one domain."""
        import datetime

        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    def _dir_stats(
        self,
        spark: SparkSession,
        commit_dir: str,
        buckets: dict[str, list[str]],
        stats_cols: list[str],
    ) -> dict[str, dict]:
        """Zone maps: per-data-dir [min, max] of each stats column,
        computed by ONE column-pruned scan of the freshly written
        files (never by re-running the producing plan — a MERGE's join
        would be computed twice).  ``commit_dir`` is partition-
        discovered, so one groupBy(_bucket) covers every new dir.

        This is the "column stats for file skipping" layer the module
        docstring names: stats ride the manifest, so a reader plans
        dir pruning without opening ANY data file.  Pruning pays off
        across COMMITS — time-ordered ingest gives each append's dirs
        a narrow value range — not across hash buckets (each bucket
        spans the full key range by construction)."""
        if not stats_cols:
            return {}
        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
        rows = (
            spark.read.parquet(commit_dir)
            .groupBy(F.col(_BUCKET).cast("string").alias("b"))
            .agg(*aggs)
            .collect()
        )
        out: dict[str, dict] = {}
        for r in rows:
            if r.b not in buckets:
                continue
            out[buckets[r.b][0]] = {
                c: [self._stat_val(r[f"lo_{c}"]), self._stat_val(r[f"hi_{c}"])]
                for c in stats_cols
            }
        return out

    def _write_blooms(
        self,
        spark: SparkSession,
        commit_dir: str,
        buckets: dict[str, list[str]],
        key: str,
    ) -> dict[str, dict]:
        """Key bloom filters, one per fresh data dir, persisted as ONE
        sidecar parquet per commit (``<commit_dir>/_blooms`` —
        underscore-prefixed, so data scans ignore it; the
        Iceberg-puffin shape: index artifacts ride next to the data
        they describe, the manifest references them).

        Zone maps prune RANGE reads across commits; blooms prune POINT
        lookups within a bucket across commits — a key's bucket
        accumulates one dir per append, and without blooms read_keys
        must open all of them.  Four probe positions come from one md5
        digest's 32-bit chunks; per-dir bit capacity is sized from the
        dir's actual key count (~10 bits/key), so false-positive rate
        stays ~1-2% at any commit size.  Words pack 63 bits and are
        assembled with bit_or — a map-side-combinable aggregate: the
        sidecar build is one pass over the freshly written files.

        Returns {data_dir: {"path": sidecar, "m": bits}}."""
        if not buckets:
            return {}
        df = spark.read.parquet(commit_dir).select(
            F.col(_BUCKET).cast("string").alias("b"),
            F.col(key).cast("string").alias("k"),
        )
        counts = {
            r.b: r.n
            for r in df.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        m_map = {
            b: 63 * max(1, -(-n * _BLOOM_BITS_PER_KEY // 63))
            for b, n in counts.items()
        }
        mdf = spark.createDataFrame(
            [(b, m) for b, m in m_map.items()], "b string, m int"
        )
        dig = F.md5(F.concat(F.lit(_BLOOM_SEED), F.col("k")).cast("binary"))
        positions = F.array(
            *[
                F.pmod(
                    F.conv(F.substring(dig, 1 + 8 * j, 8), 16, 10).cast("long"),
                    F.col("m").cast("long"),
                )
                for j in range(4)
            ]
        )
        sidecar = os.path.join(commit_dir, "_blooms")
        (
            df.join(F.broadcast(mdf), "b")
            .select("b", F.explode(positions).alias("pos"))
            .select(
                "b",
                F.expr("pos div 63").alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
                ).alias("wbit"),
            )
            .groupBy("b", "word_idx")
            .agg(F.bit_or("wbit").alias("word"))
            .write.parquet(sidecar)
        )
        return {
            buckets[b][0]: {"path": sidecar, "bucket": b, "m": m_map[b]}
            for b in buckets
            if b in m_map
        }

    @staticmethod
    def _bloom_positions(k, m: int) -> list[int]:
        """Python twin of the sidecar build's hash positions: hashlib
        md5 over the same seeded string produces the same digest the
        engines compute, so membership checks are exact (false
        negatives impossible)."""
        import hashlib

        hexd = hashlib.md5((_BLOOM_SEED + str(k)).encode()).hexdigest()
        return [int(hexd[8 * j : 8 * j + 8], 16) % m for j in range(4)]

    def _bloom_allowed(
        self, spark: SparkSession, m: dict, wanted: set[str], keys: list
    ) -> set[str] | None:
        """Dirs (among the wanted buckets') that may contain ANY of the
        keys per their bloom sidecars; None when the table carries no
        blooms.  Dirs without a bloom entry are always allowed.  The
        sidecar reads are index-sized (words ∝ dir keys / 6.3), never
        data-sized."""
        blooms = m.get("blooms", {})
        if not blooms:
            return None
        candidates = {
            d: blooms[d]
            for b in wanted
            for d in m["buckets"].get(b, [])
            if d in blooms
        }
        if not candidates:
            return None
        words: dict[tuple[str, str], dict[int, int]] = {}
        for path in sorted({info["path"] for info in candidates.values()}):
            for r in spark.read.parquet(path).collect():
                words.setdefault((path, r.b), {})[r.word_idx] = r.word
        allowed: set[str] = set()
        for d, info in candidates.items():
            w = words.get((info["path"], info["bucket"]), {})
            for k in keys:
                if all(
                    w.get(p // 63, 0) & (1 << (p % 63))
                    for p in self._bloom_positions(k, info["m"])
                ):
                    allowed.add(d)
                    break
        return allowed

    def _carry_blooms(
        self,
        spark: SparkSession,
        m: dict,
        out_buckets: dict[str, list[str]],
        new_buckets: dict[str, list[str]],
        commit_dir: str | None,
    ) -> dict:
        """Bloom maintenance, same shape as :meth:`_carry_stats`."""
        if not m.get("key_blooms"):
            return {}
        live = {d for ps in out_buckets.values() for d in ps}
        out = {d: info for d, info in m.get("blooms", {}).items() if d in live}
        if commit_dir is not None and new_buckets:
            out.update(
                self._write_blooms(spark, commit_dir, new_buckets, m["key"])
            )
        return out

    def _write_data(
        self, spark: SparkSession, df: DataFrame, key: str, num_buckets: int
    ) -> tuple[dict[str, list[str]], str, str, int]:
        """Write ``df`` hash-bucketed on ``key`` into a fresh immutable
        commit dir; return (bucket -> [dir]), the logical schema DDL,
        the commit dir and the number of rows written.  The row count
        is summed from the parquet footers under the commit dir (the
        table lives on a local filesystem), so it runs no Spark job and
        does not execute ``df`` a second time.

        The bucket is a partition DIRECTORY, not a data column — it is
        derivable (pmod(key, B)) so storing it would be redundant; the
        per-bucket leaf dirs are what manifests reference and carry
        forward, which is what makes bucket-pruned copy-on-write and
        manifest-only planning possible."""
        schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        commit_dir = os.path.join(self.path, _DATA_DIR, uuid.uuid4().hex[:12])
        (
            df.withColumn(_BUCKET, _bucket_expr(df, key, num_buckets))
            .repartition(_BUCKET)  # one task per bucket: bounded small files
            .write.partitionBy(_BUCKET)
            .parquet(commit_dir)
        )
        buckets: dict[str, list[str]] = {}
        rows = 0
        for name in sorted(os.listdir(commit_dir)):
            if name.startswith(f"{_BUCKET}="):
                b = name.split("=", 1)[1]
                buckets[b] = [os.path.join(commit_dir, name)]
                rows += sum(
                    pq.read_metadata(os.path.join(buckets[b][0], f)).num_rows
                    for f in os.listdir(buckets[b][0])
                    if not f.startswith(("_", "."))
                )
        return buckets, schema_ddl, commit_dir, rows

    def create(
        self,
        spark: SparkSession,
        df: DataFrame,
        key: str,
        num_buckets: int = DEFAULT_BUCKETS,
        mode: str = "error",
        stats_cols: list[str] | None = None,
        key_blooms: bool = False,
    ) -> int:
        """Create the table as snapshot v1 (``mode='overwrite'`` drops
        any existing table directory first).  ``stats_cols`` opts the
        table into per-dir zone maps ([min, max] per column per data
        dir, stored in every manifest) — the file-skipping input of
        :meth:`read_range`; every later commit maintains them.
        ``key_blooms`` opts into per-dir key bloom sidecars
        (:meth:`_write_blooms`) that :meth:`read_keys` uses to prune
        point lookups to the dirs that may hold each key."""
        if key not in df.columns:
            raise ValueError(
                f"merge key {key!r} is not a column of the table data "
                f"(columns: {df.columns})"
            )
        for c in stats_cols or []:
            if c not in df.columns:
                raise ValueError(f"stats column {c!r} is not a table column")
        if os.path.isdir(self.snap_dir) and self.versions():
            if mode != "overwrite":
                raise FileExistsError(f"lakehouse table exists at {self.path}")
            shutil.rmtree(self.path)
        buckets, ddl, commit_dir, total = self._write_data(spark, df, key, num_buckets)
        self._commit(
            {
                "version": 1,
                "parent": None,
                "operation": "create",
                "key": key,
                "num_buckets": num_buckets,
                "schema": ddl,
                "buckets": buckets,
                "deletes": {},
                "total_rows": total,
                "stats_cols": stats_cols or [],
                "stats": self._dir_stats(spark, commit_dir, buckets, stats_cols or []),
                "key_blooms": key_blooms,
                "blooms": (
                    self._write_blooms(spark, commit_dir, buckets, key)
                    if key_blooms
                    else {}
                ),
            }
        )
        return 1

    # --------------------------------------------------------------- read

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a snapshot (default: latest).  Planning is manifest-only
        — exactly the files snapshot ``version`` named, with the
        manifest's schema pinned (no listing, no inference), so the
        returned DataFrame is isolated from all later commits."""
        m = self.manifest(version)
        return self._read_buckets(spark, m, set(m["buckets"]))

    def read_keys(
        self, spark: SparkSession, keys: list, version: int | None = None
    ) -> DataFrame:
        """Point-lookup read: open ONLY the buckets the given keys hash
        to (the writer's own bucket function), then filter exactly.  A
        |keys|-point lookup touches at most |keys| of num_buckets
        bucket dirs — the manifest plans the scan, not a listing — so
        at 100 TB a single-key fetch reads ~1/num_buckets of the table
        in the worst case instead of all of it (plus parquet row-group
        skipping under the pushed IN-filter inside each bucket).

        The bucket probe runs no Spark job: the keys go in as a pandas
        frame, which Arrow turns into a LocalRelation, so the optimizer
        folds the bucket projection and the collect reads the result
        off the plan.  An object column carries the keys as given (no
        float round trip for large ints).  A session with Arrow off
        still gets the right buckets, through one small job."""
        import pandas as pd

        m = self.manifest(version)
        kdf = spark.createDataFrame(
            pd.DataFrame({m["key"]: pd.Series(list(keys), dtype=object)}),
            f"{m['key']} {self._key_type(spark, m)}",
        )
        wanted = {
            str(r.b)
            for r in kdf.select(
                _bucket_expr(kdf, m["key"], m["num_buckets"]).alias("b")
            )
            .collect()
        }
        wanted &= set(m["buckets"])
        if not wanted:
            return spark.createDataFrame([], m["schema"])
        allowed = self._bloom_allowed(spark, m, wanted, keys)
        blooms = m.get("blooms", {})
        dir_keep = (
            None
            if allowed is None
            else (lambda d: d not in blooms or d in allowed)
        )
        return self._read_buckets(spark, m, wanted, dir_keep).where(
            F.col(m["key"]).isin(list(keys))
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        preimage: bool = False,
    ) -> DataFrame:
        """Change data feed between two snapshots: every row classified
        ``added`` / ``removed`` / ``changed`` (value columns carry the
        NEW side for added/changed, the OLD side for removed).  With
        ``preimage=True`` each changed key emits TWO rows — a
        ``changed_from`` row carrying the OLD values followed by the
        ``changed`` row with the new ones (the Delta CDF
        update_preimage/update_postimage shape) — which is what lets a
        consumer maintain aggregates or indexes by pure +/- deltas
        without ever re-reading the base table.

        Copy-on-write makes this bucket-pruned for free: a bucket whose
        dir list is IDENTICAL in both manifests cannot contain changes
        (its files are the same immutable objects), so the diff reads
        only buckets whose references differ — CDC-slice-sized IO, not
        table-sized.  Within those buckets a full-outer join on the key
        with null-safe column comparison separates real changes from
        rewritten-but-identical rows; the per-row output variants are
        built as an array and exploded inside the SAME plan, so the
        join is computed once (a union of two selects would compute it
        twice — no automatic CTE materialization in Spark).  Columns
        are compared on the intersection of the two snapshots' schemas
        (schema evolution: a column added after ``from_version``
        doesn't mark every row changed)."""
        m1 = self.manifest(from_version)
        m2 = self.manifest(to_version)
        key = m2["key"]
        d1, d2 = m1.get("deletes", {}), m2.get("deletes", {})
        changed_buckets = {
            b
            for b in set(m1["buckets"]) | set(m2["buckets"])
            if m1["buckets"].get(b) != m2["buckets"].get(b)
            or d1.get(b, []) != d2.get(b, [])  # MOR delete = change, same files
        }
        old = self._read_buckets(spark, m1, changed_buckets & set(m1["buckets"]))
        new = self._read_buckets(spark, m2, changed_buckets & set(m2["buckets"]))
        common = [c for c in new.columns if c in old.columns and c != key]
        o = old.select(
            key, *[F.col(c).alias(f"_o_{c}") for c in common]
        ).withColumn("_in_old", F.lit(True))
        n = new.select(
            key, *[F.col(c).alias(f"_n_{c}") for c in common]
        ).withColumn("_in_new", F.lit(True))
        j = o.join(n, key, "full_outer")
        in_old = F.coalesce("_in_old", F.lit(False))
        in_new = F.coalesce("_in_new", F.lit(False))
        differs = F.lit(False)
        for c in common:
            differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

        def _variant(tag: str, side: str):
            return F.struct(
                F.lit(tag).alias("change_type"),
                *[F.col(f"_{side}_{c}").alias(c) for c in common],
            )

        changed_rows = (
            F.array(_variant("changed_from", "o"), _variant("changed", "n"))
            if preimage
            else F.array(_variant("changed", "n"))
        )
        rows = (
            F.when(in_new & ~in_old, F.array(_variant("added", "n")))
            .when(in_old & ~in_new, F.array(_variant("removed", "o")))
            .when(differs, changed_rows)
        )
        return (
            j.withColumn("_rows", rows)
            .where(F.col("_rows").isNotNull())
            .select(key, F.explode("_rows").alias("_r"))
            .select("_r.change_type", key, *[F.col(f"_r.{c}").alias(c) for c in common])
        )

    def _key_type(self, spark: SparkSession, m: dict) -> str:
        schema = spark.createDataFrame([], m["schema"]).schema
        return next(
            f.dataType.simpleString() for f in schema.fields if f.name == m["key"]
        )

    def read_range(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> DataFrame:
        """Zone-map-pruned range read: rows with ``lo <= col <= hi``,
        opening ONLY the data dirs whose manifest [min, max] interval
        for ``col`` overlaps the predicate (dirs without stats are
        always read — unknown must never prune).  Planning is pure
        manifest arithmetic: zero data files are opened to DECIDE the
        scan, which at 100 TB with time-ordered ingest turns a
        time-slice query into IO proportional to the matching ingest
        window, not the table (each append commit's dirs carry a
        narrow range of an ingest-correlated column).  The exact
        predicate is still applied to survivors — pruning is an IO
        optimization, never a semantics change — and parquet row-group
        min/max skipping applies inside each opened file under the
        pushed filter."""
        m = self.manifest(version)
        if col not in m.get("stats_cols", []):
            raise ValueError(
                f"column {col!r} carries no zone maps "
                f"(stats_cols={m.get('stats_cols', [])})"
            )
        plo, phi = self._stat_val(lo), self._stat_val(hi)
        stats = m.get("stats", {})

        def dir_keep(d: str) -> bool:
            cs = stats.get(d, {}).get(col)
            if not cs or cs[0] is None or cs[1] is None:
                return True  # unknown stats: must read
            return not (cs[1] < plo or cs[0] > phi)

        return self._read_buckets(spark, m, set(m["buckets"]), dir_keep).where(
            F.col(col).between(F.lit(lo), F.lit(hi))
        )

    def pruned_dirs(self, col: str, lo, hi, version: int | None = None) -> tuple[int, int]:
        """(kept, total) data-dir counts :meth:`read_range` would open
        for this predicate — the observable the skipping tests assert
        and an operator can report."""
        m = self.manifest(version)
        plo, phi = self._stat_val(lo), self._stat_val(hi)
        stats = m.get("stats", {})
        total = kept = 0
        for ps in m["buckets"].values():
            for d in ps:
                total += 1
                cs = stats.get(d, {}).get(col)
                if not cs or cs[0] is None or cs[1] is None or not (
                    cs[1] < plo or cs[0] > phi
                ):
                    kept += 1
        return kept, total

    def _read_buckets(
        self,
        spark: SparkSession,
        m: dict,
        wanted: set[str],
        dir_keep=None,
    ) -> DataFrame:
        """Delete-applied scan of the wanted buckets.

        Data dirs are grouped by the SET of delete files covering them
        (a delete file covers exactly the dirs that existed in its
        bucket at delete time, so a key re-appended AFTER the delete is
        never shadowed — the equality-delete sequencing rule, recorded
        as an explicit ``covers`` list instead of sequence-number
        arithmetic).  Each group is one parquet scan, anti-joined
        against the union of its delete-key files; the delete side is
        broadcast, so the table side streams through a hash probe — no
        shuffle of the data, read amplification bounded by the delete
        files themselves.  With no deletes this degenerates to the
        single flat scan it always was."""
        dels = m.get("deletes", {})
        groups: dict[frozenset, list[str]] = {}
        for b in wanted:
            entries = dels.get(b, [])
            for d in m["buckets"].get(b, []):
                if dir_keep is not None and not dir_keep(d):
                    continue  # zone-map pruned (read_range)
                sig = frozenset(e["path"] for e in entries if d in e["covers"])
                groups.setdefault(sig, []).append(d)
        parts = []
        for sig, dirs in sorted(groups.items(), key=lambda kv: sorted(kv[1])):
            df = spark.read.schema(m["schema"]).parquet(*sorted(dirs))
            if sig:
                dk = spark.read.schema(
                    f"{m['key']} {self._key_type(spark, m)}"
                ).parquet(*sorted(sig))
                df = df.join(F.broadcast(dk), m["key"], "left_anti")
            parts.append(df)
        if not parts:
            return spark.createDataFrame([], m["schema"])
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -------------------------------------------------------------- merge

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        delete_col: str | None = None,
    ) -> int:
        """MERGE ``source`` into the table (copy-on-write, bucket-pruned):

        - matched target rows (same key) are replaced by the source row
          — or deleted when ``delete_col`` is true on the source row;
        - unmatched source rows are inserted (delete-marked ones are
          dropped);
        - only buckets containing ≥1 source key are rewritten; all
          other buckets carry forward by reference.

        Returns the committed version.  Raises :class:`CommitConflict`
        if another writer committed first."""
        m = self.manifest()
        key, nb = m["key"], m["num_buckets"]
        bucket_of = _bucket_expr(source, key, nb)

        if delete_col is not None:
            deletes = source.where(F.col(delete_col)).select(key)
            upserts = source.where(~F.col(delete_col)).drop(delete_col)
        else:
            deletes = None
            upserts = source

        # schema evolution, validated BEFORE the union (unionByName
        # would silently coerce a type conflict into a runtime CAST):
        # new source columns append; type changes raise
        src_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in upserts.schema.fields
        )
        widened_ddl = _widen_ddl(spark, m["schema"], src_ddl)

        # touched buckets + unique-source-key check in ONE scalar-sized
        # action (ADVICE r6): MERGE's one-row-per-key invariant — which
        # read_changes' full-outer join and every later merge assume,
        # and which Delta-class formats enforce by raising on multiple
        # matches — would silently break if a batch carried two rows
        # for one key (unionByName keeps both).  The per-key count and
        # the bucket set fall out of the same two-level agg; output is
        # one row (collect_set bounded by num_buckets).
        probe = (
            source.select(bucket_of.alias("_b"), F.col(key).alias("_k"))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_c"), F.first("_b").alias("_b"))
            .groupBy()
            .agg(
                F.max("_c").alias("max_per_key"),
                F.collect_set("_b").alias("bucket_set"),
            )
            .collect()[0]
        )
        if probe.max_per_key is not None and probe.max_per_key > 1:
            raise ValueError(
                f"MERGE source has duplicate rows for at least one {key!r} "
                f"(max {probe.max_per_key} rows per key): collapse the "
                "source to one row per key first (merge_stream does this "
                "via seq_col)"
            )
        touched = {str(b) for b in (probe.bucket_set or [])}
        touched &= set(m["buckets"])  # insert-only buckets have no old files
        target_touched = (
            self._read_buckets(spark, m, touched)
            if touched
            else spark.createDataFrame([], m["schema"])
        )

        # MERGE core (same relational identity as operators/cdc.upsert):
        # source wins on key collision; delete keys vanish entirely.
        # allowMissingColumns = schema evolution: a source column the
        # table lacks WIDENS the table (old rows read as NULL — the
        # manifest schema is authoritative and parquet fills missing
        # columns on read, so carried-forward buckets never rewrite);
        # a target column the source lacks nulls out on updated rows.
        all_source_keys = source.select(key)
        merged = upserts.unionByName(
            target_touched.join(all_source_keys, key, "left_anti"),
            allowMissingColumns=True,
        )
        if deletes is not None:
            merged = merged.join(deletes, key, "left_anti")

        new_buckets, _, commit_dir, delta = self._write_data(spark, merged, key, nb)
        out_buckets = {
            b: ps for b, ps in m["buckets"].items() if b not in touched
        }
        out_buckets.update(new_buckets)
        # rewritten buckets had their deletion vectors applied by the
        # delete-aware scan above — clear them; untouched buckets keep theirs
        out_deletes = {
            b: es for b, es in m.get("deletes", {}).items() if b not in touched
        }

        # exact new total: carried-forward buckets keep their rows; the
        # touched buckets swap their old count for the merged count
        old_touched_rows = (
            target_touched.groupBy().agg(F.count(F.lit(1)).alias("cnt")).collect()[0].cnt
            if touched
            else 0
        )
        total = m["total_rows"] - old_touched_rows + delta

        version = m["version"] + 1
        self._commit(
            {
                "version": version,
                "parent": m["version"],
                "operation": "merge",
                "key": key,
                "num_buckets": nb,
                "schema": widened_ddl,
                "buckets": out_buckets,
                "deletes": out_deletes,
                "total_rows": int(total),
                "stats_cols": m.get("stats_cols", []),
                "stats": self._carry_stats(spark, m, out_buckets, new_buckets, commit_dir),
                "key_blooms": m.get("key_blooms", False),
                "blooms": self._carry_blooms(spark, m, out_buckets, new_buckets, commit_dir),
            }
        )
        return version

    def _carry_stats(
        self,
        spark: SparkSession,
        m: dict,
        out_buckets: dict[str, list[str]],
        new_buckets: dict[str, list[str]],
        commit_dir: str | None,
    ) -> dict:
        """Zone-map maintenance shared by every commit shape: keep the
        stats of carried-forward dirs (immutable files — their stats
        cannot change), compute stats for freshly written dirs, drop
        stats of dirs no longer referenced."""
        cols = m.get("stats_cols", [])
        if not cols:
            return {}
        live = {d for ps in out_buckets.values() for d in ps}
        out = {
            d: s for d, s in m.get("stats", {}).items() if d in live
        }
        if commit_dir is not None and new_buckets:
            out.update(self._dir_stats(spark, commit_dir, new_buckets, cols))
        return out

    def delete_keys(self, spark: SparkSession, keys, mode: str = "mor") -> int:
        """DELETE by key.  ``keys`` is a DataFrame carrying the merge-key
        column (or a plain Python list).

        ``mode='mor'`` (merge-on-read, the default) writes per-bucket
        **deletion-vector files** — just the deleted keys — and leaves
        every data file untouched: the commit costs O(|deleted keys|)
        IO regardless of table size, which is the only viable shape
        when the table is 100 TB and the delete is a sliver (GDPR
        erasure, bad-batch rollback).  Readers apply the vectors as a
        broadcast anti-join (see :meth:`_read_buckets`); each vector
        records the data dirs it ``covers`` so later appends of the
        same key are never shadowed.  :meth:`optimize` purges vectors
        by rewriting their buckets — the compaction cadence is what
        bounds read-side anti-join cost.

        ``mode='cow'`` rewrites the touched buckets immediately
        (delete-free reads, write amplification = touched-bucket
        fraction) — the right trade when deletes are large or reads
        dominate.

        Keys absent from the table still leave an (inert) vector in
        their bucket — equality-delete semantics, no existence check —
        cleaned up at the next optimize.  Commit WRITES are
        O(|deleted keys|); exact ``total_rows`` accounting reads the
        touched buckets once (bucket-fraction-sized, never the table)."""
        m = self.manifest()
        key, nb = m["key"], m["num_buckets"]
        if mode not in ("mor", "cow"):
            raise ValueError(f"mode must be 'mor' or 'cow', got {mode!r}")
        if not isinstance(keys, DataFrame):
            keys = spark.createDataFrame(
                [(k,) for k in keys], f"{key} {self._key_type(spark, m)}"
            )
        keys = keys.select(key).distinct()
        touched = {
            str(r.b)
            for r in keys.select(_bucket_expr(keys, key, nb).alias("b"))
            .distinct()
            .collect()
        }
        touched &= set(m["buckets"])
        if not touched:
            return m["version"]  # nothing the table holds — no-op
        target = self._read_buckets(spark, m, touched)
        matched = (
            target.join(keys, key, "left_semi")
            .groupBy()
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()[0]
            .cnt
        )
        out_deletes = {b: list(es) for b, es in m.get("deletes", {}).items()}
        if mode == "mor":
            del_buckets, _, _, _ = self._write_data(spark, keys, key, nb)
            out_buckets = m["buckets"]
            for b, ps in del_buckets.items():
                if b not in touched:
                    continue  # key hashes to a bucket the table lacks
                out_deletes.setdefault(b, []).extend(
                    {"path": p, "covers": list(m["buckets"][b])} for p in ps
                )
        else:  # cow: rewrite touched buckets minus the keys, vectors cleared
            remaining = target.join(keys, key, "left_anti")
            new_buckets, _, cow_commit_dir, _ = self._write_data(spark, remaining, key, nb)
            out_buckets = {
                b: ps for b, ps in m["buckets"].items() if b not in touched
            }
            out_buckets.update(new_buckets)
            out_deletes = {b: es for b, es in out_deletes.items() if b not in touched}
        version = m["version"] + 1
        self._commit(
            {
                "version": version,
                "parent": m["version"],
                "operation": f"delete-{mode}",
                "key": key,
                "num_buckets": nb,
                "schema": m["schema"],
                "buckets": out_buckets,
                "deletes": out_deletes,
                "total_rows": int(m["total_rows"] - matched),
                "stats_cols": m.get("stats_cols", []),
                "stats": self._carry_stats(
                    spark, m, out_buckets,
                    new_buckets if mode == "cow" else {},
                    cow_commit_dir if mode == "cow" else None,
                ),
                "key_blooms": m.get("key_blooms", False),
                "blooms": self._carry_blooms(
                    spark, m, out_buckets,
                    new_buckets if mode == "cow" else {},
                    cow_commit_dir if mode == "cow" else None,
                ),
            }
        )
        return version

    def append(self, spark: SparkSession, df: DataFrame) -> int:
        """Append-only commit: new data files, every existing bucket
        carried forward (zero rewrite — the fast ingest path)."""
        m = self.manifest()
        df_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        widened_ddl = _widen_ddl(spark, m["schema"], df_ddl)  # raises on type change
        new_buckets, _, commit_dir, added = self._write_data(spark, df, m["key"], m["num_buckets"])
        out = {b: list(ps) for b, ps in m["buckets"].items()}
        for b, ps in new_buckets.items():
            out.setdefault(b, []).extend(ps)
        version = m["version"] + 1
        self._commit(
            {
                "version": version,
                "parent": m["version"],
                "operation": "append",
                "key": m["key"],
                "num_buckets": m["num_buckets"],
                "schema": widened_ddl,
                "buckets": out,
                # vectors carry forward untouched: their covers lists
                # don't include the new dirs, so re-appended keys live
                "deletes": m.get("deletes", {}),
                "total_rows": int(m["total_rows"] + added),
                "stats_cols": m.get("stats_cols", []),
                "stats": self._carry_stats(spark, m, out, new_buckets, commit_dir),
                "key_blooms": m.get("key_blooms", False),
                "blooms": self._carry_blooms(spark, m, out, new_buckets, commit_dir),
            }
        )
        return version

    # ------------------------------------------------------- maintenance

    def optimize(self, spark: SparkSession) -> int:
        """Compact multi-file buckets (the small-files debt appends
        accrue: each append adds one dir per touched bucket, and at
        ingest cadence a bucket's scan fans into hundreds of tiny
        files).  Rewrites ONLY buckets referencing >1 data dir into a
        single fresh dir each; single-dir buckets carry forward — the
        same bucket-pruned copy-on-write economics as merge.  A
        row-identical commit: readers pinned to older snapshots are
        untouched, and the op is recorded in history.

        Buckets carrying merge-on-read deletion vectors are compacted
        too (the delete-aware scan folds the vectors into the rewrite),
        clearing their vectors — OPTIMIZE is the purge cadence that
        bounds the read-side anti-join cost of :meth:`delete_keys`."""
        m = self.manifest()
        dels = m.get("deletes", {})
        multi = {
            b for b, ps in m["buckets"].items() if len(ps) > 1 or dels.get(b)
        }
        if not multi:
            return m["version"]
        compacted = self._read_buckets(spark, m, multi)
        new_buckets, _, commit_dir, _ = self._write_data(spark, compacted, m["key"], m["num_buckets"])
        out = {b: ps for b, ps in m["buckets"].items() if b not in multi}
        out.update(new_buckets)
        version = m["version"] + 1
        self._commit(
            {
                "version": version,
                "parent": m["version"],
                "operation": "optimize",
                "key": m["key"],
                "num_buckets": m["num_buckets"],
                "schema": m["schema"],
                "buckets": out,
                "deletes": {b: es for b, es in dels.items() if b not in multi},
                "total_rows": m["total_rows"],
                "stats_cols": m.get("stats_cols", []),
                "stats": self._carry_stats(spark, m, out, new_buckets, commit_dir),
                "key_blooms": m.get("key_blooms", False),
                "blooms": self._carry_blooms(spark, m, out, new_buckets, commit_dir),
            }
        )
        return version

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Expire all but the newest ``keep_last`` snapshots and delete
        data dirs no retained snapshot references (VACUUM).  Retention
        is what bounds storage under copy-on-write; the trade is
        explicit — expired versions are no longer time-travelable.
        Returns {"removed_snapshots": [...], "removed_dirs": n}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot)")
        vs = self.versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        referenced: set[str] = set()
        for v in keep:
            mv = self.manifest(v)
            for ps in mv["buckets"].values():
                referenced.update(os.path.normpath(p) for p in ps)
            for es in mv.get("deletes", {}).values():
                referenced.update(os.path.normpath(e["path"]) for e in es)
        removed_dirs = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        if os.path.isdir(data_root):
            for commit in sorted(os.listdir(data_root)):
                cdir = os.path.join(data_root, commit)
                for leaf in sorted(os.listdir(cdir)):
                    ldir = os.path.join(cdir, leaf)
                    if leaf.startswith(f"{_BUCKET}=") and os.path.normpath(
                        ldir
                    ) not in referenced:
                        shutil.rmtree(ldir, ignore_errors=True)
                        removed_dirs += 1
                if not any(
                    e.startswith(f"{_BUCKET}=") for e in os.listdir(cdir)
                ):
                    shutil.rmtree(cdir, ignore_errors=True)
        for v in drop:
            try:
                os.remove(self._manifest_path(v))
            except OSError:
                pass
        return {"removed_snapshots": drop, "removed_dirs": removed_dirs}

    # --------------------------------------------------------- streaming

    def merge_stream(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        delete_col: str | None = None,
        seq_col: str | None = None,
        timeout_s: int = 120,
    ) -> list:
        """CDC stream → ACID table: every micro-batch MERGEs into the
        table via foreachBatch (the Delta/Iceberg streaming-upsert
        shape).  ``seq_col`` names a monotonic ordering column used to
        collapse a batch to its LATEST row per key first — MERGE
        requires unique source keys, and a CDC feed can carry several
        updates to one key within a batch.  Idempotent under replay: a
        micro-batch re-applied after a crash merges identical rows into
        an identical state, so checkpoint + deterministic merge give
        exactly-once table effects.  Batches apply sequentially
        (foreachBatch contract), preserving CDC order.  A drain still
        active at ``timeout_s`` raises ``TimeoutError`` and a re-call
        with the same checkpoint resumes it; returns the drain's
        progress entries (``pipelines.run_foreach_batch_ckpt``)."""
        key = self.manifest()["key"]

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            if seq_col is not None:
                from pyspark.sql import Window

                w = Window.partitionBy(key).orderBy(F.desc(seq_col))
                batch_df = (
                    batch_df.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn", seq_col)
                )
            if batch_df.isEmpty():
                return
            self.merge(batch_df.sparkSession, batch_df, delete_col=delete_col)

        from processor_spark.streaming.pipelines import run_foreach_batch_ckpt

        return run_foreach_batch_ckpt(
            stream_df, _apply, checkpoint, timeout_s=timeout_s, output_mode="append"
        )


class LakeCatalog:
    """Cross-table transactions: the catalog layer the table format
    defers to ("what a production format adds", module docstring).

    A catalog snapshot is one JSON file pinning {table_name: version}
    for every registered table, published with the SAME
    tmp+fsync+hard-link protocol as table manifests (atomic AND
    exclusive).  Readers that resolve tables THROUGH the catalog get
    cross-table-consistent reads: they see the exact version set some
    catalog commit pinned, never a mix of one table's new state with
    another's old.

    Transaction semantics (optimistic, Iceberg-style): a transaction
    stages per-table operations, applies them as ordinary table
    commits (each atomic on its own), then publishes ONE catalog
    snapshot pinning the new versions.  The catalog publish is the
    transaction's commit point:

    - if it succeeds, catalog readers atomically flip to every new
      table version at once;
    - if it loses the race (CommitConflict), or the writer crashes
      after the table commits but before the catalog publish, the new
      table versions exist but are NOT pinned — catalog readers still
      see the old consistent set, and the orphaned versions are
      harmless immutable snapshots (a retry re-applies the logic on
      the current state).

    Layout: ``<root>/_catalog/v<NNNNNNNN>.json`` plus the tables
    themselves under ``<root>/tables/<name>``."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.cat_dir = os.path.join(root, "_catalog")

    # ------------------------------------------------------------ tables

    def table(self, name: str) -> LakeTable:
        return LakeTable(os.path.join(self.root, "tables", name))

    # --------------------------------------------------------- snapshots

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.cat_dir, f"v{version:08d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.cat_dir):
            return []
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self.cat_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def _parses(self, version: int) -> bool:
        try:
            with open(self._snap_path(version)) as fh:
                json.load(fh)
            return True
        except (OSError, json.JSONDecodeError):
            return False

    def current_version(self) -> int:
        vs = [v for v in reversed(self.versions()) if self._parses(v)]
        if not vs:
            raise FileNotFoundError(f"no catalog at {self.root}")
        return vs[0]

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(self._snap_path(v)) as fh:
            return json.load(fh)

    def _publish(self, version: int, pinned: dict[str, int]) -> None:
        os.makedirs(self.cat_dir, exist_ok=True)
        target = self._snap_path(version)
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump({"version": version, "tables": pinned}, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(
                f"catalog version {version} of {self.root} was committed "
                "concurrently"
            ) from None
        os.unlink(tmp)

    # ------------------------------------------------------ transactions

    def init(self, tables: dict[str, int] | None = None) -> int:
        """Publish catalog v1 pinning the given (or current) versions."""
        pinned = dict(tables or {})
        self._publish(1, pinned)
        return 1

    def read(self, spark: SparkSession, name: str, version: int | None = None):
        """Catalog-consistent read: the table version is resolved from
        the catalog snapshot, NOT from the table's own newest manifest
        — two reads through one snapshot can never mix commit sets."""
        snap = self.snapshot(version)
        if name not in snap["tables"]:
            raise KeyError(f"table {name!r} not in catalog snapshot")
        return self.table(name).read(spark, version=snap["tables"][name])

    def transaction(self) -> "CatalogTransaction":
        return CatalogTransaction(self)


class CatalogTransaction:
    """Stage operations on several tables, commit them as ONE catalog
    snapshot flip (see :class:`LakeCatalog`).  Ops are callables
    ``(table) -> new_version`` applied in staging order."""

    def __init__(self, catalog: LakeCatalog) -> None:
        self.catalog = catalog
        self._base = catalog.current_version()
        self._ops: list[tuple[str, object]] = []

    def merge(self, name: str, source: DataFrame, delete_col: str | None = None):
        self._ops.append(
            (
                name,
                lambda t, s=source, d=delete_col: t.merge(
                    s.sparkSession, s, delete_col=d
                ),
            )
        )
        return self

    def append(self, name: str, df: DataFrame):
        self._ops.append(
            (name, lambda t, d=df: t.append(d.sparkSession, d))
        )
        return self

    def commit(self) -> int:
        """Apply the staged table commits, then publish the catalog
        snapshot pinning the new version set.  Raises
        :class:`CommitConflict` if another transaction published
        first — the already-applied table commits stay as unpinned
        (invisible-to-catalog) snapshots; retry on the fresh state."""
        base_snap = self.catalog.snapshot(self._base)
        pinned = dict(base_snap["tables"])
        for name, op in self._ops:
            pinned[name] = op(self.catalog.table(name))
        self.catalog._publish(self._base + 1, pinned)
        return self._base + 1
