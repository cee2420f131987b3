"""Icehouse: a minimal from-scratch Iceberg-style copy-on-write table format.

Replaces what the reference delegates to Delta Lake/Unity Catalog
(``src/utils/01_unity_catalog_create.py``, every ``saveAsTable``/MERGE site):
ACID snapshots, file-level statistics, time travel, and the metadata the
maintenance suite (compaction, Z-order, snapshot expiry, manifest rewrite)
operates on.

Layout under ``table_path/``::

    metadata/v{N:010d}.metadata.json   -- one per commit; N strictly increasing
    manifests/manifest-*.jsonl         -- one JSON object per data file
    manifests/manifest-list-*.json     -- snapshot's list of manifests
    data/*.parquet                     -- immutable data files
    ledger/                            -- maintenance-job checkpoints

Commit protocol (optimistic concurrency, BASELINE north_rule):
  1. stage data files + manifests (content-addressed, never overwritten)
  2. build metadata JSON for version N+1
  3. atomically publish via hard-link-or-exclusive-create of the version file —
     exactly Iceberg's HadoopTableOperations rename-CAS. A loser of the race
     gets ``CommitConflict``, rebases (append: always safe; replace: only if
     its removed files are still live), and retries.

On a real cluster the same protocol runs against any filesystem with atomic
create (HDFS, or a catalog/DynamoDB-style CAS for S3); the local-FS version
is the sandbox stand-in.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import stats as stats_mod
from . import partitioning as ptn
from .partitioning import (
    PARTITION_SPEC_ID_PROP,
    PARTITION_SPEC_PROP,
    PT_STAT_PREFIX,
    partition_tuple_of_file,
)
from .predicates import Predicate, prune_files


class CommitConflict(Exception):
    """Another writer committed first and the operations don't compose."""


# --------------------------------------------------------------- bucketing
# Iceberg-style hash-bucket layout (opt-in via table properties):
#   bucket.key = <column>, bucket.n = <int>
# Staged files are written through partitionBy on a TRANSIENT
# pmod(xxhash64(key), n) column (the column never lands in the parquet
# data), and each file's bucket id is recorded in its manifest stats under
# the synthetic "__bucket" entry — zero manifest-format change. MERGE
# discovery then routes source keys to buckets and prunes files by tag with
# ZERO data read, independent of any clustering layout (this is what works
# on 2-D Morton layouts where per-file key-interval routing self-disables).

BUCKET_KEY_PROP = "bucket.key"
BUCKET_N_PROP = "bucket.n"
BUCKET_STAT = "__bucket"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# ------------------------------------------------------- file key sketches
# Opt-in (table property "sketch.cols": comma-separated key columns):
# each staged file's manifest stats carry a k-bit membership bitmap of
# pmod(xxhash64(col), k) over the file's values — a file-level bloom-ish
# sketch. MERGE discovery then drops files whose sketch intersects no
# source-key hash with ZERO data read, on ANY layout: parquet blooms need
# a per-file open, interval routing needs clustering, bucket tags need the
# hash layout — the sketch is the layout-independent gap-filler. False
# positives only (a file is never wrongly dropped); files without a
# sketch (pre-property lineage, compaction outputs) are always kept.
SKETCH_COLS_PROP = "sketch.cols"
SKETCH_STAT_PREFIX = "__sketch:"
SKETCH_BITS = 2048

# ------------------------------------------------------------- row lineage
# Iceberg-v3-style stable row ids. With the table property
# ``row-lineage=true``, every commit assigns each ADDED data file a
# ``first_row_id`` from the table-level ``next-row-id`` counter
# (pure metadata — no data cost); a lineage read computes
#   _row_id = coalesce(<materialized _row_id column>, first_row_id + pos)
# so plain appends need nothing physical. Rewrites (MERGE / compaction /
# clustering) MATERIALIZE the carried ids as a real ``_row_id`` parquet
# column when the table property ``row-lineage=true`` is set — that is
# what makes a document's id survive maintenance, the invariant an
# incremental 10^12-doc training-data consumer keys provenance on.
# Fresh rows (MERGE inserts) carry NULL in the materialized column and
# fall back to the commit-assigned virtual id — the v3 rule, one reader
# path for every file generation.
ROW_ID = "_row_id"
ROW_LINEAGE_PROP = "row-lineage"
NEXT_ROW_ID_KEY = "next-row-id"


def _sketch_b64(positions) -> str:
    import base64

    buf = bytearray(SKETCH_BITS // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(buf)).decode()


def _sketch_hits(b64: str, positions) -> bool:
    import base64

    buf = base64.b64decode(b64)
    return any(buf[p >> 3] & (1 << (p & 7)) for p in positions)


def sketch_ndv(b64: str, bits: int = SKETCH_BITS) -> int | None:
    """Linear-counting NDV estimate from a membership bitmap (Whang et
    al.): with b of m bits set, distinct ≈ -m·ln(1 − b/m). The same
    sketches MERGE discovery already writes double as zero-read
    distinct-key estimators — relative error ~sqrt(m·(e^t−t−1))/(t·m)
    stays under ~5% up to a load t=n/m of ~2 (≈4k keys at 2048 bits).
    Returns None when the bitmap is saturated (every bit set): the
    estimate diverges, callers fall back to row_count."""
    import base64
    import math

    buf = base64.b64decode(b64)
    b = sum(bin(x).count("1") for x in buf)
    if b >= bits:
        return None
    return round(-bits * math.log(1 - b / bits))


def _sketch_or(b64s: list[str]) -> str:
    """Bitwise OR of sketch bitmaps — bitmap union is exact for
    membership, so the merged sketch estimates the UNION's NDV."""
    import base64

    buf = bytearray(SKETCH_BITS // 8)
    for b64 in b64s:
        for i, byte in enumerate(base64.b64decode(b64)):
            buf[i] |= byte
    return base64.b64encode(bytes(buf)).decode()


def sketch_position_expr(col: str):
    """The sketch hash — MUST match at write and discovery time."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(col)), F.lit(SKETCH_BITS)).cast("int")


def bucket_id_expr(key: str, n: int):
    """The bucket function — MUST be identical at write and discovery time:
    pmod(xxhash64(key), n), all JVM-side (whole-stage codegen, no Python)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int")


def bucket_of_file(f: "DataFile") -> int | None:
    """The bucket tag a staged file carries in its manifest stats (None for
    files written before bucketing was enabled, or cross-bucket rewrites)."""
    st = f.stats.get(BUCKET_STAT) or {}
    return st.get("min")


def bucket_spec_of_file(f: "DataFile") -> tuple[int, str | None, int | None]:
    """(bucket_id, key, n) recorded at write time — the per-file spec that
    makes bucket-spec EVOLUTION routable: after ``set_bucket_spec`` changes
    ``bucket.n``, old files keep their old modulus and MERGE discovery must
    hash source keys under EACH generation's n, not the current one.
    Files written before the spec was recorded return (bucket, None, None)."""
    st = f.stats.get(BUCKET_STAT) or {}
    return st.get("min"), st.get("k"), st.get("n")


@dataclass
class DataFile:
    path: str
    row_count: int
    size_bytes: int
    stats: dict = field(default_factory=dict)
    # snapshot id that added this file (lineage)
    added_by: int | None = None
    # row-lineage base: rows without a materialized _row_id get
    # first_row_id + position (assigned at commit; None on pre-feature files)
    first_row_id: int | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "row_count": self.row_count,
            "size_bytes": self.size_bytes,
            "stats": self.stats,
            "added_by": self.added_by,
        }
        if self.first_row_id is not None:
            d["first_row_id"] = self.first_row_id
        return d

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["row_count"], d["size_bytes"], d.get("stats", {}), d.get("added_by"), d.get("first_row_id"))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | replace | overwrite | delete | expire
    manifest_list: str
    summary: dict = field(default_factory=dict)
    # merge-on-read positional deletes: path of this snapshot's delete
    # registry (manifests/deletes-*.json), None when the snapshot has none.
    # Optional field — snapshots from before the feature deserialize fine.
    delete_manifest: str | None = None

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest_list": self.manifest_list,
            "summary": self.summary,
            "delete_manifest": self.delete_manifest,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"], d.get("parent_id"), d["timestamp_ms"],
            d["operation"], d["manifest_list"], d.get("summary", {}),
            d.get("delete_manifest"),
        )


class IcehouseTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.manifest_dir = os.path.join(self.path, "manifests")
        self.data_dir = os.path.join(self.path, "data")
        self.ledger_dir = os.path.join(self.path, "ledger")

    # ------------------------------------------------------------------ meta

    def _version_file(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"v{v:010d}.metadata.json")

    def current_version(self) -> int:
        if not os.path.isdir(self.meta_dir):
            return 0
        versions = [
            int(f[1:11])
            for f in os.listdir(self.meta_dir)
            if f.endswith(".metadata.json")
        ]
        return max(versions, default=0)

    def load_metadata(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        if v == 0:
            raise FileNotFoundError(f"table {self.path} has no committed metadata")
        with open(self._version_file(v)) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self.current_version() > 0

    def schema(self) -> StructType:
        return StructType.fromJson(self.load_metadata()["schema"])

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self.load_metadata()["snapshots"]]

    def current_snapshot(self) -> Snapshot | None:
        md = self.load_metadata()
        cur = md.get("current_snapshot_id")
        for s in md["snapshots"]:
            if s["snapshot_id"] == cur:
                return Snapshot.from_json(s)
        return None

    def properties(self) -> dict:
        return self.load_metadata().get("properties", {})

    def set_properties(self, props: dict) -> "Snapshot":
        """Set/override table properties in one CAS commit (Iceberg
        ALTER TABLE SET TBLPROPERTIES). A ``None`` value tombstones the
        key. Retention policies live here (see maintenance/expire.py:
        history.expire.max-snapshot-age-ms / min-snapshots-to-keep /
        max-ref-age-ms), as do sketch.cols and bucket/cluster specs via
        their dedicated setters."""
        if not props:
            raise ValueError("set_properties: empty property map")
        return self._commit(
            "set-properties", [], set(), properties=dict(props),
            extra_summary={"properties_set": ",".join(sorted(props))},
        )

    def history(self) -> DataFrame:
        """The snapshot log as a DataFrame (id, parent, committed_at,
        operation, key summary counters) — the audit surface."""
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                # naive-UTC for TIMESTAMP_NTZ (utcfromtimestamp is deprecated)
                datetime.datetime.fromtimestamp(
                    s.timestamp_ms / 1000.0, tz=datetime.timezone.utc
                ).replace(tzinfo=None),
                s.operation,
                int(s.summary.get("added_files", 0)),
                int(s.summary.get("removed_files", 0)),
                int(s.summary.get("total_rows", 0)),
                int(s.summary.get("total_bytes", 0)),
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, committed_at timestamp_ntz, "
            "operation string, added_files long, removed_files long, "
            "total_rows long, total_bytes long",
        )

    def snapshots_df(self) -> DataFrame:
        """The Iceberg ``$snapshots`` metadata table: every snapshot in the
        metadata (published, staged, branch — lineage position is what
        ``history()`` narrates) with its parent, commit time, operation and
        full summary map. Metadata-only — zero manifest or data reads."""
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                datetime.datetime.fromtimestamp(
                    s.timestamp_ms / 1000.0, tz=datetime.timezone.utc
                ).replace(tzinfo=None),
                s.operation,
                s.manifest_list,
                {k: str(v) for k, v in (s.summary or {}).items()},
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, committed_at timestamp_ntz, "
            "operation string, manifest_list string, "
            "summary map<string,string>",
        )

    def refs_df(self) -> DataFrame:
        """The Iceberg ``$refs`` metadata table: main, every tag, and every
        branch with the snapshot it points at, plus the table's ref-aging
        policy (``history.expire.max-ref-age-ms`` applies to tags and
        branches; main never ages out). Metadata-only."""
        props = self.properties()
        age = props.get("history.expire.max-ref-age-ms")
        max_age = int(age) if age is not None else None
        cur = self.current_snapshot()
        rows = [("main", "branch", cur.snapshot_id if cur else None, None)]
        rows += [
            (name, "tag", sid, max_age) for name, sid in self.refs().items()
        ]
        rows += [
            (name, "branch", sid, max_age)
            for name, sid in self.branches().items()
        ]
        return self.spark.createDataFrame(
            rows,
            "name string, type string, snapshot_id long, "
            "max_ref_age_ms long",
        )

    def detail(self) -> DataFrame:
        """One-row table summary (the DESCRIBE DETAIL surface): location,
        current version/snapshot, live-file counts and bytes, row count,
        snapshot/branch/tag counts, layout specs, and properties — all
        metadata-only (manifest reads, zero data bytes)."""
        live = self.live_files()
        cur = self.current_snapshot()
        last = (
            datetime.datetime.fromtimestamp(
                cur.timestamp_ms / 1000.0, tz=datetime.timezone.utc
            ).replace(tzinfo=None)
            if cur is not None else None
        )
        bucket = self.bucket_spec()
        row = (
            self.path,
            self.current_version(),
            cur.snapshot_id if cur is not None else None,
            last,
            len(live),
            sum(f.size_bytes for f in live),
            self.row_count(),
            len(self.snapshots()),
            len(self.branches()),
            len(self.refs()),
            json.dumps(self.partition_spec()) if self.partition_spec() else None,
            f"bucket({bucket[1]}, {bucket[0]})" if bucket else None,
            {k: str(v) for k, v in self.properties().items()},
        )
        return self.spark.createDataFrame(
            [row],
            "location string, current_version long, current_snapshot_id long, "
            "last_modified timestamp_ntz, num_files long, size_bytes long, "
            "num_rows long, num_snapshots long, num_branches long, "
            "num_tags long, partition_spec string, bucket_spec string, "
            "properties map<string,string>",
        )

    _FILES_SCHEMA = (
        "path string, row_count long, size_bytes long, added_by long, "
        "bucket int, partition map<string,string>, delete_rows long, "
        "ndv map<string,bigint>, stats_json string"
    )

    @staticmethod
    def _file_ndv(f: "DataFile") -> dict[str, int]:
        """{sketched col: NDV estimate} for one file, capped at row_count
        (linear counting can overshoot a small file; a file can't hold
        more distinct keys than rows). Saturated sketches report
        row_count — the honest upper bound."""
        out = {}
        for k, st in f.stats.items():
            if not k.startswith(SKETCH_STAT_PREFIX) or "b64" not in st:
                continue
            est = sketch_ndv(st["b64"], int(st.get("bits", SKETCH_BITS)))
            out[k[len(SKETCH_STAT_PREFIX):]] = (
                min(est, f.row_count) if est is not None else f.row_count
            )
        return out

    def approx_distinct_keys(
        self, col: str, snapshot_id: int | str | None = None
    ) -> int | None:
        """Metadata-only table-level NDV estimate for a sketched key
        column: OR the live files' sketch bitmaps (bitmap union is exact
        for membership) and linear-count the union — zero data read on a
        100-TB table. Returns None when the column is unsketched, any
        live file lacks a sketch (pre-property lineage would make the
        estimate silently partial), or the union saturates; callers fall
        back to a counting scan (or row_count as the upper bound).
        Deletes are ignored: the estimate is 'keys ever live in current
        files' — an upper bound, like Iceberg's NDV stats."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None:
            return 0
        key = f"{SKETCH_STAT_PREFIX}{col}"
        b64s = []
        for f in self.live_files(snap):
            st = f.stats.get(key)
            if not st or "b64" not in st:
                return None
            b64s.append(st["b64"])
        if not b64s:
            return 0
        return sketch_ndv(_sketch_or(b64s))

    def files(self, snapshot_id: int | str | None = None) -> DataFrame:
        """Live data files as a DataFrame (Iceberg's ``files`` metadata
        table): one row per data file with its manifest stats, lineage
        (``added_by``), bucket tag, and registered positional-delete row
        count. This is the inspection surface the maintenance planners use
        via the Python API, exposed relationally so operators can reason
        about layout with plain SQL (`SELECT sum(size_bytes) ... GROUP BY
        bucket`)."""
        snap = self._resolve_snapshot(snapshot_id)
        rows = []
        if snap is not None:
            reg = self.delete_registry(snap)
            for f in self.live_files(snap):
                rows.append((
                    f.path,
                    f.row_count,
                    f.size_bytes,
                    f.added_by,
                    bucket_of_file(f),
                    dict(partition_tuple_of_file(f) or ()) or None,
                    int(reg.get(f.path, {}).get("rows", 0)),
                    self._file_ndv(f),
                    json.dumps(f.stats, sort_keys=True, default=str),
                ))
        return self.spark.createDataFrame(rows, self._FILES_SCHEMA)

    def manifests(self, snapshot_id: int | str | None = None) -> DataFrame:
        """Per-manifest rollups of a snapshot (Iceberg's ``manifests``
        table) straight from the manifest list — zero manifest reads."""
        snap = self._resolve_snapshot(snapshot_id)
        entries = self.manifest_entries_of(snap) if snap is not None else []
        rows = [
            (
                e["path"],
                int(e.get("n_files", 0)),
                int(e.get("n_rows", 0)),
                int(e.get("n_bytes", 0)),
            )
            for e in entries
        ]
        return self.spark.createDataFrame(
            rows, "path string, n_files long, n_rows long, n_bytes long"
        )

    def partitions(self, snapshot_id: int | str | None = None) -> DataFrame:
        """Per-partition layout rollup (Iceberg's ``partitions`` table):
        one row per (partition-transform tuple, bucket) with live file/row/
        byte totals. ``bucket`` is NULL for files written before bucketing
        (or cross-bucket rewrites); ``partition`` is NULL for files written
        under no transform spec — a non-empty NULL group tells the operator
        which files can't be bucket-routed by MERGE / don't carry tags."""
        from pyspark.sql import functions as F

        return (
            self.files(snapshot_id)
            # maps aren't groupable; canonical form = label-sorted entries
            .groupBy(
                F.to_json(F.sort_array(F.map_entries("partition")))
                .alias("partition"),
                "bucket",
            )
            .agg(
                F.count("*").alias("n_files"),
                F.sum("row_count").alias("n_rows"),
                F.sum("delete_rows").alias("n_delete_rows"),
                F.sum("size_bytes").alias("n_bytes"),
            )
        )

    # ------------------------------------------------------------- manifests

    def _read_manifest(self, rel: str) -> list[DataFile]:
        """Read one manifest — format dispatch on extension, so tables
        written before the Avro switch (.jsonl) stay readable and
        rewrite_manifests migrates them in place."""
        full = os.path.join(self.path, rel)
        if rel.endswith(".avro"):
            from .avro_io import read_manifest_avro

            return [
                DataFile(
                    r["path"], r["row_count"], r["size_bytes"],
                    r["stats"], r["added_by"], r.get("first_row_id"),
                )
                for r in read_manifest_avro(full)
            ]
        out = []
        with open(full) as f:
            for line in f:
                if line.strip():
                    out.append(DataFile.from_json(json.loads(line)))
        return out

    def _write_manifest(self, files: list[DataFile], fmt: str | None = None) -> str:
        """New manifests are Avro (BASELINE north_star: "Avro manifest
        rewrite"): ~3-5x smaller than JSONL rows and parsed without a JSON
        tokenizer per entry — at millions of files that is the difference
        between O(s) and O(min) scan planning. Set table property
        manifest.codec=jsonl (or pass fmt) to use the legacy format."""
        if fmt is None:
            fmt = (
                "jsonl"
                if self.exists() and self.properties().get("manifest.codec") == "jsonl"
                else "avro"
            )
        if fmt == "jsonl":
            rel = f"manifests/manifest-{uuid.uuid4().hex}.jsonl"
            full = os.path.join(self.path, rel)
            with open(full + ".tmp", "w") as f:
                for df in files:
                    f.write(json.dumps(df.to_json()) + "\n")
            os.rename(full + ".tmp", full)
            return rel
        from .avro_io import write_manifest_avro

        rel = f"manifests/manifest-{uuid.uuid4().hex}.avro"
        write_manifest_avro(
            os.path.join(self.path, rel), [df.to_json() for df in files]
        )
        return rel

    def _write_manifest_list(self, entries: list[dict]) -> str:
        """entries: [{path, n_files, n_rows, n_bytes}] — per-manifest rollups
        let commits compute snapshot summaries without reading manifests."""
        rel = f"manifests/manifest-list-{uuid.uuid4().hex}.json"
        full = os.path.join(self.path, rel)
        with open(full + ".tmp", "w") as f:
            json.dump({"manifests": entries}, f)
        os.rename(full + ".tmp", full)
        return rel

    def manifest_entries_of(self, snapshot: Snapshot) -> list[dict]:
        with open(os.path.join(self.path, snapshot.manifest_list)) as f:
            raw = json.load(f)["manifests"]
        # tolerate both rollup dicts and bare path strings
        return [e if isinstance(e, dict) else {"path": e} for e in raw]

    def manifests_of(self, snapshot: Snapshot) -> list[str]:
        return [e["path"] for e in self.manifest_entries_of(snapshot)]

    @staticmethod
    def _manifest_entry(rel: str, files: list[DataFile]) -> dict:
        return {
            "path": rel,
            "n_files": len(files),
            "n_rows": sum(f.row_count for f in files),
            "n_bytes": sum(f.size_bytes for f in files),
        }

    def live_files(self, snapshot: Snapshot | None = None) -> list[DataFile]:
        snap = snapshot or self.current_snapshot()
        if snap is None:
            return []
        files: list[DataFile] = []
        for rel in self.manifests_of(snap):
            files.extend(self._read_manifest(rel))
        return files

    # ------------------------------------------------- positional deletes

    def delete_registry(self, snapshot: Snapshot | None = None) -> dict:
        """{data_file_rel: {"dvs": [dv_rel, ...], "rows": n}} for a snapshot
        (merge-on-read positional deletes); {} when the snapshot has none."""
        snap = snapshot or self.current_snapshot()
        if snap is None or not snap.delete_manifest:
            return {}
        return self._read_delete_registry(snap.delete_manifest)

    def eq_deletes(self, snapshot: Snapshot | None = None) -> list[dict]:
        """Equality-delete entries [{path, key_col, seq, rows}] for a
        snapshot. ``seq`` is the snapshot id the delete committed at: the
        delete applies only to rows from data files with added_by <= seq,
        so later appends of the same keys are NOT affected and rewrites
        (whose outputs carry a higher added_by) materialize it naturally."""
        snap = snapshot or self.current_snapshot()
        if snap is None or not snap.delete_manifest:
            return []
        return self._read_delete_registry_full(snap.delete_manifest).get("eq", [])

    def delete_registry_full(self, snapshot: Snapshot | None = None) -> dict:
        """{"entries": positional registry, "eq": equality entries} — the
        shape rewrites capture as their conflict-validation baseline."""
        snap = snapshot or self.current_snapshot()
        if snap is None or not snap.delete_manifest:
            return {"entries": {}, "eq": []}
        full = self._read_delete_registry_full(snap.delete_manifest)
        return {"entries": full.get("entries", {}), "eq": full.get("eq", [])}

    def _read_delete_registry(self, rel: str) -> dict:
        return self._read_delete_registry_full(rel)["entries"]

    def _read_delete_registry_full(self, rel: str) -> dict:
        with open(os.path.join(self.path, rel)) as f:
            return json.load(f)

    def _dv_positions(self, entry: dict | None, data_rel: str) -> frozenset:
        """Effective deleted positions a registry entry holds for one data
        file — the CONTENT the rewrite-race check compares (sidecar paths
        alone false-conflict after a concurrent DV consolidation). Driver-
        side pyarrow read of a handful of small sidecars; only runs for
        entries whose shallow dict compare already differed."""
        if not entry:
            return frozenset()
        import pyarrow.parquet as pq

        fname = os.path.basename(data_rel)
        pos: set = set()
        for rel in entry.get("dvs", []):
            p = os.path.join(self.path, rel)
            if not os.path.exists(p):
                # sidecar already swept: contents unknowable — return a
                # sentinel no other set equals, forcing the conflict path
                return frozenset({object()})
            t = pq.read_table(p, columns=["fname", "pos"],
                              filters=[("fname", "=", fname)])
            pos.update(t["pos"].to_pylist())
        return frozenset(pos)

    def _write_delete_registry(
        self, entries: dict, eq: list[dict] | None = None
    ) -> str | None:
        if not entries and not eq:
            return None
        rel = f"manifests/deletes-{uuid.uuid4().hex}.json"
        full = os.path.join(self.path, rel)
        with open(full + ".tmp", "w") as f:
            json.dump({"entries": entries, "eq": eq or []}, f)
        os.rename(full + ".tmp", full)
        return rel

    def read_files(
        self,
        files: list[DataFile],
        snapshot: Snapshot | None = None,
        with_pos: bool = False,
        schema: StructType | None = None,
        with_row_id: bool = False,
    ) -> DataFrame:
        """Read the given data files with the snapshot's DELETION VECTORS
        applied (merge-on-read): rows whose (file, row_index) appear in a DV
        are anti-joined away. This is the one read primitive every rewrite
        (MERGE, compaction, clustering) and scan goes through, so deleted
        rows can never be resurrected by a rewrite.

        ``with_pos=True`` keeps the ``__fname``/``__pos`` provenance columns
        (used by delete_where itself). The DV side is counted-broadcast:
        registry row counts decide broadcast vs shuffle anti-join.

        ``with_row_id=True`` appends the stable ``_row_id`` column:
        ``coalesce(<materialized _row_id>, first_row_id + position)`` — the
        Iceberg-v3 rule. The file→first_row_id map is metadata-sized and
        broadcast; files predating the feature (first_row_id None, no
        materialized column) yield NULL — run :meth:`assign_row_ids` once.
        """
        from pyspark.sql import functions as F

        if schema is None:
            schema = self.schema()
        if not files:
            df = self.spark.createDataFrame([], schema)
            if with_pos:
                df = df.withColumn(
                    "__fname", F.lit(None).cast("string")
                ).withColumn("__pos", F.lit(None).cast("long"))
            if with_row_id:
                df = df.withColumn(ROW_ID, F.lit(None).cast("long"))
            return df
        paths = [os.path.join(self.path, f.path) for f in files]
        full_reg = self.delete_registry_full(snapshot)
        reg = full_reg["entries"]
        wanted = {f.path for f in files}
        dv_rels = sorted({
            dv for rel, e in reg.items() if rel in wanted for dv in e["dvs"]
        })
        # equality deletes applicable to at least one of the read files
        # (sequence semantics: a file written after the delete is immune)
        eq = [
            e for e in full_reg["eq"]
            if any((f.added_by or 0) <= e["seq"] for f in files)
        ]
        # initial defaults (add_column(default=…)): only active when a
        # requested file PREDATES the add — post-add files store their
        # values (including explicit NULLs) and need no row work at all
        want_names = {f.name for f in schema.fields}
        defaults = {
            name: d for name, d in self.schema_defaults().items()
            if name in want_names
            and any((f.added_by or 0) < d["since"] for f in files)
        }
        # name-mapped reads (rename_column): the read schema carries the
        # alias columns typed like their current field; a file holds AT
        # MOST ONE generation of a column's name, so coalesce across the
        # generations resolves the value in one scan — no per-file schema
        # resolution, no per-generation scan groups
        read_schema, aliases = self.alias_read_plan(schema)
        if with_row_id:
            from pyspark.sql.types import LongType

            # request the materialized column too: files without it (plain
            # appends) read NULL and fall back to the virtual id below
            read_schema = StructType(
                list(read_schema.fields) + [StructField(ROW_ID, LongType(), True)]
            )
        df = self.spark.read.schema(read_schema).parquet(*paths)
        need_prov = (
            bool(dv_rels) or bool(eq) or with_pos or bool(defaults) or with_row_id
        )
        if need_prov:
            df = df.withColumn(
                "__fname",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            ).withColumn("__pos", F.col("_metadata.row_index"))
        df = self.alias_resolve(df, aliases)
        if with_row_id:
            # metadata-sized (one row per file) broadcast map — never a shuffle
            ridmap = self.spark.createDataFrame(
                [(os.path.basename(f.path), f.first_row_id) for f in files],
                "__rid_fn string, __frid long",
            )
            df = df.join(
                F.broadcast(ridmap), df["__fname"] == ridmap["__rid_fn"], "left"
            ).withColumn(
                ROW_ID,
                F.coalesce(F.col(ROW_ID), F.col("__frid") + F.col("__pos")),
            ).drop("__rid_fn", "__frid")
        if dv_rels:
            dv = self.spark.read.parquet(
                *[os.path.join(self.path, r) for r in dv_rels]
            ).select("fname", "pos")
            n_dv_rows = sum(
                e["rows"] for rel, e in reg.items()
                if set(e["dvs"]) & set(dv_rels)
            )
            if n_dv_rows <= 1_000_000:
                dv = F.broadcast(dv)
            cond = (df["__fname"] == dv["fname"]) & (df["__pos"] == dv["pos"])
            df = df.join(dv, cond, "left_anti")
        if eq or defaults:
            # rows inherit their file's commit sequence via a tiny broadcast
            # (fname -> added_by): eq deletes apply when the row's file
            # predates the delete; initial defaults when it predates the add
            fmap = self.spark.createDataFrame(
                [(os.path.basename(f.path), f.added_by or 0) for f in files],
                "__eq_fn string, __added_by long",
            )
            df = df.join(
                F.broadcast(fmap), df["__fname"] == fmap["__eq_fn"], "left"
            ).drop("__eq_fn")
        if defaults:
            by_name = {f.name: f for f in schema.fields}
            for name, d in sorted(defaults.items()):
                df = df.withColumn(
                    name,
                    F.when(
                        F.col("__added_by") < F.lit(int(d["since"])),
                        F.lit(d["v"]).cast(by_name[name].dataType),
                    ).otherwise(F.col(name)),
                )
        if eq:
            # an eq delete recorded before a rename stores the then-current
            # key name: join on the TRANSLATED (current) df column, while
            # the sidecar file is read under its stored name
            rev = {
                a: cur
                for cur, al in self.schema_aliases().items()
                for a in al
            }
            by_col: dict[str, list[dict]] = {}
            for e in eq:
                by_col.setdefault(
                    rev.get(e["key_col"], e["key_col"]), []
                ).append(e)
            for key_col, group in sorted(by_col.items()):
                keys = None
                for e in group:
                    one = self.spark.read.parquet(
                        os.path.join(self.path, e["path"])
                    ).select(
                        F.col(e["key_col"]).alias("__ek"),
                        F.lit(e["seq"]).cast("long").alias("__eseq"),
                    )
                    keys = one if keys is None else keys.unionByName(one)
                if sum(e["rows"] for e in group) <= 1_000_000:
                    keys = F.broadcast(keys)
                df = df.join(
                    keys,
                    (df[key_col] == keys["__ek"])
                    & (df["__added_by"] <= keys["__eseq"]),
                    "left_anti",
                )
        if eq or defaults:
            df = df.drop("__added_by")
        if need_prov and not with_pos:
            df = df.drop("__fname", "__pos")
        return df

    # ----------------------------------------------------------------- write

    def bucket_spec(self) -> tuple[str, int] | None:
        """(key_column, n_buckets) when the hash-bucket layout is on."""
        if not self.exists():
            return None
        return self._spec_from_props(self.properties())

    @staticmethod
    def _spec_from_props(props: dict | None) -> tuple[str, int] | None:
        if props and props.get(BUCKET_KEY_PROP) and props.get(BUCKET_N_PROP):
            return str(props[BUCKET_KEY_PROP]), int(props[BUCKET_N_PROP])
        return None

    def _stage_dataframe(
        self,
        df: DataFrame,
        stats_cols: list[str] | None,
        snapshot_id: int,
        target_partitions: int | None = None,
        cluster_by: list[str] | None = None,
        bucket_props: dict | None = None,
        range_sort_ok: bool = True,
        max_records_per_file: int | None = None,
    ) -> list[DataFile]:
        """Write df's data as immutable parquet files + collect their stats.

        ``max_records_per_file`` caps every written file's row count in the
        writer itself (Spark's ``maxRecordsPerFile``): a task rolls to a new
        file at the cap, so sizing output files needs no repartition.

        ``cluster_by``: transient sort columns (e.g. a Z-order code) — files
        are range-partitioned and sorted on them so parquet/manifest stats
        stay tight; the columns are dropped before the write.

        When the table has a bucket spec, files are additionally written
        through partitionBy on the transient bucket column: range
        partitioning on (bucket, cluster_by...) keeps each output partition
        inside (at most a boundary pair of) buckets, so clustering and
        bucket tags COMPOSE — each file gets a single bucket id AND tight
        cluster-key bounds.
        """
        os.makedirs(self.data_dir, exist_ok=True)
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        spec = self._spec_from_props(bucket_props) if bucket_props else self.bucket_spec()
        bucketed = spec is not None and spec[0] in df.columns
        props_src = bucket_props if bucket_props is not None else (
            self.properties() if self.exists() else {}
        )
        # partition transforms (identity/day/truncate/…): transient
        # string-valued JVM columns, one per transform; files split on
        # them via partitionBy below and each file's tuple is recorded in
        # its manifest stats (partitioning.py module docstring)
        ptspec = ptn.bind_numeric_hints(
            [t for t in ptn.parse_spec(props_src) if t.col in df.columns],
            df.schema,
        )
        pt_spec_id = ptn.spec_id(props_src)
        pt_cols: list[str] = []
        for i, t in enumerate(ptspec):
            cname = f"__pt_{i}"
            df = df.withColumn(cname, t.expr())
            pt_cols.append(cname)
        drop_cols = list(cluster_by or [])
        if bucketed:
            key, n = spec
            df = df.withColumn(BUCKET_STAT, bucket_id_expr(key, n))
            n_parts = target_partitions or n
            if cluster_by:
                df = df.repartitionByRange(
                    max(n_parts, 1), *pt_cols, BUCKET_STAT, *cluster_by
                ).sortWithinPartitions(*pt_cols, BUCKET_STAT, *cluster_by)
            else:
                # hash repartition, NOT range: range partitioning samples its
                # input, executing the upstream plan twice — which doubles
                # any Observation metrics riding the write (merge) and the
                # compute itself. partitionBy still splits files per bucket.
                df = df.repartition(max(n_parts, 1), *pt_cols, BUCKET_STAT)
        elif cluster_by:
            df = df.repartitionByRange(
                max(target_partitions or 1, 1), *pt_cols, *cluster_by
            ).sortWithinPartitions(*pt_cols, *cluster_by)
        elif pt_cols:
            # Iceberg's hash write-distribution: co-locate each partition
            # value so file count tracks DISTINCT VALUES, not tasks×values.
            # Caveat (documented Iceberg trade-off too): one giant value
            # hashes to one task — callers with a known-skewed delta pass
            # cluster_by/target_partitions to spread it.
            df = df.repartition(*(target_partitions,) if target_partitions else (), *pt_cols)
        elif target_partitions is not None:
            df = df.repartition(target_partitions)
        # "sort.order" property (Iceberg sort-order analog): staged files
        # get sorted on the declared columns so their min/max stats stay
        # tight on PLAIN APPENDS — stats-based file pruning on the hot
        # columns without a Z-order rewrite. Distribution is range by
        # default (files get DISJOINT key ranges — the file-level pruning
        # win; "sort.order.distribution"="local" opts down to a within-
        # partition sort, which only tightens parquet row-group stats).
        # Range sampling executes the upstream plan twice, so the merge
        # writer — whose Observation row counters would double — passes
        # range_sort_ok=False and gets the local sort. An explicit
        # cluster_by (Z-order/compaction) overrides the property entirely.
        sort_cols = [
            c.strip() for c in (props_src.get("sort.order") or "").split(",")
            if c.strip() and c.strip() in df.columns
        ] if not cluster_by else []
        if sort_cols:
            lead = [*pt_cols, *((BUCKET_STAT,) if bucketed else ())]
            if (
                range_sort_ok
                and props_src.get("sort.order.distribution", "range") == "range"
            ):
                # preserve the partition count chosen above (Catalyst's
                # CollapseRepartition folds a preceding plain repartition)
                n = max(target_partitions or df.rdd.getNumPartitions(), 1)
                df = df.repartitionByRange(n, *lead, *sort_cols)
            df = df.sortWithinPartitions(*lead, *sort_cols)
        if drop_cols:
            df = df.drop(*drop_cols)

        writer = df.write.mode("overwrite")
        if bucketed or pt_cols:
            writer = writer.partitionBy(*pt_cols, *((BUCKET_STAT,) if bucketed else ()))
        # opt-in parquet bloom filters (table property "bloom.cols":
        # comma-separated columns): the JVM parquet writer embeds per-row-
        # group blooms, and any pushed equality predicate on those columns
        # then skips row groups inside files that stats alone can't prune —
        # point lookups on hash-distributed keys (url) are the target shape.
        props = bucket_props if bucket_props else (
            self.properties() if self.exists() else {}
        )
        bloom_cols = [
            x.strip() for x in (props.get("bloom.cols") or "").split(",")
            if x.strip() and x.strip() in df.columns
        ]
        if bloom_cols:
            # adaptive sizing (observed NDV) — without it parquet-mr
            # allocates the 1 MB default bitmap per row group per column,
            # doubling small files (measured: +111% naive vs +7% adaptive)
            writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
            for c in bloom_cols:
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        # Iceberg's write.parquet.compression-codec: per-table codec choice
        # (zstd for cold archival tables, snappy/lz4 for scan-hot ones) —
        # passed straight to the JVM parquet writer, applied by EVERY write
        # path that stages through here (appends, MERGE, Z-order)
        codec = props.get("write.parquet.compression-codec")
        if codec:
            writer = writer.option("compression", codec)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(staging)

        moved: list[tuple[str, int | None, dict]] = []
        for root, dirs, names in os.walk(staging):
            dirs.sort()
            bucket_id: int | None = None
            ptvals: dict[str, str | None] = {}
            rel = os.path.relpath(root, staging)
            for comp in (rel.split(os.sep) if rel != "." else []):
                if "=" not in comp:
                    continue
                k, v = comp.split("=", 1)
                if k == BUCKET_STAT:
                    bucket_id = None if v == _HIVE_NULL else int(v)
                elif k.startswith("__pt_"):
                    # invert Hive's dir-name escaping so the recorded tag
                    # is the TRANSFORM VALUE (urls carry '/', ':', …)
                    ptvals[ptspec[int(k[5:])].label] = (
                        None if v == _HIVE_NULL else ptn.hive_unescape(v)
                    )
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                final = os.path.join(
                    self.data_dir,
                    f"{snapshot_id:08d}-{uuid.uuid4().hex[:12]}-{name}",
                )
                os.rename(os.path.join(root, name), final)
                moved.append((final, bucket_id, ptvals))
        shutil.rmtree(staging, ignore_errors=True)
        if stats_cols is None:
            stats_cols = self._default_stats_cols(df.schema)
        bucket_by_path = {p: b for p, b, _pt in moved}
        pt_by_path = {p: pt for p, _b, pt in moved}
        collected = stats_mod.collect_stats(
            self.spark, [p for p, _b, _pt in moved], stats_cols
        )
        sketches = self._collect_sketches(
            props, df.columns, [p for p, _b, _pt in moved]
        )
        out = []
        for c in collected:
            st = c["stats"]
            fname = os.path.basename(c["path"])
            if fname in sketches:
                st = {**st, **sketches[fname]}
            b = bucket_by_path.get(c["path"])
            if b is not None:
                # the tag records the WRITE-TIME spec (key + modulus) so
                # routing stays exact across bucket-spec evolution
                st = {**st, BUCKET_STAT: {
                    "min": b, "max": b, "null_count": 0,
                    "k": spec[0], "n": spec[1],
                }}
            for label, v in (pt_by_path.get(c["path"]) or {}).items():
                # one single-value stats entry per transform: min == max is
                # what makes the EXISTING prune path exact on the source
                # column, and spec_id records the write-time generation
                st = {**st, f"{PT_STAT_PREFIX}{label}": {
                    "min": v, "max": v,
                    "null_count": c["row_count"] if v is None else 0,
                    "spec_id": pt_spec_id,
                }}
            out.append(
                DataFile(
                    os.path.relpath(c["path"], self.path),
                    c["row_count"],
                    c["size_bytes"],
                    st,
                    added_by=snapshot_id,
                )
            )
        return out

    def _collect_sketches(
        self, props: dict, columns: list[str], paths: list[str]
    ) -> dict[str, dict]:
        """{file basename: {__sketch:<col>: {bits, b64}}} for the staged
        files, when the table opts in via ``sketch.cols``. One extra Spark
        job over the KEY COLUMNS of the just-staged files (tiny vs the
        payload); the driver receives ≤ SKETCH_BITS distinct positions per
        (file, column) — metadata-sized."""
        from pyspark.sql import functions as F

        cols = [
            x.strip() for x in (props.get(SKETCH_COLS_PROP) or "").split(",")
            if x.strip() and x.strip() in columns
        ]
        if not cols or not paths:
            return {}
        sk = self.spark.read.parquet(*paths).select(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__f"),
            *[sketch_position_expr(c).alias(f"__p{i}")
              for i, c in enumerate(cols)],
        )
        agg = sk.groupBy("__f").agg(
            *[F.collect_set(f"__p{i}").alias(f"__s{i}")
              for i in range(len(cols))]
        )
        out: dict[str, dict] = {}
        for r in agg.collect():
            out[r["__f"]] = {
                f"{SKETCH_STAT_PREFIX}{c}": {
                    "bits": SKETCH_BITS,
                    "b64": _sketch_b64(r[f"__s{i}"]),
                }
                for i, c in enumerate(cols)
            }
        return out

    @staticmethod
    def _default_stats_cols(schema: StructType) -> list[str]:
        skip = {"binary"}
        return [
            f.name for f in schema.fields
            if f.dataType.typeName() not in skip
            and f.name != ROW_ID          # lineage plumbing, never a predicate
            and not f.name.startswith("__")
        ]

    def _try_publish(self, version: int, metadata: dict) -> bool:
        tmp = self._version_file(version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(metadata, f, indent=1)
        try:
            os.link(tmp, self._version_file(version))  # atomic CAS on POSIX
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    _INHERIT_DELETES = "__inherit__"

    def _commit(
        self,
        operation: str,
        added: list[DataFile],
        removed_paths: set[str],
        schema_json: dict | None = None,
        properties: dict | None = None,
        max_retries: int = 10,
        extra_summary: dict | None = None,
        txn: tuple[str, int] | None = None,
        delete_manifest: str | None = _INHERIT_DELETES,
        base_delete_registry: dict | None = None,
        base_delete_manifest: str | None = "__unchecked__",
        publish: bool = True,
        ref: str | None = None,
        restamp_added_by: bool = True,
    ) -> Snapshot | None:
        """Optimistic commit with rebase-and-retry.

        ``ref=<branch name>`` commits ON A BRANCH: the parent/base snapshot
        is the branch head (property ``branch.<name>``) instead of the
        published current, and the SAME atomic CAS that publishes the
        metadata file advances the branch pointer — main's current never
        moves. Concurrent main and branch writers serialize on the one
        version counter, so a branch commit can never lose a main commit
        (or vice versa); each rebases onto the other's metadata and retries.

        Manifests are incremental (Iceberg-style): an append adds ONE new
        manifest and reuses the parent's untouched; a replace rewrites only
        the manifests that reference removed files. Commit metadata cost is
        O(files touched), not O(table) — mandatory at 10^12-doc scale.

        ``txn=(app_id, version)`` makes the commit idempotent per writer
        (Delta's txnAppId/txnVersion): the highest committed version per
        app_id is stored in table properties IN the same atomic commit, and
        a commit at or below it returns None instead of duplicating — the
        check re-runs inside the CAS retry loop, so a concurrent replay
        cannot slip through.
        """
        if not publish and (removed_paths or delete_manifest != self._INHERIT_DELETES):
            raise ValueError(
                "staged (publish=False) commits support pure appends only — "
                "removals/deletes rebase against a published current"
            )
        if ref is not None and not publish:
            raise ValueError("a branch commit is already isolated from main "
                             "— staging (publish=False) does not compose")
        if schema_json is not None:
            bad = [
                f["name"] for f in schema_json.get("fields", [])
                if f["name"] == ROW_ID or f["name"].startswith("__")
            ]
            if bad:
                raise ValueError(
                    f"column name(s) {bad} are reserved (row lineage / "
                    f"internal plumbing) — rename them before writing"
                )
        # row lineage: files arriving WITHOUT a first_row_id (fresh stages /
        # rewrites) get one from the table's next-row-id counter; files that
        # already carry one (cherry_pick republish, assign_row_ids re-adds)
        # keep it — their range was consumed when THEY were first committed.
        # The set is frozen here, before the loop: a CAS retry must re-assign
        # exactly these files from the REBASED counter, never skip them
        # because a failed attempt already stamped a (never-published) range.
        rid_assign = [f for f in added if f.first_row_id is None]
        for _attempt in range(max_retries):
            version = self.current_version()
            if (not publish or ref is not None) and version == 0:
                raise ValueError("cannot stage against an empty table")
            if txn is not None and version > 0:
                prev = self.load_metadata(version).get("properties", {}).get(
                    f"txn.{txn[0]}"
                )
                if prev is not None and int(prev) >= txn[1]:
                    return None  # replayed batch: already committed
            if txn is not None:
                properties = {**(properties or {}), f"txn.{txn[0]}": txn[1]}
            if version == 0:
                base_entries: list[dict] = []
                md = {
                    "format_version": 1,
                    "table_uuid": uuid.uuid4().hex,
                    "schema": schema_json,
                    "properties": properties or {},
                    "snapshots": [],
                    "current_snapshot_id": None,
                }
                parent = None
            else:
                md = self.load_metadata(version)
                if ref is not None:
                    head = md.get("properties", {}).get(
                        f"{self.BRANCH_PROP}{ref}"
                    )
                    if head is None:
                        raise ValueError(f"unknown branch {ref!r}")
                    cur = int(head)
                else:
                    cur = md.get("current_snapshot_id")
                parent = cur
                snap = next(
                    (s for s in md["snapshots"] if s["snapshot_id"] == cur), None
                )
                base_entries = (
                    self.manifest_entries_of(Snapshot.from_json(snap)) if snap else []
                )
                if schema_json is not None:
                    md["schema"] = schema_json
                if properties:
                    # a None value is a tombstone: the property is REMOVED
                    # (drop_tag needs true deletion, not an overwrite)
                    merged = {**md.get("properties", {}), **properties}
                    md["properties"] = {
                        k: v for k, v in merged.items() if v is not None
                    }

            remaining = set(removed_paths)
            new_entries: list[dict] = []
            for entry in base_entries:
                if not remaining:
                    new_entries.append(entry)
                    continue
                mf_files = self._read_manifest(entry["path"])
                hits = [f for f in mf_files if f.path in remaining]
                if not hits:
                    new_entries.append(entry)
                    continue
                remaining -= {f.path for f in hits}
                kept = [f for f in mf_files if f.path not in removed_paths]
                if kept:
                    rel = self._write_manifest(kept)
                    new_entries.append(self._manifest_entry(rel, kept))
            if remaining:
                # Rebase impossible: another writer already rewrote/removed
                # files this operation depends on — snapshot isolation says abort.
                raise CommitConflict(
                    f"{operation}: files no longer live: {sorted(remaining)[:3]}..."
                )
            if added:
                # added_by stamped at STAGING time is only provisional: a
                # CAS loser commits at a HIGHER version, while equality-
                # delete seqs are stamped at commit time — without a
                # re-stamp, an append losing the race behind another commit
                # plus a delete_by_key would land with added_by <= the
                # delete's seq and its fresh rows would be silently hidden.
                # Manifests are rewritten per attempt, so this is safe.
                # (assign_row_ids re-adds EXISTING files and passes
                # restamp_added_by=False — bumping their sequence would let
                # them escape equality deletes recorded against them.)
                if restamp_added_by:
                    for f in added:
                        f.added_by = version + 1
                lineage_on = str(
                    md.get("properties", {}).get(ROW_LINEAGE_PROP, "")
                ).lower() == "true"
                if lineage_on:
                    cursor = int(md.get(NEXT_ROW_ID_KEY, 0))
                    for f in rid_assign:
                        f.first_row_id = cursor
                        cursor += f.row_count
                    md[NEXT_ROW_ID_KEY] = cursor
                # at create time the codec property isn't committed yet —
                # honor the one being committed right now
                fmt = (properties or {}).get("manifest.codec")
                rel = self._write_manifest(added, fmt=fmt)
                new_entries.append(self._manifest_entry(rel, added))

            # merge-on-read deletes: a commit either carries an explicit
            # delete registry (delete_where) or inherits the parent's MINUS
            # entries for files removed by this commit — a rewrite reads
            # through read_files (DVs applied), so dropping the entries is
            # what MATERIALIZES the deletes rather than resurrecting rows.
            #
            # Delete/rewrite RACE validation (Iceberg's
            # validateNoNewDeletesForDataFiles, both directions):
            # - a DELETE commit whose positions reference a data file that a
            #   concurrent rewrite already replaced must ABORT — its DV
            #   would point at a dead file and the deletion would be lost;
            # - a REWRITE commit must abort if new delete entries landed on
            #   its removed files AFTER it read them (base_delete_registry =
            #   the registry snapshot the rewrite read through) — dropping
            #   those entries would resurrect the newly-deleted rows.
            if delete_manifest != self._INHERIT_DELETES:
                if delete_manifest is not None:
                    # a DELETE commit's registry was derived from a base
                    # snapshot; if another delete committed since, adopting
                    # ours would silently DROP theirs — abort and re-derive
                    parent_dm_now = (
                        snap.get("delete_manifest")
                        if version > 0 and snap else None
                    )
                    if (
                        base_delete_manifest != "__unchecked__"
                        and parent_dm_now != base_delete_manifest
                    ):
                        raise CommitConflict(
                            f"{operation}: the delete registry changed "
                            f"under this commit (concurrent delete) — "
                            f"re-derive against the current snapshot"
                        )
                    fullreg = self._read_delete_registry_full(delete_manifest)
                    live_now = {
                        f.path
                        for e in base_entries
                        for f in self._read_manifest(e["path"])
                    }
                    stale = [
                        rel for rel in fullreg.get("entries", {})
                        if rel not in live_now
                    ]
                    if stale:
                        raise CommitConflict(
                            f"{operation}: delete positions reference data "
                            f"files replaced by a concurrent commit: "
                            f"{sorted(stale)[:3]}... — re-run the delete "
                            f"against the current snapshot"
                        )
                    # equality-delete sequences are assigned AT COMMIT (per
                    # retry attempt, so a CAS loser re-stamps the NEW parent
                    # version): the delete covers every file existing now
                    # (added_by <= parent version) and nothing appended later
                    if any(e.get("seq") is None for e in fullreg.get("eq", [])):
                        fixed = [
                            {**e, "seq": version if e.get("seq") is None
                             else e["seq"]}
                            for e in fullreg.get("eq", [])
                        ]
                        child_dm = self._write_delete_registry(
                            fullreg.get("entries", {}), fixed
                        )
                    else:
                        child_dm = delete_manifest
                else:
                    child_dm = delete_manifest
            else:
                child_dm = None
                parent_dm = (
                    snap.get("delete_manifest") if version > 0 and snap else None
                )
                if parent_dm:
                    full = self._read_delete_registry_full(parent_dm)
                    entries = full.get("entries", {})
                    parent_eq = full.get("eq", [])
                    if base_delete_registry is not None:
                        base_e = base_delete_registry.get(
                            "entries", base_delete_registry
                        )
                        # Compare by EFFECTIVE deleted-position content, not
                        # sidecar path lists: a concurrent
                        # rewrite_delete_vectors merely consolidates sidecars
                        # (same positions, new paths) and must not abort
                        # every in-flight rewrite (ADVICE r03). The shallow
                        # dict compare short-circuits the common case; only
                        # genuinely-different entries pay a sidecar read.
                        changed = [
                            rel for rel in removed_paths
                            if entries.get(rel) != base_e.get(rel)
                            and self._dv_positions(entries.get(rel), rel)
                            != self._dv_positions(base_e.get(rel), rel)
                        ]
                        if changed:
                            raise CommitConflict(
                                f"{operation}: delete vectors landed on "
                                f"rewritten files after this rewrite read "
                                f"them: {sorted(changed)[:3]}... — dropping "
                                f"their entries would resurrect deleted rows"
                            )
                        if removed_paths and "entries" in base_delete_registry:
                            # only NEW equality entries endanger the rewrite
                            # (its outputs would escape them); retirements
                            # by a concurrent DV consolidation are safe
                            base_eq_ids = {
                                (e["path"], e.get("seq"))
                                for e in base_delete_registry.get("eq", [])
                            }
                            if any(
                                (e["path"], e.get("seq")) not in base_eq_ids
                                for e in parent_eq
                            ):
                                raise CommitConflict(
                                    f"{operation}: equality deletes changed "
                                    f"after this rewrite read its input — the "
                                    f"rewritten files (higher added_by) would "
                                    f"escape the new deletes"
                                )
                    kept_e = {
                        k: v for k, v in entries.items()
                        if k not in removed_paths
                    }
                    if len(kept_e) == len(entries):
                        child_dm = parent_dm  # unchanged: reuse the file
                    else:
                        child_dm = self._write_delete_registry(kept_e, parent_eq)

            snapshot_id = version + 1
            manifest_list_rel = self._write_manifest_list(new_entries)
            if ref is not None:
                # stamp branch commits: expiry uses this to tell a
                # DROPPED branch's abandoned snapshots from pending WAP
                # stages (which stay pinned until an age cutoff)
                extra_summary = {**(extra_summary or {}), "branch": ref}
            summary = {
                "added_files": len(added),
                "added_rows": sum(f.row_count for f in added),
                "added_bytes": sum(f.size_bytes for f in added),
                "removed_files": len(removed_paths),
                "total_files": sum(e.get("n_files", 0) for e in new_entries),
                "total_rows": sum(e.get("n_rows", 0) for e in new_entries),
                "total_bytes": sum(e.get("n_bytes", 0) for e in new_entries),
                "total_manifests": len(new_entries),
                **(extra_summary or {}),
            }
            snap_obj = Snapshot(
                snapshot_id=snapshot_id,
                parent_id=parent,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifest_list=manifest_list_rel,
                summary=summary,
                delete_manifest=child_dm,
            )
            md["snapshots"] = md.get("snapshots", []) + [snap_obj.to_json()]
            if ref is not None:
                # branch commit: advance the branch pointer, never current
                md.setdefault("properties", {})[
                    f"{self.BRANCH_PROP}{ref}"
                ] = snapshot_id
            elif publish:
                md["current_snapshot_id"] = snapshot_id
            # else: STAGED commit (write-audit-publish) — the snapshot exists
            # and is scan-addressable by id, but readers of the table keep
            # seeing the old current until publish_snapshot()/cherry_pick()
            if self._try_publish(version + 1, md):
                return snap_obj
            time.sleep(0.01 * (_attempt + 1))
        raise CommitConflict(f"{operation}: lost commit race {max_retries} times")

    # ------------------------------------------------------------ public API

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        properties: dict | None = None,
        target_partitions: int | None = None,
    ) -> "IcehouseTable":
        tbl = IcehouseTable(spark, path)
        os.makedirs(tbl.meta_dir, exist_ok=True)
        os.makedirs(tbl.manifest_dir, exist_ok=True)
        os.makedirs(tbl.data_dir, exist_ok=True)
        os.makedirs(tbl.ledger_dir, exist_ok=True)
        added = tbl._stage_dataframe(df, stats_cols, snapshot_id=1,
                                     target_partitions=target_partitions,
                                     bucket_props=properties)
        tbl._commit(
            "append",
            added,
            set(),
            schema_json=df.schema.jsonValue(),
            properties=properties,
        )
        return tbl

    def reconcile_schema(self, df_schema: StructType, merge_schema: bool) -> StructType | None:
        """Schema evolution v1: a writer may ADD nullable columns.

        Returns the widened schema (table columns in their existing order +
        new columns in writer order) when the writer carries extra columns
        and ``merge_schema`` is on; None when the schemas already agree.
        Existing columns must keep their exact type — this is evolution, not
        migration. Readers need no migration either: a parquet scan with the
        widened schema fills NULL for files written before the new column.
        """
        table_schema = self.schema()
        by_name = {f.name: f for f in df_schema.fields}
        for f in table_schema.fields:
            got = by_name.get(f.name)
            if got is None:
                raise ValueError(
                    f"schema evolution: writer is missing table column "
                    f"{f.name!r} — dropping columns is not supported"
                )
            if got.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution: column {f.name!r} type mismatch "
                    f"(table {f.dataType.simpleString()}, "
                    f"writer {got.dataType.simpleString()})"
                )
        extra = [f for f in df_schema.fields if f.name not in
                 {t.name for t in table_schema.fields}]
        if not extra:
            return None
        reused = [f.name for f in extra if f.name in self.historical_names()]
        if reused:
            raise ValueError(
                f"schema evolution: column name(s) {reused} were previously "
                f"renamed away or dropped — reusing them would resurrect old "
                f"files' data under name-mapped reads; pick fresh names"
            )
        if not merge_schema:
            raise ValueError(
                f"writer has new column(s) {[f.name for f in extra]}; pass "
                f"merge_schema=True to evolve the table schema"
            )
        # existing columns keep their nullability — only the NEW columns are
        # forced nullable (old files read back with NULLs for them)
        widened = [
            StructField(f.name, f.dataType, f.nullable) for f in table_schema.fields
        ] + [StructField(f.name, f.dataType, True) for f in extra]
        return StructType(widened)

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed txn version for app_id (None if never)."""
        v = self.properties().get(f"txn.{app_id}")
        return int(v) if v is not None else None

    def append(self, df: DataFrame, stats_cols: list[str] | None = None,
               target_partitions: int | None = None,
               txn: tuple[str, int] | None = None,
               merge_schema: bool = False,
               publish: bool = True,
               branch: str | None = None) -> Snapshot | None:
        """Atomic append. ``txn=(app_id, version)`` deduplicates replays of
        the same (stream, batch) — see _commit. Returns None when skipped.
        ``merge_schema=True`` lets the batch ADD nullable columns: the table
        schema widens in the SAME commit (reconcile_schema); files from
        before the widening read back with NULLs for the new columns.
        ``publish=False`` STAGES the append (write-audit-publish): the
        snapshot commits and is scan-addressable by id for auditing, but
        the table's current pointer moves only at
        :meth:`publish_snapshot` / :meth:`cherry_pick`."""
        if txn is not None:
            last = self.last_txn_version(txn[0])
            if last is not None and last >= txn[1]:
                return None  # fast path: skip staging entirely
        df = self.align_write_types(self.fill_write_defaults(df))
        widened = self.reconcile_schema(df.schema, merge_schema)
        order = [f.name for f in (widened or self.schema()).fields]
        added = self._stage_dataframe(
            df.select(*order), stats_cols,
            snapshot_id=self.current_version() + 1,
            target_partitions=target_partitions,
        )
        return self._commit(
            "append", added, set(),
            schema_json=widened.jsonValue() if widened is not None else None,
            txn=txn,
            publish=publish,
            ref=branch,
        )

    def add_files(self, src, stats_cols: list[str] | None = None,
                  mode: str = "hardlink") -> Snapshot | None:
        """Register EXISTING parquet files as one append snapshot WITHOUT
        rewriting their bytes — Iceberg's ``add_files`` migration
        procedure. This is what lets a 100-TB directory of plain parquet
        adopt the table format at O(metadata) cost: per file the only work
        is a footer-stats read (:func:`~.stats.collect_stats`, distributed
        over executors) and a hardlink into the table's data dir
        (``mode="copy"`` opts into a byte copy for cross-filesystem
        imports; a failed hardlink falls back to copy automatically).

        ``src`` is a directory (every ``*.parquet`` under it, recursively)
        or an explicit list of file paths. The files must read back as
        exactly the table's columns and types — widen the table first
        (``widen_column``/``add_column``) if they don't. The table ADOPTS
        hardlinked files: treat the source as immutable afterwards.

        Imported files carry footer min/max stats (so predicate pruning
        works immediately) but no key sketches, bucket tags, or
        partition-transform tags — every consumer treats an untagged file
        conservatively (merge discovery keeps it as a candidate, tuple
        isolation gives it its own group), and the next compaction or
        clustering rewrite re-tags it under the table's current specs.

        Returns the append snapshot, or None when ``src`` has no files.
        """
        if isinstance(src, str):
            if os.path.isdir(src):
                paths = sorted(
                    glob.glob(os.path.join(src, "**", "*.parquet"),
                              recursive=True)
                )
            else:
                paths = [src]
        else:
            paths = [os.path.abspath(p) for p in src]
        if not paths:
            return None
        if mode not in ("hardlink", "copy"):
            raise ValueError(f"add_files mode must be hardlink|copy, "
                             f"got {mode!r}")
        incoming = {
            f.name: f.dataType
            for f in self.spark.read.parquet(*paths).schema.fields
        }
        want = {f.name: f.dataType for f in self.schema().fields}
        if incoming != want:
            raise ValueError(
                f"add_files: file schema {sorted(incoming.items(), key=str)} "
                f"does not match table schema {sorted(want.items(), key=str)}"
                f" — evolve the table (add_column/widen_column) or rewrite "
                f"the files first"
            )
        snapshot_id = self.current_version() + 1
        os.makedirs(self.data_dir, exist_ok=True)
        moved: list[str] = []
        for p in paths:
            final = os.path.join(
                self.data_dir,
                f"{snapshot_id:08d}-{uuid.uuid4().hex[:12]}-"
                f"{os.path.basename(p)}",
            )
            if mode == "hardlink":
                try:
                    os.link(p, final)
                except OSError:
                    shutil.copy2(p, final)
            else:
                shutil.copy2(p, final)
            moved.append(final)
        if stats_cols is None:
            stats_cols = self._default_stats_cols(self.schema())
        added = [
            DataFile(
                os.path.relpath(c["path"], self.path),
                c["row_count"], c["size_bytes"], c["stats"],
                added_by=snapshot_id,
            )
            for c in stats_mod.collect_stats(self.spark, moved, stats_cols)
        ]
        return self._commit(
            "append", added, set(),
            extra_summary={
                "imported_files": len(added),
                "imported_rows": sum(f.row_count for f in added),
                "import_mode": mode,
            },
        )

    def publish_snapshot(self, snapshot_id: int) -> Snapshot:
        """Fast-forward the table's current pointer to a STAGED snapshot
        (the publish step of write-audit-publish). Only valid while current
        still equals the staged snapshot's parent — if other commits landed
        since staging, use :meth:`cherry_pick` to re-apply the staged
        appends on the new current instead."""
        for _attempt in range(10):
            version = self.current_version()
            md = self.load_metadata(version)
            snap = next(
                (s for s in md["snapshots"] if s["snapshot_id"] == snapshot_id),
                None,
            )
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            cur = md.get("current_snapshot_id")
            if cur == snapshot_id:
                return Snapshot.from_json(snap)  # already published
            if snap.get("parent_id") != cur:
                raise CommitConflict(
                    f"publish: current moved to {cur} since snapshot "
                    f"{snapshot_id} was staged on {snap.get('parent_id')} — "
                    f"cherry_pick it instead"
                )
            md["current_snapshot_id"] = snapshot_id
            if self._try_publish(version + 1, md):
                return Snapshot.from_json(snap)
            time.sleep(0.01 * (_attempt + 1))
        raise CommitConflict("publish: lost commit race repeatedly")

    def cherry_pick(self, snapshot_id: int) -> Snapshot:
        """Re-apply a STAGED append's files on top of the CURRENT snapshot
        (Iceberg's cherrypick_snapshot): used when other commits landed
        after staging, so a fast-forward publish is no longer possible.
        The staged files are reused as-is — no data is rewritten."""
        staged = self._resolve_snapshot(snapshot_id)
        if staged.operation != "append":
            raise ValueError("cherry_pick supports staged appends only")
        files = [
            f
            for e in self.manifest_entries_of(staged)
            for f in self._read_manifest(e["path"])
            if f.added_by == staged.snapshot_id
        ]
        if not files:
            raise ValueError(f"snapshot {snapshot_id} added no files")
        live = {f.path for f in self.live_files()}
        if any(f.path in live for f in files):
            # double-applying would duplicate rows AND double-reference the
            # physical files in the manifests (Iceberg dedups via wap.id)
            raise ValueError(
                f"snapshot {snapshot_id} is already applied to the current "
                f"lineage — cherry-picking it again would duplicate rows"
            )
        # the file-liveness check alone is not enough: if the first applied
        # copy was since compacted (its files rewritten out of live_files),
        # a second cherry_pick would silently duplicate every row — so also
        # refuse if any ancestor of current records this pick in its summary
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        cur = self.current_snapshot()
        while cur is not None:
            if cur.summary.get("cherry_picked_from") == snapshot_id:
                raise ValueError(
                    f"snapshot {snapshot_id} was already cherry-picked as "
                    f"snapshot {cur.snapshot_id} — applying it again would "
                    f"duplicate rows"
                )
            cur = by_id.get(cur.parent_id) if cur.parent_id is not None else None
        return self._commit(
            "append", files, set(),
            extra_summary={"cherry_picked_from": snapshot_id},
        )

    def replace_files(
        self,
        removed_paths: list[str],
        new_df: DataFrame | None,
        operation: str = "replace",
        stats_cols: list[str] | None = None,
        target_partitions: int | None = None,
        extra_summary: dict | None = None,
        precomputed_added: list[DataFile] | None = None,
        schema_json: dict | None = None,
        cluster_by: list[str] | None = None,
        base_delete_registry: dict | None = None,
        branch: str | None = None,
    ) -> Snapshot:
        """Copy-on-write primitive: atomically swap removed files for new data.

        MERGE, compaction and clustering all reduce to this. ``new_df=None``
        (with no precomputed files) expresses pure deletion. ``schema_json``
        widens the table schema in the same commit (schema evolution).
        ``cluster_by`` sorts staged files on transient columns (clustering).
        """
        if precomputed_added is not None:
            added = precomputed_added
        elif new_df is not None:
            added = self._stage_dataframe(
                new_df, stats_cols, snapshot_id=self.current_version() + 1,
                target_partitions=target_partitions,
                cluster_by=cluster_by,
            )
        else:
            added = []
        return self._commit(
            operation, added, set(removed_paths), extra_summary=extra_summary,
            schema_json=schema_json,
            base_delete_registry=base_delete_registry,
            ref=branch,
        )

    def overwrite(self, df: DataFrame, stats_cols: list[str] | None = None,
                  target_partitions: int | None = None) -> Snapshot:
        current = [f.path for f in self.live_files()]
        return self.replace_files(
            current, df, operation="overwrite", stats_cols=stats_cols,
            target_partitions=target_partitions,
        )

    # ------------------------------------------------------------------ read

    def scan(
        self,
        predicates: list[Predicate] | None = None,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        apply_residual: bool = True,
        row_lineage: bool = False,
    ) -> DataFrame:
        """Snapshot-scoped scan with manifest-stats file pruning.

        The same predicate is applied again as a Spark filter so Catalyst
        pushes it into the parquet row-group reader of surviving files.

        ``row_lineage=True`` appends the stable ``_row_id`` column (see
        :meth:`read_files`); with the ``row-lineage`` table property set,
        ids survive MERGE / compaction / clustering rewrites.
        """
        snap = self._resolve_snapshot(snapshot_id)
        files = self.live_files(snap)
        kept = prune_files(files, self._stats_predicates(predicates),
                           aliases=self.schema_aliases())
        schema = self.schema()
        if not kept:
            df = self.spark.createDataFrame([], schema)
            if row_lineage:
                df = df.withColumn(ROW_ID, F.lit(None).cast("long"))
            return df
        df = self.read_files(kept, snapshot=snap, with_row_id=row_lineage)
        if predicates and apply_residual:
            for p in predicates:
                df = df.filter(p.to_column())
        if columns:
            want = list(columns)
            if row_lineage and ROW_ID not in want:
                want.append(ROW_ID)
            df = df.select(*want)
        return df

    def planned_files(
        self, predicates: list[Predicate] | None = None, snapshot_id: int | None = None
    ) -> list[DataFile]:
        """The scan planner's file list (exposed for tests/maintenance)."""
        snap = self._resolve_snapshot(snapshot_id)
        return prune_files(self.live_files(snap),
                           self._stats_predicates(predicates),
                           aliases=self.schema_aliases())

    # append snapshots emit rows; these rewrite bytes (or touch metadata
    # only) but preserve the logical row set, so an incremental consumer
    # can skip them
    _CONTENT_NEUTRAL_OPS = ("compact", "cluster-", "rewrite-manifests",
                            "rewrite-deletes", "set-ref", "set-spec",
                            "set-schema", "set-properties",
                            "assign-row-ids")

    # --------------------------------------------------------- row lineage

    def row_lineage_enabled(self) -> bool:
        """True when the table property ``row-lineage=true`` is set: commits
        assign ``first_row_id`` ranges (virtual ids, pure metadata) and
        rewrites MATERIALIZE carried ``_row_id`` values. Tables enabling the
        property after data exists backfill via :meth:`assign_row_ids`."""
        if not self.exists():
            return False
        return str(self.properties().get(ROW_LINEAGE_PROP, "")).lower() == "true"

    def assign_row_ids(self) -> Snapshot | None:
        """Backfill ``first_row_id`` on live files that predate row lineage
        — one METADATA-ONLY commit (no data bytes read or written at any
        table size). The files are re-added with their original ``added_by``
        preserved (restamping would let them escape equality deletes
        recorded against them) and the parent's delete registry is carried
        verbatim, so DV/eq semantics are untouched. Returns None when every
        live file already has an id."""
        snap = self.current_snapshot()
        if snap is None:
            return None
        missing = [f for f in self.live_files(snap) if f.first_row_id is None]
        if not missing:
            return None
        return self._commit(
            "assign-row-ids",
            missing,
            {f.path for f in missing},
            delete_manifest=snap.delete_manifest,
            base_delete_manifest=snap.delete_manifest,
            restamp_added_by=False,
            extra_summary={"row_ids_assigned_files": len(missing)},
        )

    # ------------------------------------------------------------- refs

    REF_PROP = "ref."
    BRANCH_PROP = "branch."

    def refs(self) -> dict[str, int]:
        """Named snapshot references (tags): {name: snapshot_id}."""
        return {
            k[len(self.REF_PROP):]: int(v)
            for k, v in self.properties().items()
            if k.startswith(self.REF_PROP)
        }

    def branches(self) -> dict[str, int]:
        """Named MUTABLE refs (Iceberg branches): {name: head snapshot id}."""
        return {
            k[len(self.BRANCH_PROP):]: int(v)
            for k, v in self.properties().items()
            if k.startswith(self.BRANCH_PROP)
        }

    def create_tag(self, name: str, snapshot_id: int | None = None) -> Snapshot:
        """Pin a snapshot under a name (Iceberg tag): scans can address it
        (``scan(snapshot_id="name")``) and :func:`expire_snapshots` retains
        it — the audit/reproducibility primitive (train a model against
        ``tag("train-2024-07")`` and the exact row set survives VACUUM).

        The tag rides an ordinary CAS property commit, so concurrent
        taggers serialize and time travel sees when each ref was set."""
        if not name or "." in name or "/" in name:
            raise ValueError(f"invalid tag name {name!r}")
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None:
            raise ValueError("cannot tag an empty table")
        return self._commit(
            "set-ref", [], set(),
            properties={f"{self.REF_PROP}{name}": snap.snapshot_id},
            extra_summary={"ref": name, "ref_snapshot_id": snap.snapshot_id},
        )

    def drop_tag(self, name: str) -> Snapshot:
        if name not in self.refs():
            raise ValueError(f"unknown tag {name!r}")
        return self._commit(
            "set-ref", [], set(),
            properties={f"{self.REF_PROP}{name}": None},  # tombstone
            extra_summary={"ref_dropped": name},
        )

    def rollback_to(self, snapshot_id: int | str) -> Snapshot:
        """Move main's current pointer BACK to an ancestor snapshot
        (Iceberg's rollback_to_snapshot): the bad commits stay in history
        (time-travelable, expirable later) but readers instantly see the
        earlier state — the incident-response primitive. Only ancestors of
        current qualify: rolling "back" to a side lineage would silently
        merge histories; cherry_pick/fast_forward are the tools for that."""
        target = self._resolve_snapshot(snapshot_id)
        for _attempt in range(10):
            version = self.current_version()
            md = self.load_metadata(version)
            cur = md.get("current_snapshot_id")
            if cur == target.snapshot_id:
                return target
            if cur is None or not self._is_ancestor(
                target.snapshot_id, cur
            ):
                raise ValueError(
                    f"rollback_to: snapshot {target.snapshot_id} is not an "
                    f"ancestor of current {cur}"
                )
            md["current_snapshot_id"] = target.snapshot_id
            if self._try_publish(version + 1, md):
                return target
            time.sleep(0.01 * (_attempt + 1))
        raise CommitConflict("rollback_to: lost commit race repeatedly")

    def snapshot_as_of(self, ts) -> Snapshot:
        """Resolve the snapshot current AS OF a wall-clock instant
        (Iceberg/Delta ``TIMESTAMP AS OF``): the newest MAIN-CHAIN ancestor
        whose commit timestamp is <= ``ts``. Walking the current chain (not
        all snapshots) keeps staged WAP/branch commits invisible to time
        travel, exactly like a reader at that instant. ``ts`` is a
        ``datetime`` (naive = UTC) or epoch milliseconds."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts_ms = int(ts.timestamp() * 1000)
        else:
            ts_ms = int(ts)
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        node = self.current_snapshot()
        while node is not None:
            if node.timestamp_ms <= ts_ms:
                return node
            node = (
                by_id.get(node.parent_id)
                if node.parent_id is not None else None
            )
        raise ValueError(
            f"no snapshot at or before {ts_ms} (table created later?)"
        )

    BUCKET_EVOLVED_PROP = "bucket.evolved"

    def partition_spec(self) -> list:
        """Current partition transforms ([] when unpartitioned)."""
        return ptn.parse_spec(self.properties() if self.exists() else {})

    def set_partition_spec(self, transforms) -> Snapshot:
        """Evolve the partition-transform spec WITHOUT rewriting data
        (Iceberg partition-spec evolution for identity/date/truncate
        transforms): a metadata-only ``set-spec`` commit. Existing files
        keep their write-time ``__pt:`` tags (self-describing — the label
        names the transform), new writes land under the new spec, and any
        rewrite (compaction/Z-order) re-derives tags from row content
        under the CURRENT spec, migrating old files incrementally.

        ``transforms``: iterable of ``Transform`` or strings like
        ``"day(warc_ts)"`` / ``"truncate(url,16)"`` / ``"lang"``
        (identity shorthand). An empty list clears the spec."""
        spec = [
            t if isinstance(t, ptn.Transform) else ptn.parse_transform_text(t)
            for t in transforms
        ]
        types = {f.name: f.dataType.typeName() for f in self.schema().fields}
        seen = set()
        for t in spec:
            if t.col not in types:
                raise ValueError(f"{t.label}: {t.col!r} is not a table column")
            t.validate(types[t.col])
            if t.label in seen:
                raise ValueError(f"duplicate partition transform {t.label}")
            seen.add(t.label)
        return self._commit(
            "set-spec", [], set(),
            properties={
                PARTITION_SPEC_PROP: json.dumps([t.to_json() for t in spec]),
                PARTITION_SPEC_ID_PROP: str(
                    ptn.spec_id(self.properties()) + 1
                ),
            },
            extra_summary={"partition_spec": [t.label for t in spec]},
        )

    def set_bucket_spec(self, key: str, n: int) -> Snapshot:
        """Evolve the hash-bucket spec WITHOUT rewriting data (Iceberg's
        partition-spec evolution, for the bucket transform): a metadata-only
        commit updates ``bucket.key``/``bucket.n``; existing files keep the
        write-time spec recorded in their bucket tag and stay exactly
        routable under it, new writes land under the new spec, and MERGE
        discovery hashes source keys once per live spec generation
        (operators/merge.py ``_bucket_candidates``). Files written before
        per-file specs were recorded lose routing after an evolution (the
        ``bucket.evolved`` property marks that their modulus is unknowable)
        — they are conservatively always scanned until a rewrite re-tags
        them."""
        if n < 1:
            raise ValueError(f"bucket.n must be >= 1, got {n}")
        if key not in {f.name for f in self.schema().fields}:
            raise ValueError(f"bucket key {key!r} is not a table column")
        return self._commit(
            "set-spec", [], set(),
            properties={
                BUCKET_KEY_PROP: key,
                BUCKET_N_PROP: str(n),
                self.BUCKET_EVOLVED_PROP: "true",
            },
            extra_summary={"bucket_key": key, "bucket_n": n},
        )

    # -------------------------------------------- schema evolution: v2
    # Rename/drop without field ids, via NAME MAPPING (the public
    # Iceberg name-mapping idea, schema.name-mapping.default): properties
    # record, per current column, the older names it carried. Reads
    # resolve a renamed column with ONE scan over all generations —
    # coalesce(current, *older) — because no data file can contain more
    # than one name of the same column (rename_column refuses reusing any
    # historical name, so generations never overlap inside a file).
    # Dropped names are retired forever for the same reason: re-adding
    # one would resurrect old files' data under the reborn column.

    ALIASES_PROP = "schema.aliases"   # json {current: [older names...]}
    RETIRED_PROP = "schema.retired"   # json [names never reusable]

    def schema_aliases(self) -> dict:
        v = self.properties().get(self.ALIASES_PROP)
        return json.loads(v) if v else {}

    def retired_names(self) -> set:
        v = self.properties().get(self.RETIRED_PROP)
        return set(json.loads(v)) if v else set()

    def historical_names(self) -> set:
        """Every name that ever identified a column but no longer does."""
        return {
            a for al in self.schema_aliases().values() for a in al
        } | self.retired_names()

    def _spec_columns(self) -> set:
        """Columns referenced by layout specs (bucket/cluster/sketch/
        bloom) — renaming or dropping these would orphan the spec, so the
        spec must be evolved off them first."""
        p = self.properties()
        cols: set = set()
        bs = self.bucket_spec()
        if bs:
            cols.add(bs[0])
        cols |= {t.col for t in ptn.parse_spec(p)}
        for prop in ("sketch.cols", "bloom.cols"):
            cols |= {c for c in (p.get(prop) or "").split(",") if c}
        cs = self.cluster_spec()
        if cs["spec_id"] > 0 or "curve" in cs:
            cols |= {cs.get("url_col"), cs.get("ts_col")} - {None}
            cols |= set(cs.get("extra_cols") or [])
        return cols

    DEFAULTS_PROP = "schema.defaults"  # json {col: {"v": literal, "since": version}}

    def schema_defaults(self) -> dict:
        v = self.properties().get(self.DEFAULTS_PROP)
        return json.loads(v) if v else {}

    def fill_write_defaults(self, df: DataFrame) -> DataFrame:
        """Write-default half of add_column(default=…): a writer that
        predates the add may omit the column entirely; append materializes
        the default into the new file so the stored value matches what a
        reader would expect. Writers that DO carry the column keep full
        control (explicit NULLs are stored as NULL)."""
        defaults = self.schema_defaults()
        if not defaults:
            return df
        have = set(df.columns)
        by_name = {f.name: f for f in self.schema().fields}
        for name, d in sorted(defaults.items()):
            if name not in have and name in by_name:
                df = df.withColumn(
                    name, F.lit(d["v"]).cast(by_name[name].dataType)
                )
        return df

    def add_column(
        self, name: str, data_type, default=None
    ) -> Snapshot:
        """Add a nullable column, optionally with an INITIAL DEFAULT
        (public Iceberg v3 initial-default semantics): rows from files
        that predate the add read ``default`` instead of NULL, while rows
        written after it read their stored value — including explicit
        NULLs. The boundary is the add-commit's version (``since``): a
        file with ``added_by < since`` takes the default. A concurrent
        append racing the add can land files without the column at a
        HIGHER version; those degrade to NULL (exactly today's widening
        semantics), never to wrong data. ``default`` must be a JSON-able
        scalar (str/int/float/bool); it is cast to the column type at
        read time, so e.g. an ISO string defaults a timestamp column.

        ``data_type`` is a Spark DataType or DDL type string."""
        from pyspark.sql.types import _parse_datatype_string

        if isinstance(data_type, str):
            data_type = _parse_datatype_string(data_type)
        schema = self.schema()
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} already exists")
        if name in self.historical_names():
            raise ValueError(
                f"column name {name!r} was previously renamed away or "
                f"dropped — pick a fresh name"
            )
        props: dict = {}
        if default is not None:
            if not isinstance(default, (str, int, float, bool)):
                raise ValueError(
                    "default must be a JSON-able scalar (str/int/float/bool)"
                )
            defaults = self.schema_defaults()
            defaults[name] = {
                "v": default, "since": self.current_version() + 1
            }
            props[self.DEFAULTS_PROP] = json.dumps(defaults)
        return self._commit(
            "set-schema", [], set(),
            schema_json=StructType(
                list(schema.fields) + [StructField(name, data_type, True)]
            ).jsonValue(),
            properties=props or None,
            extra_summary={"added_column": name},
        )

    @staticmethod
    def _is_safe_promotion(src, dst) -> bool:
        """Iceberg type-promotion rules (spec §Schema Evolution): int→long,
        float→double, decimal(P,S)→decimal(P',S) with P'≥P and same scale.
        Spark 4's parquet reader resolves all three natively, so a widened
        read schema over narrow files needs no per-generation scan groups."""
        from pyspark.sql.types import (
            DecimalType, DoubleType, FloatType, IntegerType, LongType,
        )

        if isinstance(src, IntegerType) and isinstance(dst, LongType):
            return True
        if isinstance(src, FloatType) and isinstance(dst, DoubleType):
            return True
        if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
            return dst.scale == src.scale and dst.precision >= src.precision
        return False

    def widen_column(self, name: str, new_type) -> Snapshot:
        """Promote a column to a wider type — METADATA-ONLY (no data files
        rewritten). Allowed promotions follow the public Iceberg spec:
        int→long, float→double, decimal precision increase at fixed scale.
        Old files keep their narrow physical type; the scan's read schema
        carries the wide type and the parquet reader up-casts per file
        (verified by test against files from both eras). Anything outside
        the safe set raises — narrowing or cross-family changes would
        corrupt or fail old-file reads.

        ``new_type`` is a Spark DataType or DDL type string."""
        from pyspark.sql.types import _parse_datatype_string

        if isinstance(new_type, str):
            new_type = _parse_datatype_string(new_type)
        schema = self.schema()
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise ValueError(f"no such column {name!r}")
        old = by_name[name].dataType
        if old == new_type:
            raise ValueError(f"column {name!r} is already {old.simpleString()}")
        if not self._is_safe_promotion(old, new_type):
            raise ValueError(
                f"unsafe type change for {name!r}: "
                f"{old.simpleString()} → {new_type.simpleString()} (allowed: "
                f"int→long, float→double, decimal precision increase)"
            )
        fields = [
            StructField(
                f.name, new_type if f.name == name else f.dataType, f.nullable
            )
            for f in schema.fields
        ]
        return self._commit(
            "set-schema", [], set(),
            schema_json=StructType(fields).jsonValue(),
            extra_summary={
                "widened_column": name,
                "widened_from": old.simpleString(),
                "widened_to": new_type.simpleString(),
            },
        )

    def align_write_types(self, df: DataFrame) -> DataFrame:
        """Writer half of type promotion: a writer built before a
        widen_column may still produce the narrow type — up-cast those
        columns so the staged files store the wide type and
        reconcile_schema sees agreement. Only SAFE promotions are applied;
        a writer WIDER than the table still fails reconcile (the table
        must be widened first, deliberately)."""
        by_name = {f.name: f for f in self.schema().fields}
        for wf in df.schema.fields:
            tf = by_name.get(wf.name)
            if tf is not None and tf.dataType != wf.dataType and \
                    self._is_safe_promotion(wf.dataType, tf.dataType):
                df = df.withColumn(wf.name, F.col(wf.name).cast(tf.dataType))
        return df

    def alias_read_plan(self, schema: StructType):
        """(read schema including alias fields, relevant {cur: [olds]}) —
        the driver half of a name-mapped parquet read; pair with
        :meth:`alias_resolve` on the resulting DataFrame."""
        cur_names = {f.name for f in schema.fields}
        aliases = {
            cur: al for cur, al in sorted(self.schema_aliases().items())
            if cur in cur_names
        }
        if not aliases:
            return schema, {}
        by_name = {f.name: f for f in schema.fields}
        return StructType(
            list(schema.fields)
            + [
                StructField(a, by_name[cur].dataType, True)
                for cur, al in aliases.items()
                for a in al
            ]
        ), aliases

    @staticmethod
    def alias_resolve(df: DataFrame, aliases: dict) -> DataFrame:
        """Coalesce each renamed column across its name generations and
        drop the alias columns (see alias_read_plan)."""
        if not aliases:
            return df
        for cur, al in aliases.items():
            df = df.withColumn(
                cur, F.coalesce(F.col(cur), *[F.col(a) for a in al])
            )
        return df.drop(*[a for al in aliases.values() for a in al])

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a column WITHOUT rewriting data (metadata-only commit).

        Existing files keep the old physical name; every read resolves the
        column as coalesce(new, old...) across generations (see the name-
        mapping note above), and stats-based file pruning consults the
        alias names too. The new name must be FRESH — never a current,
        previously-renamed, or dropped name — which is what guarantees a
        single-scan read with no per-file schema resolution."""
        schema = self.schema()
        names = {f.name for f in schema.fields}
        if old not in names:
            raise ValueError(f"unknown column {old!r}")
        if new in names or new in self.historical_names():
            raise ValueError(
                f"column name {new!r} is or was in use — without field "
                f"ids, name-mapped reads require a fresh name"
            )
        if old in self._spec_columns():
            raise ValueError(
                f"column {old!r} is referenced by a bucket/cluster/"
                f"sketch/bloom spec — evolve the spec off it first"
            )
        aliases = self.schema_aliases()
        aliases[new] = aliases.pop(old, []) + [old]
        fields = [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
        props = {self.ALIASES_PROP: json.dumps(aliases)}
        defaults = self.schema_defaults()
        if old in defaults:
            # the initial default follows the column to its new name
            defaults[new] = defaults.pop(old)
            props[self.DEFAULTS_PROP] = json.dumps(defaults)
        return self._commit(
            "set-schema", [], set(),
            schema_json=StructType(fields).jsonValue(),
            properties=props,
            extra_summary={"renamed_from": old, "renamed_to": new},
        )

    def drop_column(self, name: str) -> Snapshot:
        """Drop a column WITHOUT rewriting data (metadata-only commit):
        readers simply stop selecting it. The name (and every older name
        it carried) is retired forever — re-adding it would resurrect the
        old files' values under the reborn column."""
        schema = self.schema()
        if name not in {f.name for f in schema.fields}:
            raise ValueError(f"unknown column {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        if name in self._spec_columns():
            raise ValueError(
                f"column {name!r} is referenced by a bucket/cluster/"
                f"sketch/bloom spec — evolve the spec off it first"
            )
        rev = {
            a: cur for cur, al in self.schema_aliases().items() for a in al
        }
        live_eq_keys = {
            rev.get(e["key_col"], e["key_col"]) for e in self.eq_deletes()
        }
        if name in live_eq_keys:
            raise ValueError(
                f"column {name!r} keys live equality deletes — rewrite "
                f"them to positional form first (rewrite_delete_vectors)"
            )
        aliases = self.schema_aliases()
        retired = sorted(
            self.retired_names() | {name, *aliases.pop(name, [])}
        )
        fields = [f for f in schema.fields if f.name != name]
        props = {
            self.ALIASES_PROP: json.dumps(aliases),
            self.RETIRED_PROP: json.dumps(retired),
        }
        defaults = self.schema_defaults()
        if name in defaults:
            defaults.pop(name)
            props[self.DEFAULTS_PROP] = json.dumps(defaults)
        return self._commit(
            "set-schema", [], set(),
            schema_json=StructType(fields).jsonValue(),
            properties=props,
            extra_summary={"dropped_column": name},
        )

    CLUSTER_SPEC_ID_PROP = "cluster.spec_id"

    def cluster_spec(self) -> dict:
        """The table's clustering spec from properties.

        ``spec_id`` is 0 for a table that never evolved its spec (and for
        cluster-* snapshots committed before spec tracking existed — the
        two defaults agree, which is what keeps incremental clustering
        back-compatible)."""
        p = self.properties()
        spec: dict = {"spec_id": int(p.get(self.CLUSTER_SPEC_ID_PROP, 0))}
        for k, prop in (
            ("curve", "cluster.curve"),
            ("url_col", "cluster.url_col"),
            ("ts_col", "cluster.ts_col"),
            ("url_coord", "cluster.url_coord"),
        ):
            if p.get(prop):
                spec[k] = p[prop]
        extra = p.get("cluster.extra_cols", "")
        spec["extra_cols"] = [c for c in extra.split(",") if c]
        return spec

    def set_cluster_spec(
        self,
        curve: str = "morton",
        url_col: str = "url",
        ts_col: str = "warc_ts",
        extra_cols: list[str] | None = None,
        url_coord: str = "hash",
    ) -> Snapshot:
        """Evolve the CLUSTERING spec without rewriting data (the Z-order
        analog of :meth:`set_bucket_spec`): a metadata-only commit records
        curve/columns/coordinate under ``cluster.*`` and bumps
        ``cluster.spec_id``. ``zorder_by`` defaults its parameters from
        this spec, stamps each cluster-* snapshot with the spec id it ran
        under, and — the point of the generation counter — its
        ``scope="incremental"`` treats files clustered under an OLDER spec
        as unclustered, so the first incremental run after an evolution
        re-clusters the whole table and later runs are O(new data) again."""
        if curve not in ("morton", "hilbert"):
            raise ValueError(f"unknown curve {curve!r}")
        if url_coord not in ("hash", "prefix"):
            raise ValueError(f"unknown url_coord {url_coord!r}")
        names = {f.name for f in self.schema().fields}
        for c in [url_col, ts_col, *(extra_cols or [])]:
            if c not in names:
                raise ValueError(f"cluster column {c!r} is not a table column")
        new_id = int(self.properties().get(self.CLUSTER_SPEC_ID_PROP, 0)) + 1
        return self._commit(
            "set-spec", [], set(),
            properties={
                "cluster.curve": curve,
                "cluster.url_col": url_col,
                "cluster.ts_col": ts_col,
                "cluster.extra_cols": ",".join(extra_cols or []),
                "cluster.url_coord": url_coord,
                self.CLUSTER_SPEC_ID_PROP: str(new_id),
            },
            extra_summary={"cluster_spec_id": new_id, "cluster_curve": curve},
        )

    # ------------------------------------------------------------ branches

    def create_branch(
        self, name: str, snapshot_id: int | None = None
    ) -> Snapshot:
        """Create a MUTABLE named ref (Iceberg branch) at a snapshot
        (default: current). Unlike a staged WAP commit — one pending append
        — a branch supports a whole multi-commit workflow (append, MERGE,
        delete, compact) isolated from readers of main: every branch commit
        rides the same metadata CAS, advancing ``branch.<name>`` while
        main's current pointer stays put. Audit the branch via
        ``scan(snapshot_id=<name>)`` / ``.option("branch", name)``, then
        :meth:`fast_forward` (or :meth:`merge_branch`) publishes it."""
        if not name or "." in name or "/" in name:
            raise ValueError(f"invalid branch name {name!r}")
        if name in self.branches():
            raise ValueError(f"branch {name!r} already exists")
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None:
            raise ValueError("cannot branch an empty table")
        return self._commit(
            "set-ref", [], set(),
            properties={f"{self.BRANCH_PROP}{name}": snap.snapshot_id},
            extra_summary={"branch": name, "ref_snapshot_id": snap.snapshot_id},
        )

    def drop_branch(self, name: str) -> Snapshot:
        if name not in self.branches():
            raise ValueError(f"unknown branch {name!r}")
        return self._commit(
            "set-ref", [], set(),
            properties={f"{self.BRANCH_PROP}{name}": None},  # tombstone
            extra_summary={"branch_dropped": name},
        )

    def _is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        cur = by_id.get(descendant_id)
        while cur is not None:
            if cur.snapshot_id == ancestor_id:
                return True
            cur = by_id.get(cur.parent_id) if cur.parent_id is not None else None
        return False

    def fast_forward(self, name: str) -> Snapshot:
        """Publish a branch by moving main's current pointer to the branch
        head — valid only while no DATA commit landed on main since the
        fork (Iceberg's fast_forward). Pure ``set-ref`` commits on main
        (create_tag/create_branch — including the one that created THIS
        branch) don't block the move: they change no rows, and ref
        properties live in the metadata file, not the snapshot, so the
        pointer move never loses them. The move is a CAS metadata commit,
        so a racing main writer wins or loses atomically — never a lost
        update."""
        for _attempt in range(10):
            version = self.current_version()
            md = self.load_metadata(version)
            head = md.get("properties", {}).get(f"{self.BRANCH_PROP}{name}")
            if head is None:
                raise ValueError(f"unknown branch {name!r}")
            head = int(head)
            cur = md.get("current_snapshot_id")
            if cur == head:
                return self._resolve_snapshot(head)
            # walk main's chain from current: every snapshot until the
            # first ancestor-of-head must be a data-free set-ref commit
            by_id = {s.snapshot_id: s for s in self.snapshots()}
            node = by_id.get(cur) if cur is not None else None
            while node is not None and not self._is_ancestor(
                node.snapshot_id, head
            ):
                if node.operation != "set-ref":
                    raise CommitConflict(
                        f"fast_forward: main moved to {cur} (data commit "
                        f"{node.snapshot_id}) since branch {name!r} forked "
                        f"— merge_branch() instead"
                    )
                node = (
                    by_id.get(node.parent_id)
                    if node.parent_id is not None else None
                )
            md["current_snapshot_id"] = head
            if self._try_publish(version + 1, md):
                return self._resolve_snapshot(head)
            time.sleep(0.01 * (_attempt + 1))
        raise CommitConflict("fast_forward: lost commit race repeatedly")

    def merge_branch(self, name: str, drop: bool = True) -> Snapshot:
        """Publish a branch even after main moved: fast-forward when
        possible, else re-apply the branch's exclusive APPEND snapshots
        onto current in commit order (file-reuse cherry-picks — no data
        rewritten). A diverged branch holding row-set-CHANGING snapshots
        (merge/delete/rewrite) has no safe automatic 3-way merge — those
        raise; re-run the operation against current instead."""
        try:
            out = self.fast_forward(name)
            if drop:
                self.drop_branch(name)
            return out
        except CommitConflict:
            pass
        head = self.branches().get(name)
        if head is None:
            raise ValueError(f"unknown branch {name!r}")
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        chain_ids = set()
        cur = self.current_snapshot()
        while cur is not None:
            chain_ids.add(cur.snapshot_id)
            cur = by_id.get(cur.parent_id) if cur.parent_id is not None else None
        exclusive: list[Snapshot] = []
        node = by_id.get(head)
        while node is not None and node.snapshot_id not in chain_ids:
            exclusive.append(node)
            node = by_id.get(node.parent_id) if node.parent_id is not None else None
        bad = [s for s in exclusive if s.operation != "append"]
        if bad:
            raise CommitConflict(
                f"merge_branch: branch {name!r} diverged from main and "
                f"contains non-append snapshot(s) "
                f"{[(s.snapshot_id, s.operation) for s in bad]} — no safe "
                f"automatic merge; re-run those operations on main"
            )
        out = None
        for s in sorted(exclusive, key=lambda s: s.snapshot_id):
            out = self.cherry_pick(s.snapshot_id)
        if drop:
            self.drop_branch(name)
        return out if out is not None else self.current_snapshot()

    def changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        cdc: bool = False,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Incremental read of the snapshot range ``(from, to]``.

        ``cdc=False`` (default) — incremental APPEND scan (Iceberg-style):
        the rows appended after ``from_snapshot_id`` up to and including
        ``to_snapshot_id`` (default: current). This is what lets a
        downstream pipeline consume a 10^12-doc table incrementally — read
        O(new data) per run instead of re-scanning the table.
        Only appends emit rows. Content-neutral rewrites in the range
        (compaction, clustering, manifest/DV maintenance) are skipped —
        they move bytes, not rows. A snapshot that CHANGES the logical row
        set (merge, overwrite, delete) makes the range inexpressible as
        inserts-only and raises; pass ``cdc=True`` for those. Deletes
        committed AT OR BEFORE ``to`` still mask emitted rows (read_files
        applies ``to``'s registry), so a consumer never sees rows that
        were already dead at its read point.

        ``cdc=True`` — row-level CHANGE DATA FEED across ANY operations
        (the per-snapshot changelog Iceberg derives in
        ``create_changelog_view`` and Delta records as CDF): the result
        carries the table columns plus ``_change_type`` (insert /
        update_before / update_after / delete) and
        ``_commit_snapshot_id``. Per row-set-changing snapshot the delta
        is computed by diffing ONLY the files that snapshot touched —
        removed files and files whose effective delete entries changed,
        read at the parent, against files it added (plus the same
        delete-touched files), read at the snapshot; ``exceptAll`` cancels
        the rows a copy-on-write rewrite carried over unchanged, so the
        cost is O(files touched), never O(table). With ``key_cols`` (e.g.
        the MERGE key) a delete and an insert of the same key within one
        snapshot are classified as an ``update_before``/``update_after``
        pair; without, they stay delete+insert. Replaying the feed
        (apply deletes, add inserts, per ``_commit_snapshot_id`` in order)
        onto the ``from`` snapshot reproduces the ``to`` snapshot exactly.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField

        to_snap = self._resolve_snapshot(to_snapshot_id)
        schema = self.schema() if self.exists() else None
        cdc_schema = (
            StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_snapshot_id", LongType(), False),
                ]
            )
            if schema is not None
            else None
        )
        if to_snap is None:
            return self.spark.createDataFrame(
                [], cdc_schema if cdc else schema
            )
        if from_snapshot_id > to_snap.snapshot_id:
            raise ValueError(
                f"changes(): from={from_snapshot_id} is newer than "
                f"to={to_snap.snapshot_id}"
            )
        ordered, by_id = self.snapshot_range(from_snapshot_id, to_snap)
        if cdc:
            return self._changes_cdc(
                self.cdc_snapshot_plans(ordered, by_id), cdc_schema, key_cols
            )
        return self.read_files(
            self._appended_files(ordered), snapshot=to_snap
        )

    def snapshot_range(
        self, from_snapshot_id: int, to_snap: "Snapshot"
    ) -> tuple[list["Snapshot"], dict[int, "Snapshot"]]:
        """(lineage-ordered snapshots in ``(from, to]``, id→snapshot map).

        Walks the PARENT CHAIN from ``to`` back to ``from`` — an id-range
        scan would wrongly include staged (publish=False) side snapshots
        that were never part of this lineage. Pure metadata I/O (no Spark
        jobs): shared by :meth:`changes`, :meth:`incremental_files` and the
        DSv2 batch/stream readers, all of which may plan without a JVM."""
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        in_range: list[Snapshot] = []
        cur: Snapshot | None = to_snap
        while cur is not None and cur.snapshot_id != from_snapshot_id:
            in_range.append(cur)
            if cur.parent_id is None:
                cur = None  # reached the creation snapshot: chain complete
                break
            parent = by_id.get(cur.parent_id)
            if parent is None:
                # the parent was EXPIRED: the range below this point cannot
                # be reconstructed. Silently returning the partial range
                # would make a from==0 feed look complete while missing
                # every expired commit (a CDC mirror would silently lose
                # rows — caught live by the packaged mirror drive).
                raise ValueError(
                    f"changes(): history before snapshot {cur.snapshot_id} "
                    f"is expired — the range ({from_snapshot_id}, "
                    f"{to_snap.snapshot_id}] cannot be reconstructed. "
                    f"Bootstrap from a full scan (mirror_table does this "
                    f"automatically) or pass from_snapshot_id="
                    f"{cur.snapshot_id} or newer."
                )
            cur = parent
        if cur is None and from_snapshot_id != 0:
            raise ValueError(
                f"changes(): snapshot {from_snapshot_id} is not an ancestor "
                f"of {to_snap.snapshot_id} (expired or staged lineage)"
            )
        return sorted(in_range, key=lambda s: s.snapshot_id), by_id

    def _appended_files(self, ordered: list[Snapshot]) -> list[DataFile]:
        """The file list an append-only incremental range reduces to (also
        the DSv2 ``incremental_from`` planning surface)."""
        added: list[DataFile] = []
        for s in ordered:
            if s.operation == "append":
                added += [
                    f
                    for e in self.manifest_entries_of(s)
                    for f in self._read_manifest(e["path"])
                    if f.added_by == s.snapshot_id
                ]
            elif s.operation.startswith(self._CONTENT_NEUTRAL_OPS):
                continue
            else:
                raise ValueError(
                    f"changes(): snapshot {s.snapshot_id} is a "
                    f"{s.operation!r} — the range is not append-only; pass "
                    f"cdc=True for a row-level change feed, or scan the "
                    f"boundary snapshots"
                )
        return added

    def incremental_files(
        self, from_snapshot_id: int, to_snapshot_id: int | str | None = None
    ) -> tuple[list[DataFile], "Snapshot"]:
        """(files appended in ``(from, to]``, the ``to`` snapshot) — the
        planning form of append-only :meth:`changes` for file-level readers
        (DSv2 ``incremental_from``); deletes registered at ``to`` still
        apply to the returned files."""
        to_snap = self._resolve_snapshot(to_snapshot_id)
        if to_snap is None:
            return [], None
        ordered, _ = self.snapshot_range(from_snapshot_id, to_snap)
        return self._appended_files(ordered), to_snap

    def touched_keys(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        cols: list[str] | None = None,
    ) -> DataFrame:
        """DISTINCT ``cols`` values among rows the commits in ``(from, to]``
        COULD have changed — a cheap SUPERSET of the truly-changed keys.

        Reuses :meth:`cdc_snapshot_plans`'s touched-file sets but skips the
        multiset diff and classification entirely: it just unions
        column-pruned reads of the touched files (before@parent ∪
        after@snapshot, appends at the snapshot) and dedups. Rows a
        copy-on-write rewrite carried over unchanged ARE included — safe
        for affected-key consumers (recomputing an unchanged group is a
        no-op) and far cheaper than the full CDC feed: no join, no
        ``exceptAll``, and the parquet scan reads ONLY ``cols`` thanks to
        Catalyst pruning. Cost is O(touched files' key bytes), never
        O(table). Raises like :meth:`changes` when the range's history is
        expired."""
        if not cols:
            raise ValueError("touched_keys needs at least one column")
        to_snap = self._resolve_snapshot(to_snapshot_id)
        empty = self.spark.createDataFrame(
            [], StructType([f for f in self.schema().fields if f.name in cols])
        )
        if to_snap is None:
            return empty
        if from_snapshot_id > to_snap.snapshot_id:
            raise ValueError(
                f"touched_keys(): from={from_snapshot_id} is newer than "
                f"to={to_snap.snapshot_id}"
            )
        ordered, by_id = self.snapshot_range(from_snapshot_id, to_snap)
        parts: list[DataFrame] = []
        for plan in self.cdc_snapshot_plans(ordered, by_id):
            if plan["op"] == "append":
                if plan["added"]:
                    parts.append(
                        self.read_files(plan["added"], snapshot=plan["snap"])
                        .select(*cols)
                    )
                continue
            if plan["before"]:
                parts.append(
                    self.read_files(plan["before"], snapshot=plan["parent"])
                    .select(*cols)
                )
            if plan["after"]:
                parts.append(
                    self.read_files(plan["after"], snapshot=plan["snap"])
                    .select(*cols)
                )
        if not parts:
            return empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def cdc_snapshot_plans(
        self, ordered: list["Snapshot"], by_id: dict[int, "Snapshot"]
    ) -> list[dict]:
        """Per-snapshot FILE-level CDC plan for a lineage-ordered range —
        pure metadata I/O (no Spark jobs), so it can run in the DSv2
        streaming planner process. Each entry is either
        ``{"snap", "op": "append", "added"}`` (every added file's rows are
        inserts) or ``{"snap", "op": "diff", "parent", "before", "after"}``
        (read ``before`` at the parent and ``after`` at the snapshot, then
        multiset-diff; ``exceptAll`` cancellation drops the rows a
        copy-on-write rewrite carried over unchanged). ``before``/``after``
        hold only the files the snapshot TOUCHED — removed files, files
        whose effective delete entries changed, and added files — so the
        cost is O(files touched), never O(table). Shared by the DataFrame
        feed (:meth:`changes` with ``cdc=True``) and the DSv2 cdc
        readers."""
        plans: list[dict] = []
        for s in ordered:
            if s.operation.startswith(self._CONTENT_NEUTRAL_OPS):
                continue
            added = [
                f
                for e in self.manifest_entries_of(s)
                for f in self._read_manifest(e["path"])
                if f.added_by == s.snapshot_id
            ]
            if s.operation == "append":
                plans.append({"snap": s, "op": "append", "added": added})
                continue
            parent = (
                by_id.get(s.parent_id) if s.parent_id is not None else None
            )
            parent_files = self.live_files(parent) if parent else []
            s_paths = {f.path for f in self.live_files(s)}
            removed = [f for f in parent_files if f.path not in s_paths]
            p_reg = (
                self.delete_registry_full(parent)
                if parent else {"entries": {}, "eq": []}
            )
            s_reg = self.delete_registry_full(s)
            touched = [
                f for f in parent_files
                if f.path in s_paths
                and self._eff_delete_state(p_reg, f)
                != self._eff_delete_state(s_reg, f)
            ]
            plans.append({
                "snap": s, "op": "diff", "parent": parent,
                "before": removed + touched, "after": added + touched,
            })
        return plans

    @staticmethod
    def _eff_delete_state(reg: dict, f: DataFile):
        """A file's effective delete state under a registry — DV entry
        content plus the equality entries that cover it (sequence
        semantics as in read_files)."""
        ent = reg["entries"].get(f.path)
        eqs = tuple(sorted(
            (e["path"], e["seq"])
            for e in reg["eq"]
            if (f.added_by or 0) <= e["seq"]
        ))
        return (json.dumps(ent, sort_keys=True), eqs)

    def _changes_cdc(
        self,
        plans: list[dict],
        cdc_schema: StructType,
        key_cols: list[str] | None,
    ) -> DataFrame:
        """The cdc=True engine of :meth:`changes` — see its docstring."""
        from pyspark.sql import functions as F

        cols = [f.name for f in cdc_schema.fields[:-2]]

        def _tag(df: DataFrame, ctype: str, sid: int) -> DataFrame:
            return df.select(*cols).withColumn(
                "_change_type", F.lit(ctype)
            ).withColumn("_commit_snapshot_id", F.lit(sid).cast("long"))

        parts: list[DataFrame] = []
        for plan in plans:
            s = plan["snap"]
            if plan["op"] == "append":
                if plan["added"]:
                    parts.append(
                        _tag(self.read_files(plan["added"], snapshot=s),
                             "insert", s.snapshot_id)
                    )
                continue
            before_files, after_files = plan["before"], plan["after"]
            before = (
                self.read_files(before_files, snapshot=plan["parent"])
                .select(*cols)
                if before_files
                else self.spark.createDataFrame([], StructType(cdc_schema.fields[:-2]))
            )
            after = (
                self.read_files(after_files, snapshot=s).select(*cols)
                if after_files
                else self.spark.createDataFrame([], StructType(cdc_schema.fields[:-2]))
            )
            dels = before.exceptAll(after)
            ins = after.exceptAll(before)
            if key_cols:
                # keys deleted AND inserted in the same snapshot are updates
                upd_keys = (
                    dels.select(*key_cols).distinct()
                    .join(ins.select(*key_cols).distinct(), key_cols, "inner")
                )
                parts += [
                    _tag(dels.join(upd_keys, key_cols, "left_semi"),
                         "update_before", s.snapshot_id),
                    _tag(dels.join(upd_keys, key_cols, "left_anti"),
                         "delete", s.snapshot_id),
                    _tag(ins.join(upd_keys, key_cols, "left_semi"),
                         "update_after", s.snapshot_id),
                    _tag(ins.join(upd_keys, key_cols, "left_anti"),
                         "insert", s.snapshot_id),
                ]
            else:
                parts += [
                    _tag(dels, "delete", s.snapshot_id),
                    _tag(ins, "insert", s.snapshot_id),
                ]
        if not parts:
            return self.spark.createDataFrame([], cdc_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def row_count(self, snapshot_id: int | None = None) -> int:
        """COUNT(*) from metadata alone when possible: manifest row totals
        minus registered positional-delete rows — zero data read on a
        100-TB table. Falls back to a counting scan only when equality
        deletes are live (their matched-row count is unknown without a
        scan) — and those retire/convert at the next DV maintenance run."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None:
            return 0
        full = self.delete_registry_full(snap)
        if full["eq"]:
            return self.scan(snapshot_id=snapshot_id).count()
        total = sum(
            e.get("n_rows", 0) for e in self.manifest_entries_of(snap)
        )
        dead = sum(e["rows"] for e in full["entries"].values())
        return total - dead

    def _resolve_snapshot(self, snapshot_id: int | str | None) -> Snapshot | None:
        if snapshot_id is None:
            return self.current_snapshot()
        if isinstance(snapshot_id, str):  # a tag or branch name
            named = self.refs().get(snapshot_id)
            if named is None:
                named = self.branches().get(snapshot_id)
            if named is None:
                raise ValueError(f"unknown tag or branch {snapshot_id!r}")
            snapshot_id = named
        for s in self.snapshots():
            if s.snapshot_id == snapshot_id:
                return s
        raise ValueError(f"unknown snapshot {snapshot_id}")

    @staticmethod
    def _stats_predicates(predicates: list[Predicate] | None) -> list[Predicate] | None:
        """Normalize predicate values to the manifests' stats encoding
        (timestamps → epoch micros, etc.)."""
        if not predicates:
            return predicates
        out = []
        for p in predicates:
            if p.op in ("is_null", "not_null"):
                out.append(p)
                continue
            if p.op == "in":
                v = tuple(stats_mod._norm(x, upper=False) for x in p.value)
            else:
                v = stats_mod._norm(p.value, upper=False)
            out.append(Predicate(p.column, p.op, v))
        return out
