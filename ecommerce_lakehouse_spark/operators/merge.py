"""MERGE INTO over Icehouse tables — the reference's signature capability
(SURVEY §2.6), rebuilt as a copy-on-write rewrite of only the affected files.

Reference parity:
- SCD1 merge  — ``src/silver/ingest_silver_tables.py:96-107``
  (update all columns except preserved load-ts, insert new keys)
- fact merge  — ``src/silver/ingest_silver_tables.py:395-404``
- partial-update merge — ``src/silver/sessionize_clickstream.py:287-309``
  (only mutable metric columns updated; open sessions extended)
- watermark 1-row merge — ``src/silver/sessionize_clickstream.py:318-332``

Execution plan (all Spark DataFrame ops, one snapshot commit):

1. **Candidate pruning** — source key min/max bounds prune target files via
   manifest stats; at 10^12 docs this is what keeps a MERGE from touching
   the whole table.
2. **Affected-file discovery** — candidates ⋈ distinct source keys on
   ``_metadata.file_path``; the key set is broadcast when small (hybrid
   broadcast-vs-shuffle strategy, the north_rule's skew-aware join: AQE
   skew-join splitting handles hot url prefixes on the shuffle path, and an
   optional explicit salt spreads a pathological hot key deterministically).
3. **Rewrite join** of affected-file rows with the source on the key
   (matched → source values, except the *carried* columns — neither keys
   nor updated: ``preserve_cols``, the non-updated columns of a partial
   update, ``_row_id`` under lineage — which keep the target's; target-only
   → passthrough; source-only → insert). One of three plans
   (:func:`_merge_plan`, recorded as ``merge_plan`` in the snapshot
   summary):

   - ``key_broadcast`` — the key set fits (``n_src_keys <=
     BROADCAST_KEY_LIMIT``) and every carried column is fixed-width,
     whatever the payload size: SCD1, fact, preserve-column and
     delete merges. Only keys meet: passthrough = target LEFT JOIN
     broadcast(source keys), keeping the unmatched rows; upserts = every
     source row, taking its carried columns from broadcast(matched target
     rows projected to keys + carried columns, ≤ n_src_keys rows). No
     payload column goes through an exchange.
   - ``source_broadcast`` — the key set fits, a carried column is
     variable-width (SCD2 close step, sessionize) and the whole source
     fits ``BROADCAST_BYTES_LIMIT``: target LEFT JOIN broadcast(source)
     + anti-join inserts.
   - ``sort_merge`` — everything else: full outer sort-merge join with
     AQE skew splitting.

   Output files are capped at ``target_file_rows`` rows by the writer
   itself (``maxRecordsPerFile``), so no plan adds a sizing exchange.
4. **Atomic commit**: replace(affected files → rewritten files + inserts).

Idempotency: merging the same source twice yields identical table state
(updates are value-identical; inserts match on the second run). Combined with
the watermark ledger this gives the reference's effectively-once processing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..table.format import ROW_ID, IcehouseTable, Snapshot
from ..table.stats import _norm

# Rewrite-plan thresholds (north_rule: broadcast-vs-sort-merge keyed on
# url). Key sets up to BROADCAST_KEY_LIMIT are broadcast (discovery probe,
# key_broadcast plan); the whole source is broadcast only when its size
# estimate is also under the byte cap (html-heavy sources get wide;
# broadcasting multi-GB build sides OOMs executors at cluster scale).
BROADCAST_KEY_LIMIT = 1_000_000
BROADCAST_BYTES_LIMIT = 256 * 1024 * 1024

# Carried columns of these types have a bounded width, so the key_broadcast
# build side (matched target rows projected to keys + carried columns) is
# bounded by the key set; a variable-width carried column could make it as
# wide as the target's payload.
FIXED_WIDTH_TYPES = frozenset({
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "decimal", "date", "timestamp", "timestamp_ntz",
})


@contextmanager
def _job_phase(spark, desc: str):
    """Label the Spark jobs of a merge phase in the UI (guide §1.5).

    Thread-local in Spark, so concurrent merges from different driver
    threads label independently; the caller's prior description is
    restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


@dataclass
class MergeResult:
    snapshot: Snapshot | None
    rows_updated: int
    rows_inserted: int
    rows_rewritten: int
    files_rewritten: int


# salt_buckets="auto" thresholds: salt only when the candidate files
# average >= MIN_DUP copies per distinct key (linear-counting NDV from the
# sketch bitmaps), sized to the duplication factor, capped — more buckets
# than executor cores just multiplies the probe explode for nothing
AUTO_SALT_MIN_DUP = 8
AUTO_SALT_MAX = 64


def _auto_salt(candidates, key: str) -> int | None:
    """NDV-driven salt sizing for ``merge_into(salt_buckets="auto")``:
    rows per distinct key across the candidate files (per-file
    linear-counting estimates from the sketch.cols bitmaps — zero data
    read) approximates the rewrite join's duplication; heavy duplication
    means hot keys, so salt by the duplication factor. Returns None (no
    salting, today's default behavior) when any candidate lacks a sketch
    or duplication is modest."""
    import math

    from ..table.format import SKETCH_STAT_PREFIX, _sketch_or, sketch_ndv

    if not candidates:
        return None
    stat = f"{SKETCH_STAT_PREFIX}{key}"
    b64s, rows = [], 0
    for f in candidates:
        st = f.stats.get(stat)
        if not st or "b64" not in st:
            return None
        b64s.append(st["b64"])
        rows += f.row_count
    # duplication = rows per distinct key across ALL candidates: the union
    # bitmap (not per-file sums, which double-count keys shared by files)
    union_ndv = sketch_ndv(_sketch_or(b64s))
    if union_ndv is None:  # saturated union: no estimate, no salting
        return None
    dup = rows / max(1, union_ndv)
    if dup < AUTO_SALT_MIN_DUP:
        return None
    return int(min(AUTO_SALT_MAX, 2 ** math.ceil(math.log2(dup))))


INTERVAL_ROUTE_MIN_FILES = 8


def _bucket_candidates(candidates, src_keys: DataFrame, key: str, n: int,
                       legacy_n: int | None = None):
    """Route source keys to hash buckets and keep only files tagged with a
    hit bucket (table/format bucket layout). ZERO data read: the tag lives
    in manifest stats, and the routing job is one narrow distinct over the
    already-deduped key set (≤ n output rows per spec generation). Unlike
    per-file interval routing this works on ANY clustering layout — 2-D
    Morton files span wide key ranges by design, but their bucket tags stay
    exact. Untagged files (pre-bucketing lineage, cross-bucket rewrites)
    are always kept.

    Spec EVOLUTION (set_bucket_spec): each file's tag records its
    write-time (key, modulus); source keys are hashed once per live
    generation, so an 8→16 re-bucket keeps BOTH generations exactly
    routable with no rewrite. ``legacy_n`` is the modulus assumed for tags
    recorded before per-file specs existed — the current table n on a
    never-evolved table, None (always scan) once the spec has changed."""
    from ..table.format import bucket_id_expr, bucket_spec_of_file

    # group tagged files by their write-time spec generation
    by_n: dict[int, list] = {}
    rest = []  # untagged, wrong-key, or unknowable-legacy: always kept
    for f in candidates:
        b, fk, fn = bucket_spec_of_file(f)
        if b is None:
            rest.append(f)
            continue
        if fn is None:
            fk, fn = key, legacy_n  # pre-spec tag: assume legacy modulus
        if fk != key or fn is None:
            rest.append(f)
            continue
        by_n.setdefault(fn, []).append(f)
    if not by_n:
        return candidates
    kept = list(rest)
    for gen_n, files in sorted(by_n.items()):
        hit = {
            r["__b"]
            for r in src_keys.select(bucket_id_expr(key, gen_n).alias("__b"))
            .distinct()
            .collect()
            if r["__b"] is not None
        }
        kept.extend(f for f in files if bucket_spec_of_file(f)[0] in hit)
    return kept


def _sketch_candidates(candidates, src_keys: DataFrame, key: str):
    """Drop candidate files whose key SKETCH (table/format: k-bit bitmap of
    pmod(xxhash64(key), k), opt-in via sketch.cols) intersects no source
    key — zero data read, layout-independent (works where interval routing
    self-disables and without the bucket layout). The probe is one narrow
    distinct over the deduped key set (≤ SKETCH_BITS rows). Files without
    a sketch (pre-property lineage, compaction outputs) are always kept."""
    from ..table.format import SKETCH_STAT_PREFIX, _sketch_hits

    stat = f"{SKETCH_STAT_PREFIX}{key}"
    if not any(f.stats.get(stat) for f in candidates):
        return candidates
    from ..table.format import sketch_position_expr

    positions = [
        r["__p"]
        for r in src_keys.select(sketch_position_expr(key).alias("__p"))
        .distinct().collect()
        if r["__p"] is not None
    ]
    return [
        f for f in candidates
        if not f.stats.get(stat)
        or _sketch_hits(f.stats[stat]["b64"], positions)
    ]


def _interval_candidates(candidates, src_keys: DataFrame, key: str):
    """Refine global-bounds candidates using the PER-FILE key intervals.

    Global min/max pruning keeps every file when the source spans the key
    space ("a".."z" keeps all). On a Z-ordered/clustered table, per-file key
    ranges are narrow and near-disjoint, so routing each source key to the
    interval(s) covering it cuts the discovery read from "all candidates" to
    "files that can actually contain a key" — with ZERO data read for the
    routing itself (manifest stats + one vectorized pass over the key set).

    Conservative by construction: overlapping file intervals are flattened
    into disjoint groups first (a hit anywhere in a group keeps the whole
    group), so the result is always a superset of the truly affected files;
    files without stats are always kept. Exact discovery still runs after.

    Routing is restricted to string/integer key types: manifest stats are
    stored in a normalized domain (timestamps → epoch-µs ints, dates → ISO
    strings — table/stats._norm) that raw Spark key values don't share, so
    comparing them inside the UDF would raise. For other types routing is a
    no-op (candidates returned unchanged — still correct, just unpruned);
    any residual type surprise also falls back rather than failing the merge.
    String stats bounds are 64-char truncated with the upper bound rounded
    UP, so full-length source keys still route conservatively.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    key_type = src_keys.schema[key].dataType.typeName()
    if key_type not in ("string", "integer", "long", "short", "byte"):
        return candidates

    with_bounds, always = [], []
    for f in candidates:
        st = f.stats.get(key) or {}
        if st.get("min") is None or st.get("max") is None:
            always.append(f)
        else:
            with_bounds.append((st["min"], st["max"], f))
    if len(with_bounds) < INTERVAL_ROUTE_MIN_FILES:
        return candidates
    try:
        with_bounds.sort(key=lambda t: (t[0], t[1]))
    except TypeError:
        # mixed-type stats bounds (legacy manifests): routing can't prune
        return candidates

    # flatten into disjoint groups of overlapping intervals
    groups: list[list] = []  # [lo, hi, [files]]
    for lo, hi, f in with_bounds:
        if groups and lo <= groups[-1][1]:
            g = groups[-1]
            g[1] = max(g[1], hi)
            g[2].append(f)
        else:
            groups.append([lo, hi, [f]])
    if len(groups) <= 1:
        # all file ranges overlap into one group (unclustered layout):
        # routing cannot prune anything — skip its Spark job entirely
        return candidates
    glo = np.array([g[0] for g in groups])
    ghi = np.array([g[1] for g in groups])

    str_bounds = glo.dtype.kind in ("U", "S", "O")
    if str_bounds != (key_type == "string"):
        # stats domain doesn't match the key type (e.g. legacy manifests
        # with re-typed columns) — comparing would raise in the UDF
        return candidates
    if str_bounds:
        glo = glo.astype(np.str_)
        ghi = ghi.astype(np.str_)

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's hint inference can't resolve — the explicit
    # returnType makes this a scalar pandas UDF anyway
    @pandas_udf("long")
    def group_of(keys):
        if str_bounds:
            k = np.asarray(keys.astype(str).tolist(), dtype=np.str_)
        else:
            k = keys.to_numpy()
        idx = np.searchsorted(glo, k, side="right") - 1
        ok = idx >= 0
        hit = np.where(ok & (k <= ghi[np.clip(idx, 0, len(ghi) - 1)]), idx, -1)
        return pd.Series(hit)

    hit_ids = {
        r[0]
        for r in src_keys.select(group_of(src_keys[key])).distinct().collect()
        if r[0] is not None and r[0] >= 0
    }
    kept = always + [f for i in hit_ids for f in groups[i][2]]
    return kept


WIDTH_SAMPLE_ROWS = 10_000

# Exact-discovery skip (r6, guide §1.2 "don't compute things you throw
# away"): when the source's key count is ≥ this fraction of the candidate
# files' total rows, the affected-file discovery pass (a full read of every
# candidate's key column + a semi-join) is skipped and ALL candidates are
# rewritten. Math: with n ≥ r·N keys spread over files of R rows each, a
# file escapes the rewrite with probability ≤ (1−R/N)^n ≤ e^(−r·R) — at
# r=0.25 and R≥100 rows/file that is e^−25, so discovery would have kept
# ~every candidate anyway and its read is pure overhead. Concentrated key
# sets don't break this: concentration tightens the source bounds, so the
# stats/interval/bucket routing above has already cut `candidates` to the
# touched region, which only RAISES the ratio while shrinking the
# worst-case over-rewrite. Per-table override: property
# "merge.discovery-skip-ratio" (set > 1 to always run exact discovery).
MERGE_DISCOVERY_SKIP_RATIO = 0.25


def _footer_prep_stats(source: DataFrame, keys: list[str], schema) -> dict | None:
    """Prep stats (key bounds + null guard + row count) straight from the
    source's parquet FOOTERS — zero Spark jobs — when the source is a bare
    file scan (guide §1.2: the cheapest execution of the prep aggregation
    is no execution; footers already hold min/max/null_count/num_rows).

    Applies only when the analyzed plan is a plain relation (no filters,
    projections or joins — their results aren't described by the footers)
    and the key columns' types match the table schema exactly (a later
    align_write_types cast would change the bounds domain). Returns the
    same mapping shape `_prep_key_stats(...).first()` yields, with two
    deliberate conservatisms: ``__nkeys`` is the row count (an upper bound
    on distinct keys — the merge contract requires a key-unique source, and
    every consumer of the number is monotone-safe: broadcast refusal,
    the no-op check), and ``__null_keys`` is a LOWER bound on null-key
    rows (per file, the largest per-key null count — exact for a single
    key; it is zero exactly when no key is null, which is all the null
    guard needs). String bounds come from
    :func:`..table.stats.file_stats`, whose upper bounds are round-up
    truncated, so pruning stays superset-safe. Returns None whenever any
    footer lacks the needed stats — callers fall back to the agg job.
    """
    try:
        jplan = source._jdf.queryExecution().analyzed()
        if jplan.getClass().getSimpleName() != "LogicalRelation":
            return None
        paths = list(source.inputFiles())
    except Exception:
        return None
    if not paths:
        return None
    src_types = {f.name: f.dataType for f in source.schema.fields}
    tgt_types = {f.name: f.dataType for f in schema.fields}
    for k in keys:
        if k not in src_types or src_types.get(k) != tgt_types.get(k):
            return None
    from ..table.stats import file_stats

    tot_rows = 0
    null_keys = 0
    lo: dict = {k: None for k in keys}
    hi: dict = {k: None for k in keys}
    for p in paths:
        if p.startswith("file:"):
            p = p[5:]
            while p.startswith("//"):
                p = p[1:]
        if not p.endswith(".parquet"):
            return None
        try:
            rows, _size, st = file_stats(p, keys)
        except Exception:
            return None
        tot_rows += rows
        file_nulls = 0
        for k in keys:
            e = st.get(k)
            if e is None or e["null_count"] is None:
                return None  # footer can't answer the null guard
            file_nulls = max(file_nulls, e["null_count"])
            if e["min"] is not None and (lo[k] is None or e["min"] < lo[k]):
                lo[k] = e["min"]
            if e["max"] is not None and (hi[k] is None or e["max"] > hi[k]):
                hi[k] = e["max"]
            if e["min"] is None and rows > e["null_count"]:
                return None  # non-null values but no bounds: stats disabled
        null_keys += file_nulls
    out = {"__nrows": tot_rows, "__nkeys": tot_rows, "__null_keys": null_keys}
    for k in keys:
        out[f"lo_{k}"] = lo[k]
        out[f"hi_{k}"] = hi[k]
    return out


def _prep_key_stats(source: DataFrame, keys: list[str]) -> DataFrame:
    """The key-only prep aggregation (bounds + distinct count + null guard).

    Selects ONLY the key columns so Catalyst prunes everything else out of
    the source scan (ReadSchema = keys): planning a merge must never read
    payload bytes.
    """
    any_null = F.lit(False)
    for k in keys:
        any_null = any_null | F.col(k).isNull()
    return source.select(*keys).agg(
        *[F.min(k).alias(f"lo_{k}") for k in keys],
        *[F.max(k).alias(f"hi_{k}") for k in keys],
        F.count_distinct(*[F.col(k) for k in keys]).alias("__nkeys"),
        F.count(F.when(any_null, 1)).alias("__null_keys"),
        F.count(F.lit(1)).alias("__nrows"),
    )


# file-backed sources: on-disk parquet bytes × this factor approximates the
# in-memory broadcast size (snappy parquet typically inflates 2-4×; erring
# high only refuses a borderline broadcast, never OOMs one)
PARQUET_INFLATION = 4


def _estimate_src_bytes(source: DataFrame, n_rows: int) -> int:
    """Broadcast-size estimate with ZERO payload read on the common path:
    file-backed sources are sized from their parquet file sizes (footer-level
    metadata, ``DataFrame.inputFiles``); only in-memory/derived sources fall
    back to a limit()-bounded width sample."""
    try:
        paths = source.inputFiles()
    except Exception:
        paths = []
    if paths:
        total = 0
        for p in paths:
            if p.startswith("file:"):
                p = p[5:]
                while p.startswith("//"):
                    p = p[1:]
            try:
                total += os.path.getsize(p)
            except OSError:
                total = 0
                break
        if total > 0:
            # conservative: filters on the source make this an upper bound
            return total * PARQUET_INFLATION
    var_cols = [
        f.name for f in source.schema.fields
        if f.dataType.typeName() in ("string", "binary")
    ]
    fixed = 16 * (len(source.columns) - len(var_cols))  # generous per-field
    if not var_cols or n_rows == 0:
        return int(n_rows * fixed)
    sample = (
        source.select(*var_cols)
        .limit(WIDTH_SAMPLE_ROWS)
        .agg(*[F.avg(F.length(c)).alias(f"__len_{c}") for c in var_cols])
        .first()
    )
    var_width = sum(sample[f"__len_{c}"] or 0 for c in var_cols)
    return int(n_rows * (fixed + var_width))


def _prune_candidates(files, bounds, key_cols: list[str]):
    out = []
    for f in files:
        keep = True
        for k in key_cols:
            st = f.stats.get(k)
            if not st or st.get("min") is None or st.get("max") is None:
                continue
            lo = _norm(bounds[f"lo_{k}"], upper=False)
            hi = _norm(bounds[f"hi_{k}"], upper=False)
            if lo is None or hi is None:
                continue
            try:
                if st["min"] > hi or st["max"] < lo:
                    keep = False
                    break
            except TypeError:
                continue
        if keep:
            out.append(f)
    return out


def dedup_latest(source: DataFrame, key_cols: list[str], order_col: str,
                 tiebreak_cols: list[str] | None = None) -> DataFrame:
    """W1 latest-wins dedup (ingest_silver_tables.py:57-63): one row per key,
    newest order_col (plus deterministic tie-breaks) survives."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_into(
    table: IcehouseTable,
    source: DataFrame,
    key_cols: list[str] | str,
    update_cols: list[str] | None = None,
    preserve_cols: tuple[str, ...] = (),
    insert_new: bool = True,
    delete_matched: bool = False,
    salt_buckets: int | str | None = None,
    target_file_rows: int | None = None,
    merge_schema: bool = False,
    branch: str | None = None,
    collect_metrics: bool = True,
) -> MergeResult:
    """Copy-on-write MERGE of ``source`` into ``table`` on key equality.

    update_cols=None → SCD1/fact semantics (update ALL source columns except
    ``preserve_cols``); a column list → partial-update semantics (M4);
    delete_matched=True → MERGE ... WHEN MATCHED DELETE.

    collect_metrics=False skips the Observation-based row counters (the
    snapshot summary records -1 and MergeResult counts are -1): required
    when the merge runs INSIDE a Structured Streaming ``foreachBatch``
    callback, where ``Observation.get`` can deadlock the micro-batch
    (the stream execution thread dies before delivering the metrics
    event — see streaming/cdc_apply.py, which sets this).

    Source must be key-unique (pre-dedup with :func:`dedup_latest`), and
    NULL merge keys are rejected: the discovery semi-join and insert
    anti-join are null-unsafe while the rewrite join is null-safe, so a
    null-key row would be both updated and re-inserted — instead of
    silently duplicating, the merge raises. Filter or coalesce null keys
    upstream (target rows with null keys pass through untouched).
    """
    spark = table.spark
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # pin the snapshot the rewrite reads through: the commit validates that
    # no delete vectors landed on the rewritten files after this point
    base_snap = (
        table._resolve_snapshot(branch) if branch is not None
        else table.current_snapshot()
    )
    base_registry = table.delete_registry_full(base_snap)
    schema = table.schema()
    lineage = table.row_lineage_enabled()
    # Footer-based prep (zero Spark jobs) — must look at the RAW source:
    # the write-default/type-alignment transforms below wrap it in a
    # Project, after which the footers no longer describe the plan.
    footer_prep = _footer_prep_stats(source, keys, schema)
    if ROW_ID in source.columns:
        # a lineage scan used as a MERGE source: target identity wins —
        # matched rows keep the TARGET's _row_id, inserts get fresh ids
        # assigned at commit time
        source = source.drop(ROW_ID)
    widened = None
    if not delete_matched:
        # a writer that predates add_column(default=…) may omit the
        # column: materialize the write-default before reconciling, same
        # as append (the merged files then store the resolved value)
        source = table.align_write_types(table.fill_write_defaults(source))
        # schema evolution: with merge_schema the source may ADD nullable
        # columns — the widened schema commits with the rewrite, and
        # unaffected old files read back with NULLs (no rewrite of untouched
        # data). Without it, a wider source raises instead of silently
        # dropping the new column.
        widened = table.reconcile_schema(source.schema, merge_schema)
        if widened is not None:
            schema = widened
    tcols = [f.name for f in schema.fields]

    source = source.select(*tcols) if not delete_matched else source

    # Prep reads ONLY the key columns (column pruning reaches the source
    # scan — at a 100-TB delta the html payload is the dominant IO and must
    # not be touched just to plan the merge): key bounds for stats pruning
    # + key count + null-key guard. For a bare file-backed source the whole
    # aggregation comes from parquet footers with NO Spark job (r6 —
    # measured ~1 s of the bench merge); derived sources run the agg job.
    src_keys = source.select(*keys).distinct()
    if footer_prep is not None:
        prep = footer_prep
    else:
        with _job_phase(spark, "merge: key-stats prep"):
            prep = _prep_key_stats(source, keys).first()
    n_src_keys = prep["__nkeys"]
    if prep["__null_keys"]:
        # footer counts are a lower bound (see _footer_prep_stats)
        n_null = prep["__null_keys"]
        count = f"at least {n_null}" if footer_prep is not None else f"{n_null}"
        raise ValueError(
            f"merge_into: {count} source row(s) have NULL in "
            f"merge key(s) {keys}; null keys are unsupported — filter or "
            f"coalesce them before merging"
        )
    live_files = table.live_files(base_snap)
    candidates = _prune_candidates(live_files, prep, keys)
    n_global_candidates = len(candidates)
    bucket_spec = table.bucket_spec()
    if candidates and bucket_spec is not None and keys[0] == bucket_spec[0]:
        # bucket-tag routing: layout-independent, zero data read. Routing on
        # the LEADING key is conservative for composite keys too — a match
        # requires equality on every key, so a file whose bucket tag covers
        # no source keys[0] value cannot contain a match (VERDICT r03 #5).
        evolved = (
            table.properties().get(table.BUCKET_EVOLVED_PROP) == "true"
        )
        candidates = _bucket_candidates(
            candidates, src_keys, bucket_spec[0], bucket_spec[1],
            legacy_n=None if evolved else bucket_spec[1],
        )
    if candidates:
        # per-file interval routing on the leading key: on clustered tables
        # this is what keeps the discovery read O(touched ranges) instead of
        # O(candidates); composite keys route on keys[0] (superset-safe)
        candidates = _interval_candidates(candidates, src_keys, keys[0])
    if candidates:
        # key-sketch routing (opt-in sketch.cols): the layout-independent
        # cut — zero data read on any layout, superset-safe
        candidates = _sketch_candidates(candidates, src_keys, keys[0])
    if salt_buckets == "auto":
        # NDV-driven sizing from the sketch bitmaps — metadata only, no
        # scan; resolves to None (unsalted) when candidates lack sketches
        salt_buckets = _auto_salt(candidates, keys[0])
    if salt_buckets:
        # Deterministic salt spreads one hot key across buckets for the
        # discovery join; the probe side is exploded to all bucket values.
        salted = src_keys.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
        )
    # Exact-discovery skip (see MERGE_DISCOVERY_SKIP_RATIO): a bulk delta
    # whose key count rivals the candidates' row count touches ~every
    # candidate, so the discovery read would cost a full pass over the
    # candidate key columns to learn what the ratio already implies.
    # GUARDED on routing evidence (r6 measurement): the ratio argument
    # assumes source keys spread over the candidates, which holds once
    # some metadata stage (bounds/bucket/interval/sketch) has actually
    # pruned — i.e. the layout localizes this key, so the surviving
    # candidates sit inside the delta's key region. On a layout none of
    # the routing stages can cut (candidates == live files), a
    # concentrated delta can touch a small fraction of the files while
    # the global ratio still clears the bar — skipping there over-rewrote
    # 64 files where 13 were affected in the bench's index-partitioned
    # pages table, and every downstream incremental consumer (CDC feed,
    # mirror) paid to re-read the value-identical rewrites. Exact
    # discovery stays on in that case.
    try:
        skip_ratio = float(
            table.properties().get(
                "merge.discovery-skip-ratio", MERGE_DISCOVERY_SKIP_RATIO
            )
        )
    except (TypeError, ValueError):
        skip_ratio = MERGE_DISCOVERY_SKIP_RATIO
    cand_rows = sum(f.row_count for f in candidates)
    discovery_skipped = bool(
        candidates
        and len(candidates) < len(live_files)  # routing evidence
        and cand_rows > 0
        and n_src_keys >= skip_ratio * cand_rows
    )
    affected_paths: list[str] = []
    # whether the matched target rows hold each key at most once — lets the
    # key_broadcast plan write source rows without looking their match up
    # (None: unknown, discovery skipped)
    tgt_keys_unique: bool | None = True
    if candidates and not discovery_skipped:
        cand_full = [f"{table.path}/{f.path}" for f in candidates]
        # name-mapped read: files written before a rename_column carry the
        # old physical key name — resolve through the alias plan or the
        # semi-join would silently miss every pre-rename match
        read_schema, aliases = table.alias_read_plan(schema)
        tgt_cand = table.alias_resolve(
            spark.read.schema(read_schema)
            .parquet(*cand_full)
            .withColumn("__file", F.col("_metadata.file_path")),
            aliases,
        ).select(*keys, "__file")
        probe = F.broadcast(src_keys) if n_src_keys <= BROADCAST_KEY_LIMIT else src_keys
        if salt_buckets and n_src_keys > BROADCAST_KEY_LIMIT:
            tgt_cand = tgt_cand.withColumn(
                "__salt", (F.abs(F.hash(*[F.col(k) for k in keys])) % salt_buckets)
            )
            probe = salted.withColumn("__salt", F.col("__salt").cast("int"))
            hit = tgt_cand.join(probe, keys + ["__salt"], "left_semi")
        else:
            hit = tgt_cand.join(probe, keys, "left_semi")
        with _job_phase(spark, "merge: affected-file discovery"):
            # hit rows are pre-DV, so "unique" here is conservative: DVs
            # only remove rows
            got = hit.agg(
                F.collect_set("__file").alias("files"),
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct(*keys).alias("keys"),
            ).first()
        affected_paths = list(got["files"])
        tgt_keys_unique = got["rows"] == got["keys"]

    def _to_rel(p: str) -> str:
        if p.startswith("file:"):
            p = p[5:]
            while p.startswith("//"):
                p = p[1:]
        return os.path.relpath(p, table.path)

    if discovery_skipped:
        affected_files = list(candidates)
        tgt_keys_unique = None
    else:
        rel_affected = {_to_rel(p) for p in affected_paths}
        affected_files = [f for f in candidates if f.path in rel_affected]

    # --- pre-write no-op detection (P7 empty short-circuit) ------------------
    # exact discovery: matches exist ⟺ affected_files non-empty. A skipped
    # discovery keeps every routed candidate, so a delta that matches
    # nothing still rewrites them (value-identical) — it never lands here.
    if not affected_files:
        if delete_matched or not insert_new or n_src_keys == 0:
            return MergeResult(None, 0, 0, 0, 0)

    # --- merge computation ---------------------------------------------------
    # read through the DV-applied primitive: rows deleted by deletion
    # vectors must not be resurrected by the rewrite (their registry entries
    # drop in the same commit that replaces the files)
    tgt = table.read_files(
        affected_files, snapshot=base_snap, schema=schema, with_row_id=lineage,
    )

    upd_set = set(update_cols) if update_cols is not None else (
        set(tcols) - set(keys) - set(preserve_cols)
    )
    carried = [] if delete_matched else [
        c for c in tcols if c not in keys and c not in upd_set
    ]
    plan = _merge_plan(
        source, prep["__nrows"], n_src_keys,
        [schema[c].dataType for c in carried],
    )
    result, counts = _rewrite_frame(
        plan, tgt, source, keys, tcols, upd_set,
        lineage=lineage, insert_new=insert_new, delete_matched=delete_matched,
        collect_metrics=collect_metrics, n_src_rows=prep["__nrows"],
        tgt_keys_unique=bool(tgt_keys_unique),
    )

    # stage first (triggers the one write action → metrics become available),
    # then commit atomically with the metrics in the snapshot summary
    with _job_phase(spark, "merge: rewrite+write"):
        added = table._stage_dataframe(
            result, None, snapshot_id=table.current_version() + 1,
            max_records_per_file=target_file_rows,
            # range sampling would execute `result` twice and double the
            # Observation counters riding it — sort.order degrades to a
            # within-partition sort here (row-group stats still tighten)
            range_sort_ok=False,
        )
    n_upd, n_ins, n_pass = counts()

    snap = table.replace_files(
        [f.path for f in affected_files],
        None,
        operation="merge",
        precomputed_added=added,
        branch=branch,
        base_delete_registry=base_registry,
        schema_json=widened.jsonValue() if widened is not None else None,
        extra_summary={
            "merge_updated": n_upd,
            "merge_inserted": n_ins,
            "merge_passthrough": n_pass,
            "merge_candidates_global": n_global_candidates,
            "merge_candidates_scanned": len(candidates),
            "merge_discovery": "skipped" if discovery_skipped else "exact",
            "merge_plan": plan,
        },
    )
    return MergeResult(snap, n_upd, n_ins, n_upd + n_ins + n_pass, len(affected_files))


def _merge_plan(source: DataFrame, n_rows: int, n_src_keys: int,
                carried_types: list) -> str:
    """Choose the rewrite plan (module docstring, step 3). The source-size
    estimate — the only step that may read payload bytes — runs only when
    key_broadcast is ruled out by a variable-width carried column and the
    key count still allows a broadcast."""
    if n_src_keys > BROADCAST_KEY_LIMIT:
        return "sort_merge"
    if all(t.typeName() in FIXED_WIDTH_TYPES for t in carried_types):
        return "key_broadcast"
    if _estimate_src_bytes(source, n_rows) <= BROADCAST_BYTES_LIMIT:
        return "source_broadcast"
    return "sort_merge"


def _rewrite_frame(
    plan: str,
    tgt: DataFrame,
    source: DataFrame,
    keys: list[str],
    tcols: list[str],
    upd_set: set[str],
    *,
    lineage: bool,
    insert_new: bool,
    delete_matched: bool,
    collect_metrics: bool,
    n_src_rows: int,
    tgt_keys_unique: bool,
):
    """The rows that replace the affected files: passthrough + updated
    (+ inserted) rows, as one DataFrame for the single write action.

    ``tgt`` is the DV-applied read of the affected files (``_row_id``
    appended under lineage); ``source`` is key-unique with no NULL keys
    and, unless ``delete_matched``, already projected to ``tcols``.
    ``tgt_keys_unique`` says no key occurs twice among the matched target
    rows. Returns ``(frame, counts)``; ``counts()`` — called after the
    frame's write action — gives ``(n_updated, n_inserted, n_passthrough)``
    from the Observations riding the write, or -1s without
    ``collect_metrics``.
    """
    from pyspark.sql import Observation

    out = [*tcols, *([ROW_ID] if lineage else [])]
    obs = Observation("merge_metrics") if collect_metrics else None
    obs_ins = None  # set where inserts get a counter of their own
    ins_from_rows = False  # n_inserted = source rows − matched target rows

    if plan == "key_broadcast":
        # Only keys meet: both build sides are key-sized, so neither the
        # target nor the source payload goes through an exchange. No
        # distinct on the probe keys — the source is key-unique, and a
        # distinct would add a shuffle.
        s_keys = source.select(*keys).withColumn("__s", F.lit(True))
        t = tgt.join(F.broadcast(s_keys), keys, "left")
        if obs is not None:
            t = t.observe(
                obs,
                F.sum(F.when(F.col("__s").isNotNull(), 1).otherwise(0)).alias("n_upd"),
                F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0)).alias("n_pass"),
            )
        result = t.filter(F.col("__s").isNull()).select(*out)
        if not delete_matched:
            carried = [c for c in out if c not in keys and c not in upd_set]
            if carried or not insert_new or not tgt_keys_unique:
                # matched target rows projected to keys + carried columns
                # (≤ n_src_keys rows when target keys are unique); a target
                # key held twice yields two updated rows, as in sort_merge
                mt = tgt.select(*keys, *carried).join(
                    F.broadcast(source.select(*keys)), keys, "left_semi"
                ).select(
                    *keys,
                    *[F.col(c).alias(f"__t_{c}") for c in carried],
                    F.lit(True).alias("__t"),
                )
                u = source.join(
                    F.broadcast(mt), keys, "left" if insert_new else "inner"
                )
                if collect_metrics and insert_new:
                    obs_ins = Observation("merge_inserts")
                    u = u.observe(
                        obs_ins,
                        F.sum(F.when(F.col("__t").isNull(), 1).otherwise(0)).alias("n_ins"),
                    )
                upserts = u.select(*[
                    F.col(f"__t_{c}").alias(c) if c == ROW_ID
                    else F.when(F.col("__t").isNotNull(), F.col(f"__t_{c}"))
                    .otherwise(F.col(c)).alias(c) if c in carried
                    else F.col(c)
                    for c in out
                ])
            else:
                # every source row is written as is; with unique matched
                # target keys, inserts = source rows − matched rows
                upserts = source.select(*tcols)
                ins_from_rows = True
            result = result.unionByName(upserts)
    else:
        t = tgt.alias("t").withColumn("__t", F.lit(True))
        s = source.alias("s").withColumn("__s", F.lit(True))
        cond = [t[k].eqNullSafe(s[k]) for k in keys]
        if plan == "source_broadcast":
            # the target side is never shuffled: updates/passthrough =
            # target LEFT JOIN broadcast(source); inserts come below
            joined = t.join(F.broadcast(s), cond, "left")
        else:
            # sort-merge full outer; AQE splits skewed keys, and the caller
            # can layer deterministic salting on discovery
            joined = t.join(s, cond, "full_outer")

        matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
        out_cols = []
        for c in tcols:
            tc, sc = t[c], (s[c] if c in source.columns else F.lit(None))
            if c in keys:
                expr = F.coalesce(tc, sc)
            elif c in upd_set:
                expr = F.when(matched, sc).when(F.col("__t").isNotNull(), tc).otherwise(sc)
            else:
                expr = F.when(F.col("__t").isNotNull(), tc).otherwise(sc)
            out_cols.append(expr.alias(c))
        if lineage:
            # carried/updated rows keep the target's id; full-outer insert
            # rows (__t null) get NULL and fall back to the commit-assigned
            # virtual id
            out_cols.append(
                F.when(F.col("__t").isNotNull(), t[ROW_ID])
                .otherwise(F.lit(None).cast("long"))
                .alias(ROW_ID)
            )

        if obs is not None:
            joined = joined.observe(
                obs,
                F.sum(F.when(matched, 1).otherwise(0)).alias("n_upd"),
                F.sum(
                    F.when(F.col("__s").isNotNull() & F.col("__t").isNull(), 1).otherwise(0)
                ).alias("n_ins"),
                F.sum(
                    F.when(F.col("__t").isNotNull() & F.col("__s").isNull(), 1).otherwise(0)
                ).alias("n_pass"),
            )

        if delete_matched:
            result = joined.filter(F.col("__t").isNotNull() & F.col("__s").isNull()).select(
                *[t[c].alias(c) for c in out]
            )
        elif not insert_new:
            result = joined.filter(F.col("__t").isNotNull()).select(*out_cols)
        elif plan == "source_broadcast":
            # inserts don't appear in a LEFT join: union source rows whose
            # key matched nothing (anti-join against the broadcast
            # matched-key set — matched keys ⊆ source keys, so it is small)
            matched_keys = tgt.select(*keys).join(
                F.broadcast(source.select(*keys)), keys, "left_semi"
            ).distinct()
            inserts = source.join(F.broadcast(matched_keys), keys, "left_anti").select(*tcols)
            if lineage:
                inserts = inserts.withColumn(ROW_ID, F.lit(None).cast("long"))
            if collect_metrics:
                obs_ins = Observation("merge_inserts")
                inserts = inserts.observe(obs_ins, F.count(F.lit(1)).alias("n_ins"))
            result = joined.select(*out_cols).unionByName(inserts)
        else:
            result = joined.select(*out_cols)

    def counts() -> tuple[int, int, int]:
        if obs is None:
            return -1, -1, -1  # metrics skipped (foreachBatch-safe)
        got = obs.get
        n_upd, n_ins, n_pass = got["n_upd"] or 0, got.get("n_ins") or 0, got["n_pass"] or 0
        if obs_ins is not None:
            n_ins = obs_ins.get["n_ins"] or 0
        elif ins_from_rows:
            n_ins = n_src_rows - n_upd
        if not insert_new or delete_matched:
            n_ins = 0
        return n_upd, n_ins, n_pass

    return result, counts
