"""Copy-on-write MERGE INTO: SCD1/fact/partial-update/delete semantics,
affected-file minimality, idempotency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_spark.datagen import generate_pages, generate_recrawl_delta
from ecommerce_lakehouse_spark.operators.merge import dedup_latest, merge_into
from ecommerce_lakehouse_spark.table import IcehouseTable


@pytest.fixture()
def base_table(spark, tmp_path):
    df = generate_pages(spark, 300, seed=21, partitions=3)
    # cluster by url so file key-ranges are narrow → pruning is meaningful
    return IcehouseTable.create(
        spark, str(tmp_path / "pages"), df.repartitionByRange(6, "url")
    )


def table_state(tbl):
    return sorted(
        tbl.scan().select("url", "warc_ts", "text", "lang").collect(),
        key=lambda r: (r.url, str(r.warc_ts)),
    )


def test_scd1_merge_upsert(spark, base_table):
    delta = generate_recrawl_delta(spark, base_n=300, n_new=40, n_recrawl=50, seed=21)
    delta = dedup_latest(delta, ["url"], "warc_ts")
    res = merge_into(base_table, delta, "url")
    assert res.rows_updated == 50
    assert res.rows_inserted == 40
    assert base_table.scan().count() == 340
    # updated rows carry the recrawl content
    rev = base_table.scan().filter(F.col("text").contains("rev1 ")).count()
    assert rev == 50
    snap = base_table.current_snapshot()
    assert snap.operation == "merge"
    assert snap.summary["merge_updated"] == 50


def test_merge_rewrites_only_affected_files(spark, base_table):
    all_files = {f.path for f in base_table.live_files()}
    # touch exactly one existing url
    one = base_table.scan().orderBy("url").limit(1)
    src = one.withColumn("lang", F.lit("xx"))
    res = merge_into(base_table, src, "url")
    assert res.rows_updated == 1 and res.rows_inserted == 0
    assert res.files_rewritten == 1, "only the file containing the key is rewritten"
    survivors = {f.path for f in base_table.live_files()}
    assert len(all_files & survivors) == len(all_files) - 1


def test_merge_partial_update(spark, base_table):
    victim = base_table.scan().orderBy("url").limit(3)
    src = victim.withColumn("lang", F.lit("qq")).withColumn(
        "text", F.lit("SHOULD NOT LAND")
    )
    merge_into(base_table, src, "url", update_cols=["lang"])
    got = base_table.scan().filter(F.col("lang") == "qq")
    assert got.count() == 3
    assert got.filter(F.col("text") == "SHOULD NOT LAND").count() == 0


def test_merge_preserve_cols(spark, base_table):
    victim = base_table.scan().orderBy("url").limit(2)
    orig = {r.url: r.warc_ts for r in victim.collect()}
    src = victim.withColumn("lang", F.lit("zz")).withColumn(
        "warc_ts", F.expr("warc_ts + interval 99 days")
    )
    merge_into(base_table, src, "url", preserve_cols=("warc_ts",))
    got = base_table.scan().filter(F.col("lang") == "zz").collect()
    assert len(got) == 2
    for r in got:
        assert r.warc_ts == orig[r.url], "preserved column must keep target value"


def test_merge_idempotent(spark, base_table):
    delta = dedup_latest(
        generate_recrawl_delta(spark, 300, n_new=20, n_recrawl=30, seed=21),
        ["url"], "warc_ts",
    )
    merge_into(base_table, delta, "url")
    state1 = table_state(base_table)
    res2 = merge_into(base_table, delta, "url")
    assert res2.rows_inserted == 0
    assert table_state(base_table) == state1, "re-run must be value-identical"


def test_merge_delete_matched(spark, base_table):
    victims = base_table.scan().orderBy("url").limit(5).select("url")
    res = merge_into(base_table, victims, "url", delete_matched=True)
    assert res.rows_updated == 5  # matched rows (deleted)
    assert base_table.scan().count() == 295
    remaining_urls = {r.url for r in base_table.scan().select("url").collect()}
    assert not ({r.url for r in victims.collect()} & remaining_urls)


def test_merge_noop_when_nothing_matches(spark, base_table):
    src = generate_pages(spark, 5, seed=999, partitions=1).withColumn(
        "url", F.concat(F.lit("zzz://nowhere/"), F.col("url"))
    )
    before = base_table.current_version()
    res = merge_into(base_table, src, "url", insert_new=False)
    assert res.snapshot is None
    assert base_table.current_version() == before, "no-op must not commit"


def test_merge_insert_only_into_empty_region(spark, base_table):
    src = generate_pages(spark, 10, seed=77, partitions=1).withColumn(
        "url", F.concat(F.lit("zzz://new/"), F.col("url"))
    )
    res = merge_into(base_table, src, "url")
    assert res.rows_inserted == 10 and res.rows_updated == 0
    assert res.files_rewritten == 0
    assert base_table.scan().count() == 310


def test_merge_salted_discovery(spark, base_table):
    """Salted path must produce identical results to the plain path."""
    delta = dedup_latest(
        generate_recrawl_delta(spark, 300, n_new=10, n_recrawl=20, seed=21),
        ["url"], "warc_ts",
    )
    import ecommerce_lakehouse_spark.operators.merge as m

    old_limit = m.BROADCAST_KEY_LIMIT
    m.BROADCAST_KEY_LIMIT = 0  # force shuffle path
    try:
        res = merge_into(base_table, delta, "url", salt_buckets=4)
    finally:
        m.BROADCAST_KEY_LIMIT = old_limit
    assert res.rows_updated == 20 and res.rows_inserted == 10
    assert base_table.scan().count() == 310


def _delta_on_disk(spark, tmp_path):
    """A key-unique recrawl delta read back from parquet — the file-backed
    source shape of a bulk recrawl merge."""
    path = str(tmp_path / "delta")
    dedup_latest(
        generate_recrawl_delta(spark, 300, n_new=15, n_recrawl=25, seed=21),
        ["url"], "warc_ts",
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_merge_broadcast_path_plan_shape(spark, base_table, tmp_path, monkeypatch):
    """A source above BROADCAST_BYTES_LIMIT with a small key set takes the
    key_broadcast plan, and the frame merge_into writes never shuffles:
    no SortMergeJoin, and every exchange is a broadcast. The source-size
    estimate does not run on this plan."""
    import ecommerce_lakehouse_spark.operators.merge as m

    frames = []
    real = m._rewrite_frame

    def capture(*a, **kw):
        out = real(*a, **kw)
        frames.append(out[0])
        return out

    def _boom(*a, **kw):  # noqa: ANN002, ANN003
        raise AssertionError("source-size estimate ran on the key_broadcast plan")

    monkeypatch.setattr(m, "BROADCAST_BYTES_LIMIT", 0)  # every source is above
    monkeypatch.setattr(m, "_rewrite_frame", capture)
    monkeypatch.setattr(m, "_estimate_src_bytes", _boom)
    res = merge_into(base_table, _delta_on_disk(spark, tmp_path), "url")
    assert res.snapshot.summary["merge_plan"] == "key_broadcast"
    assert (res.rows_updated, res.rows_inserted) == (25, 15)
    (frame,) = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges
    for ln in exchanges:
        assert "BroadcastExchange" in ln, f"non-broadcast exchange: {ln}"


def test_merge_big_source_path_equivalent(spark, base_table):
    """Force the large-source (full-outer SMJ) path and check results equal
    the broadcast path's semantics."""
    import ecommerce_lakehouse_spark.operators.merge as m

    delta = dedup_latest(
        generate_recrawl_delta(spark, 300, n_new=15, n_recrawl=25, seed=21),
        ["url"], "warc_ts",
    )
    old = m.BROADCAST_KEY_LIMIT
    m.BROADCAST_KEY_LIMIT = 0
    try:
        res = merge_into(base_table, delta, "url")
    finally:
        m.BROADCAST_KEY_LIMIT = old
    assert res.snapshot.summary["merge_plan"] == "sort_merge"
    assert res.rows_updated == 25 and res.rows_inserted == 15
    assert base_table.scan().count() == 315


REWRITE_PLANS = ("key_broadcast", "source_broadcast", "sort_merge")


def _merge_under_each_plan(spark, tmp_path, monkeypatch, prepare=None,
                           properties=None, **merge_kw):
    """Run one merge of the on-disk delta on identical fresh tables, once
    per rewrite plan. merge_into must pick key_broadcast itself; the other
    plans are forced. Returns {plan: (counts, table state, result, table)}
    and asserts every plan agrees with key_broadcast. The state leaves
    ``_row_id`` out: ids of inserted rows follow the written file layout,
    which differs between plans."""
    import ecommerce_lakehouse_spark.operators.merge as m

    delta = _delta_on_disk(spark, tmp_path)
    real = m._merge_plan
    out = {}
    for plan in REWRITE_PLANS:
        tbl = IcehouseTable.create(
            spark, str(tmp_path / plan),
            generate_pages(spark, 300, seed=21, partitions=3)
            .repartitionByRange(6, "url"),
            properties=properties,
        )
        if prepare is not None:
            prepare(tbl)
        monkeypatch.setattr(
            m, "_merge_plan", real if plan == "key_broadcast" else (lambda *a, p=plan: p)
        )
        res = merge_into(tbl, delta, "url", **merge_kw)
        sm = res.snapshot.summary
        assert sm["merge_plan"] == plan
        counts = (sm["merge_updated"], sm["merge_inserted"], sm["merge_passthrough"])
        assert counts == (res.rows_updated, res.rows_inserted,
                          res.rows_rewritten - res.rows_updated - res.rows_inserted)
        state = sorted(map(tuple, tbl.scan().collect()), key=repr)
        out[plan] = (counts, state, res, tbl)
    monkeypatch.setattr(m, "_merge_plan", real)
    kb_counts, kb_state, _, _ = out["key_broadcast"]
    for plan in REWRITE_PLANS[1:]:
        assert out[plan][0] == kb_counts, f"{plan} counts differ"
        assert out[plan][1] == kb_state, f"{plan} table state differs"
    return out


def _touched_rows(tbl):
    """Rows of the files the last merge replaced (passthrough + updated)."""
    snaps = tbl.snapshots()
    before = {f.path: f.row_count for f in tbl.live_files(snaps[-2])}
    after = {f.path for f in tbl.live_files(snaps[-1])}
    return sum(n for p, n in before.items() if p not in after)


def test_key_broadcast_scd1_matches_existing_plans(spark, tmp_path, monkeypatch):
    out = _merge_under_each_plan(spark, tmp_path, monkeypatch)
    (upd, ins, pas), state, res, tbl = out["key_broadcast"]
    assert (upd, ins) == (25, 15)
    assert upd + pas == _touched_rows(tbl)
    assert len(state) == 315


def test_key_broadcast_preserve_cols_matches_existing_plans(spark, tmp_path, monkeypatch):
    out = _merge_under_each_plan(
        spark, tmp_path, monkeypatch, preserve_cols=("warc_ts",)
    )
    (upd, ins, pas), _, _, tbl = out["key_broadcast"]
    assert (upd, ins) == (25, 15)
    assert upd + pas == _touched_rows(tbl)
    base = {r.url: r.warc_ts for r in generate_pages(spark, 300, seed=21).collect()}
    got = tbl.scan().filter(F.col("text").contains("rev1 ")).collect()
    assert len(got) == 25
    assert all(r.warc_ts == base[r.url] for r in got), "preserved column must keep target value"


def test_key_broadcast_insert_new_false_matches_existing_plans(spark, tmp_path, monkeypatch):
    out = _merge_under_each_plan(spark, tmp_path, monkeypatch, insert_new=False)
    (upd, ins, pas), state, _, tbl = out["key_broadcast"]
    assert (upd, ins) == (25, 0)
    assert upd + pas == _touched_rows(tbl)
    assert len(state) == 300


def test_key_broadcast_delete_matched_matches_existing_plans(spark, tmp_path, monkeypatch):
    out = _merge_under_each_plan(spark, tmp_path, monkeypatch, delete_matched=True)
    (upd, ins, pas), state, _, tbl = out["key_broadcast"]
    assert (upd, ins) == (25, 0)
    assert pas == _touched_rows(tbl) - 25
    assert len(state) == 275


def test_key_broadcast_row_lineage_keeps_target_ids(spark, tmp_path, monkeypatch):
    from ecommerce_lakehouse_spark.table.format import ROW_ID

    ids_before = {}

    def remember(tbl):
        ids_before[tbl.path] = {
            r.url: r[ROW_ID]
            for r in tbl.scan(row_lineage=True).select("url", ROW_ID).collect()
        }

    out = _merge_under_each_plan(
        spark, tmp_path, monkeypatch, prepare=remember,
        properties={"row-lineage": "true"},
    )
    assert out["key_broadcast"][0][:2] == (25, 15)
    for plan, (_, _, _, tbl) in out.items():
        before = ids_before[tbl.path]
        rows = tbl.scan(row_lineage=True).select("url", "text", ROW_ID).collect()
        updated = [r for r in rows if "rev1 " in r.text]
        assert len(updated) == 25
        assert all(r[ROW_ID] == before[r.url] for r in updated), (
            f"{plan}: matched rows must keep the target's _row_id"
        )
        ids = [r[ROW_ID] for r in rows]
        assert None not in ids and len(set(ids)) == len(ids) == 315


def test_key_broadcast_null_target_key_passes_through(spark, tmp_path, monkeypatch):
    """A target file holding a NULL-key row and a key the delta updates:
    the file is rewritten, the NULL-key row passes through untouched."""

    def add_null_key_row(tbl):
        spark_ = tbl.spark
        new = (
            spark_.read.parquet(str(tmp_path / "delta"))
            .join(tbl.scan().select("url"), "url", "left_anti")
            .orderBy("url").limit(1)
        )
        tbl.append(
            new.withColumn("lang", F.lit("old"))
            .unionByName(new.withColumn("url", F.lit(None).cast("string"))
                         .withColumn("lang", F.lit("nullkey")))
            .coalesce(1)
        )

    out = _merge_under_each_plan(
        spark, tmp_path, monkeypatch, prepare=add_null_key_row
    )
    (upd, ins, pas), state, _, tbl = out["key_broadcast"]
    assert (upd, ins) == (26, 14)
    assert upd + pas == _touched_rows(tbl)
    nulls = tbl.scan().filter(F.col("url").isNull()).collect()
    assert [r.lang for r in nulls] == ["nullkey"]
    assert len(state) == 316


def test_key_broadcast_duplicate_target_key_updates_each_row(spark, tmp_path, monkeypatch):
    """A target holding one key twice (possible through appends): like the
    existing plans, key_broadcast updates both rows."""

    def duplicate_one_key(tbl):
        src_urls = tbl.spark.read.parquet(str(tmp_path / "delta")).select("url")
        tbl.append(tbl.scan().join(src_urls, "url", "left_semi").orderBy("url").limit(1))

    out = _merge_under_each_plan(
        spark, tmp_path, monkeypatch, prepare=duplicate_one_key
    )
    (upd, ins, _), state, _, _ = out["key_broadcast"]
    assert (upd, ins) == (26, 15)
    assert len(state) == 316


def test_key_broadcast_dv_deleted_rows_stay_deleted(spark, tmp_path, monkeypatch):
    """Rows removed by deletion vectors must not come back: deleted
    passthrough rows stay gone, and a deleted row the delta recrawls is
    re-inserted, not updated."""
    from ecommerce_lakehouse_spark.table import Predicate, delete_where

    doomed = {}

    def delete_some(tbl):
        src = {r.url for r in tbl.spark.read.parquet(str(tmp_path / "delta")).select("url").collect()}
        urls = sorted(r.url for r in tbl.scan().select("url").collect())
        recrawled = [u for u in urls if u in src][:3]
        untouched = [u for u in urls if u not in src][:3]
        doomed["recrawled"], doomed["untouched"] = recrawled, untouched
        assert delete_where(tbl, [Predicate("url", "in", tuple(recrawled + untouched))])
        assert tbl.delete_registry_full()["entries"], "delete must leave DVs"

    out = _merge_under_each_plan(spark, tmp_path, monkeypatch, prepare=delete_some)
    (upd, ins, pas), state, _, tbl = out["key_broadcast"]
    assert (upd, ins) == (22, 18)
    assert len(state) == 312
    urls = {r.url for r in tbl.scan().select("url").collect()}
    assert not urls & set(doomed["untouched"]), "DV-deleted rows came back"
    assert set(doomed["recrawled"]) <= urls


def test_key_broadcast_target_file_rows_caps_written_files(spark, tmp_path, monkeypatch):
    out = _merge_under_each_plan(
        spark, tmp_path, monkeypatch, target_file_rows=20
    )
    for plan, (_, _, res, tbl) in out.items():
        sid = res.snapshot.snapshot_id
        added = [f for f in tbl.live_files() if f.added_by == sid]
        assert added
        assert max(f.row_count for f in added) <= 20, f"{plan} wrote a file over the cap"
    (upd, ins, _), state, _, _ = out["key_broadcast"]
    assert (upd, ins) == (25, 15) and len(state) == 315


def test_merge_rejects_null_keys(spark, base_table):
    """Null merge keys would be updated by the null-safe rewrite join AND
    re-inserted by the null-unsafe anti-join (silent duplicate) — merge
    refuses them up front instead (ADVICE r01)."""
    delta = generate_recrawl_delta(spark, base_n=300, n_new=5, n_recrawl=5, seed=23)
    delta = dedup_latest(delta, ["url"], "warc_ts").withColumn(
        "url", F.when(F.rand(seed=1) < 0.3, F.lit(None)).otherwise(F.col("url"))
    )
    with pytest.raises(ValueError, match="NULL in merge key"):
        merge_into(base_table, delta, "url")


def test_merge_null_key_error_from_footers_is_a_lower_bound(spark, base_table, tmp_path):
    """A bare parquet source is checked from its footers, which count nulls
    per column, not per row: with composite keys the error states a lower
    bound ("at least N"), never the per-column sum."""
    rows = base_table.scan().orderBy("url").limit(5)
    src = (
        rows.limit(2).withColumn("url", F.lit(None).cast("string"))
        .withColumn("lang", F.lit(None).cast("string"))  # 2 rows, both keys null
        .unionByName(rows.limit(1).withColumn("url", F.lit(None).cast("string")))
        .unionByName(rows.orderBy(F.col("url").desc()).limit(2))
    )
    path = str(tmp_path / "nullsrc")
    src.coalesce(1).write.parquet(path)
    # 3 rows have a NULL key; the per-column null counts sum to 5
    with pytest.raises(ValueError, match=r"at least 3 source row\(s\) have NULL"):
        merge_into(base_table, spark.read.parquet(path), ["url", "lang"])


def test_merge_prep_plan_reads_only_key_columns(spark, tmp_path):
    """Planning a merge must never read payload bytes (VERDICT r02 #1): the
    key-stats prep aggregation selects only the keys, so column pruning
    reaches the parquet scan — ReadSchema excludes text/html-ish columns."""
    from ecommerce_lakehouse_spark.operators.merge import _prep_key_stats

    generate_pages(spark, 200, seed=31, partitions=2).write.parquet(
        str(tmp_path / "src")
    )
    src = spark.read.parquet(str(tmp_path / "src"))
    prep_df = _prep_key_stats(src, ["url"])
    plan = prep_df._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, "expected a parquet scan in the prep plan"
    for ln in read_schemas:
        assert "url" in ln
        assert "text" not in ln, f"prep scan must not read payload: {ln}"


def test_merge_width_estimate_skipped_when_keys_disqualify(spark, base_table):
    """When the distinct key count already rules out the broadcast, the
    byte-width estimate (the only step that touches payload bytes) must not
    run at all."""
    import ecommerce_lakehouse_spark.operators.merge as m

    delta = dedup_latest(
        generate_recrawl_delta(spark, 300, n_new=5, n_recrawl=10, seed=21),
        ["url"], "warc_ts",
    )
    old_limit, old_est = m.BROADCAST_KEY_LIMIT, m._estimate_src_bytes

    def _boom(*a, **kw):  # noqa: ANN002, ANN003
        raise AssertionError("width estimate ran despite key-count disqualification")

    m.BROADCAST_KEY_LIMIT = 0
    m._estimate_src_bytes = _boom
    try:
        res = merge_into(base_table, delta, "url")
    finally:
        m.BROADCAST_KEY_LIMIT, m._estimate_src_bytes = old_limit, old_est
    assert res.rows_updated == 10 and res.rows_inserted == 5


def test_interval_routing_skips_non_string_int_keys(spark):
    """Timestamp merge keys: manifest stats hold epoch-µs ints while the
    routing UDF would receive datetime64 values — routing must detect the
    domain mismatch and return the candidates unchanged instead of raising
    inside the UDF (ADVICE r02)."""
    import datetime
    from types import SimpleNamespace

    from ecommerce_lakehouse_spark.operators.merge import _interval_candidates

    # 10 fake files with disjoint epoch-µs intervals (as table/stats stores them)
    cands = [
        SimpleNamespace(
            path=f"f{i}.parquet",
            stats={"warc_ts": {"min": i * 10**9, "max": i * 10**9 + 5 * 10**8}},
        )
        for i in range(10)
    ]
    src_keys = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 0, i),) for i in range(5)],
        "warc_ts timestamp",
    ).distinct()
    assert _interval_candidates(cands, src_keys, "warc_ts") == cands


def test_interval_routing_cuts_discovery_on_clustered_table(spark, tmp_path):
    """Per-file interval routing (round 2): on a url-range-partitioned
    layout, a delta touching a narrow url range reads only the covering
    files during discovery even though its GLOBAL bounds overlap everything,
    and the merge result is unchanged. (2-D Morton files intentionally span
    wide url bounds — range layout is the url-locality layout.)"""
    df = generate_pages(spark, 2000, seed=25, partitions=4)
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"), df.repartitionByRange(13, "url")
    )
    n_files = len(tbl.live_files())
    assert n_files >= 10

    # recrawl two narrow slices from OPPOSITE ends of the key space: global
    # min/max bounds then overlap (nearly) every file, so only per-file
    # interval routing can cut the discovery read
    urls = sorted(r.url for r in tbl.scan().select("url").collect())
    band = urls[50:70] + urls[-70:-50]
    delta = (
        tbl.scan().filter(F.col("url").isin(band))
        .withColumn("text", F.concat(F.lit("rev9 "), F.col("text")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 40 DAYS"))
    )
    res = merge_into(tbl, delta, "url")
    assert res.rows_updated == len(band)
    assert res.rows_inserted == 0
    s = tbl.current_snapshot().summary
    assert s["merge_candidates_scanned"] < s["merge_candidates_global"], (
        f"interval routing should cut discovery: {s['merge_candidates_scanned']} "
        f"vs {s['merge_candidates_global']}"
    )
    assert tbl.scan().filter(F.col("text").startswith("rev9 ")).count() == len(band)
    assert tbl.scan().count() == 2000


def test_bulk_merge_discovery_skip_requires_routing_evidence(spark, tmp_path):
    """r6: a bulk delta (keys >= 25% of candidate rows) skips the exact
    affected-file discovery pass ONLY when a metadata routing stage has
    already pruned candidates (layout localizes the key). On an unroutable
    layout the exact pass stays on — a concentrated delta there can touch
    few files and skipping would over-rewrite (measured on the bench's
    index-partitioned pages table: 64 rewritten where 13 were affected)."""
    df = generate_pages(spark, 2000, seed=27, partitions=4)

    # routable layout: url-range files, delta = dense contiguous url slice
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "routed"), df.repartitionByRange(13, "url")
    )
    urls = sorted(r.url for r in tbl.scan().select("url").collect())
    band = urls[:300]  # fully covers the first files' key ranges
    delta = (
        tbl.scan().filter(F.col("url").isin(band))
        .withColumn("text", F.concat(F.lit("rev8 "), F.col("text")))
    )
    n_live = len(tbl.live_files())
    res = merge_into(tbl, delta, "url")
    s = tbl.current_snapshot().summary
    # routing (bounds and/or interval) pruned the live set before discovery
    assert s["merge_candidates_scanned"] < n_live
    assert s["merge_discovery"] == "skipped", (
        "routed + bulk ratio should skip the exact discovery pass"
    )
    assert res.files_rewritten == s["merge_candidates_scanned"]
    assert res.rows_updated == len(band) and res.rows_inserted == 0
    assert tbl.scan().filter(F.col("text").startswith("rev8 ")).count() == len(band)
    assert tbl.scan().count() == 2000

    # unroutable layout (every file spans the url space): exact discovery
    # stays on even though the global ratio clears the threshold
    tbl2 = IcehouseTable.create(spark, str(tmp_path / "flat"), df)
    delta2 = (
        tbl2.scan().filter(F.col("url").isin(band))
        .withColumn("text", F.concat(F.lit("rev8 "), F.col("text")))
    )
    res2 = merge_into(tbl2, delta2, "url")
    s2 = tbl2.current_snapshot().summary
    assert s2["merge_candidates_scanned"] == s2["merge_candidates_global"]
    assert s2["merge_discovery"] == "exact"
    assert res2.rows_updated == len(band)
    assert tbl2.scan().filter(F.col("text").startswith("rev8 ")).count() == len(band)


def test_composite_key_merge_routes_on_leading_key(spark, tmp_path):
    """VERDICT r03 #5: a two-column merge key (url + warc_ts, the SCD2-style
    fact merge) must still get interval routing on the LEADING key —
    superset-safe since a match requires equality on every key column."""
    df = generate_pages(spark, 2000, seed=26, partitions=4)
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"), df.repartitionByRange(13, "url")
    )
    assert len(tbl.live_files()) >= 10

    urls = sorted(r.url for r in tbl.scan().select("url").collect())
    band = urls[40:60] + urls[-60:-40]
    delta = (
        tbl.scan().filter(F.col("url").isin(band))
        .withColumn("text", F.concat(F.lit("rev7 "), F.col("text")))
    )
    res = merge_into(tbl, delta, ["url", "warc_ts"])
    assert res.rows_updated == len(band)
    assert res.rows_inserted == 0
    s = tbl.current_snapshot().summary
    assert s["merge_candidates_scanned"] < s["merge_candidates_global"], (
        f"leading-key routing should cut discovery: "
        f"{s['merge_candidates_scanned']} vs {s['merge_candidates_global']}"
    )
    assert tbl.scan().filter(F.col("text").startswith("rev7 ")).count() == len(band)
    assert tbl.scan().count() == 2000
