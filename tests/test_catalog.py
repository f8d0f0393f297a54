"""Catalog + provenance tests (≈ reference tests/test_actions.py:14-51)."""

from __future__ import annotations

import pytest

from bio2bel_spark.catalog import ACTION_DROP, ACTION_POPULATE, Catalog


def test_write_read_roundtrip(spark, warehouse):
    cat = Catalog(spark, warehouse)
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.write_table(df, "demo")
    assert cat.table_exists("demo")
    assert cat.read_table("demo").count() == 10
    assert "demo" in cat.list_tables()


def test_drop_table(spark, warehouse):
    cat = Catalog(spark, warehouse)
    cat.write_table(spark.range(3), "gone")
    assert cat.drop_table("gone") is True
    assert not cat.table_exists("gone")
    assert cat.drop_table("gone") is False


def test_actions_append_and_order(spark, warehouse):
    cat = Catalog(spark, warehouse)
    assert cat.count_actions() == 0
    cat.store_action("test", ACTION_POPULATE)
    cat.store_action("test", ACTION_DROP)
    cat.store_action("other", ACTION_POPULATE)
    assert cat.count_actions() == 3
    rows = cat.actions().collect()
    # newest first (Action.ls ordering, models.py:121)
    assert [r["created"] for r in rows] == sorted(
        [r["created"] for r in rows], reverse=True
    )


def test_latest_actions_window(spark, warehouse):
    cat = Catalog(spark, warehouse)
    cat.store_action("test", ACTION_POPULATE)
    cat.store_action("test", ACTION_DROP)
    latest = {r["resource"]: r["action"] for r in cat.latest_actions().collect()}
    assert latest == {"test": ACTION_DROP}


def test_compact_table_preserves_content(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    # simulate append-heavy history: 20 tiny files
    catalog.write_table(df.repartition(20), "frag")
    import os

    before = [
        f
        for f in os.listdir(catalog.table_path("frag"))
        if f.endswith(".parquet")
    ]
    assert len(before) == 20
    n = catalog.compact_table("frag", target_file_mb=128)
    assert n == 1
    got = catalog.read_table("frag")
    assert got.count() == 1000
    assert got.agg({"v": "sum"}).collect()[0][0] == df.agg({"v": "sum"}).collect()[0][0]
    # same rows as a multiset, not just the same count and sum
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    # provenance recorded
    acts = {(r["resource"], r["action"]) for r in catalog.actions().collect()}
    assert ("frag", "compact") in acts
    # idempotent: nothing to gain on a single file
    assert catalog.compact_table("frag") == 1


def test_compact_table_refuses_partitioned_layout(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).selectExpr("id", "id % 3 AS part")
    catalog.write_table(df, "parted", partition_by=["part"])
    with pytest.raises(ValueError, match="hive-partitioned"):
        catalog.compact_table("parted")
    # data untouched by the refusal
    assert catalog.read_table("parted").count() == 100


def test_export_shards_deterministic_and_pruned(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    counts = {r["shard"]: r["n_rows"] for r in cat.export_shards(df, "shards", "k", n_shards=8).collect()}
    assert sum(counts.values()) == 500 and set(counts) <= set(range(8))
    # shard membership is a pure function of (seed, key): re-export agrees
    again = {r["shard"]: r["n_rows"] for r in cat.export_shards(df, "shards2", "k", n_shards=8).collect()}
    assert counts == again
    # partition pruning: reading one shard scans only its directory
    one = cat.read_table("shards").where(F.col("shard") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan
    assert one.count() == counts.get(3, 0)
    # provenance recorded
    acts = {r["action"] for r in cat.actions().collect()}
    assert "export_shards" in acts


def test_refresh_sum_aggregate_incremental_and_replay_safe(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from bio2bel_spark.operators.incremental import refresh_sum_aggregate
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "wh_ivm"))
    b1 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "g string, v double"
    )
    b2 = spark.createDataFrame(
        [("a", 4.0), ("c", 7.0)], "g string, v double"
    )
    refresh_sum_aggregate(cat, b1, "agg", ["g"], ["v"], batch_id="b1")
    st = refresh_sum_aggregate(cat, b2, "agg", ["g"], ["v"], batch_id="b2")
    got = {r["g"]: (r["n_rows"], r["sum_v"]) for r in st.collect()}
    assert got == {"a": (3, 7.0), "b": (1, 10.0), "c": (1, 7.0)}
    # replaying an applied batch is a no-op (sums would double-count)
    st2 = refresh_sum_aggregate(cat, b2, "agg", ["g"], ["v"], batch_id="b2")
    got2 = {r["g"]: (r["n_rows"], r["sum_v"]) for r in st2.collect()}
    assert got2 == got
    # direct recompute over everything agrees with the incremental state
    direct = (
        b1.unionByName(b2)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    want = {r["g"]: (r["n"], r["s"]) for r in direct.collect()}
    assert got == want


def test_refresh_distinct_aggregate_matches_direct(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from bio2bel_spark.operators.incremental import refresh_distinct_aggregate
    from bio2bel_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_state_grouped,
    )

    cat = Catalog(spark, str(tmp_path / "wh_ivmd"))
    b1 = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i) for i in range(5)],
        "g string, u long",
    )
    b2 = spark.createDataFrame(
        [("a", i) for i in range(20, 50)] + [("c", 1)], "g string, u long"
    )
    refresh_distinct_aggregate(cat, b1, "dist", "u", "g")
    refresh_distinct_aggregate(cat, b2, "dist", "u", "g")
    # replay: register max is idempotent, state unchanged
    st = refresh_distinct_aggregate(cat, b2, "dist", "u", "g")
    direct = hll_state_grouped(b1.unionByName(b2), "u", "g")
    assert sorted(map(tuple, st.collect())) == sorted(map(tuple, direct.collect()))
    est = {r["g"]: r["estimate"] for r in hll_estimate_grouped(st, "g").collect()}
    assert abs(est["a"] - 50) / 50 < 0.2 and abs(est["c"] - 1) < 0.01


def test_table_stats_profile(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_stats"))
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "k long, s string"
    )
    cat.write_table(df, "t")
    got = {r["metric"]: r["value"] for r in cat.table_stats("t").collect()}
    assert got["n_rows"] == 4.0
    assert got["n_files"] >= 1 and got["n_bytes"] > 0
    assert got["null_frac:k"] == 0.0 and got["null_frac:s"] == 0.5


def test_expire_partitions_retention(spark, tmp_path):
    """Dropping partitions by value removes exactly those directories —
    surviving data is untouched (never read, never rewritten)."""
    import pytest

    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 3}") for i in range(30)], "v long, month string"
    )
    cat.write_table(df, "events_m", partition_by=["month"])

    dropped = cat.expire_partitions("events_m", "month", drop_values=["2024-01"])
    assert dropped == ["2024-01"]
    left = cat.read_table("events_m")
    assert left.count() == 20
    assert {r.month for r in left.select("month").distinct().collect()} == {
        "2024-02", "2024-03",
    }
    # keep-form: retain only one month
    dropped2 = cat.expire_partitions("events_m", "month", keep_values=["2024-03"])
    assert dropped2 == ["2024-02"]
    assert cat.read_table("events_m").count() == 10
    # provenance recorded
    acts = [r.action for r in cat.actions().collect()]
    assert acts.count("expire_partitions") == 2
    with pytest.raises(ValueError, match="exactly one"):
        cat.expire_partitions("events_m", "month")
    with pytest.raises(ValueError, match="partition dir"):
        cat.expire_partitions("events_m", "nope", drop_values=["x"])
    # a requested value matching no partition raises instead of silently
    # no-opping (drop form) or deleting everything else (keep form)
    with pytest.raises(ValueError, match="match no"):
        cat.expire_partitions("events_m", "month", keep_values=["2024-09"])
    assert cat.read_table("events_m").count() == 10  # nothing deleted


def test_expire_partitions_hive_escaped_values(spark, tmp_path):
    """Partition values hive-escapes on write (space, ':' -> %XX) must
    compare against the caller's RAW value — keep_values naming an
    escaped partition must not delete it."""
    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c:d"), (4, "plain")],
        "v long, tag string",
    )
    cat.write_table(df, "tagged", partition_by=["tag"])
    # keep the escaped-on-disk partition: it must survive
    dropped = cat.expire_partitions("tagged", "tag", keep_values=["a b"])
    assert sorted(dropped) == ["c:d", "plain"]
    left = cat.read_table("tagged")
    assert left.count() == 2
    assert {r.tag for r in left.select("tag").distinct().collect()} == {"a b"}


# ------------------------------------------------- driver-side provenance log


def _latest(cat):
    return {
        r["resource"]: (r["action"], r["created"])
        for r in cat.latest_actions().collect()
    }


def test_created_strictly_increasing_across_catalogs(spark, warehouse):
    """Two Catalogs over one warehouse share the process clock: 200 rapid
    appends never tie or step backwards, so ``latest_actions`` picks the
    last event of every resource."""
    cats = [Catalog(spark, warehouse), Catalog(spark, warehouse)]
    last = {}
    for i in range(200):
        resource, action = f"r{i % 7}", f"a{i}"
        cats[i % 2].store_action(resource, action)
        last[resource] = action
    created = [
        r["created"] for r in cats[0].actions().orderBy("created").collect()
    ]
    assert len(created) == 200
    assert all(a < b for a, b in zip(created, created[1:]))
    got = {res: act for res, (act, _) in _latest(cats[1]).items()}
    assert got == last


def test_created_bumps_clock_ties_and_backward_steps(spark, warehouse, monkeypatch):
    """A frozen clock (ties) and a clock that steps backwards still give
    strictly increasing ``created`` values, 1 µs apart."""
    import datetime
    import time
    import types

    import bio2bel_spark.catalog as catalog_mod

    now = time.time_ns()
    ticks = iter([now] * 4 + [now - 10**9] * 4)
    monkeypatch.setattr(
        catalog_mod, "time", types.SimpleNamespace(time_ns=lambda: next(ticks))
    )
    # restored on teardown, so later appends see the real clock again
    monkeypatch.setattr(catalog_mod, "_last_created_us", 0)
    cats = [Catalog(spark, warehouse), Catalog(spark, warehouse)]
    for i in range(8):
        cats[i % 2].store_action("clock", f"a{i}")
    rows = cats[0].actions().orderBy("created").collect()
    assert [r["action"] for r in rows] == [f"a{i}" for i in range(8)]
    one_us = datetime.timedelta(microseconds=1)
    assert [(r["created"] - rows[0]["created"]) // one_us for r in rows] == list(
        range(8)
    )
    assert _latest(cats[1])["clock"][0] == "a7"


def test_created_unique_under_concurrent_appends(spark, warehouse):
    """Threads appending through two Catalogs never share a ``created``
    value, and each thread's events keep their call order."""
    import sys
    import threading

    cats = [Catalog(spark, warehouse), Catalog(spark, warehouse)]

    def append(t):
        for i in range(25):
            cats[t % 2].store_action(f"t{t}", f"{i:02d}")

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=append, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(th.is_alive() for th in threads)
    rows = cats[0].actions().orderBy("created").collect()
    assert len(rows) == 200
    assert len({r["created"] for r in rows}) == 200
    for t in range(8):
        mine = [r["action"] for r in rows if r["resource"] == f"t{t}"]
        assert mine == [f"{i:02d}" for i in range(25)]


def test_actions_read_spark_and_driver_written_files(spark, warehouse):
    """A provenance table first appended by the Spark writer (INT96
    ``created``) and then by the driver-side ``store_action`` reads back as
    one table with ``created`` still a ``TimestampType``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bio2bel_spark.catalog import ACTIONS_TABLE

    cat = Catalog(spark, warehouse)
    (
        spark.createDataFrame(
            [("old", ACTION_POPULATE), ("both", ACTION_POPULATE)],
            "resource string, action string",
        )
        .withColumn("created", F.current_timestamp())
        .write.mode("append")
        .parquet(cat.table_path(ACTIONS_TABLE))
    )
    cat.store_action("both", ACTION_DROP)
    cat.store_action("new", ACTION_POPULATE)

    acts = cat.actions()
    assert acts.schema["created"].dataType == T.TimestampType()
    rows = acts.collect()
    assert [r["created"] for r in rows] == sorted(
        (r["created"] for r in rows), reverse=True
    )
    assert sorted((r["resource"], r["action"]) for r in rows) == [
        ("both", ACTION_DROP),
        ("both", ACTION_POPULATE),
        ("new", ACTION_POPULATE),
        ("old", ACTION_POPULATE),
    ]
    assert cat.count_actions() == 4
    latest = {res: act for res, (act, _) in _latest(cat).items()}
    assert latest == {
        "old": ACTION_POPULATE,
        "both": ACTION_DROP,
        "new": ACTION_POPULATE,
    }


def test_leftover_temporary_action_file_ignored(spark, warehouse):
    """A crash between write and rename leaves a dot-prefixed ``._*.tmp``
    file; neither ``table_exists`` nor ``read_table`` sees it."""
    import os

    from bio2bel_spark.catalog import ACTIONS_TABLE

    cat = Catalog(spark, warehouse)
    path = cat.table_path(ACTIONS_TABLE)
    os.makedirs(path)
    with open(os.path.join(path, "._partial.tmp"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    assert not cat.table_exists(ACTIONS_TABLE)
    assert cat.count_actions() == 0
    cat.store_action("test", ACTION_POPULATE)
    assert cat.table_exists(ACTIONS_TABLE)
    assert cat.read_table(ACTIONS_TABLE).count() == 1
    assert [r["resource"] for r in cat.actions().collect()] == ["test"]


def test_compact_actions_keeps_latest(spark, warehouse):
    from bio2bel_spark.catalog import ACTIONS_TABLE

    cat = Catalog(spark, warehouse)
    for i in range(12):
        cat.store_action(f"r{i % 3}", f"a{i}")
    before = _latest(cat)
    # one compacted file plus the compaction's own event
    assert cat.compact_table(ACTIONS_TABLE) == 2
    after = _latest(cat)
    # the compaction records its own event under the table's name
    assert after.pop(ACTIONS_TABLE)[0] == "compact"
    assert after == before


def _jobs_launched(spark, fn):
    """Run ``fn`` in a fresh job group; return the ids of the Spark jobs it
    launched once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_store_action_launches_no_spark_job(spark, warehouse):
    cat = Catalog(spark, warehouse)
    assert _jobs_launched(spark, lambda: cat.store_action("x", ACTION_POPULATE)) == []
    # the guard itself sees jobs in the group
    assert len(_jobs_launched(spark, lambda: spark.range(3).count())) >= 1


def test_populate_launches_at_most_one_job_per_table(spark, warehouse):
    """Provenance stays off the job path: populating a two-table dataset
    costs no more jobs than it writes tables."""
    from bio2bel_spark.dataset import Dataset

    class TwoTables(Dataset, abstract=True):  # abstract: kept out of the registry
        module_name = "jobcount"
        tables = {"a": "id BIGINT", "b": "id BIGINT, twice BIGINT"}

        def _populate_tables(self, **kwargs):
            return {
                "a": self.spark.range(10),
                "b": self.spark.range(5).selectExpr("id", "id * 2 AS twice"),
            }

    ds = TwoTables(spark, warehouse)
    jobs = _jobs_launched(spark, ds.populate)
    assert len(jobs) <= len(TwoTables.tables)
    assert ds.summarize() == {"a": 10, "b": 5}
    assert [r["action"] for r in ds.catalog.actions().collect()] == [ACTION_POPULATE]
