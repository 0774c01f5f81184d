"""Warehouse ETL write-path tests: idempotency (the reference's
ON CONFLICT semantics — run the refresh twice, identical star), merge
semantics, and partition layout.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from filmdb_data_warehouse___power_bi_dashboard_spark.plans.etl import build_warehouse
from filmdb_data_warehouse___power_bi_dashboard_spark.sources.sinks import (
    merge_upsert,
    read_warehouse_table,
    stage_and_swap_write,
)


@pytest.fixture(scope="module")
def dw_root():
    d = tempfile.mkdtemp(prefix="dw-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


_WAREHOUSE_TABLES = [
    "dim_date",
    "dim_client",
    "dim_magasin",
    "dim_categorie",
    "dim_film",
    "fact_paiement",
    "v_agg_mensuel_magasin",
    "v_agg_mensuel_categorie",
    "v_dim_mois",
]


def _assert_counts_match_disk(spark, dw_root, counts):
    """The counts build_warehouse observes on its writes must be the
    row counts of the tables actually on disk."""
    on_disk = {
        name: read_warehouse_table(spark, dw_root, name).count()
        for name in _WAREHOUSE_TABLES
    }
    assert counts == on_disk


def test_build_warehouse_idempotent(spark, sf_small, dw_root):
    counts1 = build_warehouse(spark, sf_small, dw_root)
    _assert_counts_match_disk(spark, dw_root, counts1)
    keys1 = {
        name: sorted(
            r[0]
            for r in read_warehouse_table(spark, dw_root, name)
            .select(key)
            .collect()
        )
        for name, key in [
            ("dim_client", "client_key"),
            ("dim_film", "film_key"),
            ("fact_paiement", "source_paiement_id"),
        ]
    }
    counts2 = build_warehouse(spark, sf_small, dw_root)
    _assert_counts_match_disk(spark, dw_root, counts2)
    assert counts1 == counts2
    for name, key in [
        ("dim_client", "client_key"),
        ("dim_film", "film_key"),
        ("fact_paiement", "source_paiement_id"),
    ]:
        keys2 = sorted(
            r[0]
            for r in read_warehouse_table(spark, dw_root, name).select(key).collect()
        )
        assert keys1[name] == keys2, f"{name} surrogate keys drifted across re-runs"


def test_fact_partitioned_by_month(spark, sf_small, dw_root):
    fact_dir = os.path.join(dw_root, "fact_paiement")
    parts = [p for p in os.listdir(fact_dir) if p.startswith("pay_month=")]
    assert len(parts) >= 2, f"expected monthly partition dirs, got {parts[:5]}"
    # Partition pruning: reading one month must only touch that dir.
    df = spark.read.parquet(fact_dir)
    one_month = sorted(p.split("=")[1] for p in parts)[0]
    plan = df.filter(df.pay_month == one_month)._jdf.queryExecution().executedPlan().toString()
    assert "pay_month" in plan


def test_merge_upsert_do_update(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    incoming = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    out = {r["k"]: r["v"] for r in merge_upsert(existing, incoming, "k").collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_merge_upsert_do_nothing(spark):
    existing = spark.createDataFrame([(1, "old")], "k int, v string")
    incoming = spark.createDataFrame([(1, "new"), (2, "ins")], "k int, v string")
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(existing, incoming, "k", do_update=False).collect()
    }
    assert out == {1: "old", 2: "ins"}


def test_stage_and_swap_write_failure_leaves_no_staging(spark, tmp_path):
    """A write that fails mid-job must re-raise, remove its staging
    dir and leave the live table as it was."""
    from pyspark.sql import functions as F

    live = str(tmp_path / "t")
    rows = [(1, "a"), (2, "b")]
    stage_and_swap_write(spark.createDataFrame(rows, "k int, v string"), live)
    failing = spark.createDataFrame([(3, "c")], "k int, v string").withColumn(
        "v",
        F.when(F.col("k") > 0, F.raise_error(F.lit("boom"))).otherwise(F.col("v")),
    )
    with pytest.raises(Exception, match="boom"):
        stage_and_swap_write(failing, live)
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".staging-")]
    assert sorted(map(tuple, spark.read.parquet(live).collect())) == rows


def test_fact_surrogates_stable_under_cache_release(spark, sf_small):
    """Round-5 regression pin: recomputing the fact after every cached
    block is dropped must reproduce IDENTICAL surrogate keys.

    The round-4 bug: global ranks pinned their offsets to one sampling
    of repartitionByRange boundaries held alive by a persist; dropping
    that block (test teardown locally — a lost executor at scale) and
    recomputing produced duplicate payment ids, silently shrinking
    COUNT(DISTINCT source_paiement_id). Ranking is now a pure function
    of the data, so release + full recompute must be a no-op."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.plans.etl import (
        _STAR_CACHE,
        build_star_frames,
    )
    from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import release_persisted

    star = build_star_frames(spark, sf_small)
    fact = star["fact_paiement"]
    # Materialize only a sliver (mimics a LIMIT-style first touch that
    # caches some partitions but not all), then drop every cache block.
    fact.limit(1).collect()
    release_persisted()
    fact.unpersist(blocking=True)
    after_release = {
        (r["source_paiement_id"], r["client_key"], r["film_key"])
        for r in fact.collect()
    }
    # Cold rebuild from scratch for the ground truth.
    _STAR_CACHE.clear()
    release_persisted()
    fresh = build_star_frames(spark, sf_small)["fact_paiement"]
    ground_truth = {
        (r["source_paiement_id"], r["client_key"], r["film_key"])
        for r in fresh.collect()
    }
    assert len(after_release) == len(ground_truth)
    assert after_release == ground_truth


def test_scd2_apply_idempotent_and_chains_versions(spark):
    """SCD2: re-applying the same update batch must be a no-op (the
    live version already carries the new attributes), and a SECOND
    distinct update must chain a third version with contiguous
    validity intervals."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.plans.scd import (
        OPEN_END,
        scd2_apply,
    )

    current = spark.createDataFrame(
        [(1, "alice", "A", "1992-01-01", OPEN_END),
         (2, "bob", "B", "1992-01-01", OPEN_END)],
        "client_id long, nom_client string, segment string, valid_from string, valid_to string",
    )
    upd1 = spark.createDataFrame(
        [(1, "X", "1995-06-01")],
        "client_id long, segment string, effective_date string",
    )
    v2 = scd2_apply(current, upd1, key="client_id", tracked=["segment"])
    rows2 = sorted(map(tuple, v2.collect()))
    assert rows2 == sorted([
        (1, "alice", "A", "1992-01-01", "1995-06-01"),
        (1, "alice", "X", "1995-06-01", OPEN_END),
        (2, "bob", "B", "1992-01-01", OPEN_END),
    ])

    # Idempotent: same batch again changes nothing.
    again = scd2_apply(v2, upd1, key="client_id", tracked=["segment"])
    assert sorted(map(tuple, again.collect())) == rows2

    # Chaining: a later change appends a third version.
    upd2 = spark.createDataFrame(
        [(1, "Y", "1999-01-01")],
        "client_id long, segment string, effective_date string",
    )
    v3 = scd2_apply(v2, upd2, key="client_id", tracked=["segment"])
    assert sorted(map(tuple, v3.collect())) == sorted([
        (1, "alice", "A", "1992-01-01", "1995-06-01"),
        (1, "alice", "X", "1995-06-01", "1999-01-01"),
        (1, "alice", "Y", "1999-01-01", OPEN_END),
        (2, "bob", "B", "1992-01-01", OPEN_END),
    ])
