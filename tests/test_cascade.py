"""End-to-end tier-cascade test: engine vs pure-pandas oracle,
token-array equality at every tier (the BASELINE.json invariant)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.compression.gorilla import decode_series
from sits_classification_spark.config import EngineConfig
from sits_classification_spark.datagen import (
    NODATA,
    SEQUENCES_SCHEMA,
    generate_pandas,
    write_sequences,
)
from sits_classification_spark.oracle import oracle_tiers
from sits_classification_spark.plans.cascade import (
    TIERS,
    build_cascade,
    salt_width,
    with_salt,
)
from sits_classification_spark.plans.engine import Engine

N_DOCS = 300
CFG = EngineConfig()


@pytest.fixture(scope="module")
def built(spark, tmpdir_session):
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers")
    write_sequences(spark, inp, N_DOCS)
    res = build_cascade(spark, inp, out, CFG)
    return res


@pytest.fixture(scope="module")
def oracle():
    return oracle_tiers(generate_pandas(N_DOCS), CFG)


def _collect_tier(spark, path):
    pdf = (
        spark.read.parquet(path)
        .select("doc_id", "source", "buckets", "tokens", "values", "enc_buckets", "enc_values")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return pdf


def _assert_tier_equal(spark, path, oracle, tier):
    eng = _collect_tier(spark, path)
    ora = oracle[tier].sort_values("doc_id").reset_index(drop=True)
    assert len(eng) == len(ora), f"{tier}: row count {len(eng)} != {len(ora)}"
    assert list(eng["doc_id"]) == list(ora["doc_id"])
    for i in range(len(eng)):
        np.testing.assert_array_equal(
            np.asarray(eng["buckets"][i]),
            np.asarray(ora["buckets"][i]),
            err_msg=f"{tier} buckets row {i} ({eng['doc_id'][i]})",
        )
        np.testing.assert_array_equal(
            np.asarray(eng["tokens"][i]),
            np.asarray(ora["tokens"][i]),
            err_msg=f"{tier} tokens row {i} ({eng['doc_id'][i]})",
        )


@pytest.mark.parametrize("tier", TIERS)
def test_tier_token_equality(spark, built, oracle, tier):
    _assert_tier_equal(spark, built.tier_paths[tier], oracle, tier)


def test_compressed_columns_roundtrip(spark, built):
    pdf = _collect_tier(spark, built.tier_paths["tier_10d"])
    for i in range(min(len(pdf), 50)):
        db, dv = decode_series(bytes(pdf["enc_buckets"][i]), bytes(pdf["enc_values"][i]))
        np.testing.assert_array_equal(db, np.asarray(pdf["buckets"][i], dtype=np.int64))
        np.testing.assert_array_equal(dv, np.asarray(pdf["values"][i], dtype=np.float64))


def test_lineage_written(spark, built):
    lin = spark.read.parquet(built.lineage_path)
    assert set(r["tier"] for r in lin.select("tier").distinct().collect()) == set(TIERS)
    # every lineage row has a checksum and positive row count
    assert lin.filter(F.col("rows_out") <= 0).count() == 0
    assert lin.filter(F.col("input_snapshot_id") == built.snapshot).count() > 0


def test_resume_skips_committed(spark, tmpdir_session):
    """Kill-and-rerun: second build with resume=True recomputes nothing new
    and leaves outputs identical (predict.py:106-109 semantics)."""
    inp = os.path.join(tmpdir_session, "sequences")
    out2 = os.path.join(tmpdir_session, "tiers_resume")
    res1 = build_cascade(spark, inp, out2, CFG)
    lin1 = spark.read.parquet(res1.lineage_path)
    n1 = lin1.count()
    before = {
        t: spark.read.parquet(p).agg(
            F.expr("bit_xor(xxhash64(doc_id, cast(tokens as string)))").alias("h")
        ).collect()[0]["h"]
        for t, p in res1.tier_paths.items()
    }
    res2 = build_cascade(spark, inp, out2, CFG, resume=True)
    lin2 = spark.read.parquet(res2.lineage_path)
    # all partitions were already committed -> no new lineage rows
    assert lin2.count() == n1
    after = {
        t: spark.read.parquet(p).agg(
            F.expr("bit_xor(xxhash64(doc_id, cast(tokens as string)))").alias("h")
        ).collect()[0]["h"]
        for t, p in res2.tier_paths.items()
    }
    assert before == after


def test_salted_repartition_defuses_zipf_skew(spark):
    """North rule: salting on (source, pmod(xxhash64(doc_id), S)) must spread
    the zipf-hot source (source0 holds ~50% of docs) across tasks."""
    from sits_classification_spark.config import DEFAULT_CONFIG
    from sits_classification_spark.datagen import generate_spark
    from sits_classification_spark.plans.cascade import with_salt

    seq = generate_spark(spark, 4000)
    p = 16

    def max_share(df):
        counts = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .toPandas()["count"]
        )
        return counts.max() / counts.sum()

    unsalted = max_share(seq.repartition(p, "source"))
    salted = max_share(
        with_salt(seq, DEFAULT_CONFIG).repartition(p, "source", "salt")
    )
    assert unsalted >= 0.4  # the hot source serializes one task
    assert salted <= 2.5 / p  # salt spreads it to ~uniform


def test_partial_resume_recovers_crash_window(spark, tmpdir_session):
    """Crash between a tier write and its lineage commit leaves committed
    data files with no lineage row. Resume must rebuild exactly those
    partitions — same row counts (no append dupes), same checksums — and
    leave already-committed tiers untouched."""
    import shutil

    inp = os.path.join(tmpdir_session, "sequences")
    out3 = os.path.join(tmpdir_session, "tiers_partial")
    res = build_cascade(spark, inp, out3, CFG)
    lin_path = res.lineage_path
    lin = spark.read.parquet(lin_path).toPandas()
    rows_before = {t: spark.read.parquet(p).count() for t, p in res.tier_paths.items()}
    monthly_sums = lin[lin.tier == "tier_monthly"][["source", "salt", "checksum"]]

    # simulate the crash: tier_monthly data exists, lineage rows lost
    keep = lin[lin.tier != "tier_monthly"]
    shutil.rmtree(lin_path)
    spark.createDataFrame(keep).write.mode("overwrite").parquet(lin_path)

    res2 = build_cascade(spark, inp, out3, CFG, resume=True)
    lin2 = spark.read.parquet(lin_path).toPandas()
    assert set(lin2.tier.unique()) == set(TIERS)
    for t, p in res2.tier_paths.items():
        assert spark.read.parquet(p).count() == rows_before[t], t
    # recomputed partitions carry identical checksums (bit-equal rebuild)
    monthly_after = lin2[lin2.tier == "tier_monthly"][["source", "salt", "checksum"]]
    a = monthly_sums.sort_values(["source", "salt"]).reset_index(drop=True)
    b = monthly_after.sort_values(["source", "salt"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # committed tiers were not rewritten: their lineage timestamps survive
    assert (
        lin[lin.tier == "tier_raw"].committed_at.max()
        == lin2[lin2.tier == "tier_raw"].committed_at.max()
    )


def _max_task_share(df):
    counts = df.groupBy(F.spark_partition_id().alias("pid")).count().toPandas()["count"]
    return counts.max() / counts.sum()


def test_salt_width_spreads_hot_source_over_task_slots(spark, built):
    """The width build_cascade picks (salt_buckets capped at the P task
    slots) still spreads the hot source: repartitioned over P tasks on
    (source, salt), no task holds more than 2.5/P of the docs."""
    from sits_classification_spark.datagen import generate_spark

    p = spark.sparkContext.defaultParallelism
    assert built.salt_width == salt_width(spark, CFG) == min(CFG.salt_buckets, p)
    seq = with_salt(generate_spark(spark, 4000), CFG, built.salt_width)
    assert _max_task_share(seq.repartition(p, "source", "salt")) <= 2.5 / p


def _lineage_layouts(spark, lineage_path):
    return {
        (r["config_hash"], r["salt_width"])
        for r in spark.read.parquet(lineage_path)
        .select("config_hash", "salt_width").distinct().collect()
    }


def _assert_no_duplicate_docs(spark, tier_paths):
    for t, p in tier_paths.items():
        df = spark.read.parquet(p)
        assert df.count() == df.select("doc_id").distinct().count(), t


def test_resume_after_config_change_rebuilds(spark, built, tmpdir_session):
    """Resume under another EngineConfig must not keep tiers built under the
    old one: an int_day change regrids tier_10d instead of skipping every
    committed partition."""
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_regrid")
    build_cascade(spark, inp, out, CFG)
    cfg15 = EngineConfig(int_day=15)
    res = build_cascade(spark, inp, out, cfg15, resume=True)
    oracle15 = oracle_tiers(generate_pandas(N_DOCS), cfg15)
    for tier in TIERS:
        # values, not tokens: on the 15-day grid a fold average can land on
        # a .5 tie, and round() of it depends on float summation order
        eng = _collect_tier(spark, res.tier_paths[tier])
        ora = oracle15[tier].sort_values("doc_id").reset_index(drop=True)
        assert list(eng["doc_id"]) == list(ora["doc_id"]), tier
        for i in range(len(eng)):
            np.testing.assert_array_equal(
                np.asarray(eng["buckets"][i]), np.asarray(ora["buckets"][i])
            )
            np.testing.assert_allclose(
                np.asarray(eng["values"][i]), np.asarray(ora["values"][i]),
                rtol=1e-12, atol=1e-9,
            )
    assert _lineage_layouts(spark, res.lineage_path) == {
        (cfg15.config_hash(), res.salt_width)
    }


def test_resume_with_narrower_salt_rebuilds_whole_layout(
    spark, built, oracle, tmpdir_session
):
    """A resume at salt_buckets=2 over a warehouse laid out at the session
    width must not partially overwrite it (that would leave the stale
    salt >= 2 directories and duplicate their docs): it rebuilds every
    tier at width 2."""
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_narrow")
    wide = build_cascade(spark, inp, out, CFG)
    assert wide.salt_width == spark.sparkContext.defaultParallelism > 2
    cfg2 = EngineConfig(salt_buckets=2)
    res = build_cascade(spark, inp, out, cfg2, resume=True)
    assert res.salt_width == 2
    _assert_no_duplicate_docs(spark, res.tier_paths)
    for tier in TIERS:
        _assert_tier_equal(spark, res.tier_paths[tier], oracle, tier)
        salts = spark.read.parquet(res.tier_paths[tier]).select("salt").distinct()
        assert {r[0] for r in salts.collect()} <= {0, 1}, tier
    assert _lineage_layouts(spark, res.lineage_path) == {(cfg2.config_hash(), 2)}


def test_resume_over_old_schema_lineage_rebuilds(spark, built, oracle, tmpdir_session):
    """A lineage written before config_hash/salt_width existed matches no
    build: resume falls back to a full rebuild instead of raising."""
    import shutil

    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_old_lineage")
    res = build_cascade(spark, inp, out, CFG)
    old = spark.read.parquet(res.lineage_path).drop("config_hash", "salt_width").toPandas()
    shutil.rmtree(res.lineage_path)
    spark.createDataFrame(old).write.parquet(res.lineage_path)

    res2 = build_cascade(spark, inp, out, CFG, resume=True)
    _assert_no_duplicate_docs(spark, res2.tier_paths)
    for tier in TIERS:
        _assert_tier_equal(spark, res2.tier_paths[tier], oracle, tier)
    lin = spark.read.parquet(res2.lineage_path).toPandas()
    assert len(lin) == len(old)
    assert lin.committed_at.min() > old.committed_at.max()  # all rebuilt
    assert _lineage_layouts(spark, res2.lineage_path) == {
        (CFG.config_hash(), res2.salt_width)
    }


def test_build_over_all_nodata_docs_gives_empty_readable_tiers(spark, tmpdir_session):
    """No doc has the 2 valid tokens tier_raw needs: every tier is written
    with zero rows, and the build, its lineage and the tier reads must not
    fail on the schema-less (only _SUCCESS) directories."""
    inp = os.path.join(tmpdir_session, "nodata_seq")
    out = os.path.join(tmpdir_session, "nodata_tiers")
    rows = [
        ("doc_a", [NODATA] * 5, 5, "source0"),
        ("doc_b", [NODATA, 120, NODATA], 3, "source1"),
        ("doc_c", [7], 1, "source0"),
    ]
    spark.createDataFrame(rows, SEQUENCES_SCHEMA).write.parquet(inp)
    res = build_cascade(spark, inp, out, CFG)
    assert res.tokens_processed == 9
    eng = Engine(spark, out, CFG)
    for tier in TIERS:
        df = eng.read_tier(tier)
        assert df.count() == 0, tier
        assert df.columns == [
            "doc_id", "buckets", "values", "tokens", "n_tok",
            "enc_buckets", "enc_values", "source", "salt",
        ], tier
