"""End-to-end tier-cascade test: engine vs pure-pandas oracle,
token-array equality at every tier (the BASELINE.json invariant)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sits_classification_spark import lineage as L
from sits_classification_spark.compression.gorilla import decode_series, encode_series
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
    read_tier,
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
        .select("doc_id", "source", "buckets", "tokens", "values")
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


def test_stored_tier_arrays_codec_roundtrip(spark, built):
    """The stored tier_10d arrays, encoded with the DoD/Gorilla codec,
    decode back to exactly themselves."""
    pdf = _collect_tier(spark, built.tier_paths["tier_10d"])
    for i in range(min(len(pdf), 50)):
        buckets = np.asarray(pdf["buckets"][i], dtype=np.int64)
        values = np.asarray(pdf["values"][i], dtype=np.float64)
        db, dv = decode_series(*encode_series(buckets, values))
        np.testing.assert_array_equal(db, buckets)
        np.testing.assert_array_equal(dv.view(np.uint64), values.view(np.uint64))


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
    """North rule: the build's repartition (salt pmod(hash(doc_id), S), S
    tasks hash-partitioned on doc_id) must spread the zipf-hot source
    (source0 holds ~50% of docs) across tasks."""
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
    salted = max_share(with_salt(seq, DEFAULT_CONFIG, p).repartition(p, "doc_id"))
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
    monthly_sums = lin[lin.tier == "tier_monthly"][["salt", "checksum"]]

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
    monthly_after = lin2[lin2.tier == "tier_monthly"][["salt", "checksum"]]
    a = monthly_sums.sort_values(["salt"]).reset_index(drop=True)
    b = monthly_after.sort_values(["salt"]).reset_index(drop=True)
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
    slots) still spreads the hot source: repartitioned as the build does,
    into S tasks on doc_id, no task holds more than 2.5/P of the docs."""
    from sits_classification_spark.datagen import generate_spark

    p = spark.sparkContext.defaultParallelism
    s = built.salt_width
    assert s == salt_width(spark, CFG) == min(CFG.salt_buckets, p)
    seq = with_salt(generate_spark(spark, 4000), CFG, s)
    assert _max_task_share(seq.repartition(s, "doc_id")) <= 2.5 / p


@pytest.mark.parametrize("width", [1, 2, 3, 4, 7, 32])
def test_salt_is_the_task_of_the_doc_id_repartition(spark, width):
    """pmod(hash(doc_id), S) is the partition id Spark's hash partitioning
    gives repartition(S, "doc_id"): every row lands in the task numbered by
    its salt, and all S tasks are used."""
    from sits_classification_spark.datagen import generate_spark

    seq = with_salt(generate_spark(spark, 4000), CFG, width).repartition(width, "doc_id")
    pid = F.spark_partition_id()
    assert seq.where(pid != F.col("salt")).count() == 0
    assert seq.select(pid).distinct().count() == width


def test_config_hash_keys_the_stored_tiers(monkeypatch):
    """config_hash is the lineage key of the stored tiers: above_noise,
    which only noise_screen reads at query time, leaves it as it is;
    salt_buckets and TIER_FORMAT change it."""
    from sits_classification_spark import config

    h = CFG.config_hash()
    assert EngineConfig(above_noise=1.5).config_hash() == h
    assert EngineConfig(salt_buckets=2).config_hash() != h
    monkeypatch.setattr(config, "TIER_FORMAT", config.TIER_FORMAT + 1)
    assert CFG.config_hash() != h


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
            "doc_id", "buckets", "values", "tokens", "n_tok", "source", "salt",
        ], tier


def _tier_checksums(spark, tier_paths):
    """Full-column bit_xor(xxhash64(...)) and row count of every tier."""
    out = {}
    for t, p in tier_paths.items():
        df = read_tier(spark, p)
        out[t] = tuple(df.agg(F.bit_xor(F.xxhash64(*df.columns)), F.count("*")).collect()[0])
    return out


def _data_files(path):
    return sorted(
        os.path.relpath(os.path.join(r, f), path)
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    )


def test_lineage_rows_hash_the_stored_series(spark, built):
    """Every lineage row's rows_out and checksum equal count(*) and
    bit_xor(xxhash64(doc_id, buckets, values)) recomputed from the
    materialized tier for its (tier, salt): the checksum sees the stored
    values, not only their rounded tokens."""
    lin = spark.read.parquet(built.lineage_path).toPandas()
    assert len(lin) == len(lin.drop_duplicates(["tier", "salt"]))
    for tier, path in built.tier_paths.items():
        want = (
            read_tier(spark, path)
            .groupBy("salt")
            .agg(
                F.count("*").alias("rows"),
                F.expr("bit_xor(xxhash64(doc_id, buckets, values))").alias("h"),
            )
            .toPandas()
        )
        got = lin[lin.tier == tier].merge(want, on=["salt"], how="outer")
        assert len(got) == len(want) > 0, tier
        assert (got.rows_out == got.rows).all(), tier
        assert (got.checksum == got.h).all(), tier


def test_tier_rows_count_the_written_rows(spark, built):
    """CascadeResult.tier_rows, summed from the lineage stats the pass
    gathered, equals count(*) of each materialized tier."""
    assert built.tier_rows == {
        t: read_tier(spark, p).count() for t, p in built.tier_paths.items()
    }


def _jobs_in_group(spark, group, fn):
    """Run `fn` under the job group `group`; the number of Spark jobs it
    started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker reads a store the listener bus feeds
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_and_retention_run_no_lineage_jobs(spark, tmpdir_session):
    """Lineage comes from the pass that writes the rows: a fresh build runs
    at most 3 Spark jobs (the input's schema, the shuffle, the write) and
    apply_retention exactly one (the write). Reading the tiers back for
    lineage, or appending it with Spark, would add jobs."""
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_job_count")
    build = lambda: build_cascade(spark, inp, out, CFG)  # noqa: E731
    assert _jobs_in_group(spark, "test_build_jobs", build) <= 3
    retain = lambda: Engine(spark, out, CFG).apply_retention("tier_10d", 120)  # noqa: E731
    assert _jobs_in_group(spark, "test_retention_jobs", retain) == 1


def test_fully_committed_resume_runs_no_spark_job(spark, built, tmpdir_session):
    """A resume over a warehouse whose every salt bucket of every tier is
    committed returns right after reading the lineage: no Spark job, the
    recorded width, nothing processed or written, lineage unchanged."""
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_resume_noop")
    res = build_cascade(spark, inp, out, CFG)
    lin = L.read_lineage(res.lineage_path)
    got = []
    resume = lambda: got.append(build_cascade(spark, inp, out, CFG, resume=True))  # noqa: E731
    assert _jobs_in_group(spark, "test_resume_noop_jobs", resume) == 0
    (res2,) = got
    assert res2.salt_width == res.salt_width
    assert res2.tokens_processed == 0
    assert res2.tier_rows == dict.fromkeys(TIERS, 0)
    assert res2.tier_paths == res.tier_paths
    assert L.read_lineage(res.lineage_path).equals(lin)


def test_resume_appends_only_the_missing_tier_row(spark, built, tmpdir_session):
    """With only the tier_seasonal lineage row of one salt bucket lost,
    resume appends exactly that row and rewrites only that bucket's
    seasonal files; the other rows keep their committed_at, and all four
    tiers equal a fresh build."""
    import shutil

    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_one_missing")
    res = build_cascade(spark, inp, out, CFG)
    lin = spark.read.parquet(res.lineage_path).toPandas()
    lost = lin[lin.tier == "tier_seasonal"].iloc[0]
    is_lost = (lin.tier == "tier_seasonal") & (lin.salt == lost.salt)
    shutil.rmtree(res.lineage_path)
    spark.createDataFrame(lin[~is_lost]).write.parquet(res.lineage_path)
    files = {t: _data_files(p) for t, p in res.tier_paths.items()}

    res2 = build_cascade(spark, inp, out, CFG, resume=True)
    lin2 = spark.read.parquet(res2.lineage_path).toPandas()
    assert len(lin2) == len(lin)
    key = ["tier", "salt"]
    new = lin2.merge(lin[~is_lost][key], on=key, how="left", indicator=True)
    added = new[new._merge == "left_only"]
    assert [(r.tier, r.salt) for r in added.itertuples()] == [("tier_seasonal", lost.salt)]
    assert added.rows_out.iloc[0] == lost.rows_out
    assert added.checksum.iloc[0] == lost.checksum
    kept = lin2.merge(lin[~is_lost], on=key, suffixes=("", "_before"))
    assert len(kept) == len(lin) - 1
    assert (kept.committed_at == kept.committed_at_before).all()
    for t in ("tier_raw", "tier_10d", "tier_monthly"):
        assert _data_files(res2.tier_paths[t]) == files[t], t
    part = f"salt={lost.salt}/"
    seasonal = _data_files(res2.tier_paths["tier_seasonal"])
    assert [f for f in seasonal if not f.startswith(part)] == [
        f for f in files["tier_seasonal"] if not f.startswith(part)
    ]
    assert [f for f in seasonal if f.startswith(part)] != [
        f for f in files["tier_seasonal"] if f.startswith(part)
    ]
    assert _tier_checksums(spark, res2.tier_paths) == _tier_checksums(spark, built.tier_paths)


def test_commit_leaves_no_staging_directory(spark, tmpdir_session):
    """build_cascade and apply_retention leave only the tiers and the
    lineage table in the warehouse."""
    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_no_staging")
    build_cascade(spark, inp, out, CFG)
    assert sorted(os.listdir(out)) == sorted((*TIERS, "lineage"))
    Engine(spark, out, CFG).apply_retention("tier_10d", 120)
    assert sorted(os.listdir(out)) == sorted((*TIERS, "lineage"))


def test_staging_left_by_killed_build_is_harmless(spark, built, tmpdir_session, monkeypatch):
    """A build killed after its staging write leaves the staged tiers under
    the warehouse: reads still see the committed tiers, a swap cut between
    its two renames is completed on read, and the next build (fresh or
    resume) succeeds and leaves no staging behind."""
    from sits_classification_spark.plans import cascade

    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_killed")
    res = build_cascade(spark, inp, out, CFG)
    want = _tier_checksums(spark, built.tier_paths)

    def killed(*_a, **_k):
        raise KeyboardInterrupt("killed")

    with monkeypatch.context() as m:
        m.setattr(cascade, "_move_into_place", killed)
        with pytest.raises(KeyboardInterrupt):
            build_cascade(spark, inp, out, CFG)
    left = set(os.listdir(out)) - {*TIERS, "lineage"}
    assert left, "the killed build left its staging root"
    eng = Engine(spark, out, CFG)
    assert {t: eng.read_tier(t).count() for t in TIERS} == {t: want[t][1] for t in TIERS}

    # the kill came between a whole-tier swap's renames: tier_10d is gone
    (staging,) = left
    os.replace(res.tier_paths["tier_10d"], os.path.join(out, staging, "tier_10d__retired"))
    assert eng.read_tier("tier_10d").count() == want["tier_10d"][1]

    res2 = build_cascade(spark, inp, out, CFG, resume=True)
    assert sorted(os.listdir(out)) == sorted((*TIERS, "lineage"))
    assert _tier_checksums(spark, res2.tier_paths) == want
    res3 = build_cascade(spark, inp, out, CFG)
    assert sorted(os.listdir(out)) == sorted((*TIERS, "lineage"))
    assert _tier_checksums(spark, res3.tier_paths) == want


def test_verify_tier_flags_null_and_ragged_rows(spark, built, tmpdir_session):
    """A tier on disk is outside input: a row whose values are null, a row
    whose buckets and values differ in length and a row holding a null
    value (written by hand) verify as ok=false, every other row as ok=true,
    and nothing raises. The mismatched row must not shift the flat buffers
    of the rows after it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = read_tier(spark, built.tier_paths["tier_raw"]).toPandas().sort_values("doc_id")
    pdf = raw[["doc_id", "buckets", "values", "tokens"]].head(40).reset_index(drop=True)
    bad = {pdf["doc_id"][i] for i in (3, 10, 20)}
    values = list(pdf["values"])
    values[3] = None
    values[10] = list(values[10])[:-1]
    values[20] = [None, *values[20][1:]]
    pdf["values"] = values
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("buckets", pa.list_(pa.int32())),
            ("values", pa.list_(pa.float64())),
            ("tokens", pa.list_(pa.int32())),
        ]
    )
    part = os.path.join(tmpdir_session, "tiers_by_hand", "tier_raw", "salt=0")
    os.makedirs(part)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        os.path.join(part, "part-0.parquet"),
    )
    eng = Engine(spark, os.path.join(tmpdir_session, "tiers_by_hand"), CFG)
    got = {r["doc_id"]: r["ok"] for r in eng.verify_tier("tier_raw").collect()}
    assert got == {d: d not in bad for d in pdf["doc_id"]}


def _steps_from_dods(t0, d0, dods):
    days = [t0, t0 + d0]
    for dod in dods:
        days.append(days[-1] + days[-1] - days[-2] + dod)
    return days


def test_verify_tier_on_edge_rows(spark, tmpdir_session):
    """verify_tier through Spark on a hand-written tier of codec edge
    cases: rows of 0, 1 and 2 points, constant values, signed zeros,
    subnormals, +-1e308, and day steps whose deltas-of-deltas sit on both
    edges of every DoD bucket, one past each, and in the 64-bit escape of
    either sign. Every row is ok and nothing raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dods = [0, -63, 64, -64, 65, -255, 256, -256, 257, -2047, 2048, -2048, 2049,
            100_000, -100_000, 0]
    steps = _steps_from_dods(7000, 5000, dods)
    rows = {
        "empty": ([], []),
        "one": ([7000], [0.5]),
        "two": ([7000, 7010], [0.5, -0.5]),
        "constant": (list(range(7000, 7200, 10)), [0.25] * 20),
        "signed_zeros": ([1, 2, 3, 4, 5], [0.0, -0.0, -0.0, 0.0, -0.0]),
        "subnormals": ([1, 11, 21, 31], [5e-324, -5e-324, 2.2e-310, 1e-320]),
        "extremes": ([1, 11, 21, 31], [1e308, -1e308, 1e308, 1.7976931348623157e308]),
        "dod_buckets": (steps, [float(i % 7) - 3.5 for i in range(len(steps))]),
    }
    assert max(steps) < 2**31 and all(s > 0 for s in steps)
    table = pa.table(
        {
            "doc_id": list(rows),
            "buckets": [b for b, _ in rows.values()],
            "values": [v for _, v in rows.values()],
            "tokens": [[0] * len(b) for b, _ in rows.values()],
        },
        schema=pa.schema(
            [
                ("doc_id", pa.string()),
                ("buckets", pa.list_(pa.int32())),
                ("values", pa.list_(pa.float64())),
                ("tokens", pa.list_(pa.int32())),
            ]
        ),
    )
    part = os.path.join(tmpdir_session, "tiers_edge", "tier_raw", "salt=0")
    os.makedirs(part)
    pq.write_table(table, os.path.join(part, "part-0.parquet"))
    eng = Engine(spark, os.path.join(tmpdir_session, "tiers_edge"), CFG)
    got = {r["doc_id"]: r["ok"] for r in eng.verify_tier("tier_raw").collect()}
    assert got == {d: True for d in rows}


def _tree(path):
    return sorted((d, sorted(dirs), sorted(files)) for d, dirs, files in os.walk(path))


@pytest.mark.parametrize("name", ["../x", "tier_bogus", "tier_raw/..", ""])
def test_bad_tier_name_raises_before_touching_the_warehouse(spark, built, name):
    """A tier name becomes a path under the warehouse, so read_tier,
    verify_tier and apply_retention reject any name outside TIERS with a
    ValueError (not an assert, which python -O strips) and leave the
    warehouse and its parent directory as they were."""
    warehouse = os.path.dirname(built.tier_paths["tier_raw"])
    before = (sorted(os.listdir(os.path.dirname(warehouse))), _tree(warehouse))
    eng = Engine(spark, warehouse, CFG)
    for op in (eng.read_tier, eng.verify_tier, lambda t: eng.apply_retention(t, 120)):
        with pytest.raises(ValueError, match="unknown tier"):
            op(name)
    assert (sorted(os.listdir(os.path.dirname(warehouse))), _tree(warehouse)) == before


def _file_columns(tier_dir):
    import pyarrow.parquet as pq

    return {
        f: pq.read_schema(os.path.join(tier_dir, f)).names for f in _data_files(tier_dir)
    }


STORED_COLUMNS = ["doc_id", "source", "buckets", "values", "tokens"]


def test_tier_files_store_each_value_once(spark, built):
    """A build lays each tier out as one salt=<k> directory per salt
    bucket, holding the one file of the task that held that bucket. Every
    tier data file holds exactly doc_id, source and the row arrays (no
    n_tok, no stored codec streams); read_tier derives n_tok as
    size(buckets)."""
    for tier, path in built.tier_paths.items():
        dirs = sorted(os.listdir(path))
        assert dirs == sorted(f"salt={k}" for k in range(built.salt_width)), tier
        cols = _file_columns(path)
        assert [f.split("/")[0] for f in cols] == dirs, tier
        assert all(c == STORED_COLUMNS for c in cols.values()), tier
        df = read_tier(spark, path)
        assert df.where(F.col("n_tok") != F.size("buckets")).count() == 0, tier
        assert df.where(F.col("n_tok").isNull()).count() == 0, tier


def test_kernels_run_per_arrow_batch(spark, built, tmpdir_session):
    """With 7-row Arrow batches (series of one task spread over many
    batches) a build and a retention equal the default-batch ones, row for
    row in every tier, and count the same input tokens."""
    import shutil

    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, "tiers_small_batches")
    ref = os.path.join(tmpdir_session, "tiers_small_batches_ref")
    shutil.copytree(os.path.dirname(built.tier_paths["tier_raw"]), ref)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        res = build_cascade(spark, inp, out, CFG)
        assert _tier_checksums(spark, res.tier_paths) == _tier_checksums(
            spark, built.tier_paths
        )
        Engine(spark, out, CFG).apply_retention("tier_10d", 120)
    finally:
        spark.conf.set(conf, old)
    assert res.tokens_processed == built.tokens_processed
    Engine(spark, ref, CFG).apply_retention("tier_10d", 120)
    assert _tier_checksums(spark, {"t": res.tier_paths["tier_10d"]}) == _tier_checksums(
        spark, {"t": os.path.join(ref, "tier_10d")}
    )


@pytest.mark.parametrize(
    "case", ["format_bump", "format_bump_source_layout", "lineage_without_layout_columns"]
)
def test_resume_over_another_tier_format_rebuilds_whole(
    spark, built, oracle, tmpdir_session, monkeypatch, case
):
    """A warehouse of another tier format matches no lineage row, so
    rebuild() over it is a full rebuild: every tier and every lineage row
    is rewritten, no source= directory and no duplicate doc is left, and
    the tiers equal the oracle. The other formats: a build under the
    previous TIER_FORMAT; the same with its tiers moved into the
    source=…/salt=… directories of older builds; a lineage Spark wrote
    without the config_hash and salt_width columns."""
    import shutil

    from sits_classification_spark import config

    inp = os.path.join(tmpdir_session, "sequences")
    out = os.path.join(tmpdir_session, f"tiers_other_format_{case}")
    with monkeypatch.context() as m:
        if case.startswith("format_bump"):
            m.setattr(config, "TIER_FORMAT", config.TIER_FORMAT - 1)
        res = build_cascade(spark, inp, out, CFG)
    if case == "format_bump_source_layout":
        for path in res.tier_paths.values():
            by_source = read_tier(spark, path).drop("n_tok").write.partitionBy("source", "salt")
            by_source.parquet(path + "_by_source")
            shutil.rmtree(path)
            os.replace(path + "_by_source", path)
            assert all(f.startswith("source=") for f in _data_files(path))
    if case == "lineage_without_layout_columns":
        old = spark.read.parquet(res.lineage_path).drop("config_hash", "salt_width").toPandas()
        shutil.rmtree(res.lineage_path)
        spark.createDataFrame(old).write.parquet(res.lineage_path)
    before = L.read_lineage(res.lineage_path).to_pandas()
    files = {t: set(_data_files(p)) for t, p in res.tier_paths.items()}

    res2 = Engine(spark, out, CFG).rebuild(inp)
    for tier, path in res2.tier_paths.items():
        assert files[tier].isdisjoint(_data_files(path)), tier
    lin = L.read_lineage(res2.lineage_path).to_pandas()
    assert len(lin) == len(before)
    assert lin.committed_at.min() > before.committed_at.max()
    assert _lineage_layouts(spark, res2.lineage_path) == {
        (CFG.config_hash(), res2.salt_width)
    }
    assert not [d for d, _s, _f in os.walk(out) if "source=" in d]
    _assert_no_duplicate_docs(spark, res2.tier_paths)
    for tier in TIERS:
        _assert_tier_equal(spark, res2.tier_paths[tier], oracle, tier)
    assert _tier_checksums(spark, res2.tier_paths) == _tier_checksums(spark, built.tier_paths)
