"""Duplicate-span detection, CUSUM break detection, temperature mixture
sampling (engine additions for the training-data pipeline / NRT monitoring
layer)."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sits_classification_spark.operators.dedup import dup_spans
from sits_classification_spark.operators.split import mixture_plan, mixture_sample
from sits_classification_spark.operators.seriesmap import series_rows
from sits_classification_spark.operators.stm import cusum_breaks


# ---------------------------------------------------------------------------
# dup_spans
# ---------------------------------------------------------------------------

SHARED = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"


@pytest.fixture(scope="module")
def span_docs(spark):
    rows = [
        # docs 1 and 2 share the 12-token SHARED block at offsets 2 and 0
        Row(doc_id=1, text="pre1 pre2 " + SHARED + " post1"),
        Row(doc_id=2, text=SHARED + " tail1 tail2"),
        # doc 3 repeats a 10-token block internally (self-duplication)
        Row(doc_id=3, text=" ".join(f"w{i}" for i in range(10)) + " gap "
            + " ".join(f"w{i}" for i in range(10))),
        # doc 4 has no duplicated 10-gram anywhere
        Row(doc_id=4, text=" ".join(f"uniq{i}" for i in range(30))),
    ]
    return spark.createDataFrame(rows)


def test_dup_spans_cross_doc_maximal(spark, span_docs):
    out = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in dup_spans(span_docs, min_len=10).collect()
    }
    # the shared block is 12 tokens: one MAXIMAL span per doc, not three
    # overlapping 10-grams
    assert (1, 2, 13, 12) in out
    assert (2, 0, 11, 12) in out
    # doc 3's internal repeat: both copies flagged (tokens 0-9 and 11-20)
    assert (3, 0, 9, 10) in out
    assert (3, 11, 20, 10) in out
    assert not any(d == 4 for d, *_ in out)
    assert len(out) == 4


def test_dup_spans_min_len_longer_than_match(spark, span_docs):
    # the shared block is 12 tokens; at min_len=13 no 13-gram repeats
    assert dup_spans(span_docs, min_len=13).count() == 0


def _window_partition_keys(df):
    """Partition-key names of every Window node in the optimized plan."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.findall(r"windowspecdefinition\(([A-Za-z_]\w*)#", plan)


def test_dup_spans_hot_gram_no_skewed_window(spark):
    """A gram present in 60% of docs (boilerplate — the Lee et al. target
    case) must not serialize into a single window partition: the occurrence
    count is a groupBy(h) partial aggregate, and the only windows left in
    the plan are the per-doc island merges."""
    from sits_classification_spark.operators.dedup import dup_span_removal

    boiler = " ".join(f"b{i}" for i in range(50))
    rows = []
    for d in range(40):
        uniq = " ".join(f"d{d}w{i}" for i in range(20))
        text = uniq + " " + boiler if d < 24 else uniq
        rows.append(Row(doc_id=d, text=text))
    df = spark.createDataFrame(rows)

    spans = dup_spans(df, min_len=50)
    got = {(r.doc_id, r.span_start, r.span_end, r.span_len) for r in spans.collect()}
    assert got == {(d, 20, 69, 50) for d in range(24)}
    keys = _window_partition_keys(spans)
    assert keys and all(k == "doc_id" for k in keys), keys

    removal = dup_span_removal(df, min_len=50)
    out = {r.doc_id: r for r in removal.collect()}
    assert out[0].n_removed == 0  # doc 0 is the canonical occurrence
    for d in range(1, 24):
        assert out[d].n_removed == 50
        assert out[d].clean_text == " ".join(f"d{d}w{i}" for i in range(20))
    for d in range(24, 40):
        assert out[d].n_removed == 0
    keys = _window_partition_keys(removal)
    assert keys and all(k == "doc_id" for k in keys), keys


# ---------------------------------------------------------------------------
# cusum_breaks
# ---------------------------------------------------------------------------

def _cusum_py(values, k, h):
    """Direct sequential recurrence — validates the prefix-sum identity."""
    n = len(values)
    mean = sum(values) / n
    var = sum(v * v for v in values) / n - mean * mean
    zs = [0.0 if var <= 0 else (v - mean) / math.sqrt(var) for v in values]
    sp = sn = 0.0
    sp_max = sn_max = 0.0
    bp = bn = None
    for i, z in enumerate(zs):
        sp = max(0.0, sp + z - k)
        sn = max(0.0, sn - z - k)
        sp_max, sn_max = max(sp_max, sp), max(sn_max, sn)
        if bp is None and sp > h:
            bp = i
        if bn is None and sn > h:
            bn = i
    return sp_max, sn_max, bp, bn


def test_cusum_matches_sequential_recurrence(spark):
    # level shift upward at t=30; against the GLOBAL mean the early half sits
    # low (negative side fires first), the late half high (positive side
    # fires later) — both must match the sequential recurrence exactly
    vals = [1.0 + 0.1 * (i % 5) for i in range(30)] + [
        3.0 + 0.1 * (i % 5) for i in range(30)
    ]
    df = spark.createDataFrame(
        [Row(doc_id=1, day=i, value=v) for i, v in enumerate(vals)]
    )
    r = cusum_breaks(series_rows(df), k=0.5, h=4.0).collect()[0]
    sp_max, sn_max, bp, bn = _cusum_py(vals, 0.5, 4.0)
    assert r.n == 60
    assert abs(r.s_pos_max - sp_max) < 1e-6
    assert abs(r.s_neg_max - sn_max) < 1e-6
    assert bp is not None and bn is not None  # both sides fire on this input
    exp_day = min(bp, bn)
    exp_side = 1 if bp <= bn else -1
    assert r.break_day == exp_day and r.break_side == exp_side


def test_cusum_downward_shift_fires_negative_side(spark):
    # wiggle then drop; h sits between the two side maxima (s_pos_max ~ 8.9,
    # s_neg_max ~ 13.9) so ONLY the negative side ever crosses
    vals = [5.0] * 20 + [4.0, 6.0] * 5 + [1.0] * 20
    df = spark.createDataFrame(
        [Row(doc_id=7, day=100 + i, value=v) for i, v in enumerate(vals)]
    )
    r = cusum_breaks(series_rows(df), k=0.5, h=10.0).collect()[0]
    sp_max, sn_max, bp, bn = _cusum_py(vals, 0.5, 10.0)
    assert abs(r.s_neg_max - sn_max) < 1e-6
    assert sp_max < 10.0 and bp is None and bn is not None
    assert r.break_side == -1
    assert r.break_day == 100 + bn


def test_cusum_stable_series_no_break(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, day=i, value=float(i % 3)) for i in range(40)]
    )
    r = cusum_breaks(series_rows(df), k=0.5, h=5.0).collect()[0]
    assert r.break_day is None and r.break_side == 0


def test_cusum_zero_variance_series(spark):
    df = spark.createDataFrame([Row(doc_id=1, day=i, value=2.5) for i in range(10)])
    r = cusum_breaks(series_rows(df), k=0.5, h=5.0).collect()[0]
    # z = 0 everywhere: both sides stay at 0 (u = -k < 0), no break
    assert r.s_pos_max == 0.0 and r.s_neg_max == 0.0 and r.break_side == 0


# ---------------------------------------------------------------------------
# mixture_plan / mixture_sample
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def skewed_docs(spark):
    rows = []
    did = 0
    for src, n in (("head", 160), ("mid", 40), ("tail", 10)):
        for _ in range(n):
            rows.append(Row(doc_id=did, source=src, text=f"doc {did}"))
            did += 1
    return spark.createDataFrame(rows)


def test_mixture_plan_temperature_flattens(spark, skewed_docs):
    plan = {r.source: r for r in mixture_plan(
        skewed_docs, budget_frac=0.5, temperature=0.7).collect()}
    s = sum(n ** 0.7 for n in (160, 40, 10))
    for src, n in (("head", 160), ("mid", 40), ("tail", 10)):
        w = round(n ** 0.7 / s, 6)
        assert abs(plan[src].weight - w) < 1e-9
        assert plan[src].target_n == min(int(w * 0.5 * 210 + 0.5), n)
    # alpha < 1 lifts the tail above its natural share and caps the head
    assert plan["tail"].weight > 10 / 210
    assert plan["head"].weight < 160 / 210
    # alpha = 1 reproduces natural proportions exactly
    nat = {r.source: r.weight for r in mixture_plan(
        skewed_docs, budget_frac=0.5, temperature=1.0).collect()}
    for src, n in (("head", 160), ("mid", 40), ("tail", 10)):
        assert abs(nat[src] - round(n / 210, 6)) < 1e-9


def test_mixture_sample_exact_counts_and_deterministic(spark, skewed_docs):
    plan = {r.source: r.target_n for r in mixture_plan(
        skewed_docs, budget_frac=0.5, temperature=0.7).collect()}
    samp = mixture_sample(skewed_docs, budget_frac=0.5, temperature=0.7)
    got = {r.source: r.cnt for r in
           samp.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    assert got == {k: v for k, v in plan.items() if v > 0}
    a = sorted(map(tuple, samp.collect()))
    b = sorted(map(tuple, mixture_sample(
        skewed_docs, budget_frac=0.5, temperature=0.7).collect()))
    assert a == b


def test_mixture_budget_cap_at_source_size(spark, skewed_docs):
    # a huge budget caps every target at the source size (no upsampling)
    plan = {r.source: r for r in mixture_plan(
        skewed_docs, budget_frac=5.0, temperature=0.7).collect()}
    for src, n in (("head", 160), ("mid", 40), ("tail", 10)):
        assert plan[src].target_n == n
        assert plan[src].rate == 1.0


# ---------------------------------------------------------------------------
# dup_span_removal
# ---------------------------------------------------------------------------

def test_dup_span_removal_keeps_canonical(spark, span_docs):
    from sits_classification_spark.operators.dedup import dup_span_removal

    out = {r.doc_id: r for r in dup_span_removal(span_docs, min_len=10).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1 is canonical for the shared block (min doc_id): untouched
    assert out[1].n_removed == 0
    assert out[1].clean_text == "pre1 pre2 " + SHARED + " post1"
    # doc 2 loses the 12-token block, keeps its tail
    assert out[2].n_removed == 12
    assert out[2].clean_text == "tail1 tail2"
    # doc 3 keeps the FIRST internal copy, loses the second
    assert out[3].n_removed == 10
    assert out[3].clean_text == " ".join(f"w{i}" for i in range(10)) + " gap"
    # doc 4 untouched, rejoined by single spaces
    assert out[4].n_removed == 0 and out[4].n_tokens == 30


def test_dup_span_removal_idempotent(spark, span_docs):
    from sits_classification_spark.operators.dedup import dup_span_removal, dup_spans

    cleaned = dup_span_removal(span_docs, min_len=10).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # after removal, no duplicated 10-gram span remains anywhere
    assert dup_spans(cleaned, min_len=10).count() == 0


# ---------------------------------------------------------------------------
# mixture_sample_tokens
# ---------------------------------------------------------------------------

def test_mixture_tokens_budget_respected(spark, skewed_docs):
    from sits_classification_spark.operators.split import mixture_sample_tokens

    docs = skewed_docs.withColumn(
        "n_chars", (F.col("doc_id") % 50 + 10).cast("long")
    )
    samp = mixture_sample_tokens(
        docs, budget_frac=0.5, temperature=0.7, weight_col="n_chars"
    )
    toks = {r.source: r.n for r in docs.groupBy("source")
            .agg(F.sum("n_chars").alias("n")).collect()}
    total = sum(toks.values())
    s = sum(t ** 0.7 for t in toks.values())
    kept = {r.source: r.m for r in samp.join(docs, ["doc_id", "source"])
            .groupBy("source").agg(F.sum("n_chars").alias("m")).collect()}
    for src, t in toks.items():
        target = int(round(t ** 0.7 / s, 6) * (0.5 * total))
        assert kept.get(src, 0) <= target  # greedy prefix never overshoots
        # and it fills the budget to within one doc's mass (max 59 chars)
        assert kept.get(src, 0) > target - 60
    a = sorted(map(tuple, samp.collect()))
    b = sorted(map(tuple, mixture_sample_tokens(
        docs, budget_frac=0.5, temperature=0.7, weight_col="n_chars").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Engine.breaks facade
# ---------------------------------------------------------------------------

def test_engine_breaks_over_tiers(spark, tmpdir_session):
    import os
    from sits_classification_spark.config import EngineConfig
    from sits_classification_spark.datagen import write_sequences
    from sits_classification_spark.plans.engine import Engine

    inp = os.path.join(tmpdir_session, "brk_seq")
    wh = os.path.join(tmpdir_session, "brk_wh")
    write_sequences(spark, inp, 40)
    eng = Engine(spark, wh, EngineConfig())
    eng.build_tiers(inp)
    out = eng.breaks("tier_10d", k=0.25, h=3.0)
    rows = out.collect()
    assert len(rows) == 40
    assert set(out.columns) == {
        "doc_id", "source", "n", "s_pos_max", "s_neg_max",
        "break_day", "break_side",
    }
    # calendar tiers go through the representative-day conversion and the
    # result keys stay (doc_id, source)
    m = eng.breaks("tier_monthly", k=0.25, h=3.0)
    assert m.count() == 40


# ---------------------------------------------------------------------------
# cusum_scores (precomputed-z path, the NRT composition final)
# ---------------------------------------------------------------------------

def test_cusum_scores_matches_recurrence_on_given_z(spark):
    from sits_classification_spark.operators.stm import cusum_scores

    zs = [0.2, -0.1, 0.4, 1.5, 1.8, 2.2, 1.9, 2.5, -0.3, 0.1]
    df = spark.createDataFrame(
        [Row(doc_id=1, day=i, z=z) for i, z in enumerate(zs)]
    )
    r = cusum_scores(series_rows(df, value_col="z"), k=0.5, h=3.0).collect()[0]
    sp = sn = 0.0
    sp_max = sn_max = 0.0
    bp = None
    for i, z in enumerate(zs):
        sp = max(0.0, sp + z - 0.5)
        sn = max(0.0, sn - z - 0.5)
        sp_max, sn_max = max(sp_max, sp), max(sn_max, sn)
        if bp is None and sp > 3.0:
            bp = i
    assert abs(r.s_pos_max - sp_max) < 1e-9
    assert abs(r.s_neg_max - sn_max) < 1e-9
    assert r.break_day == bp and r.break_side == 1


# ---------------------------------------------------------------------------
# randomized differential tests (seeded; one Spark call over many cases)
# ---------------------------------------------------------------------------

def _dup_spans_py(texts, L):
    """Brute-force reference: dup L-gram starts merged to maximal runs."""
    from collections import Counter

    grams = Counter()
    per_doc = {}
    for d, toks in texts.items():
        gs = [tuple(toks[i:i + L]) for i in range(len(toks) - L + 1)]
        per_doc[d] = gs
        grams.update(gs)
    out = set()
    for d, gs in per_doc.items():
        runs = []
        for p in (i for i, g in enumerate(gs) if grams[g] >= 2):
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for s, e in runs:
            out.add((d, s, e + L - 1, e + L - 1 - s + 1))
    return out


def test_dup_spans_random_corpus_matches_bruteforce(spark):
    import random

    rng = random.Random(20260817)
    vocab = [f"v{i}" for i in range(25)]  # small vocab -> incidental repeats
    texts = {}
    for d in range(40):
        texts[d] = [rng.choice(vocab) for _ in range(rng.randint(6, 60))]
    # plant cross-doc copies: doc pairs sharing a block at random offsets
    for a, b in ((3, 17), (8, 31), (12, 12)):  # incl. a self-repeat
        block = [rng.choice(vocab) for _ in range(rng.randint(7, 15))]
        ia = rng.randint(0, len(texts[a]))
        texts[a] = texts[a][:ia] + block + texts[a][ia:]
        ib = rng.randint(0, len(texts[b]))
        texts[b] = texts[b][:ib] + block + texts[b][ib:]
    df = spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(t)) for d, t in texts.items()]
    )
    for L in (5, 7):
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in dup_spans(df, min_len=L).collect()
        }
        assert got == _dup_spans_py(texts, L), f"L={L}"


def test_cusum_random_series_match_recurrence(spark):
    import random

    rng = random.Random(99)
    series = {}
    for d in range(30):
        n = rng.randint(5, 80)
        base = rng.uniform(-50, 50)
        vals = [base + rng.gauss(0, 3) for _ in range(n)]
        if rng.random() < 0.5:  # half get a planted level shift
            cut = rng.randint(1, n)
            vals = vals[:cut] + [v + rng.uniform(-20, 20) for v in vals[cut:]]
        series[d] = vals
    rows = [
        Row(doc_id=d, day=i * 3, value=v)
        for d, vs in series.items()
        for i, v in enumerate(vs)
    ]
    got = {
        r.doc_id: r
        for r in cusum_breaks(series_rows(spark.createDataFrame(rows)), k=0.4, h=3.5).collect()
    }
    assert len(got) == 30
    for d, vs in series.items():
        sp_max, sn_max, bp, bn = _cusum_py(vs, 0.4, 3.5)
        r = got[d]
        assert abs(r.s_pos_max - sp_max) < 1e-6, d
        assert abs(r.s_neg_max - sn_max) < 1e-6, d
        days = [i * 3 for i in range(len(vs))]
        exp_day = None if bp is None and bn is None else days[
            min(x for x in (bp, bn) if x is not None)
        ]
        exp_side = (
            0 if exp_day is None
            else (1 if bp is not None and (bn is None or bp <= bn) else -1)
        )
        assert r.break_day == exp_day and r.break_side == exp_side, d


# ---------------------------------------------------------------------------
# stratified_point_sample (the reference's sampling stage)
# ---------------------------------------------------------------------------

def test_stratified_point_sample_semantics(spark):
    from sits_classification_spark.operators.lookup import (
        stratified_point_sample,
    )

    rows = []
    for px in range(20):
        for py in range(20):
            v = float((px * 20 + py) % 100)
            rows.append(Row(px=px, py=py, value=v))
    rows.append(Row(px=0, py=2, value=None))  # nodata: excluded
    df = spark.createDataFrame(rows)
    ranges = [(0.0, 50.0, 0.5), (50.0, 100.0, 0.25)]
    out = stratified_point_sample(
        df, ranges, total_points=40, skip=2, value_col="value"
    ).collect()
    # decimation: every sampled point sits on the skip-2 lattice
    assert all(r.px % 2 == 0 and r.py % 2 == 0 for r in out)
    # per-range limits: int(40*0.5)=20 and int(40*0.25)=10
    by_rng = {}
    for r in out:
        by_rng.setdefault(r.range_idx, []).append(r)
    assert len(by_rng[0]) == 20 and len(by_rng[1]) == 10
    assert all(0.0 <= r.value < 50.0 for r in by_rng[0])
    assert all(50.0 <= r.value < 100.0 for r in by_rng[1])
    # deterministic across runs
    again = stratified_point_sample(
        df, ranges, total_points=40, skip=2, value_col="value"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_stratified_point_sample_small_stratum_keeps_all(spark):
    from sits_classification_spark.operators.lookup import (
        stratified_point_sample,
    )

    df = spark.createDataFrame(
        [Row(px=i * 2, py=0, value=float(i)) for i in range(5)]
    )
    out = stratified_point_sample(
        df, [(0.0, 100.0, 1.0)], total_points=50, skip=2, value_col="value"
    ).collect()
    assert len(out) == 5  # fewer candidates than the budget: keep all
