"""Deduplication operators: MinHash+LSH, SimHash, n-gram Jaccard.

Engine additions for the training-data pipeline. All hashing goes through
md5 so a SQL oracle (DuckDB) can reproduce signatures bit-for-bit:
Spark ``conv(substr(md5(w),1,k),16,10)`` == DuckDB
``CAST('0x'||substr(md5(w),1,k) AS BIGINT)``.

Scale notes (100 TB posture):
- MinHash-LSH shuffles only (band_id, band_hash) pairs, never text; the
  band join is an equi-join Catalyst can plan (AQE handles banding skew);
- pair generation dedupes via (a < b) on doc ids to avoid symmetric blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sits_classification_spark.operators.text import (
    ngram_shingles,
    word_hash28,
    word_hash60,
    words,
)

MERSENNE31 = 2_147_483_647  # 2^31 - 1


def _minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation params — odd a, fixed table."""
    return [(2 * i + 1, (i * i * 31 + 7) % MERSENNE31) for i in range(1, k + 1)]


def minhash_base(df: DataFrame, shingle_n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct 28-bit-hashed n-gram shingle set per doc — the MinHash base.

    Shingles (not single words) are essential for discrimination: a word-level
    MinHash degenerates because one globally-minimal stopword hash dominates
    most docs' minima (measured: 77% of docs landing in ONE band bucket →
    O(n²) pair blowup). Docs shorter than n words fall back to one whole-doc
    shingle so every doc keeps a non-null signature; zero-word docs are
    dropped entirely — they would all hash the empty string and surface every
    empty-doc pair as a full-signature match."""
    w = df.select("doc_id", words(text_col).alias("w")).filter(F.size("w") > 0)
    sh = ngram_shingles(F.col("w"), shingle_n)
    base = F.when(
        F.size("w") >= shingle_n,
        F.array_distinct(F.transform(sh, word_hash28)),
    ).otherwise(F.array(word_hash28(F.concat_ws(" ", F.col("w")))))
    return w.select("doc_id", base.alias("base"))


def minhash_signatures(
    df: DataFrame, k: int = 8, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """k-permutation MinHash over hashed n-gram shingles (28-bit base hash
    keeps a*h+b inside int64). Output: (doc_id, mh0..mh{k-1})."""
    base = minhash_base(df, shingle_n, text_col)

    def perm(a: int, b: int):
        # Spark introspects lambda arity: must be exactly 1 arg, so close
        # over (a, b) via a factory instead of default args
        return lambda h: (h * a + b) % MERSENNE31

    sigs = [
        F.array_min(F.transform(F.col("base"), perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]
    return base.select("doc_id", *sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    text_col: str = "text",
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs. Output: (doc_a, doc_b) distinct, doc_a < doc_b.

    Hot-bucket guard: a doc duplicated n times puts n ids in one band bucket
    and an uncapped join yields n² candidate pairs — one viral doc stalls the
    whole stage. Buckets larger than `max_bucket` are dropped BEFORE any pair
    is generated. The cap is a `groupBy(band, bh).count` HASH-AGGREGATE
    joined back onto the banded stream (the dup_spans pattern): map-side
    partial aggregation absorbs a boilerplate-hot bucket — every map task
    contributes ONE counter per bucket it sees — so no single task ever
    scans all occurrences of a hot key the way a
    `count(*) over (partition by band, bh)` window partition would (the
    window form rode one fewer derivation of the signature stage but
    serialized the hot bucket on one task — a guaranteed straggler at
    100 TB; the join-back's build side is one row per surviving bucket and
    AQE's skew-join splits a hot probe partition). Keys with fewer than 2
    docs are dropped in the same pass (singleton buckets pair with nothing),
    which shrinks the join's build side to the tiny near-dup tail.
    Mass-duplicated content is exact-dup territory; drop exact duplicates
    first and feed LSH the survivors.

    Pair generation is in-bucket JVM-side (array lambdas over the collected
    posting list) instead of a bucket self-join — the banded table is
    shuffled once, not twice."""
    assert k % bands == 0
    rows_per_band = k // bands
    sig = minhash_signatures(df, k, text_col)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bh"))
        )
    exploded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    keep = (
        exploded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("band", "bh")
    )
    buckets = (
        exploded.join(keep, ["band", "bh"])
        .groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(F.array_sort("ds").alias("ds"))
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: every doc in a pair gets a
    cluster_id = the minimum doc_id reachable through the pair graph (the
    cluster's canonical survivor — keep cluster_id, drop the rest).

    Iterative min-label propagation with pointer jumping, no graph library:
    each sweep (a) every node takes the min of its own and its neighbors'
    labels, then (b) compresses one pointer-chasing step (new label = the
    label of its current label) — the path-halving that makes convergence
    O(log diameter) instead of O(diameter), so `max_iter=20` covers
    components of ~2^20 diameter. Near-dup clusters from banding are
    near-cliques and converge in 2-3 sweeps. 3 shuffles per sweep;
    early-stops when a sweep changes nothing, raises if `max_iter` passes
    without convergence (a silently split cluster would let duplicate
    documents survive dedup). localCheckpoint truncates the lineage so the
    plan does not deepen per sweep (at cluster scale, point
    spark.sparkContext.setCheckpointDir at durable storage and use
    checkpoint() if executor loss must be survivable mid-loop).
    Docs that appear in no pair are their own cluster and are not emitted.
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = sym.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["src"] == labels["doc"])
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(nbr, labels["doc"] == nbr["dst"], "left").select(
            "doc",
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            F.col("lbl").alias("orig"),
        )
        # pointer jumping: lbl <- label(lbl); halves remaining chain length
        l2 = stepped.select(
            F.col("doc").alias("doc2"), F.col("lbl").alias("lbl2")
        )
        jumped = (
            stepped.join(l2, stepped["lbl"] == l2["doc2"], "left")
            .select(
                "doc",
                F.least(F.col("lbl"), F.coalesce("lbl2", "lbl")).alias("new_lbl"),
                "orig",
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("doc", F.col("new_lbl").alias("lbl"))
        if jumped.filter(F.col("new_lbl") != F.col("orig")).count() == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} sweeps — "
            "component diameter exceeds 2^max_iter; raise max_iter"
        )
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def simhash(df: DataFrame, nbits: int = 16, text_col: str = "text") -> DataFrame:
    """SimHash fingerprint: bit j set iff sum over distinct words of
    (+1 if bit j of word_hash else -1) > 0. nbits<=28 with the shared hash.

    The hashed-word array is staged behind a select: the nbits per-bit
    folds each reference it, and CollapseProject inlines a DIRECT
    expression into every reference (16 regex tokenizations per row —
    measured 6.5s vs 1.1s at sf0.1) but keeps a multiply-referenced
    non-cheap ALIAS at one evaluation (SPARK-36718)."""
    staged = df.select(
        "doc_id",
        F.array_distinct(F.transform(words(text_col), word_hash28)).alias(
            "_base"
        ),
    )
    base = F.col("_base")

    def vote_fn(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for j in range(nbits):
        vote = F.aggregate(base, F.lit(0).cast("long"), vote_fn(j))
        bit_exprs.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    sh = bit_exprs[0]
    for e in bit_exprs[1:]:
        sh = sh + e
    return staged.select("doc_id", sh.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Word n-gram Jaccard similarity via inverted-index join.

    Pairs sharing >= 1 shingle are scored |A∩B| / (|A|+|B|-|A∩B|); shingles
    occurring in > max_shingle_df docs are dropped (stop-shingle guard — the
    skew defuse that keeps the self-join from exploding at scale).

    Shingles are 60-bit md5 hashes, not strings: the inverted index shuffles
    8-byte longs instead of ~20-byte strings, and the O(L·n) zip-based
    shingler (see ngram_shingles) replaces an O(L²) slice formulation that
    dominated the old plan's runtime.

    Plan shape: explode → window count over the shingle partition (rides
    the same single shuffle the posting-list aggregate needs; hot
    stop-shingles are filtered BEFORE collect_list, so no aggregation
    buffer ever materializes a hot posting list, and the shingling stage
    runs once — a separate count pre-pass recomputed it) → groupBy(shingle)
    collecting the bounded posting list → generate in-bucket pairs inline
    with array lambdas (no self-join, so the inverted index is shuffled
    once, not twice) → groupBy(pair) count. The per-doc shingle-set sizes
    ride along via broadcast joins.
    """
    inter, sa, sb = _ngram_pair_intersections(df, n, text_col, max_shingle_df)
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_pair_intersections(
    df: DataFrame, n: int, text_col: str, max_shingle_df: int
):
    """Shared candidate-pair machinery for the n-gram similarity family:
    distinct 60-bit shingle sets -> df-capped inverted index -> in-bucket
    ordered pairs generated JVM-side -> per-pair intersection counts.
    Returns (inter, sizes_a, sizes_b) where inter has (doc_a, doc_b,
    inter) with doc_a < doc_b.

    The df cap is a `groupBy(sh).count` hash-aggregate joined back onto
    the inverted index (the dup_spans pattern, dedup.dup_spans): a
    stop-shingle present in most documents costs each map task one
    counter — never a single-task `count(*) over (partition by sh)`
    window partition that would scan every posting of the hot shingle on
    one task before the filter fires. Shingles with df < 2 are dropped in
    the same pass (they pair with nothing), so the join's build side is
    only the shared-shingle tail."""
    wdf = df.select("doc_id", words(text_col).alias("w")).filter(
        F.size("w") >= n
    )
    shingled = wdf.select(
        "doc_id",
        F.array_distinct(
            F.transform(ngram_shingles(F.col("w"), n), word_hash60)
        ).alias("shingles"),
    )
    sizes = shingled.select("doc_id", F.size("shingles").alias("sz"))
    inv = shingled.select("doc_id", F.explode("shingles").alias("sh"))
    # df cap BEFORE the posting-list aggregate: collecting first and
    # filtering after would buffer the full hot-shingle doc list in one
    # aggregation buffer — the exact skew blowup the cap exists to prevent.
    # groupBy absorbs a hot shingle map-side; the join-back keeps the
    # posting aggregate's input bounded per key.
    keep = (
        inv.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_shingle_df))
        .select("sh")
    )
    buckets = (
        inv.join(keep, "sh")
        .groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(F.array_sort("ds").alias("ds"))
    )
    # all ordered pairs (a < b) within a bucket, generated JVM-side
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))
    return inter, sizes.alias("sa"), sizes.alias("sb")


def dup_spans(
    df: DataFrame, min_len: int = 50, text_col: str = "text"
) -> DataFrame:
    """Exact-substring duplicate-SPAN detection (the suffix-array dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed as a window plan): report every maximal span of
    >= min_len consecutive word tokens that occurs more than once in the
    corpus (across documents OR repeated within one), with token-index
    coordinates so a removal pass can cut it.

    Identity that replaces the suffix array: a maximal duplicated span of
    length >= L is exactly a maximal RUN of consecutive token positions
    whose length-L grams are each duplicated somewhere in the corpus (a
    span of m >= L dup tokens contributes m-L+1 consecutive dup L-gram
    starts, and any maximal run [p0, p1] of dup starts expands to the span
    [p0, p1+L-1]). A suffix array is sequential and memory-bound at corpus
    scale; this is agg + join + window: hash every L-gram (one posexplode,
    the O(L·n) zip shingler), corpus-wide occurrence count per hash via a
    groupBy(h) HASH-AGGREGATE — map-side partial aggregation absorbs a hot
    gram before the exchange, so a boilerplate span duplicated across
    millions of docs (license headers, templated pages — the normal web
    corpus case, and exactly what Lee et al. dedup targets) costs each map
    task one counter, never a single-task window partition — join the
    count>=2 hash set back onto the gram stream (AQE's skew-join splits the
    probe side of a hot hash; the build row per key is 1), then merge
    consecutive positions per doc with the gaps-and-islands trick
    (pos - row_number() is constant within a run). No pair generation ever
    happens — a gram shared by a million docs costs a count, not a
    million-squared join — so there is no hot-key blowup to cap.

    Output: (doc_id, span_start, span_end, span_len), 0-based inclusive
    token indices, span_len = span_end - span_start + 1 >= min_len.
    """
    grams = _gram_starts(df, min_len, text_col)
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    dup = grams.join(dup_h, "h").select("doc_id", "pos")
    run = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    return (
        dup.withColumn("_grp", run)
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(min_len - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def _gram_starts(df: DataFrame, min_len: int, text_col: str) -> DataFrame:
    """(doc_id, pos, h): 60-bit hash of every length-min_len word gram.

    Words are staged behind a separate select: ngram_shingles references its
    input 2·L times (one slice + one size per shift), and CollapseProject
    inlines a DIRECT expression into every reference — 30 regex
    tokenizations per row at L=15 (measured 6×  slower) — but does NOT
    inline a non-cheap ALIAS referenced more than once (SPARK-36718), so
    the two-step select pins the split at one evaluation per row."""
    wdf = df.select("doc_id", words(text_col).alias("_w"))
    return wdf.select(
        "doc_id",
        F.posexplode(
            F.transform(ngram_shingles(F.col("_w"), min_len), word_hash60)
        ).alias("pos", "h"),
    )


def dup_span_removal(
    df: DataFrame, min_len: int = 50, text_col: str = "text"
) -> DataFrame:
    """Remove duplicated spans from the corpus, keeping one canonical copy —
    the cleaning pass paired with `dup_spans` (Lee et al. 2022 remove all
    but one occurrence of each duplicated substring).

    Canonical rule (deterministic, engine-independent): for each duplicated
    L-gram, the occurrence with the smallest (doc_id, then pos) is
    canonical; every other occurrence is removable, and a TOKEN is removed
    iff any removable gram covers it (the aggressive union rule — no
    duplicated L-window ever survives in two places; where a canonical and
    a removable gram overlap, the overlap tokens go, which may trim a few
    tokens beyond the strictly-necessary cut at region boundaries).

    Plan: the same agg-join-window skeleton as dup_spans — a groupBy(h)
    hash-aggregate computes each duplicated gram's count AND its canonical
    occurrence in one pass (min over struct(doc_id, pos) = lexicographic
    min, exactly the min-doc-then-min-pos-within-it rule; partial
    aggregation absorbs hot grams map-side, so a million-doc boilerplate
    gram never serializes into one window partition), the >= 2 set joins
    back onto the gram stream (AQE skew-join splits a hot probe partition;
    one build row per key), the doc-partitioned island merge windows stay,
    then the per-doc removable intervals join back onto the corpus and the
    token filter runs as pure array lambdas inside the post-join
    projection — no token-level explode, no extra shuffle for the rebuild.

    Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY input doc
    (n_removed = 0 rows pass through with their tokens rejoined by single
    spaces — the tokenizer's canonical whitespace)."""
    grams = _gram_starts(df, min_len, text_col)
    canon = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct("doc_id", "pos")).alias("_canon"),
        )
        .filter(F.col("_c") >= 2)
        .select("h", "_canon")
    )
    removable = (
        grams.join(canon, "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_canon.doc_id"))
                & (F.col("pos") == F.col("_canon.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    run = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    spans = (
        removable.withColumn("_grp", run)
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(min_len - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_ivs"))
    )
    base = df.select("doc_id", words(text_col).alias("_w"))
    joined = base.join(spans, "doc_id", "left")
    idx = F.transform(
        F.col("_w"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        idx,
        lambda s: ~F.coalesce(
            F.exists(
                F.col("_ivs"), lambda iv: (iv["s"] <= s["i"]) & (s["i"] <= iv["e"])
            ),
            F.lit(False),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_tokens"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT (Broder 1997's other resemblance
    measure): c(A->B) = |S_A ∩ S_B| / |S_A| — "how much of A appears in
    B". Catches subsumption that Jaccard misses: a short doc quoted
    wholesale inside a long one scores c(short->long) ~= 1 while Jaccard
    ~= |short|/|long| stays tiny. The standard screen for quote/boilerplate
    inclusion and train-on-test leakage via embedding.

    Same single-shuffle inverted-index plan as ngram_jaccard_pairs (shared
    machinery); emits both directions and keeps pairs where EITHER
    direction clears the threshold."""
    inter, sa, sb = _ngram_pair_intersections(df, n, text_col, max_shingle_df)
    c_ab = F.col("inter") / F.col("sa.sz")
    c_ba = F.col("inter") / F.col("sb.sz")
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
        )
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )
