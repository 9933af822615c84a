"""Time-Weighted Dynamic Time Warping (TWDTW) nearest-pattern classification.

The reference engine's whole purpose is satellite-image-time-series
classification; TWDTW (Maus et al. 2016, "A Time-Weighted Dynamic Time
Warping Method for Land-Use and Land-Cover Mapping", IEEE JSTARS) is the
canonical distance for exactly that task: align an observed series against a
small library of labelled temporal patterns, penalizing alignments that match
observations to pattern points far apart in day-of-year, and label the series
with the nearest pattern. The reference reaches the same goal through a
trained transformer (``pytorch/predict.py``); this operator provides the
classical, training-free classifier over the identical tier tables.

Semantics implemented (every choice shared bit-exactly with the SQL oracle):

- **Local cost** ``psi(i,j) = |vq_i - pv_j| + W * circ(doy_i, pdoy_j)`` where
  ``vq`` is the observation quantized to integer micro-units
  (``floor(v*1e6 + 0.5)``), ``pv``/``pdoy`` are the pattern's literal
  micro-value / day-of-year points, ``circ`` is circular DOY distance
  (``min(|a-b|, 365-|a-b|)``), and ``W`` is the LINEAR time weight in
  micro-units per day. Maus's logistic weight needs ``exp`` — a libm call
  whose ulps differ across engines — so the linear variant (also defined in
  the paper, eq. 5) is used: all-integer, engine-exact.
- **Step pattern**: asymmetric (Rabiner) — every observation i is consumed
  exactly once and the pattern index may hold, advance one, or skip one:
  ``D(i,j) = psi(i,j) + min(D(i-1,j), D(i-1,j-1), D(i-1,j-2))``. Row i
  depends only on row i-1, which is what lets the SQL oracle replay the DP
  as a recursive CTE carrying one row of state per (doc, pattern).
- **Open begin / open end over the series** (subsequence alignment, the
  TWDTW land-cover setup: patterns describe one season, series may span
  several): the alignment may start at any observation
  (``D(i,1) = psi(i,1) + min(D(i-1,1), 0)``) and end at any observation
  (``dist = min_i D(i, R)``).
- **Classification**: ``label = argmin_k dist_k``, ties to the smallest
  pattern id — spelled as the same <=-chain in both engines.

Everything is int64 (micro-unit costs, integer day distances, min/add only),
so Spark and DuckDB produce identical numbers with no quantization step at
the boundary.

Scale posture: one series row per doc, an O(T * R * K) numpy DP per doc
run by ``seriesmap.map_series`` — vectorized over the pattern axis, no
shuffle after the nesting, no driver participation. Patterns are literals compiled into the kernel
closure (the FAISS-codebook pattern used by ivf/pq), so a million-doc run
broadcasts nothing.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from sits_classification_spark.operators.seriesmap import map_series

INF = 10**15  # unreachable-cell marker; psi sums stay < 2^40, so INF+psi
# cannot overflow int64 and any INF-tainted path loses every min()

# Default pattern library: three phenology archetypes over the synthetic
# events scale (values 0..490, season window DOY ~10..45). (doy, value) —
# values are micro-quantized by pattern_micro() so both engines consume the
# same integer literals.
DEFAULT_PATTERNS: list[list[tuple[int, float]]] = [
    # p0: low flat (bare / water)
    [(12, 22.0), (16, 24.0), (20, 23.0), (24, 25.0),
     (28, 24.0), (32, 26.0), (36, 25.0), (40, 27.0)],
    # p1: steady green-up ramp (crop establishment)
    [(12, 10.0), (16, 22.0), (20, 36.0), (24, 52.0),
     (28, 70.0), (32, 90.0), (36, 112.0), (40, 136.0)],
    # p2: mid-season peak (grassland flush)
    [(12, 30.0), (16, 60.0), (20, 105.0), (24, 140.0),
     (28, 140.0), (32, 105.0), (36, 60.0), (40, 30.0)],
]
DEFAULT_WEIGHT = 200_000  # micro-units of cost per day of DOY misalignment


def pattern_micro(
    patterns: list[list[tuple[int, float]]],
) -> list[tuple[list[int], list[int]]]:
    """[(doys, micro-values)] per pattern — the shared integer literals."""
    out = []
    for pat in patterns:
        doys = [int(d) % 365 for d, _ in pat]
        vals = [int(np.floor(v * 1e6 + 0.5)) for _, v in pat]
        out.append((doys, vals))
    return out


def _checked_library(
    patterns: list[list[tuple[int, float]]] | None,
) -> list[tuple[list[int], list[int]]]:
    """pattern_micro() of a library both engines can run: every pattern of
    one length R >= 3 (the SQL replay carries one d1..dR state row and its
    first steps read d{j-2})."""
    pats = pattern_micro(patterns or DEFAULT_PATTERNS)
    lens = {len(d) for d, _ in pats}
    if len(lens) != 1:
        raise ValueError(f"TWDTW patterns must share one length, got {sorted(lens)}")
    if min(lens) < 3:
        raise ValueError(f"TWDTW patterns need at least 3 points, got {min(lens)}")
    return pats


def twdtw_distance(
    doy: np.ndarray,
    vq: np.ndarray,
    pdoy: np.ndarray,
    pval: np.ndarray,
    weight_per_day: int,
) -> int:
    """The pure TWDTW DP for one (series, pattern): asymmetric steps,
    open begin/end, all int64. Exposed module-level so property tests can
    drive it directly against an independent reference without a Spark
    round-trip; twdtw_classify's kernel calls exactly this."""
    diff = np.abs(doy[:, None] - pdoy[None, :])
    psi = np.abs(vq[:, None] - pval[None, :]) + weight_per_day * np.minimum(
        diff, 365 - diff
    )
    r = psi.shape[1]
    dp = np.full(r, INF, dtype=np.int64)
    dp[0] = psi[0, 0]
    best = dp[r - 1]
    for i in range(1, len(vq)):
        m = dp.copy()
        m[1:] = np.minimum(m[1:], dp[:-1])
        m[2:] = np.minimum(m[2:], dp[:-2])
        m[0] = min(dp[0], 0)
        dp = psi[i] + m
        best = min(best, int(dp[r - 1]))
    return int(best)


def twdtw_classify(
    rows: DataFrame,
    patterns: list[list[tuple[int, float]]] | None = None,
    weight_per_day: int = DEFAULT_WEIGHT,
) -> DataFrame:
    """Per-series TWDTW distance to every pattern + nearest-pattern label.

    `rows`: series rows (*keys, days, values). Returns one row per series:
    (*keys, d_p0..d_p{K-1} [int64 micro cost], label [argmin pattern id],
    best_dist). Raises ValueError for a library of mixed lengths or of
    patterns shorter than 3 points.
    """
    pats = _checked_library(patterns)
    k = len(pats)
    pdoy = [np.asarray(d, dtype=np.int64) for d, _ in pats]
    pval = [np.asarray(v, dtype=np.int64) for _, v in pats]
    w = int(weight_per_day)

    def per_doc(days: np.ndarray, values: np.ndarray):
        day = days.astype(np.int64)
        vq = np.floor(values.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
        doy = ((day % 365) + 365) % 365
        dists = [twdtw_distance(doy, vq, pdoy[p], pval[p], w) for p in range(k)]
        label = int(np.argmin(dists))  # first minimum — ties to smallest pid
        yield (*dists, label, dists[label])

    fields = ", ".join(f"d_p{p} long" for p in range(k)) + ", label long, best_dist long"
    return map_series(rows, per_doc, fields)


def twdtw_oracle_sql(
    series_sql: str,
    patterns: list[list[tuple[int, float]]] | None = None,
    weight_per_day: int = DEFAULT_WEIGHT,
) -> str:
    """Recursive-CTE replay of the identical integer DP for DuckDB.

    The working table carries one row of DP state per (doc, pattern) —
    columns d1..dR — and advances one observation per recursion step,
    exactly the numpy row sweep above. psi/valid expressions are generated
    from the same pattern_micro() literals the kernel compiled in. Raises
    ValueError for the libraries twdtw_classify rejects.
    """
    pats = _checked_library(patterns)
    k = len(pats)
    r = len(pats[0][0])
    w = int(weight_per_day)

    def psi(tbl: str, j: int) -> str:
        arms = []
        for pid, (doys, vals) in enumerate(pats):
            d = f"abs({tbl}.doy - {doys[j]})"
            arms.append(
                f"WHEN {pid} THEN abs({tbl}.vq - {vals[j]}) "
                f"+ {w} * least({d}, 365 - {d})"
            )
        return f"(CASE dp.pid {' '.join(arms)} END)"

    base_psi = []
    for pid, (doys, vals) in enumerate(pats):
        d = f"abs(s.doy - {doys[0]})"
        base_psi.append(
            f"WHEN {pid} THEN abs(s.vq - {vals[0]}) + {w} * least({d}, 365 - {d})"
        )

    base_cols = ", ".join(f"CAST({INF} AS BIGINT) AS d{j}" for j in range(2, r + 1))
    step_cols = [f"{psi('s', 0)} + least(dp.d1, 0) AS d1"]
    step_cols.append(f"{psi('s', 1)} + least(dp.d2, dp.d1) AS d2")
    for j in range(3, r + 1):
        step_cols.append(
            f"{psi('s', j - 1)} + least(dp.d{j}, dp.d{j-1}, dp.d{j-2}) AS d{j}"
        )
    # best must read the NEW dR (this step's row), so it is recomputed from
    # the same expression text rather than referencing the alias
    new_dr = f"{psi('s', r - 1)} + least(dp.d{r}, dp.d{r-1}, dp.d{r-2})"

    pivots = ", ".join(
        f"max(CASE WHEN pid = {p} THEN best END) AS d_p{p}" for p in range(k)
    )
    label_arms = []
    for p in range(k - 1):
        cond = " AND ".join(f"d_p{p} <= d_p{q}" for q in range(p + 1, k))
        label_arms.append(f"WHEN {cond} THEN {p}")
    label = f"CASE {' '.join(label_arms)} ELSE {k-1} END"
    best = "least(" + ", ".join(f"d_p{p}" for p in range(k)) + ")"

    pids = ", ".join(f"({p})" for p in range(k))
    return f"""
WITH RECURSIVE
ser AS ({series_sql}),
s0 AS (
  SELECT doc_id,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq,
         ((day % 365) + 365) % 365 AS doy,
         row_number() OVER (PARTITION BY doc_id ORDER BY day) AS i
  FROM ser),
n AS (SELECT doc_id, max(i) AS t FROM s0 GROUP BY doc_id),
pids(pid) AS (VALUES {pids}),
dp(doc_id, pid, i, best, d1, {", ".join(f"d{j}" for j in range(2, r + 1))}) AS (
  SELECT s.doc_id, pids.pid, 1,
         CASE WHEN {r} = 1 THEN (CASE pids.pid {' '.join(base_psi)} END)
              ELSE CAST({INF} AS BIGINT) END,
         (CASE pids.pid {' '.join(base_psi)} END),
         {base_cols}
  FROM s0 s CROSS JOIN pids WHERE s.i = 1
  UNION ALL
  SELECT dp.doc_id, dp.pid, dp.i + 1,
         least(dp.best, {new_dr}),
         {", ".join(step_cols)}
  FROM dp JOIN s0 s ON s.doc_id = dp.doc_id AND s.i = dp.i + 1),
fin AS (
  SELECT dp.doc_id, {pivots}
  FROM dp JOIN n ON n.doc_id = dp.doc_id AND dp.i = n.t
  GROUP BY dp.doc_id)
SELECT doc_id, {", ".join(f"d_p{p}" for p in range(k))},
       CAST({label} AS BIGINT) AS label,
       {best} AS best_dist
FROM fin
"""
