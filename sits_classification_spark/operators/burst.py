"""Regime segmentation of series — a 2-state Viterbi automaton in the
spirit of Kleinberg 2002's burst automaton ("Bursty and Hierarchical
Structure in Streams"), decoded exactly in both engines.

Kleinberg segments a stream into base/burst states by additive per-step
costs plus a switch penalty, decoding the optimal state path by DP. This
operator applies the same machinery to the VALUE dimension: each series is
decoded into LOW/HIGH regimes — sustained level shifts (the step-change
complement of the CUSUM break screen, which detects mean drift but does not
label the path). Kleinberg's exponential negative log-likelihood costs are
transcendental (libm ulps differ across engines — the EWMA alpha=0.3
lesson), so costs here are all-integer L1: state s targets the series' own
quartile level and an observation costs |cq - m_s| cents; switching costs
gamma = max(1, m_hi - m_lo) (the interquartile spread — one outlier can't
flip the state, a sustained shift can).

Targets are exact per-series order statistics on the losslessly
cent-quantized values: m_lo = cq at rank ceil(n/4), m_hi = cq at rank
ceil(3n/4) (percentile_disc convention, rank over (cq, day) for a unique
row order).

Viterbi with pinned ties:

    V(1, s) = c(1, s) + (gamma if s == HIGH else 0)
    V(t, s) = c(t, s) + min(V(t-1, s), V(t-1, 1-s) + gamma)
              -- tie prefers STAYING in s
    final state = argmin_s V(T, s), tie prefers LOW

Row t depends only on row t-1, so the SQL oracle replays the DP as a
recursive CTE carrying (v0, v1, path0, path1) per doc — the decoded path
itself is carried as a growing '0'/'1' string (T <= a few hundred keeps it
cheap; the engine kernel is O(T) numpy per doc regardless).

Scale posture: one series row per doc, a per-doc numpy DP run by
``seriesmap.map_series`` — no shuffle after the nesting, no driver
participation, state O(T) per doc.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from sits_classification_spark.operators.seriesmap import map_series


def regime_decode(cq: np.ndarray) -> tuple[int, int, int, int, str]:
    """The pure regime Viterbi for one day-ordered cents series: returns
    (m_lo, m_hi, gamma, total_cost, path). Exposed module-level so
    property tests can drive it directly against exhaustive path
    enumeration; regime_segments' kernel calls exactly this."""
    t = len(cq)
    srt = np.sort(cq)
    m_lo = int(srt[(t + 3) // 4 - 1])
    m_hi = int(srt[(3 * t + 3) // 4 - 1])
    g = max(1, m_hi - m_lo)
    c0 = np.abs(cq - m_lo)
    c1 = np.abs(cq - m_hi)
    v0, v1 = int(c0[0]), int(c1[0]) + g
    p0, p1 = "0", "1"
    for i in range(1, t):
        # tie prefers staying in the current state
        n0 = int(c0[i]) + (v0 if v0 <= v1 + g else v1 + g)
        q0 = (p0 if v0 <= v1 + g else p1) + "0"
        n1 = int(c1[i]) + (v1 if v1 <= v0 + g else v0 + g)
        q1 = (p1 if v1 <= v0 + g else p0) + "1"
        v0, v1, p0, p1 = n0, n1, q0, q1
    total, path = (v0, p0) if v0 <= v1 else (v1, p1)
    return m_lo, m_hi, g, int(total), path


def regime_segments(rows: DataFrame) -> DataFrame:
    """Per-series LOW/HIGH regime decoding over series rows (*keys, days,
    values).

    Returns one row per series:
    (*keys, n_obs, m_lo, m_hi, gamma, total_cost, n_high, path)
    where path is the decoded '0'/'1' state string over the day-ordered
    observations and n_high counts HIGH-state steps.
    """

    def per_doc(_days: np.ndarray, values: np.ndarray):
        cq = np.floor(values.astype(np.float64) * 100 + 0.5).astype(np.int64)
        m_lo, m_hi, g, total, path = regime_decode(cq)
        yield len(cq), m_lo, m_hi, g, total, path.count("1"), path

    return map_series(
        rows, per_doc,
        "n_obs long, m_lo long, m_hi long, gamma long, total_cost long, "
        "n_high long, path string",
    )


def regime_oracle_sql(series_sql: str) -> str:
    """Recursive-CTE replay of the identical integer Viterbi for DuckDB,
    carrying (v0, v1, path0, path1) per doc and advancing one observation
    per step."""
    return f"""
WITH RECURSIVE
ser AS ({series_sql}),
s0 AS (SELECT doc_id, day,
              CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq,
              row_number() OVER (PARTITION BY doc_id ORDER BY day) AS t,
              row_number() OVER (PARTITION BY doc_id ORDER BY
                  CAST(floor(value * 100 + 0.5) AS BIGINT), day) AS vr,
              count(*) OVER (PARTITION BY doc_id) AS n
       FROM ser),
meta AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_obs,
                max(CASE WHEN vr = (n + 3) // 4 THEN cq END) AS m_lo,
                max(CASE WHEN vr = (3 * n + 3) // 4 THEN cq END) AS m_hi,
                greatest(1,
                    max(CASE WHEN vr = (3 * n + 3) // 4 THEN cq END)
                    - max(CASE WHEN vr = (n + 3) // 4 THEN cq END)) AS g
         FROM s0 GROUP BY doc_id),
dp(doc_id, t, v0, v1, p0, p1) AS (
  SELECT s.doc_id, 1,
         abs(s.cq - m.m_lo),
         abs(s.cq - m.m_hi) + m.g,
         '0', '1'
  FROM s0 s JOIN meta m ON m.doc_id = s.doc_id WHERE s.t = 1
  UNION ALL
  SELECT dp.doc_id, dp.t + 1,
         abs(s.cq - m.m_lo) + least(dp.v0, dp.v1 + m.g),
         abs(s.cq - m.m_hi) + least(dp.v1, dp.v0 + m.g),
         (CASE WHEN dp.v0 <= dp.v1 + m.g THEN dp.p0 ELSE dp.p1 END) || '0',
         (CASE WHEN dp.v1 <= dp.v0 + m.g THEN dp.p1 ELSE dp.p0 END) || '1'
  FROM dp
  JOIN s0 s ON s.doc_id = dp.doc_id AND s.t = dp.t + 1
  JOIN meta m ON m.doc_id = dp.doc_id)
SELECT dp.doc_id,
       m.n_obs,
       m.m_lo,
       m.m_hi,
       m.g AS gamma,
       CAST(CASE WHEN v0 <= v1 THEN v0 ELSE v1 END AS BIGINT) AS total_cost,
       CAST(length(replace(CASE WHEN v0 <= v1 THEN p0 ELSE p1 END, '0', ''))
            AS BIGINT) AS n_high,
       CASE WHEN v0 <= v1 THEN p0 ELSE p1 END AS path
FROM dp JOIN meta m ON m.doc_id = dp.doc_id AND dp.t = m.n_obs
"""
