"""LTTB downsampling — Largest-Triangle-Three-Buckets (Steinarsson 2013,
"Downsampling Time Series for Visual Representation", U. Iceland).

The tier engine's visual/archive downsample: reduce each series to n_out
points that preserve its shape — the first and last points always survive,
and each of the n_out-2 interior buckets contributes the point forming the
largest triangle with the PREVIOUSLY selected point and the average of the
NEXT bucket. The selection is sequential per series (bucket i depends on
bucket i-1's winner) — a per-series numpy kernel over series rows, run by
``seriesmap.map_series``.

Engine-exact determinism contract (shared with the SQL oracle, which
unrolls the n_out-2 selection steps as CTEs the way the Lloyd oracle
unrolls iterations): values are quantized to integer hundredths up front,
and the triangle area is compared through the COUNT-SCALED integer form

    area * 2 * cnt = |(t_prev*cnt - sum_t)*(vq_c - vq_prev)
                      - (t_prev - t_c)*(sum_vq - vq_prev*cnt)|

(argmax is invariant to the positive cnt scaling, so replacing the next
bucket's averages by exact integer sums removes every float from the
comparison — int64 end to end, no ulp tie risk). Ties pick the earliest
day, matching np.argmax's first-maximum rule. Series with <= n_out points
pass through whole (standard LTTB).

Scale posture: one series row per doc, numpy O(N) per series, output
n_out rows/series."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from sits_classification_spark.operators.seriesmap import map_series


def lttb(rows: DataFrame, n_out: int = 12) -> DataFrame:
    """Downsample every series row (*keys, days, values) to n_out
    shape-preserving points. Returns (*keys, day, value) — original
    values, untouched."""
    if n_out < 3:
        raise ValueError("LTTB needs n_out >= 3 (first + last + interior)")

    def kern(days: np.ndarray, values: np.ndarray):
        n = days.size
        if n <= n_out:
            return zip(days.tolist(), values.tolist())
        t = days.astype(np.int64)
        vq = np.floor(values.astype(np.float64) * 100 + 0.5).astype(np.int64)
        nb = n_out - 2
        # bucket of interior index k (0-based) = (k*nb) // (n-2) — the same
        # all-integer partition the SQL oracle computes per point; edges are
        # its inverse (ceil form). The floor-edge variant is NOT identical
        # when boundaries aren't integral.
        m_int = n - 2
        edges = [1 + (i * m_int + nb - 1) // nb for i in range(nb + 1)]
        edges[nb] = n - 1
        sel = [0]
        for i in range(nb):
            lo, hi = edges[i], edges[i + 1]
            if i < nb - 1:
                nlo, nhi = edges[i + 1], edges[i + 2]
            else:
                nlo, nhi = n - 1, n
            cnt = nhi - nlo
            st = int(t[nlo:nhi].sum())
            svq = int(vq[nlo:nhi].sum())
            p = sel[-1]
            area = np.abs(
                (int(t[p]) * cnt - st) * (vq[lo:hi] - vq[p])
                - (int(t[p]) - t[lo:hi]) * (svq - int(vq[p]) * cnt)
            )
            sel.append(lo + int(np.argmax(area)))
        sel.append(n - 1)
        return zip(days[sel].tolist(), values[sel].tolist())

    return map_series(rows, kern, "day long, value double")
