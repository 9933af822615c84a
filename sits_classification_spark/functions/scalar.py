"""C1-C7 — scalar function library (pure Column expressions).

Spectral index arithmetic and unmixing (C1, menu at
``force/skel/TSA.prm:171-183``; DSWI at ``force/skel/udf_block.py:52``), the
Int16 scale/round codec (C2, ``udf_block.py:54``), the epoch-day date codec
(C4, ``udf_block.py:11-14``), argmax (C6, ``pytorch/predict.py:527-528``) and
positional encodings (W14).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPOCH = "1970-01-01"


# --- C1 spectral indices ----------------------------------------------------
# the reference spells these formulas out at dswi_harmonic_tsi.py:92-114
# (menu: TSA.prm:171-183); each is a two-line normalized-difference / ratio
# Column expression

def _nd(a: Column, b: Column) -> Column:
    """Normalized difference (a-b)/(a+b) — the common index shape."""
    return (a - b) / (a + b)


def dswi(bnir: Column, green: Column, swir1: Column, red: Column) -> Column:
    """DSWI = (BNIR+GREEN)/(SWIR1+RED) — udf_block.py:52."""
    return (bnir + green) / (swir1 + red)


def nbr(bnir: Column, swir2: Column) -> Column:
    """NBR = (BNIR-SWIR2)/(BNIR+SWIR2) — dswi_harmonic_tsi.py:92-93."""
    return _nd(bnir, swir2)


def ari(bnir: Column, green: Column, re1: Column) -> Column:
    """ARI = BNIR*((1/GREEN)-(1/RE1)) — dswi_harmonic_tsi.py:97-98."""
    return bnir * (1.0 / green - 1.0 / re1)


def cri(blue: Column, green: Column) -> Column:
    """CRI = (1/BLUE)-(1/GREEN) — dswi_harmonic_tsi.py:99-100."""
    return 1.0 / blue - 1.0 / green


def rendvi1(re1: Column, red: Column) -> Column:
    """RENDVI1 = (RE1-RED)/(RE1+RED) — dswi_harmonic_tsi.py:101-102."""
    return _nd(re1, red)


def rendvi2(re2: Column, red: Column) -> Column:
    """RENDVI2 = (RE2-RED)/(RE2+RED) — dswi_harmonic_tsi.py:103-104."""
    return _nd(re2, red)


def msi(swir1: Column, bnir: Column) -> Column:
    """MSI = SWIR1/BNIR — dswi_harmonic_tsi.py:107-108."""
    return swir1 / bnir


def ndwi(bnir: Column, swir1: Column) -> Column:
    """NDWI = (BNIR-SWIR1)/(BNIR+SWIR1) — dswi_harmonic_tsi.py:109-110
    (the Gao moisture variant the reference uses)."""
    return _nd(bnir, swir1)


def vmi(bnir: Column, swir2: Column) -> Column:
    """VMI = ((BNIR+0.1)-(SWIR2+0.02))/((BNIR+0.1)+(SWIR2+0.02)) —
    dswi_harmonic_tsi.py:111-112."""
    return _nd(bnir + 0.1, swir2 + 0.02)


def ccci(bnir: Column, re1: Column, red: Column) -> Column:
    """CCCI = NDRE/NDVI = ((BNIR-RE1)/(BNIR+RE1))/((BNIR-RED)/(BNIR+RED))
    — dswi_harmonic_tsi.py:113-114."""
    return _nd(bnir, re1) / _nd(bnir, red)


# --- C1 remainder: TSA menu names (TSA.prm:179-183) whose formulas are not
# spelled anywhere in the reference but are standard published indices; each
# cites its literature source. CLOSURE NOTE: with these, every TSA INDEX
# menu name is implemented except SMA, which is not a formula — it is a
# linear spectral unmixing against a user-supplied endmember matrix
# (TSA.prm:194+) and needs that input to be defined.

def ndti(swir1: Column, swir2: Column) -> Column:
    """NDTI = (SWIR1-SWIR2)/(SWIR1+SWIR2) — Van Deventer et al. 1997."""
    return _nd(swir1, swir2)


def _arvi_rb(red: Column, blue: Column) -> Column:
    # RB = RED - gamma*(BLUE - RED) with gamma = 1 (Kaufman & Tanre 1992)
    return 2.0 * red - blue


def arvi(nir: Column, red: Column, blue: Column) -> Column:
    """ARVI = (NIR-RB)/(NIR+RB), RB = 2*RED-BLUE — Kaufman & Tanre 1992."""
    return _nd(nir, _arvi_rb(red, blue))


def savi(nir: Column, red: Column) -> Column:
    """SAVI = 1.5*(NIR-RED)/(NIR+RED+0.5) — Huete 1988, L = 0.5."""
    return 1.5 * (nir - red) / (nir + red + 0.5)


def sarvi(nir: Column, red: Column, blue: Column) -> Column:
    """SARVI = SAVI over the ARVI RB term — Kaufman & Tanre 1992."""
    rb = _arvi_rb(red, blue)
    return 1.5 * (nir - rb) / (nir + rb + 0.5)


# Tasseled-cap coefficients for at-satellite reflectance, Huang et al. 2002
# (IJRS 23:8), band order (BLUE, GREEN, RED, NIR, SWIR1, SWIR2)
TC_COEF = {
    "bright": (0.3561, 0.3972, 0.3904, 0.6966, 0.2286, 0.1596),
    "green": (-0.3344, -0.3544, -0.4556, 0.6966, -0.0242, -0.2630),
    "wet": (0.2626, 0.2141, 0.0926, 0.0656, -0.7629, -0.5388),
}


def tc_component(
    which: str,
    blue: Column,
    green: Column,
    red: Column,
    nir: Column,
    swir1: Column,
    swir2: Column,
) -> Column:
    """TC-BRIGHT / TC-GREEN / TC-WET — Huang et al. 2002 coefficients."""
    c = TC_COEF[which]
    bands = (blue, green, red, nir, swir1, swir2)
    out = F.lit(0.0)
    for w, b in zip(c, bands):
        out = out + F.lit(w) * b
    return out


def tc_di(
    blue: Column,
    green: Column,
    red: Column,
    nir: Column,
    swir1: Column,
    swir2: Column,
) -> Column:
    """TC-DI disturbance index = BRIGHT - (GREEN + WET) — Healey et al.
    2005 (components unstandardized: the per-scene standardization is a
    separate statistics pass, the reference's STANDARDIZE knob)."""
    args = (blue, green, red, nir, swir1, swir2)
    return (
        tc_component("bright", *args)
        - tc_component("green", *args)
        - tc_component("wet", *args)
    )


def ndbi(swir1: Column, nir: Column) -> Column:
    """NDBI = (SWIR1-NIR)/(SWIR1+NIR) — Zha et al. 2003."""
    return _nd(swir1, nir)


def mndwi(green: Column, swir1: Column) -> Column:
    """MNDWI = (GREEN-SWIR1)/(GREEN+SWIR1) — Xu 2006."""
    return _nd(green, swir1)


def ndmi(nir: Column, swir1: Column) -> Column:
    """NDMI = (NIR-SWIR1)/(NIR+SWIR1) — Gao 1996 (broad-NIR variant; the
    reference's own spelled NDWI at dswi_harmonic_tsi.py:109 is the same
    shape over BNIR)."""
    return _nd(nir, swir1)


def ndsi(green: Column, swir1: Column) -> Column:
    """NDSI = (GREEN-SWIR1)/(GREEN+SWIR1) — Hall et al. 1995 (same shape
    as MNDWI; kept as its own menu name)."""
    return _nd(green, swir1)


def kndvi(nir: Column, red: Column) -> Column:
    """kNDVI = tanh(NDVI^2) — Camps-Valls et al. 2021 (sigma = (NIR+RED)/2
    closed form). Spelled via exp — (e^{2x}-1)/(e^{2x}+1) — so the SQL
    oracle can use the identical text (the sandbox DuckDB has no tanh)."""
    d = _nd(nir, red)
    e = F.exp(2.0 * (d * d))
    return (e - 1.0) / (e + 1.0)


def ndre1(re2: Column, re1: Column) -> Column:
    """NDRE1 = (RE2-RE1)/(RE2+RE1) — Gitelson & Merzlyak 1994."""
    return _nd(re2, re1)


def ndre2(re3: Column, re1: Column) -> Column:
    """NDRE2 = (RE3-RE1)/(RE3+RE1) — Barnes et al. 2000 variant."""
    return _nd(re3, re1)


def cire(re3: Column, re1: Column) -> Column:
    """CIre = RE3/RE1 - 1 — Gitelson et al. 2003 red-edge chlorophyll
    index."""
    return re3 / re1 - 1.0


def ndvire(nirish: Column, re_k: Column) -> Column:
    """NDVIre-k = (NIR-REk)/(NIR+REk); the *n menu variants pass the
    narrow BNIR instead of broad NIR — Fernandez-Manso et al. 2016."""
    return _nd(nirish, re_k)


def msrre(nirish: Column, re1: Column) -> Column:
    """MSRre = (NIR/RE1 - 1)/sqrt(NIR/RE1 + 1) — Chen 1996 modified simple
    ratio on the red edge; MSRren passes BNIR."""
    r = nirish / re1
    return (r - 1.0) / F.sqrt(r + 1.0)


def cci(green: Column, red: Column) -> Column:
    """CCI = (GREEN-RED)/(GREEN+RED) — Gamon et al. 2016 chlorophyll/
    carotenoid index."""
    return _nd(green, red)


def sma_affine(
    endmembers: list[list[float]], sum_to_one: bool = False
) -> tuple[list[list[float]], list[float]]:
    """C1 SMA — linear spectral mixture analysis (the TSA INDEX menu's last
    name; endmember input per ``TSA.prm:194+``'s SPECTRAL MIXTURE ANALYSIS
    block). Ordinary least squares min ||E·f - x||² has the closed form
    f = (EᵀE)⁻¹Eᵀ x; the SMA_SUM_TO_ONE variant is equality-constrained LS,
    f = f̂ + A⁻¹1·(1 - 1ᵀf̂)/(1ᵀA⁻¹1), which is AFFINE in x. Both therefore
    reduce to f = P·x + c with P (k×B) and c (k) precomputed here on the
    driver from the endmember matrix (B×k, rows = bands) — the same
    ship-the-quantizer-with-the-plan posture as ivf_topk, and the per-row
    work is a literal matrix multiply, scan-stage Column arithmetic like
    the tasseled cap. The SMA_NON_NEG option (iterative NNLS, Lawson &
    Hanson 1974) has no closed form and belongs in a pandas-UDF kernel —
    documented out of the Column path. References: Adams et al. 1986;
    Smith et al. 1990."""
    import numpy as np

    E = np.asarray(endmembers, dtype=np.float64)  # (B, k)
    A_inv = np.linalg.inv(E.T @ E)  # (k, k)
    P = A_inv @ E.T  # (k, B)
    k = P.shape[0]
    c = np.zeros(k)
    if sum_to_one:
        ones = np.ones(k)
        a1 = A_inv @ ones
        denom = float(ones @ a1)
        # f = (P - a1·(1ᵀP)/denom)·x + a1/denom
        P = P - np.outer(a1, ones @ P) / denom
        c = a1 / denom
    return P.tolist(), c.tolist()


def _nnls_subsets(k: int) -> tuple[tuple[int, ...], ...]:
    """All 2^k candidate active sets, descending size then lexicographic —
    the probe order is part of the cross-engine contract (the first valid
    subset wins, and larger-first prefers the least-clamped solution).
    Derived from k so any endmember count enumerates correctly (a fixed
    k=3 list silently mis-solved k>3 inputs: no subset ever freed index 3,
    every validity flag failed, and the CASE fell through to the clamped
    unconstrained solution)."""
    from itertools import combinations

    out: list[tuple[int, ...]] = []
    for size in range(k, -1, -1):
        out.extend(combinations(range(k), size))
    return tuple(out)


def sma_nnls_maps(
    endmembers: list[list[float]],
) -> list[tuple[tuple[int, ...], list[list[float]], list[list[float]]]]:
    """C1 SMA_NON_NEG — EXACT non-negativity-constrained unmixing
    (``TSA.prm:204``'s SMA_NON_NEG option; Lawson & Hanson 1974) by
    ACTIVE-SET ENUMERATION instead of the iterative solver: with k
    endmembers there are only 2^k candidate active sets, and for each
    subset S of free (non-zero) fractions the unconstrained solution on S
    is a LINEAR map f = P_S·x (zero rows for the clamped fractions), with
    KKT gradient g = EᵀE·f − Eᵀx = W_S·x also linear. The NNLS optimum is
    the unique f whose subset satisfies primal feasibility (f_i >= 0 for
    i in S) and dual feasibility (g_j >= 0 for j not in S) — so the whole
    solve is a precomputed-coefficient CASE over 2^k affine maps: pure
    scan-stage Column arithmetic, zero iterations, zero UDFs, and a SQL
    oracle can spell the identical literal sequence (the iterative
    Lawson-Hanson loop has a data-dependent trip count no unrolled oracle
    can mirror; this closed form is exact for the small k the TSA menu
    uses — k=3 here; 2^k growth says k >~ 10 belongs in a pandas kernel).

    Returns [(S, P_S (k×B), W_S (k×B))] in the fixed probe order
    (larger sets first, then lexicographic) that both engines share.
    Ties (optimum exactly on a boundary) make several subsets valid and
    every valid subset yields the same f, so first-match is stable."""
    import numpy as np

    E = np.asarray(endmembers, dtype=np.float64)  # (B, k)
    k = E.shape[1]
    G = E.T @ E
    out = []
    for S in _nnls_subsets(k):
        P = np.zeros((k, E.shape[0]))
        if S:
            Ef = E[:, list(S)]
            sol = np.linalg.solve(Ef.T @ Ef, Ef.T)  # (|S|, B)
            for r, i in enumerate(S):
                P[i] = sol[r]
        W = G @ P - E.T
        out.append((S, P.tolist(), W.tolist()))
    return out


def _affine(row: list[float], bands: list[Column]) -> Column:
    """Σ_b row[b]·x_b accumulated left-to-right from 0.0 — the literal
    order the SQL oracle mirrors for bit-identical doubles."""
    e = F.lit(0.0)
    for w, b in zip(row, bands):
        e = e + F.lit(float(w)) * b
    return e


NNLS_EPS = 1e-12  # feasibility/KKT tolerance — shared literal with the oracle


def sma_nnls(
    df,
    bands: list[Column],
    endmembers: list[list[float]],
    prefix: str = "_f",
):
    """Apply the enumerated NNLS to a DataFrame: returns df's columns plus
    {prefix}0..{prefix}{k-1} (clamped non-negative fractions) and
    `active_set` (the chosen subset index; -1 marks the unreachable-in-
    practice ELSE fallback).

    Predicates test the affine feasibility/KKT values in fixed (free asc,
    active asc) order, at tolerance -NNLS_EPS: a degenerate optimum
    sitting EXACTLY on a boundary (a pure-endmember pixel) computes its
    zero components as ±1e-17-noise doubles, which would fail every
    subset's strict test — the tolerance admits the exact-arithmetic-
    valid subset, and the final greatest(0, ·) clamp zeroes the admitted
    noise so fractions stay non-negative (error bounded by
    eps·cond(EᵀE), ~1e-10 here).

    Plan shape: every distinct affine value (2^k·k candidate fractions +
    the complementary KKT gradients) is STAGED once as an aliased column,
    the 2^k validity flags are staged from those, and the final CASEs
    reference columns only — non-cheap multi-referenced aliases are
    pinned (SPARK-36718), so each affine map is evaluated ONCE per row
    instead of once per consumer (the inline-CASE draft evaluated each
    predicate tree 4x — for the 3 fractions and the index — and ran
    ~6x slower). The SQL oracle mirrors the same three staging layers as
    CTEs, so every double is produced by the identical expression text."""
    maps = sma_nnls_maps(endmembers)
    k = len(maps[0][1])
    eps = F.lit(-NNLS_EPS)
    base_cols = list(df.columns)
    staged = []
    for s, (S, P, W) in enumerate(maps):
        for i in range(k):
            staged.append(_affine(P[i], bands).alias(f"_p{s}_{i}"))
        for j in range(k):
            if j not in S:
                staged.append(_affine(W[j], bands).alias(f"_w{s}_{j}"))
    g = df.select("*", *staged)

    def valid(s, S):
        cond = F.lit(True)
        for i in S:
            cond = cond & (F.col(f"_p{s}_{i}") >= eps)
        for j in range(k):
            if j not in S:
                cond = cond & (F.col(f"_w{s}_{j}") >= eps)
        return cond

    v = g.select(
        "*", *[valid(s, S).alias(f"_v{s}") for s, (S, _, _) in enumerate(maps)]
    )
    fracs = []
    for i in range(k):
        expr = None
        for s in range(len(maps)):
            arm = F.col(f"_p{s}_{i}")
            expr = (
                F.when(F.col(f"_v{s}"), arm)
                if expr is None
                else expr.when(F.col(f"_v{s}"), arm)
            )
        fracs.append(
            F.greatest(F.lit(0.0), expr.otherwise(F.col(f"_p0_{i}"))).alias(
                f"{prefix}{i}"
            )
        )
    sel = None
    for s in range(len(maps)):
        sel = (
            F.when(F.col(f"_v{s}"), F.lit(s))
            if sel is None
            else sel.when(F.col(f"_v{s}"), F.lit(s))
        )
    return v.select(
        *base_cols, *fracs, sel.otherwise(F.lit(-1)).cast("long").alias("active_set")
    )


def sma_fractions(
    bands: list[Column],
    P: list[list[float]],
    c: list[float],
) -> list[Column]:
    """Apply the precomputed SMA affine map: fraction_i = Σ_b P[i][b]·x_b
    + c_i, accumulated left-to-right so a SQL oracle spelling the same
    literal sequence lands on bit-identical doubles."""
    out = []
    for i in range(len(P)):
        f = F.lit(float(c[i]))
        for w, b in zip(P[i], bands):
            f = f + F.lit(float(w)) * b
        out.append(f)
    return out


def sma_rmse(bands: list[Column], fractions: list[Column],
             endmembers: list[list[float]]) -> Column:
    """Per-pixel model RMSE of the unmixing: sqrt(mean_b (x_b - Σ_i
    E[b][i]·f_i)²) — the standard SMA quality band."""
    n = len(bands)
    total = F.lit(0.0)
    for b_idx, x in enumerate(bands):
        model = F.lit(0.0)
        for i, f in enumerate(fractions):
            model = model + F.lit(float(endmembers[b_idx][i])) * f
        r = x - model
        total = total + r * r
    return F.sqrt(total / F.lit(float(n)))


# --- C4 date codec ---------------------------------------------------------------

def day_to_date_sql(day: str) -> str:
    """SQL text of the epoch-day term `day` (a column or a lambda variable)
    as a date."""
    return f"date_add(to_date('{EPOCH}'), CAST({day} AS INT))"


# --- C6 argmax ------------------------------------------------------------------

def argmax(arr: Column) -> Column:
    """0-based index of the max element (pytorch/predict.py:527-528)."""
    return F.array_position(arr, F.array_max(arr)) - 1


# --- W14 positional encodings (pytorch/models/transformer/Models.py:32-54) ---

def positional_encoding(doy: Column, dim_idx: int, d_model: int = 128) -> Column:
    """sin/cos positional encoding of a day-of-year position at channel
    dim_idx: sin for even channels, cos for odd, denominators 10000^(2i/d)."""
    angle = doy.cast("double") / F.pow(
        F.lit(10000.0), F.lit(2 * (dim_idx // 2) / d_model)
    )
    return F.sin(angle) if dim_idx % 2 == 0 else F.cos(angle)
