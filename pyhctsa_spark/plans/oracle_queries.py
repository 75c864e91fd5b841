"""SQL-native operator catalog with DuckDB oracles.

Each entry maps a SURVEY.md §2 operator to a declarative Spark SQL query
over the driver's test tables, plus an equivalent DuckDB oracle. Where
the two dialects agree (the vast majority), ONE SQL string serves both —
the strongest possible parity guarantee. Only array/lambda constructs
get dialect variants.

The time-series operators run over the ``events`` table viewed as one
series per ``user_id`` (offset = rank of event_id, value = ``value``),
windowed into non-overlapping length-16 windows with trailing-partial
drop — the engine's make_buffer semantics (utils.py:292-319).

All float outputs are rounded in-query (both sides identically) so the
driver's order-insensitive value-hash is stable across engines.
"""

from __future__ import annotations

import os

# golden parquet files the oracles read, in this checkout
_GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "golden",
)

W = 16  # oracle window length
_SQ17 = "sqrt(17.0)"  # sqrt(W+1)
_SQ15 = "sqrt(15.0)"  # sqrt(W-1)

# Shared CTE preamble: per-user series + windows + leads.
_PRE = f"""
WITH series AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
win AS (
  SELECT user_id, rn, v,
         CAST(floor(rn / {W}) AS BIGINT) AS w,
         CAST(rn % {W} AS BIGINT) AS i,
         lead(v) OVER (PARTITION BY user_id ORDER BY rn) AS v1,
         lead(v, 2) OVER (PARTITION BY user_id ORDER BY rn) AS v2
  FROM series
),
fullwin AS (
  SELECT user_id, w FROM win GROUP BY user_id, w HAVING count(*) = {W}
),
cent AS (
  SELECT user_id, rn, v - avg(v) OVER (PARTITION BY user_id) AS vc
  FROM series
)
"""


def _q(sql: str) -> dict:
    return {"spark": _PRE + sql, "duck": _PRE + sql}


def _q2(spark_sql: str, duck_sql: str, pre: bool = False) -> dict:
    return {
        "spark": (_PRE + spark_sql) if pre else spark_sql,
        "duck": (_PRE + duck_sql) if pre else duck_sql,
    }


QUERIES: dict[str, dict] = {}

# --- tier-0 window features (DN_Mean / DN_Spread / DN_Burstiness) ---------
QUERIES["win_mean_var_std"] = _q(f"""
SELECT user_id, w,
       round(avg(v), 6)          AS mean_v,
       round(var_samp(v), 6)     AS var_v,
       round(stddev_samp(v), 6)  AS std_v
FROM win GROUP BY user_id, w HAVING count(*) = {W}
""")

QUERIES["win_burstiness"] = _q(f"""
SELECT user_id, w,
       round((r - 1) / (r + 1), 6) AS burst_b,
       round(({_SQ17} * r - {_SQ15}) / (({_SQ17} - 2) * r + {_SQ15}), 6) AS burst_b_kim
FROM (
  SELECT user_id, w, stddev_samp(v) / avg(v) AS r
  FROM win GROUP BY user_id, w HAVING count(*) = {W}
) t
""")

# --- CO_AutoCorr 'TimeDomain' at lag 1, per window ------------------------
QUERIES["win_ac1_td"] = _q(f"""
SELECT user_id, w,
       round((sxy / m - (s1a / m) * (s1b / m))
             / (sqrt(s2a / m - (s1a / m) * (s1a / m))
                * sqrt(s2b / m - (s1b / m) * (s1b / m))), 6) AS ac1_td
FROM (
  SELECT user_id, w,
         CAST({W - 1} AS DOUBLE)                    AS m,
         sum(v * v1)  FILTER (WHERE i < {W - 1})    AS sxy,
         sum(v)       FILTER (WHERE i < {W - 1})    AS s1a,
         sum(v * v)   FILTER (WHERE i < {W - 1})    AS s2a,
         sum(v1)      FILTER (WHERE i < {W - 1})    AS s1b,
         sum(v1 * v1) FILTER (WHERE i < {W - 1})    AS s2b
  FROM win GROUP BY user_id, w HAVING count(*) = {W}
) t
""")

# --- CO_trev (lag-1) per window -------------------------------------------
QUERIES["win_trev1"] = _q(f"""
SELECT d.user_id, d.w,
       round(avg(d * d * d) / power(avg(d * d), 1.5), 6) AS trev1
FROM (SELECT user_id, w, (v1 - v) AS d FROM win WHERE i < {W - 1}) d
JOIN fullwin USING (user_id, w)
GROUP BY d.user_id, d.w
""")

# --- CO_tc3 (lag-1) per window --------------------------------------------
# Reference Correlation.py:1751-1756: the denominator uses the SAME
# truncated (length W-2*tau) views as the numerator, so both filters
# are i < W-2 at tau=1.
QUERIES["win_tc3_1"] = _q(f"""
SELECT a.user_id, a.w, round(a.num / b.den, 6) AS tc3_1
FROM (SELECT user_id, w, avg(v * v1 * v2) AS num
      FROM win WHERE i < {W - 2} GROUP BY user_id, w) a
JOIN (SELECT user_id, w, power(abs(avg(v * v1)), 1.5) AS den
      FROM win WHERE i < {W - 2} GROUP BY user_id, w) b USING (user_id, w)
JOIN fullwin USING (user_id, w)
""")

# --- SY_StdNthDer n=1 per window ------------------------------------------
QUERIES["win_stdnthder1"] = _q(f"""
SELECT w2.user_id, w2.w, round(stddev_samp(w2.v1 - w2.v), 6) AS stdnthder1
FROM win w2 JOIN fullwin USING (user_id, w)
WHERE w2.i < {W - 1}
GROUP BY w2.user_id, w2.w
""")

# --- CO_Embed2_Basic updiag predicate per window --------------------------
QUERIES["win_embed2_updiag"] = _q(f"""
SELECT w2.user_id, w2.w,
       round(avg(CASE WHEN abs(w2.v1 - w2.v) < 10.0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS updiag10
FROM win w2 JOIN fullwin USING (user_id, w)
WHERE w2.i < {W - 1}
GROUP BY w2.user_id, w2.w
""")

# --- tier-1-scale windows (16x the base window = 256 points) --------------
# Per-event-type series are ~2,000 points at sf0.01, long enough to hold
# full 256-point windows — this checks the same math the engine's 16x
# merge produces, at tier-1 window length, in pure SQL on both engines.
QUERIES["win256_tier1_stats"] = _q("""
SELECT event_type, w256,
       round(avg(v), 6)         AS mean_v,
       round(var_samp(v), 6)    AS var_v,
       round(stddev_samp(v), 6) AS std_v,
       round((stddev_samp(v) / avg(v) - 1) / (stddev_samp(v) / avg(v) + 1), 6)
         AS burst_b
FROM (
  SELECT event_type,
         CAST(floor((row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1)
              / 256) AS BIGINT) AS w256,
         CAST(value AS DOUBLE) AS v
  FROM events
) t
GROUP BY event_type, w256 HAVING count(*) = 256
""")

QUERIES["win256_ac1_td"] = _q("""
SELECT event_type, w256,
       round((sxy / m - (s1a / m) * (s1b / m))
             / (sqrt(s2a / m - (s1a / m) * (s1a / m))
                * sqrt(s2b / m - (s1b / m) * (s1b / m))), 6) AS ac1_td
FROM (
  SELECT event_type, w256,
         CAST(255 AS DOUBLE)                     AS m,
         sum(v * v1)  FILTER (WHERE i < 255)     AS sxy,
         sum(v)       FILTER (WHERE i < 255)     AS s1a,
         sum(v * v)   FILTER (WHERE i < 255)     AS s2a,
         sum(v1)      FILTER (WHERE i < 255)     AS s1b,
         sum(v1 * v1) FILTER (WHERE i < 255)     AS s2b
  FROM (
    SELECT event_type,
           CAST(floor(rn / 256) AS BIGINT) AS w256,
           CAST(rn % 256 AS BIGINT) AS i, v,
           lead(v) OVER (PARTITION BY event_type ORDER BY rn) AS v1
    FROM (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS BIGINT) - 1 AS rn,
             CAST(value AS DOUBLE) AS v
      FROM events
    ) s
  ) t2
  GROUP BY event_type, w256 HAVING count(*) = 256
) t
""")

# --- DK_theilerQ per user (whole series) ----------------------------------
QUERIES["user_theiler_q"] = _q("""
SELECT a.user_id, round(a.num / b.den, 6) AS theiler_q
FROM (SELECT user_id, avg((v + v1) * (v + v1) * (v + v1)) AS num
      FROM win WHERE v1 IS NOT NULL GROUP BY user_id) a
JOIN (SELECT user_id, power(avg(v * v), 1.5) AS den
      FROM series GROUP BY user_id) b USING (user_id)
""")

# --- DK_crinkle per user ---------------------------------------------------
QUERIES["user_crinkle"] = _q("""
SELECT a.user_id, round(a.m4 / power(b.m2, 2), 6) AS crinkle
FROM (
  SELECT user_id, avg(d * d * d * d) AS m4
  FROM (
    SELECT user_id,
           2 * vc - lag(vc) OVER (PARTITION BY user_id ORDER BY rn)
                  - lead(vc) OVER (PARTITION BY user_id ORDER BY rn) AS d
    FROM cent
  ) t WHERE d IS NOT NULL GROUP BY user_id
) a
JOIN (SELECT user_id, avg(vc * vc) AS m2 FROM cent GROUP BY user_id) b
  USING (user_id)
""")

# --- SY_StatAv 'len' 16 per user (two-level rollup) -----------------------
QUERIES["user_statav_len16"] = _q(f"""
SELECT a.user_id, round(stddev_samp(a.wm) / max(b.sd), 6) AS statav16
FROM (SELECT user_id, w, avg(v) AS wm
      FROM win GROUP BY user_id, w HAVING count(*) = {W}) a
JOIN (SELECT user_id, stddev_samp(v) AS sd FROM series GROUP BY user_id) b
  USING (user_id)
GROUP BY a.user_id HAVING count(*) >= 2
""")

# --- SY_Trend linear fit per user -----------------------------------------
QUERIES["user_trend"] = _q("""
SELECT user_id,
       round(covar_pop(CAST(rn AS DOUBLE), v) / var_pop(CAST(rn AS DOUBLE)), 6) AS slope,
       round(avg(v) - covar_pop(CAST(rn AS DOUBLE), v) / var_pop(CAST(rn AS DOUBLE)) * avg(CAST(rn AS DOUBLE)), 6) AS intercept
FROM series GROUP BY user_id
""")

# --- SY_MomentCorr (mean vs std across windows) per user ------------------
# Full reference replay (Stationarity.py:169-257): wl = ceil(0.02*n),
# p = floor(wl/5); MATLAB-buffer columns j advance by step = wl - p over
# the p-zero-prefixed series, the padded tail column is dropped when the
# column count exceeds n/step, and the implicit zeros participate in the
# per-window mean/std (handled via count arithmetic: missing elements
# contribute 0 to sums). absR = |corr(M1, M2)|, density = ptp*ptp/n.
# Users whose wl < 2 (n <= 50) raise in the reference -> no output row.
# Window sums come from EXPLODED row->window membership (each row is in
# ~wl/step windows), not a points x windows range join — same values,
# linear intermediate volume. Dialect split: LATERAL VIEW explode /
# unnest(generate_series); Spark sequence() DESCENDS when jlo > jhi so
# the guard subquery is load-bearing.
QUERIES["user_moment_corr"] = _q2(
    """
, mc_pars AS (
  SELECT user_id, count(*) AS n,
         CAST(ceil(0.02 * count(*)) AS BIGINT) AS wl
  FROM series GROUP BY user_id
),
mc_pars2 AS (
  SELECT user_id, n, wl,
         CAST(floor(wl / 5.0) AS BIGINT) AS p,
         wl - CAST(floor(wl / 5.0) AS BIGINT) AS step
  FROM mc_pars WHERE wl >= 2
),
mc_pars3 AS (
  SELECT *,
         CAST(ceil(CAST(n AS DOUBLE) / step) AS BIGINT)
           - CASE WHEN CAST(ceil(CAST(n AS DOUBLE) / step) AS BIGINT) * step
                       > n THEN 1 ELSE 0 END AS kwin
  FROM mc_pars2
),
mc_rows AS (
  -- row -> window membership bounds: row rn lies in window j iff
  -- j*step - p <= rn < j*step - p + wl, i.e. j in [jlo, jhi]; each row
  -- belongs to ~wl/step (~1.25) windows, so EXPLODING membership beats
  -- the n x kwin range join by ~50x in intermediate rows (and is the
  -- shape that scales: linear in points, not points x windows)
  SELECT s.user_id, s.v, pp.wl, pp.kwin,
         greatest(CAST(0 AS BIGINT),
                  CAST(floor((s.rn + pp.p - pp.wl)
                             / CAST(pp.step AS DOUBLE)) AS BIGINT) + 1) AS jlo,
         least(pp.kwin - 1,
               CAST(floor((s.rn + pp.p)
                          / CAST(pp.step AS DOUBLE)) AS BIGINT)) AS jhi
  FROM series s JOIN mc_pars3 pp USING (user_id)
),
mc_memb AS (
  SELECT r.user_id, r.v, r.wl, t.j
  FROM (SELECT * FROM mc_rows WHERE jlo <= jhi) r
  LATERAL VIEW explode(sequence(r.jlo, r.jhi)) t AS j
),
mc_stats AS (
  SELECT user_id, j, max(wl) AS wl,
         sum(v)     AS s1,
         sum(v * v) AS s2
  FROM mc_memb
  GROUP BY user_id, j
),
mc_m AS (
  SELECT user_id, j,
         s1 / wl AS m,
         sqrt(greatest((s2 - s1 * s1 / wl) / (wl - 1), CAST(0.0 AS DOUBLE))) AS sd
  FROM mc_stats
)
SELECT mm.user_id,
       round(abs(corr(mm.m, mm.sd)), 6) AS mc_absr,
       round((max(mm.m) - min(mm.m)) * (max(mm.sd) - min(mm.sd))
             / max(pp.n), 6) AS mc_density
FROM mc_m mm JOIN mc_pars3 pp ON pp.user_id = mm.user_id
GROUP BY mm.user_id HAVING count(*) >= 2
""",
    """
, mc_pars AS (
  SELECT user_id, count(*) AS n,
         CAST(ceil(0.02 * count(*)) AS BIGINT) AS wl
  FROM series GROUP BY user_id
),
mc_pars2 AS (
  SELECT user_id, n, wl,
         CAST(floor(wl / 5.0) AS BIGINT) AS p,
         wl - CAST(floor(wl / 5.0) AS BIGINT) AS step
  FROM mc_pars WHERE wl >= 2
),
mc_pars3 AS (
  SELECT *,
         CAST(ceil(CAST(n AS DOUBLE) / step) AS BIGINT)
           - CASE WHEN CAST(ceil(CAST(n AS DOUBLE) / step) AS BIGINT) * step
                       > n THEN 1 ELSE 0 END AS kwin
  FROM mc_pars2
),
mc_rows AS (
  -- row -> window membership bounds: row rn lies in window j iff
  -- j*step - p <= rn < j*step - p + wl, i.e. j in [jlo, jhi]; each row
  -- belongs to ~wl/step (~1.25) windows, so EXPLODING membership beats
  -- the n x kwin range join by ~50x in intermediate rows (and is the
  -- shape that scales: linear in points, not points x windows)
  SELECT s.user_id, s.v, pp.wl, pp.kwin,
         greatest(CAST(0 AS BIGINT),
                  CAST(floor((s.rn + pp.p - pp.wl)
                             / CAST(pp.step AS DOUBLE)) AS BIGINT) + 1) AS jlo,
         least(pp.kwin - 1,
               CAST(floor((s.rn + pp.p)
                          / CAST(pp.step AS DOUBLE)) AS BIGINT)) AS jhi
  FROM series s JOIN mc_pars3 pp USING (user_id)
),
mc_memb AS (
  SELECT user_id, v, wl,
         unnest(generate_series(jlo, jhi)) AS j
  FROM mc_rows WHERE jlo <= jhi
),
mc_stats AS (
  SELECT user_id, j, max(wl) AS wl,
         sum(v)     AS s1,
         sum(v * v) AS s2
  FROM mc_memb
  GROUP BY user_id, j
),
mc_m AS (
  SELECT user_id, j,
         s1 / wl AS m,
         sqrt(greatest((s2 - s1 * s1 / wl) / (wl - 1), CAST(0.0 AS DOUBLE))) AS sd
  FROM mc_stats
)
SELECT mm.user_id,
       round(abs(corr(mm.m, mm.sd)), 6) AS mc_absr,
       round((max(mm.m) - min(mm.m)) * (max(mm.sd) - min(mm.sd))
             / max(pp.n), 6) AS mc_density
FROM mc_m mm JOIN mc_pars3 pp ON pp.user_id = mm.user_id
GROUP BY mm.user_id HAVING count(*) >= 2
""",
    pre=True,
)

# --- MD_pNN (threshold 20) per user ---------------------------------------
QUERIES["user_pnn20"] = _q("""
SELECT user_id,
       round(avg(CASE WHEN abs(v1 - v) > 20.0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS pnn20
FROM win WHERE v1 IS NOT NULL GROUP BY user_id
""")

# --- EN_CID CE1 per user ---------------------------------------------------
QUERIES["user_cid_ce1"] = _q("""
SELECT user_id, round(sqrt(avg((v1 - v) * (v1 - v))), 6) AS ce1
FROM win WHERE v1 IS NOT NULL GROUP BY user_id
""")

# --- SY_SimpleStats zcross per user ---------------------------------------
QUERIES["user_zcross"] = _q("""
SELECT user_id,
       round(sum(CASE WHEN vcn IS NOT NULL AND vc * vcn < 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS zcross
FROM (SELECT user_id, vc,
             lead(vc) OVER (PARTITION BY user_id ORDER BY rn) AS vcn
      FROM cent) t
GROUP BY user_id
""")

# --- DN_MinMax per user ----------------------------------------------------
QUERIES["user_minmax"] = _q("""
SELECT user_id, round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
       round(max(v) - min(v), 6) AS range_v
FROM series GROUP BY user_id
""")

# --- DN_HighLowMu per user -------------------------------------------------
QUERIES["user_highlowmu"] = _q("""
SELECT s.user_id,
       round((avg(CASE WHEN s.v > t.mu THEN s.v END) - max(t.mu))
             / (max(t.mu) - avg(CASE WHEN s.v < t.mu THEN s.v END)), 6) AS highlowmu
FROM series s
JOIN (SELECT user_id, avg(v) AS mu FROM series GROUP BY user_id) t
  USING (user_id)
GROUP BY s.user_id
""")

# --- DN_Withinp p=1 (mean/std) per user -----------------------------------
QUERIES["user_withinp1"] = _q("""
SELECT s.user_id,
       round(avg(CASE WHEN s.v >= t.mu - t.sd AND s.v <= t.mu + t.sd
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS withinp1
FROM series s
JOIN (SELECT user_id, avg(v) AS mu, stddev_samp(v) AS sd
      FROM series GROUP BY user_id) t USING (user_id)
GROUP BY s.user_id
""")

# --- DN_Unique per user ----------------------------------------------------
QUERIES["user_unique_frac"] = _q("""
SELECT user_id,
       round(count(DISTINCT v) / CAST(count(*) AS DOUBLE), 6) AS unique_frac
FROM series GROUP BY user_id
""")

# --- DN_ProportionValues (above mean) per user ----------------------------
QUERIES["user_prop_above_mean"] = _q("""
SELECT s.user_id,
       round(avg(CASE WHEN s.v > t.mu THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS prop_above
FROM series s
JOIN (SELECT user_id, avg(v) AS mu FROM series GROUP BY user_id) t
  USING (user_id)
GROUP BY s.user_id
""")

# --- DN_HistogramMode numBins=10 per user ---------------------------------
# Reference Distribution.py:770: the mode is the MEAN of bin centers
# over ALL tied maxima (quantized data ties are real).
QUERIES["user_histmode10"] = _q("""
SELECT r.user_id,
       round(avg(st.mn + (r.bin + 0.5) * ((st.mx - st.mn) / 10.0)), 6)
         AS mode_center
FROM (
  SELECT c.user_id, c.bin, c.cnt,
         max(c.cnt) OVER (PARTITION BY c.user_id) AS mx_cnt
  FROM (
    SELECT b.user_id, b.bin, count(*) AS cnt
    FROM (
      SELECT s.user_id,
             least(CAST(floor((s.v - st2.mn) / ((st2.mx - st2.mn) / 10.0)) AS BIGINT), 9) AS bin
      FROM series s
      JOIN (SELECT user_id, min(v) AS mn, max(v) AS mx
            FROM series GROUP BY user_id) st2 USING (user_id)
    ) b GROUP BY b.user_id, b.bin
  ) c
) r
JOIN (SELECT user_id, min(v) AS mn, max(v) AS mx FROM series GROUP BY user_id) st
  USING (user_id)
WHERE r.cnt = r.mx_cnt
GROUP BY r.user_id
""")

# --- DN_HistogramAsymmetry numBins=10 doSimple, on the centered series ------
# (Distribution.py:683-739; raw event values are single-signed, so the
# catalog applies the operator to y - mean(y), the same parametrization
# as user_stickangles.) Separate equal-width histograms of the positive
# and negative halves, probabilities over count(v != 0), mode positions
# averaging ties, modeAsymmetry = posMode + negMode.
QUERIES["user_histasym10"] = _q("""
, ha_sides AS (
  SELECT user_id,
         count(*) FILTER (WHERE vc > 0) AS np_,
         count(*) FILTER (WHERE vc < 0) AS nn_,
         count(*) FILTER (WHERE vc <> 0) AS nz,
         min(vc) FILTER (WHERE vc > 0) AS pmn,
         max(vc) FILTER (WHERE vc > 0) AS pmx,
         min(vc) FILTER (WHERE vc < 0) AS nmn,
         max(vc) FILTER (WHERE vc < 0) AS nmx
  FROM cent GROUP BY user_id
  HAVING count(*) FILTER (WHERE vc > 0) >= 2
     AND count(*) FILTER (WHERE vc < 0) >= 2
),
ha_pbins AS (
  SELECT c.user_id,
         least(CAST(floor((c.vc - h.pmn) / ((h.pmx - h.pmn) / 10.0)) AS BIGINT), 9) AS b,
         count(*) AS cnt
  FROM cent c JOIN ha_sides h USING (user_id)
  WHERE c.vc > 0 GROUP BY c.user_id,
        least(CAST(floor((c.vc - h.pmn) / ((h.pmx - h.pmn) / 10.0)) AS BIGINT), 9)
),
ha_nbins AS (
  SELECT c.user_id,
         least(CAST(floor((c.vc - h.nmn) / ((h.nmx - h.nmn) / 10.0)) AS BIGINT), 9) AS b,
         count(*) AS cnt
  FROM cent c JOIN ha_sides h USING (user_id)
  WHERE c.vc < 0 GROUP BY c.user_id,
        least(CAST(floor((c.vc - h.nmn) / ((h.nmx - h.nmn) / 10.0)) AS BIGINT), 9)
),
ha_pm AS (
  SELECT p.user_id, max(p.cnt) AS mxc FROM ha_pbins p GROUP BY p.user_id
),
ha_nm AS (
  SELECT n.user_id, max(n.cnt) AS mxc FROM ha_nbins n GROUP BY n.user_id
),
ha_pos AS (
  SELECT p.user_id,
         max(p.cnt) AS mxc,
         avg(h.pmn + (p.b + 0.5) * ((h.pmx - h.pmn) / 10.0)) AS pos_mode
  FROM ha_pbins p
  JOIN ha_pm pm ON pm.user_id = p.user_id AND p.cnt = pm.mxc
  JOIN ha_sides h ON h.user_id = p.user_id
  GROUP BY p.user_id
),
ha_neg AS (
  SELECT n.user_id,
         max(n.cnt) AS mxc,
         avg(h.nmn + (n.b + 0.5) * ((h.nmx - h.nmn) / 10.0)) AS neg_mode
  FROM ha_nbins n
  JOIN ha_nm nm ON nm.user_id = n.user_id AND n.cnt = nm.mxc
  JOIN ha_sides h ON h.user_id = n.user_id
  GROUP BY n.user_id
)
SELECT h.user_id,
       round(CAST(h.np_ - h.nn_ AS DOUBLE), 6) AS density_diff,
       round(CAST(p.mxc AS DOUBLE) / h.nz, 6) AS mode_prob_pos,
       round(CAST(n.mxc AS DOUBLE) / h.nz, 6) AS mode_prob_neg,
       round(CAST(p.mxc AS DOUBLE) / h.nz
             - CAST(n.mxc AS DOUBLE) / h.nz, 6) AS mode_diff,
       round(p.pos_mode, 6) AS pos_mode,
       round(n.neg_mode, 6) AS neg_mode,
       round(p.pos_mode + n.neg_mode, 6) AS mode_asymmetry
FROM ha_sides h
JOIN ha_pos p ON p.user_id = h.user_id
JOIN ha_neg n ON n.user_id = h.user_id
""")

# --- CO_glscf alpha=1 beta=1 tau=2 per user -------------------------------
QUERIES["user_glscf_1_1_2"] = _q("""
SELECT user_id,
       round((avg(a * b) - avg(a) * avg(b))
             / (sqrt(avg(a * a) - avg(a) * avg(a))
                * sqrt(avg(b * b) - avg(b) * avg(b))), 6) AS glscf_1_1_2
FROM (SELECT user_id, abs(v) AS a, abs(v2) AS b FROM win WHERE v2 IS NOT NULL) t
GROUP BY user_id
""")

# --- FC_LocalSimple 'mean' trainLength=4 per user -------------------------
# residual = prediction - value (ModelFit.py:110 convention)
QUERIES["user_local_simple_mean4"] = _q("""
SELECT user_id,
       round(avg(f - v), 6)          AS meanerr,
       round(stddev_samp(f - v), 6)  AS stderr
FROM (
  SELECT user_id, rn, v,
         avg(v) OVER (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS f
  FROM series
) t WHERE rn >= 4
GROUP BY user_id
""")

# --- SB_MotifTwo 'diff' word probabilities per user -----------------------
QUERIES["user_motif2_diff"] = _q("""
SELECT user_id,
       round(avg(CAST(b AS DOUBLE)), 6) AS pu,
       round(avg(CASE WHEN b = 1 AND b2 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             FILTER (WHERE b2 IS NOT NULL), 6) AS puu,
       round(avg(CASE WHEN b = 1 AND b2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             FILTER (WHERE b2 IS NOT NULL), 6) AS pud,
       round(avg(CASE WHEN b = 0 AND b2 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             FILTER (WHERE b2 IS NOT NULL), 6) AS pdu,
       round(avg(CASE WHEN b = 0 AND b2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             FILTER (WHERE b2 IS NOT NULL), 6) AS pdd
FROM (
  SELECT user_id, b, lead(b) OVER (PARTITION BY user_id ORDER BY rn) AS b2
  FROM (SELECT user_id, rn,
               CASE WHEN v1 - v > 0 THEN 1 ELSE 0 END AS b
        FROM win WHERE v1 IS NOT NULL) s
) t
GROUP BY user_id
""")

# --- DN_cv k=1 per user ----------------------------------------------------
QUERIES["user_cv1"] = _q("""
SELECT user_id, round(stddev_samp(v) / nullif(avg(v), CAST(0.0 AS DOUBLE)), 6) AS cv1
FROM series GROUP BY user_id
""")

# --- DN_Moments k=3 (3rd central moment / sample std) per user --------------
QUERIES["user_moment3"] = _q("""
SELECT s.user_id,
       round(avg((s.v - t.mu) * (s.v - t.mu) * (s.v - t.mu))
             / nullif(t.sd, CAST(0.0 AS DOUBLE)), 6) AS moment3
FROM series s
JOIN (SELECT user_id, avg(v) AS mu, stddev_samp(v) AS sd
      FROM series GROUP BY user_id) t USING (user_id)
GROUP BY s.user_id, t.sd
""")

# --- DN_CustomSkewness 'pearson' per user -----------------------------------
# Reference Distribution.py:391: (3*mean - median)/std — NOT the textbook
# 3*(mean - median)/std; bug-for-bug parity.
QUERIES["user_skew_pearson"] = _q("""
SELECT user_id,
       round((3.0 * avg(v) - median(v))
             / nullif(stddev_samp(v), CAST(0.0 AS DOUBLE)), 6) AS skew_pearson
FROM series GROUP BY user_id
""")

# --- DN_TrimmedMean p=10 per user -------------------------------------------
# Reference Distribution.py:671: lowercut = ceil(n*10/200 - 0.5) values
# trimmed from each sorted end (round-half-DOWN, not banker's rounding).
QUERIES["user_trimmed_mean10"] = _q("""
SELECT user_id, round(avg(v), 6) AS trimmed_mean10
FROM (
  SELECT r.user_id, r.v, r.rk, r.cnt,
         CAST(ceil(r.half - 0.5) AS BIGINT) AS k
  FROM (
    SELECT user_id, v,
           row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
           count(*) OVER (PARTITION BY user_id) AS cnt,
           count(*) OVER (PARTITION BY user_id) * CAST(10.0 AS DOUBLE)
             / 100.0 / 2.0 AS half
    FROM series
  ) r
) t
WHERE rk > k AND rk <= cnt - k
GROUP BY user_id
""")

# --- SY_DriftingMean 'fix' l=20 per user ------------------------------------
# Reference Stationarity.py:628-629: meanmaxmin = (max + min)/2 and
# meanabsmaxmin = (|max| + |min|)/2 of the ALREADY-vbar-normalized
# max/min values (not a range over vbar).
QUERIES["user_drift_mean20"] = _q("""
SELECT user_id,
       round(max(m) / avg(s2), 6)            AS drift_max,
       round(min(m) / avg(s2), 6)            AS drift_min,
       round(avg(m) / avg(s2), 6)            AS drift_mean,
       round((max(m) / avg(s2) + min(m) / avg(s2)) / 2.0, 6) AS drift_meanmaxmin,
       round((abs(max(m) / avg(s2)) + abs(min(m) / avg(s2))) / 2.0, 6)
         AS drift_meanabsmaxmin
FROM (
  SELECT user_id, seg, avg(v) AS m, var_samp(v) AS s2
  FROM (SELECT user_id, v, CAST(floor(rn / 20) AS BIGINT) AS seg FROM series) t
  GROUP BY user_id, seg HAVING count(*) = 20
) segs
GROUP BY user_id HAVING count(*) >= 1 AND avg(s2) <> 0
""")

# --- SY_LocalGlobal 'l' n=50 per user ----------------------------------------
# Raw subset statistics (the reference reports the local |mean| / std /
# median unnormalized; the |1 - local/global| comparison columns need
# hazen quantiles and Fourier ACF and stay kernel-side).
QUERIES["user_local_global_l50"] = _q("""
SELECT user_id,
       round(abs(avg(v) FILTER (WHERE rn < 50)), 6)       AS lg_absmean,
       round(stddev_samp(v) FILTER (WHERE rn < 50), 6)    AS lg_std,
       round(median(v) FILTER (WHERE rn < 50), 6)         AS lg_median
FROM series
GROUP BY user_id
""")

# --- CR_RAD tau=2 per user ---------------------------------------------------
# Reference Criticality.py:6-66 with centre=True: work on c = |v - median(v)|,
# lag-embed at tau=2 (x = c truncated, y2 = c lead-2), median-split the
# x VALUES, and the density difference is over std of the x values
# (super-median side minus sub-median side), scaled by std(y2 - x).
QUERIES["user_rad2"] = _q("""
SELECT t.user_id,
       round(stddev_samp(t.y2 - t.x)
             * (1.0 / nullif(stddev_samp(t.x) FILTER (WHERE t.x >= mx.medx), CAST(0.0 AS DOUBLE))
                - 1.0 / nullif(stddev_samp(t.x) FILTER (WHERE t.x < mx.medx), CAST(0.0 AS DOUBLE))),
             6) AS rad2
FROM (
  SELECT c.user_id, c.x,
         lead(c.x, 2) OVER (PARTITION BY c.user_id ORDER BY c.rn) AS y2
  FROM (
    SELECT s.user_id, s.rn, abs(s.v - m.med0) AS x
    FROM series s
    JOIN (SELECT user_id, median(v) AS med0 FROM series GROUP BY user_id) m
      USING (user_id)
  ) c
) t
JOIN (
  SELECT user_id, median(x) AS medx
  FROM (
    SELECT c2.user_id, c2.x,
           lead(c2.x, 2) OVER (PARTITION BY c2.user_id ORDER BY c2.rn) AS y2
    FROM (
      SELECT s2.user_id, s2.rn, abs(s2.v - m2.med0) AS x
      FROM series s2
      JOIN (SELECT user_id, median(v) AS med0 FROM series GROUP BY user_id) m2
        USING (user_id)
    ) c2
  ) d2 WHERE d2.y2 IS NOT NULL GROUP BY user_id
) mx ON mx.user_id = t.user_id
WHERE t.y2 IS NOT NULL
GROUP BY t.user_id
""")

# --- CO_NonlinearAutocorr taus=[0,1,2] per user ------------------------------
# Reference Correlation.py:790-793: the product STARTS from the implicit
# leading x_i factor (y[tmax:N]), so taus=[0,1,2] is <x_i^2 x_{i-1} x_{i-2}>
# = v2*v2*v1*v in lead-view terms; odd tau count -> no abs.
QUERIES["user_nlac_012"] = _q("""
SELECT user_id, round(avg(v2 * v2 * v1 * v), 6) AS nlac_012
FROM win WHERE v2 IS NOT NULL GROUP BY user_id
""")

# --- CO_NonlinearAutocorr taus=[1,2] per user --------------------------------
# Even tau count -> reference auto-doAbs: mean of |x_i x_{i-1} x_{i-2}|
# (abs BEFORE the mean, Correlation.py:795-796).
QUERIES["user_nlac_12_abs"] = _q("""
SELECT user_id, round(avg(abs(v2 * v1 * v)), 6) AS nlac_12_abs
FROM win WHERE v2 IS NOT NULL GROUP BY user_id
""")

# --- SY_StdNthDer n=2 per user -----------------------------------------------
QUERIES["user_stdnthder2"] = _q("""
SELECT user_id, round(stddev_samp((v2 - v1) - (v1 - v)), 6) AS stdnthder2
FROM win WHERE v2 IS NOT NULL GROUP BY user_id
""")

# --- EN_PermEn m=3 tau=1 (normalized) per user -------------------------------
# Ordinal pattern via stable-tie ranks: rank_j = #{strictly smaller} +
# #{equal at earlier positions} (numpy double-argsort semantics,
# kernels.perm_entropy); code = ra + 3*rb + 9*rc; H / ln(3!).
QUERIES["user_permen3"] = _q("""
SELECT user_id,
       round(-sum((cnt / tot) * ln(cnt / tot)) / ln(6.0), 6) AS permen3
FROM (
  SELECT user_id, code, CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
  FROM (
    SELECT user_id,
           (CASE WHEN v1 < v THEN 1 ELSE 0 END
            + CASE WHEN v2 < v THEN 1 ELSE 0 END)
         + (CASE WHEN v < v1 THEN 1 ELSE 0 END
            + CASE WHEN v2 < v1 THEN 1 ELSE 0 END
            + CASE WHEN v = v1 THEN 1 ELSE 0 END) * 3
         + (CASE WHEN v < v2 THEN 1 ELSE 0 END
            + CASE WHEN v1 < v2 THEN 1 ELSE 0 END
            + CASE WHEN v = v2 THEN 1 ELSE 0 END
            + CASE WHEN v1 = v2 THEN 1 ELSE 0 END) * 9 AS code
    FROM win WHERE v2 IS NOT NULL
  ) pat
  GROUP BY user_id, code
) c
GROUP BY user_id
""")

# --- IN_AutoMutualInfo 'gaussian' tau=1,2 per user -----------------------------
# Exact for gaussian variables: ami_tau = -0.5 ln(1 - corr(y_t, y_{t+tau})^2)
# (info._mi_gaussian over the lag slices).
QUERIES["user_ami_gaussian"] = _q("""
SELECT user_id,
       round(-0.5 * ln(1.0 - corr(v, v1) * corr(v, v1)), 6) AS ami1,
       round(-0.5 * ln(1.0 - c2 * c2), 6) AS ami2
FROM (
  SELECT user_id, v, v1,
         corr(v, v2) OVER (PARTITION BY user_id) AS c2
  FROM win
) t
WHERE v1 IS NOT NULL
GROUP BY user_id, c2
""")

# --- CO_HistogramAMI 'even' numBins=10 tau=1 per user --------------------------
# Joint 2-D histogram of (y_t, y_{t+1}) over 10 even bins spanning
# [min, max] (the kernel's +-0.1 edge extensions only widen the outer
# bins, which is equivalent to clamping the top index); MI in nats over
# occupied cells with window-sum marginals.
QUERIES["user_histami_even10"] = _q("""
SELECT user_id,
       round(sum((cnt / tot) * ln((cnt / tot) / ((ci / tot) * (cj / tot)))), 6)
         AS histami1
FROM (
  SELECT user_id, cnt, tot,
         sum(cnt) OVER (PARTITION BY user_id, bi) AS ci,
         sum(cnt) OVER (PARTITION BY user_id, bj) AS cj
  FROM (
    SELECT user_id, bi, bj, CAST(count(*) AS DOUBLE) AS cnt,
           CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
    FROM (
      SELECT w2.user_id,
             least(CAST(floor((w2.v - st.mn) / st.bw) AS BIGINT), 9)  AS bi,
             least(CAST(floor((w2.v1 - st.mn) / st.bw) AS BIGINT), 9) AS bj
      FROM win w2
      JOIN (SELECT user_id, min(v) AS mn, (max(v) - min(v)) / 10.0 AS bw
            FROM series GROUP BY user_id) st USING (user_id)
      WHERE w2.v1 IS NOT NULL
    ) b GROUP BY user_id, bi, bj
  ) c
) d
GROUP BY user_id
""")

# --- EN_SampEn m=1,2 r=0.1*std per user ---------------------------------------
# Physionet sampen semantics (entropy.sample_entropy): template matches
# with Chebyshev distance over i<j pairs, no self-matches;
# B_m / A_m restricted to the Richman-Moorman index set (i < j <= N-m-1);
# sampen_m = -ln(A_m / B_m), NULL where undefined (engine emits inf).
QUERIES["user_sampen"] = _q("""
SELECT user_id,
       round(CASE WHEN a1 > 0 AND b1 > 0
                  THEN -ln(CAST(a1 AS DOUBLE) / b1) END, 6) AS sampen1,
       round(CASE WHEN a2 > 0 AND b2 > 0
                  THEN -ln(CAST(a2 AS DOUBLE) / b2) END, 6) AS sampen2
FROM (
  SELECT user_id,
         sum(CASE WHEN rj <= cnt - 2 AND c0 = 1 THEN 1 ELSE 0 END)                       AS b1,
         sum(CASE WHEN rj <= cnt - 2 AND c0 = 1 AND c1 = 1 THEN 1 ELSE 0 END)            AS a1,
         sum(CASE WHEN rj <= cnt - 3 AND c0 = 1 AND c1 = 1 THEN 1 ELSE 0 END)            AS b2,
         sum(CASE WHEN rj <= cnt - 3 AND c0 = 1 AND c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS a2
  FROM (
    SELECT a.user_id, b.rn AS rj, st.cnt AS cnt,
           CASE WHEN abs(a.v - b.v) <= st.r THEN 1 ELSE 0 END   AS c0,
           CASE WHEN abs(a.v1 - b.v1) <= st.r THEN 1 ELSE 0 END AS c1,
           CASE WHEN abs(a.v2 - b.v2) <= st.r THEN 1 ELSE 0 END AS c2
    FROM win a
    JOIN win b ON a.user_id = b.user_id AND a.rn < b.rn
    JOIN (SELECT user_id, 0.1 * stddev_samp(v) AS r, count(*) AS cnt
          FROM series GROUP BY user_id) st
      ON st.user_id = a.user_id
  ) p GROUP BY user_id
) agg
""")

# --- EN_DistributionEntropy 'hist' numBins=10 per user ------------------------
# Equal-width histogram over [min, max] (last bin inclusive); with the
# density*binwidth normalization of the kernel, p_bin = cnt/total, so
# H = -sum p ln p over occupied bins.
# EN_DistributionEntropy 'hist' 10 bins: binpicker 'nice' edges
# (utils.py:113-211, nbins branch: left edge snaps to a width-multiple,
# width refined to p10*ceil(ll/p10)), histc drop-the-exact-max-bin,
# normalized by TOTAL count, and the differential form
# -sum(P*ln(P/binWidth)) where the LAST bin's width is re-le-9*bw.
QUERIES["user_distent10"] = _q("""
, de_stat AS (
  SELECT user_id, min(v) AS mn, max(v) AS mx, CAST(count(*) AS DOUBLE) AS n
  FROM series GROUP BY user_id HAVING max(v) > min(v)
),
de_p1 AS (
  SELECT user_id, mn, mx, n,
         least(bw0 * floor(mn / bw0), mn) AS le
  FROM (
    SELECT user_id, mn, mx, n,
           power(10.0, floor(log10((mx - mn) / 10.0)))
             * floor(((mx - mn) / 10.0)
                     / power(10.0, floor(log10((mx - mn) / 10.0)))) AS bw0
    FROM de_stat
  ) t0
),
de_p2 AS (
  SELECT user_id, mn, mx, n, le,
         p10 * ceil(((mx - le) / 10.0) / p10) AS bw
  FROM (
    SELECT user_id, mn, mx, n, le,
           power(10.0, floor(log10((mx - le) / 9.0 - (mx - le) / 10.0))) AS p10
    FROM de_p1
  ) t1
),
de_p3 AS (
  SELECT user_id, mn, mx, n, le, bw,
         greatest(le + 10.0 * bw, mx) AS re
  FROM de_p2
),
de_cnt AS (
  SELECT s.user_id,
         least(CAST(floor((s.v - p.le) / p.bw) AS BIGINT), 9) AS b,
         CAST(count(*) AS DOUBLE) AS c,
         max(p.n) AS n, max(p.le) AS le, max(p.bw) AS bw, max(p.re) AS re
  FROM series s JOIN de_p3 p USING (user_id)
  WHERE s.v <> p.re
  GROUP BY s.user_id, least(CAST(floor((s.v - p.le) / p.bw) AS BIGINT), 9)
)
SELECT user_id,
       round(-sum((c / n) * ln((c / n)
             / (CASE WHEN b = 9 THEN re - le - 9.0 * bw ELSE bw END))), 6)
         AS distent10
FROM de_cnt GROUP BY user_id
""")

# --------------------------------------------------------------------------
# Training-data pipeline operators over documents / embeddings
# --------------------------------------------------------------------------

QUERIES["doc_token_count"] = _q2(
    """
SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS n_words
FROM documents
""",
    """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
FROM documents
""",
)

QUERIES["doc_quality"] = _q2(
    """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       round(avg(length(word)), 6) AS avg_word_len,
       round(avg(CASE WHEN word IN ('the','a','of','and','to','in','is','on','for')
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS stopword_ratio
FROM (SELECT doc_id, word
      FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word) w
GROUP BY doc_id
""",
    """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       round(avg(length(word)), 6) AS avg_word_len,
       round(avg(CASE WHEN word IN ('the','a','of','and','to','in','is','on','for')
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS stopword_ratio
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents) w
GROUP BY doc_id
""",
)

QUERIES["doc_lang_source_stats"] = _q2(
    """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
FROM documents GROUP BY lang, source
""",
    """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
FROM documents GROUP BY lang, source
""",
)

QUERIES["doc_dedup_exact"] = _q2(
    """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
FROM documents
""",
    """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
FROM documents
""",
)

QUERIES["doc_fingerprint"] = _q2(
    """
SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
""",
    """
SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
""",
)

# n-gram (3-word shingle) Jaccard near-dup pairs
QUERIES["doc_ngram_jaccard"] = _q2(
    """
WITH words AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh
  FROM words
  LATERAL VIEW explode(
    transform(sequence(0, size(ws) - 3),
              idx -> concat_ws(' ', ws[idx], ws[idx + 1], ws[idx + 2]))
  ) t AS sh
  WHERE size(ws) >= 3
),
card AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       round(i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN card ca ON ca.doc_id = i.d1
JOIN card cb ON cb.doc_id = i.d2
WHERE i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE) >= 0.3
""",
    """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 2),
                  idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2])) AS sh
    FROM words WHERE len(ws) >= 3
  ) t
),
card AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       round(i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN card ca ON ca.doc_id = i.d1
JOIN card cb ON cb.doc_id = i.d2
WHERE i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE) >= 0.3
""",
)

# brute-force cosine top-3 neighbors for the first 5 vectors
QUERIES["knn_cosine_top3"] = _q2(
    """
WITH v AS (
  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         aggregate(zip_with(q.e, c.e, (x, y) -> x * y),
                   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
         / (sqrt(aggregate(zip_with(q.e, q.e, (x, y) -> x * y),
                           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
            * sqrt(aggregate(zip_with(c.e, c.e, (x, y) -> x * y),
                             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))) AS cos
  FROM v q JOIN v c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT qid, nid, round(cos, 4) AS cos_sim
FROM (SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
      FROM pairs) t
WHERE rk <= 3
""",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         list_dot_product(q.e, c.e)
         / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
  FROM v q JOIN v c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT qid, nid, round(cos, 4) AS cos_sim
FROM (SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
      FROM pairs) t
WHERE rk <= 3
""",
)

# exact high-cosine near-duplicate pairs (embedding dedup baseline)
QUERIES["embedding_cosine_pairs"] = _q2(
    """
WITH v AS (
  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < 200
),
n AS (
  SELECT vec_id, e,
         sqrt(aggregate(zip_with(e, e, (x, y) -> x * y),
                        CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) AS nrm
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(aggregate(zip_with(a.e, b.e, (x, y) -> x * y),
                       CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
             / (a.nrm * b.nrm), 4) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE aggregate(zip_with(a.e, b.e, (x, y) -> x * y),
                CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
      / (a.nrm * b.nrm) >= 0.3
""",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 200
),
n AS (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
""",
)

# stopword-vote language identification (text.language_id semantics)
_LANG_LISTS = {
    "en": "'the','of','and','to','in','is','that','it','was','for'",
    "es": "'el','la','de','que','y','en','un','los','se','por'",
    "fr": "'le','la','de','et','les','des','en','un','du','que'",
    "de": "'der','die','und','das','von','zu','mit','den','im','ist'",
}
_SPARK_SCORES = ", ".join(
    f"size(array_intersect(words, array({ws}))) AS score_{lg}"
    for lg, ws in _LANG_LISTS.items()
)
_DUCK_SCORES = ", ".join(
    f"len(list_intersect(words, [{ws}])) AS score_{lg}"
    for lg, ws in _LANG_LISTS.items()
)
_PRED_CASE = (
    "CASE WHEN best <= 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lg} = best THEN '{lg}'" for lg in _LANG_LISTS
    )
    + " END"
)
QUERIES["doc_language_id"] = _q2(
    f"""
WITH w AS (
  SELECT doc_id, split(lower(text), ' ') AS words FROM documents
),
s AS (SELECT doc_id, {_SPARK_SCORES} FROM w),
b AS (SELECT *, greatest(score_en, score_es, score_fr, score_de) AS best FROM s)
SELECT doc_id, {_PRED_CASE} AS pred_lang FROM b
""",
    f"""
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
),
s AS (SELECT doc_id, {_DUCK_SCORES} FROM w),
b AS (SELECT *, greatest(score_en, score_es, score_fr, score_de) AS best FROM s)
SELECT doc_id, CAST({_PRED_CASE} AS VARCHAR) AS pred_lang FROM b
""",
)

QUERIES["doc_char_ratios"] = _q2(
    r"""
SELECT doc_id,
       round((length(text) - length(regexp_replace(text, '[^0-9]', ''))) * CAST(1.0 AS DOUBLE)
             / length(text), 6) AS digit_ratio,
       round((length(text) - length(regexp_replace(text, '[^a-z]', ''))) * CAST(1.0 AS DOUBLE)
             / length(text), 6) AS lower_ratio,
       round((length(text) - length(regexp_replace(text, '[^ ]', ''))) * CAST(1.0 AS DOUBLE)
             / length(text), 6) AS space_ratio
FROM documents
""",
    r"""
SELECT doc_id,
       round((length(text) - length(regexp_replace(text, '[^0-9]', '', 'g'))) * 1.0
             / length(text), 6) AS digit_ratio,
       round((length(text) - length(regexp_replace(text, '[^a-z]', '', 'g'))) * 1.0
             / length(text), 6) AS lower_ratio,
       round((length(text) - length(regexp_replace(text, '[^ ]', '', 'g'))) * 1.0
             / length(text), 6) AS space_ratio
FROM documents
""",
)

QUERIES["embedding_norms"] = _q2(
    """
SELECT vec_id, label,
       round(sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                            CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)), 4) AS l2_norm
FROM embeddings
""",
    """
SELECT vec_id, label,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
FROM embeddings
""",
)

# --------------------------------------------------------------------------
# Relational surface (TPC-H-style): the engine is a full Spark SQL engine,
# so classic scan/join/agg/top-k queries are part of the checked surface
# (the reference has none of this — SURVEY.md §2.0).
# --------------------------------------------------------------------------

QUERIES["tpch_q1_pricing_summary"] = _q2(
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE)                         AS sum_qty,
       round(sum(l_extendedprice), 2)                          AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)       AS sum_disc_price,
       round(avg(l_quantity), 6)                               AS avg_qty,
       round(avg(l_extendedprice), 6)                          AS avg_price,
       round(avg(l_discount), 6)                               AS avg_disc,
       CAST(count(*) AS BIGINT)                                AS count_order
FROM lineitem
WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE)                         AS sum_qty,
       round(sum(l_extendedprice), 2)                          AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)       AS sum_disc_price,
       round(avg(l_quantity), 6)                               AS avg_qty,
       round(avg(l_extendedprice), 6)                          AS avg_price,
       round(avg(l_discount), 6)                               AS avg_disc,
       CAST(count(*) AS BIGINT)                                AS count_order
FROM lineitem
WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)

QUERIES["tpch_q3_style_top_orders"] = _q2(
    """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(o.o_orderdate AS STRING) AS orderdate
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""",
    """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(o.o_orderdate AS VARCHAR) AS orderdate
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""",
)

QUERIES["tpch_q5_style_nation_revenue"] = _q2(
    """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)

QUERIES["tpch_supplier_part_stats"] = _q2(
    """
SELECT s.s_nationkey,
       CAST(count(DISTINCT p.p_partkey) AS BIGINT) AS n_parts,
       round(avg(p.p_retailprice), 6) AS avg_price
FROM supplier s JOIN part p ON p.p_partkey % 10 = s.s_suppkey % 10
GROUP BY s.s_nationkey
""",
    """
SELECT s.s_nationkey,
       CAST(count(DISTINCT p.p_partkey) AS BIGINT) AS n_parts,
       round(avg(p.p_retailprice), 6) AS avg_price
FROM supplier s JOIN part p ON p.p_partkey % 10 = s.s_suppkey % 10
GROUP BY s.s_nationkey
""",
)

# --------------------------------------------------------------------------
# DuckDB oracles for ENGINE-side queries (the Spark half runs the actual
# engine operator in __spark_entry__, not SQL). Each SQL below recomputes
# the same math independently in ANSI SQL.
#
# The rollup oracle is BIT-EXACT by construction: tokens are integers, so
# every state sum (s1, s2, sxy, head/tail strip sums) is an exact integer
# in float64, and the final expressions mirror stats_state.finalize()'s
# IEEE operation order term by term — both engines then produce identical
# doubles before rounding.
# --------------------------------------------------------------------------

ENGINE_ORACLES: dict[str, str] = {}

# Tiered rollup, window=4, group=4, 3 tiers (wlen 4 / 16 / 64), lags 1,2.
# Tier t of the engine merges 4^t tier-0 ALG states; because merge adds the
# exact boundary lag-products, the merged state equals the direct state of
# the wlen-length window, which is what this SQL computes per tier.
ENGINE_ORACLES["rollup_tiers_events"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v
  FROM events
),
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 4 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 16
  UNION ALL SELECT CAST(2 AS INTEGER), 64
),
w AS (
  SELECT s.doc_id, s.source, t.tier, t.wlen,
         CAST(floor(s.rn / t.wlen) AS BIGINT) AS window_idx,
         s.rn % t.wlen AS i, s.v,
         lead(s.v)    OVER (PARTITION BY s.doc_id, t.tier ORDER BY s.rn) AS v1,
         lead(s.v, 2) OVER (PARTITION BY s.doc_id, t.tier ORDER BY s.rn) AS v2
  FROM series s CROSS JOIN tiers t
),
agg AS (
  SELECT doc_id, source, tier, window_idx,
         CAST(count(*) AS BIGINT)                 AS n,
         CAST(max(wlen) AS DOUBLE)                AS nd,
         sum(v)                                   AS s1,
         sum(v * v)                               AS s2,
         sum(v * v1) FILTER (WHERE i < wlen - 1)  AS sxy1,
         sum(v * v2) FILTER (WHERE i < wlen - 2)  AS sxy2,
         sum(v)      FILTER (WHERE i < wlen - 1)  AS s1a1,
         sum(v * v)  FILTER (WHERE i < wlen - 1)  AS s2a1,
         sum(v)      FILTER (WHERE i >= 1)        AS s1b1,
         sum(v * v)  FILTER (WHERE i >= 1)        AS s2b1,
         sum(v)      FILTER (WHERE i < wlen - 2)  AS s1a2,
         sum(v * v)  FILTER (WHERE i < wlen - 2)  AS s2a2,
         sum(v)      FILTER (WHERE i >= 2)        AS s1b2,
         sum(v * v)  FILTER (WHERE i >= 2)        AS s2b2,
         max(CASE WHEN i = 0 THEN v END)          AS y0,
         max(CASE WHEN i = wlen - 1 THEN v END)   AS ylast
  FROM w
  GROUP BY doc_id, source, tier, window_idx
  HAVING count(*) = max(wlen)
),
f1 AS (SELECT *, s1 / nd AS mean FROM agg),
f2 AS (
  SELECT *,
         greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM f1
),
f3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r,
         s1a1 / (nd - 1.0) AS mu1a, s1b1 / (nd - 1.0) AS mu1b,
         s1a2 / (nd - 2.0) AS mu2a, s1b2 / (nd - 2.0) AS mu2b
  FROM f2
),
f4 AS (
  SELECT *,
         sqrt(greatest(s2a1 / (nd - 1.0) - mu1a * mu1a, 0.0)) AS sg1a,
         sqrt(greatest(s2b1 / (nd - 1.0) - mu1b * mu1b, 0.0)) AS sg1b,
         sqrt(greatest(s2a2 / (nd - 2.0) - mu2a * mu2a, 0.0)) AS sg2a,
         sqrt(greatest(s2b2 / (nd - 2.0) - mu2b * mu2b, 0.0)) AS sg2b
  FROM f3
)
SELECT doc_id, source, tier, window_idx, n,
       round(mean, 6) AS mean_v,
       round(var, 6)  AS var_v,
       round(std, 6)  AS std_v,
       round((sxy1 / (nd - 1.0) - mu1a * mu1b) / nullif(sg1a * sg1b, 0.0), 6) AS ac1_td,
       round((sxy2 / (nd - 2.0) - mu2a * mu2b) / nullif(sg2a * sg2b, 0.0), 6) AS ac2_td,
       round(CASE WHEN s2 - nd * (mean * mean) > 0.0 THEN
               ((sxy1 - mean * ((2.0 * s1 - y0) - ylast)) + (nd - 1.0) * (mean * mean))
               / (s2 - nd * (mean * mean))
             ELSE NULL END, 6) AS ac1_f,
       round((r - 1.0) / (r + 1.0), 6) AS burst_b,
       round((sqrt(nd + 1.0) * r - sqrt(nd - 1.0))
             / nullif((sqrt(nd + 1.0) - 2.0) * r + sqrt(nd - 1.0), 0.0), 6) AS burst_b_kim
FROM f4
"""

# Retention-path cascade: tier 1 built purely from the materialized
# tier-0 store (operators/rollup.cascade_from_store) must equal the
# direct 16-token-window computation over raw events — the exact
# mergeability of the ALG state is the engine's continuous-aggregate
# correctness claim. Same bit-exact construction as the rollup oracle,
# restricted to the wlen=16 tier (HOL columns are NULL on the cascade
# path and excluded here).
ENGINE_ORACLES["rollup_cascade_tier1"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v
  FROM events
),
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 16) AS BIGINT) AS window_idx,
         rn % 16 AS i, v,
         lead(v)    OVER (PARTITION BY doc_id ORDER BY rn) AS v1,
         lead(v, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS v2
  FROM series
),
agg AS (
  SELECT doc_id, source, window_idx,
         CAST(count(*) AS BIGINT)              AS n,
         CAST(16 AS DOUBLE)                    AS nd,
         sum(v)                                AS s1,
         sum(v * v)                            AS s2,
         sum(v * v1) FILTER (WHERE i < 15)     AS sxy1,
         sum(v * v2) FILTER (WHERE i < 14)     AS sxy2,
         sum(v)      FILTER (WHERE i < 15)     AS s1a1,
         sum(v * v)  FILTER (WHERE i < 15)     AS s2a1,
         sum(v)      FILTER (WHERE i >= 1)     AS s1b1,
         sum(v * v)  FILTER (WHERE i >= 1)     AS s2b1,
         sum(v)      FILTER (WHERE i < 14)     AS s1a2,
         sum(v * v)  FILTER (WHERE i < 14)     AS s2a2,
         sum(v)      FILTER (WHERE i >= 2)     AS s1b2,
         sum(v * v)  FILTER (WHERE i >= 2)     AS s2b2
  FROM w
  GROUP BY doc_id, source, window_idx
  HAVING count(*) = 16
),
f1 AS (SELECT *, s1 / nd AS mean FROM agg),
f2 AS (
  SELECT *, greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM f1
),
f3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r,
         s1a1 / (nd - 1.0) AS mu1a, s1b1 / (nd - 1.0) AS mu1b,
         s1a2 / (nd - 2.0) AS mu2a, s1b2 / (nd - 2.0) AS mu2b
  FROM f2
)
SELECT doc_id, source, window_idx, n,
       round(mean, 6) AS mean_v,
       round(var, 6)  AS var_v,
       round(std, 6)  AS std_v,
       round((sxy1 / (nd - 1.0) - mu1a * mu1b)
             / nullif(sqrt(greatest(s2a1 / (nd - 1.0) - mu1a * mu1a, 0.0))
                      * sqrt(greatest(s2b1 / (nd - 1.0) - mu1b * mu1b, 0.0)), 0.0), 6) AS ac1_td,
       round((sxy2 / (nd - 2.0) - mu2a * mu2b)
             / nullif(sqrt(greatest(s2a2 / (nd - 2.0) - mu2a * mu2a, 0.0))
                      * sqrt(greatest(s2b2 / (nd - 2.0) - mu2b * mu2b, 0.0)), 0.0), 6) AS ac2_td,
       round((r - 1.0) / (r + 1.0), 6) AS burst_b,
       round((sqrt(nd + 1.0) * r - sqrt(nd - 1.0))
             / nullif((sqrt(nd + 1.0) - 2.0) * r + sqrt(nd - 1.0), 0.0), 6) AS burst_b_kim
FROM f3
"""

# Resolution-router gate (operators/rollup.rollup_at_resolution):
# a bucket of 8 base windows (32 tokens) is served from TIER 1 with a
# residual group of 2 — the answer must be bit-identical to computing
# 32-token windows directly from raw events (the same exact-ALG-merge
# claim as rollup_cascade_tier1, one more merge level deep). Same SQL
# construction, re-derived at wlen = 32.
ENGINE_ORACLES["rollup_resolution_8"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v
  FROM events
),
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 32) AS BIGINT) AS window_idx,
         rn % 32 AS i, v,
         lead(v)    OVER (PARTITION BY doc_id ORDER BY rn) AS v1,
         lead(v, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS v2
  FROM series
),
agg AS (
  SELECT doc_id, source, window_idx,
         CAST(count(*) AS BIGINT)              AS n,
         CAST(32 AS DOUBLE)                    AS nd,
         sum(v)                                AS s1,
         sum(v * v)                            AS s2,
         sum(v * v1) FILTER (WHERE i < 31)     AS sxy1,
         sum(v * v2) FILTER (WHERE i < 30)     AS sxy2,
         sum(v)      FILTER (WHERE i < 31)     AS s1a1,
         sum(v * v)  FILTER (WHERE i < 31)     AS s2a1,
         sum(v)      FILTER (WHERE i >= 1)     AS s1b1,
         sum(v * v)  FILTER (WHERE i >= 1)     AS s2b1,
         sum(v)      FILTER (WHERE i < 30)     AS s1a2,
         sum(v * v)  FILTER (WHERE i < 30)     AS s2a2,
         sum(v)      FILTER (WHERE i >= 2)     AS s1b2,
         sum(v * v)  FILTER (WHERE i >= 2)     AS s2b2
  FROM w
  GROUP BY doc_id, source, window_idx
  HAVING count(*) = 32
),
f1 AS (SELECT *, s1 / nd AS mean FROM agg),
f2 AS (
  SELECT *, greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM f1
),
f3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r,
         s1a1 / (nd - 1.0) AS mu1a, s1b1 / (nd - 1.0) AS mu1b,
         s1a2 / (nd - 2.0) AS mu2a, s1b2 / (nd - 2.0) AS mu2b
  FROM f2
)
SELECT doc_id, source, window_idx, n,
       round(mean, 6) AS mean_v,
       round(var, 6)  AS var_v,
       round(std, 6)  AS std_v,
       round((sxy1 / (nd - 1.0) - mu1a * mu1b)
             / nullif(sqrt(greatest(s2a1 / (nd - 1.0) - mu1a * mu1a, 0.0))
                      * sqrt(greatest(s2b1 / (nd - 1.0) - mu1b * mu1b, 0.0)), 0.0), 6) AS ac1_td,
       round((sxy2 / (nd - 2.0) - mu2a * mu2b)
             / nullif(sqrt(greatest(s2a2 / (nd - 2.0) - mu2a * mu2a, 0.0))
                      * sqrt(greatest(s2b2 / (nd - 2.0) - mu2b * mu2b, 0.0)), 0.0), 6) AS ac2_td,
       round((r - 1.0) / (r + 1.0), 6) AS burst_b,
       round((sqrt(nd + 1.0) * r - sqrt(nd - 1.0))
             / nullif((sqrt(nd + 1.0) - 2.0) * r + sqrt(nd - 1.0), 0.0), 6) AS burst_b_kim
FROM f3
"""


# Exact-quantile rollup (operators/quantile_rollup.rollup_quantile_tiers):
# per-window inverted-CDF quantiles / mode / distinct count over the
# integer token domain, tiers built by MERGING sparse histogram state
# in one shuffle-free mapInArrow pass. The oracle recomputes every
# window directly from raw events in pure integer arithmetic: the
# quantile threshold "cum >= ceil(q*n)" is expressed as
# den*cum >= num*n (integers both sides), so no float boundary can
# split the engines. Mode tie-break = smallest token (min FILTER).
ENGINE_ORACLES["rollup_quantiles"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 4 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 16
  UNION ALL SELECT CAST(2 AS INTEGER), 64
),
w AS (
  SELECT s.doc_id, s.source, t.tier, t.wlen,
         CAST(floor(s.rn / t.wlen) AS BIGINT) AS window_idx, s.tok
  FROM series s CROSS JOIN tiers t
),
vc AS (
  SELECT doc_id, source, tier, wlen, window_idx, tok,
         CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY doc_id, source, tier, wlen, window_idx, tok
),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY doc_id, tier, window_idx
                         ORDER BY tok) AS cumc
  FROM vc
),
tot AS (
  SELECT doc_id, source, tier, wlen, window_idx,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS maxc
  FROM vc GROUP BY doc_id, source, tier, wlen, window_idx
  HAVING sum(c) = wlen
)
SELECT t.doc_id, t.source, t.tier, t.window_idx, t.n, t.n_distinct,
       CAST(min(c.tok) FILTER (WHERE c.c = t.maxc) AS INTEGER) AS mode_tok,
       t.maxc AS mode_count,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 25 * t.n) AS INTEGER) AS p25,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 50 * t.n) AS INTEGER) AS p50,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 75 * t.n) AS INTEGER) AS p75,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 90 * t.n) AS INTEGER) AS p90
FROM tot t
JOIN cum c ON c.doc_id = t.doc_id AND c.tier = t.tier
          AND c.window_idx = t.window_idx
GROUP BY t.doc_id, t.source, t.tier, t.window_idx, t.n, t.n_distinct, t.maxc
"""

# Retention path for order statistics: tier 1 computed ONLY from the
# materialized tier-0 histogram store
# (operators/quantile_rollup.quantile_cascade_from_store). Unlike the
# ALG cascade — whose HOL columns go NULL once raw is gone — the sparse
# histogram state keeps EVERY output column exact after the merge, which
# this oracle proves by recomputing tier 1 directly from raw events.
ENGINE_ORACLES["rollup_quantile_cascade"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 16) AS BIGINT) AS window_idx, tok
  FROM series
),
vc AS (
  SELECT doc_id, source, window_idx, tok,
         CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY doc_id, source, window_idx, tok
),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY doc_id, window_idx
                         ORDER BY tok) AS cumc
  FROM vc
),
tot AS (
  SELECT doc_id, source, window_idx,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS maxc
  FROM vc GROUP BY doc_id, source, window_idx
  HAVING sum(c) = 16
)
SELECT t.doc_id, t.source, CAST(1 AS INTEGER) AS tier, t.window_idx,
       t.n, t.n_distinct,
       CAST(min(c.tok) FILTER (WHERE c.c = t.maxc) AS INTEGER) AS mode_tok,
       t.maxc AS mode_count,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 25 * t.n) AS INTEGER) AS p25,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 50 * t.n) AS INTEGER) AS p50,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 75 * t.n) AS INTEGER) AS p75,
       CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 90 * t.n) AS INTEGER) AS p90
FROM tot t
JOIN cum c ON c.doc_id = t.doc_id AND c.window_idx = t.window_idx
GROUP BY t.doc_id, t.source, t.window_idx, t.n, t.n_distinct, t.maxc
"""

# Ad-hoc heavy hitters from the materialized hist store
# (operators/quantile_rollup.topk_tokens_from_store): top-3 tokens per
# tier-1 window, count desc / token asc — a question the store was never
# precomputed for, answered exactly from hist_bin with no raw revisit.
# The oracle recomputes the counts from raw events with row_number.
ENGINE_ORACLES["rollup_topk_tokens"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 16) AS BIGINT) AS window_idx, tok
  FROM series
),
vc AS (
  SELECT doc_id, source, window_idx, tok,
         CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY doc_id, source, window_idx, tok
),
tot AS (
  SELECT doc_id, window_idx
  FROM vc GROUP BY doc_id, window_idx
  HAVING sum(c) = 16
),
rk AS (
  SELECT vc.*,
         CAST(row_number() OVER (PARTITION BY vc.doc_id, vc.window_idx
                                 ORDER BY vc.c DESC, vc.tok ASC) AS BIGINT) AS rank
  FROM vc JOIN tot ON vc.doc_id = tot.doc_id
                  AND vc.window_idx = tot.window_idx
)
SELECT doc_id, source, CAST(1 AS INTEGER) AS tier, window_idx, rank,
       CAST(tok AS INTEGER) AS token, c AS tok_count
FROM rk WHERE rank <= 3
"""

# As-of join (operators/temporal_join.asof_join): every event picks the
# most recent 'error' event of the same user at-or-before its timestamp.
# The engine side is the MERGE formulation (union + single window scan,
# one shuffle, no join node); the oracle is DuckDB's native ASOF LEFT
# JOIN — a completely independent algorithm, which is what makes this a
# strong check. Right-side (user_id, ts) pairs are tie-free at every SF
# (verified), so both formulations are deterministic.
ENGINE_ORACLES["user_asof_error"] = """
SELECT e.user_id, e.event_id, round(e.value, 6) AS value_v,
       round(m.mv, 6) AS mark_value,
       CAST(epoch_us(m.mts) AS BIGINT) AS mark_ts_us
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts AS mts, value AS mv
                FROM events WHERE event_type = 'error') m
  ON e.user_id = m.user_id AND e.ts >= m.mts
"""

# Range join (operators/temporal_join.range_join): events inside the
# 30-minute window opened by each same-user 'error' event. The engine
# explodes intervals to fixed-width buckets and equi-joins (each pair
# meets in exactly one bucket — the point's); the oracle is the plain
# inequality join, which is fine at oracle scale and a cartesian bomb
# at engine scale.
ENGINE_ORACLES["user_range_error"] = """
SELECT e.user_id, e.event_id,
       CAST(epoch_us(i.ts) AS BIGINT) AS ivl_start_us,
       round(e.value, 6) AS value_v
FROM events e
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') i
  ON e.user_id = i.user_id
 AND epoch_us(e.ts) >= epoch_us(i.ts)
 AND epoch_us(e.ts) < epoch_us(i.ts) + 1800000000
"""

# Gap-fill path: interior offsets rn % 7 == 3 are dropped; the engine's
# gap_fill (np.interp: linear interior, edge clamp) reconstructs the
# dense series before windowing. This SQL re-derives the filled values
# with IGNORE NULLS windows and np.interp's exact arithmetic
# (slope = (v_r - v_l)/(o_r - o_l); fv = slope*(rn - o_l) + v_l), then
# computes the same tier-0/1 window features as the rollup oracle.
ENGINE_ORACLES["rollup_gapfill"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
),
mark AS (
  SELECT *, CASE WHEN rn % 7 = 3 AND rn > 0 AND rn < cnt - 1
                 THEN 0 ELSE 1 END AS kept
  FROM series
),
nb AS (
  SELECT *,
         last_value(CASE WHEN kept = 1 THEN rn END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o_l,
         last_value(CASE WHEN kept = 1 THEN v END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_l,
         first_value(CASE WHEN kept = 1 THEN rn END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY rn
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS o_r,
         first_value(CASE WHEN kept = 1 THEN v END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY rn
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_r
  FROM mark
),
filled AS (
  SELECT doc_id, source, rn,
         CASE WHEN kept = 1 THEN v
              WHEN o_l IS NULL THEN v_r
              WHEN o_r IS NULL THEN v_l
              ELSE ((v_r - v_l) / (o_r - o_l)) * (rn - o_l) + v_l
         END AS v
  FROM nb
),
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 4 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 16
),
w AS (
  SELECT f.doc_id, f.source, t.tier, t.wlen,
         CAST(floor(f.rn / t.wlen) AS BIGINT) AS window_idx,
         f.rn % t.wlen AS i, f.v,
         lead(f.v)    OVER (PARTITION BY f.doc_id, t.tier ORDER BY f.rn) AS v1,
         lead(f.v, 2) OVER (PARTITION BY f.doc_id, t.tier ORDER BY f.rn) AS v2
  FROM filled f CROSS JOIN tiers t
),
agg AS (
  SELECT doc_id, source, tier, window_idx,
         CAST(count(*) AS BIGINT)                 AS n,
         CAST(max(wlen) AS DOUBLE)                AS nd,
         sum(v)                                   AS s1,
         sum(v * v)                               AS s2,
         sum(v * v1) FILTER (WHERE i < wlen - 1)  AS sxy1,
         sum(v * v2) FILTER (WHERE i < wlen - 2)  AS sxy2,
         sum(v)      FILTER (WHERE i < wlen - 1)  AS s1a1,
         sum(v * v)  FILTER (WHERE i < wlen - 1)  AS s2a1,
         sum(v)      FILTER (WHERE i >= 1)        AS s1b1,
         sum(v * v)  FILTER (WHERE i >= 1)        AS s2b1,
         sum(v)      FILTER (WHERE i < wlen - 2)  AS s1a2,
         sum(v * v)  FILTER (WHERE i < wlen - 2)  AS s2a2,
         sum(v)      FILTER (WHERE i >= 2)        AS s1b2,
         sum(v * v)  FILTER (WHERE i >= 2)        AS s2b2
  FROM w
  GROUP BY doc_id, source, tier, window_idx
  HAVING count(*) = max(wlen)
),
f1 AS (SELECT *, s1 / nd AS mean FROM agg),
f2 AS (
  SELECT *, greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM f1
),
f3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r,
         s1a1 / (nd - 1.0) AS mu1a, s1b1 / (nd - 1.0) AS mu1b,
         s1a2 / (nd - 2.0) AS mu2a, s1b2 / (nd - 2.0) AS mu2b
  FROM f2
)
SELECT doc_id, source, tier, window_idx, n,
       round(mean, 6) AS mean_v,
       round(var, 6)  AS var_v,
       round(std, 6)  AS std_v,
       round((sxy1 / (nd - 1.0) - mu1a * mu1b)
             / nullif(sqrt(greatest(s2a1 / (nd - 1.0) - mu1a * mu1a, 0.0))
                      * sqrt(greatest(s2b1 / (nd - 1.0) - mu1b * mu1b, 0.0)), 0.0), 6) AS ac1_td,
       round((sxy2 / (nd - 2.0) - mu2a * mu2b)
             / nullif(sqrt(greatest(s2a2 / (nd - 2.0) - mu2a * mu2a, 0.0))
                      * sqrt(greatest(s2b2 / (nd - 2.0) - mu2b * mu2b, 0.0)), 0.0), 6) AS ac2_td,
       round((r - 1.0) / (r + 1.0), 6) AS burst_b,
       round((sqrt(nd + 1.0) * r - sqrt(nd - 1.0))
             / nullif((sqrt(nd + 1.0) - 2.0) * r + sqrt(nd - 1.0), 0.0), 6) AS burst_b_kim
FROM f3
"""

# hctsa-style feature matrix over W=16 token windows: the registry path
# (plans/registry.FeatureSet -> operators/features.extract_features) with
# SQL-expressible kernels; labels match the engine's column names.
ENGINE_ORACLES["feature_matrix"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v
  FROM events
),
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 16) AS BIGINT) AS window_idx,
         rn % 16 AS i, v,
         lead(v)    OVER (PARTITION BY doc_id ORDER BY rn) AS v1,
         lead(v, 2) OVER (PARTITION BY doc_id ORDER BY rn) AS v2,
         lead(v, 3) OVER (PARTITION BY doc_id ORDER BY rn) AS v3
  FROM series
),
agg AS (
  SELECT doc_id, source, window_idx,
         avg(v)                                    AS mean_v,
         stddev_samp(v)                            AS std_v,
         sum(v * v1)           FILTER (WHERE i < 15) AS sxy1,
         sum(v)                FILTER (WHERE i < 15) AS s1a1,
         sum(v * v)            FILTER (WHERE i < 15) AS s2a1,
         sum(v)                FILTER (WHERE i >= 1) AS s1b1,
         sum(v * v)            FILTER (WHERE i >= 1) AS s2b1,
         sum(v * v2)           FILTER (WHERE i < 14) AS sxy2,
         sum(v)                FILTER (WHERE i < 14) AS s1a2,
         sum(v * v)            FILTER (WHERE i < 14) AS s2a2,
         sum(v)                FILTER (WHERE i >= 2) AS s1b2,
         sum(v * v)            FILTER (WHERE i >= 2) AS s2b2,
         sum(v * v3)           FILTER (WHERE i < 13) AS sxy3,
         sum(v)                FILTER (WHERE i < 13) AS s1a3,
         sum(v * v)            FILTER (WHERE i < 13) AS s2a3,
         sum(v)                FILTER (WHERE i >= 3) AS s1b3,
         sum(v * v)            FILTER (WHERE i >= 3) AS s2b3,
         avg((v1 - v) * (v1 - v) * (v1 - v)) FILTER (WHERE i < 15) AS tnum,
         avg((v1 - v) * (v1 - v))            FILTER (WHERE i < 15) AS td2
  FROM w
  GROUP BY doc_id, source, window_idx
  HAVING count(*) = 16
),
fin AS (
  SELECT *,
         std_v / nullif(mean_v, 0.0) AS r,
         power(td2, 1.5) AS tden,
         s1a1 / 15.0 AS m1a, s1b1 / 15.0 AS m1b,
         s1a2 / 14.0 AS m2a, s1b2 / 14.0 AS m2b,
         s1a3 / 13.0 AS m3a, s1b3 / 13.0 AS m3b
  FROM agg
)
SELECT doc_id, source, window_idx,
       round(mean_v, 6) AS "DN_Mean",
       round(std_v, 6)  AS "DN_Spread_std",
       round((sxy1 / 15.0 - m1a * m1b)
             / nullif(sqrt(greatest(s2a1 / 15.0 - m1a * m1a, 0.0))
                      * sqrt(greatest(s2b1 / 15.0 - m1b * m1b, 0.0)), 0.0), 6) AS "ACtd_1",
       round((sxy2 / 14.0 - m2a * m2b)
             / nullif(sqrt(greatest(s2a2 / 14.0 - m2a * m2a, 0.0))
                      * sqrt(greatest(s2b2 / 14.0 - m2b * m2b, 0.0)), 0.0), 6) AS "ACtd_2",
       round((sxy3 / 13.0 - m3a * m3b)
             / nullif(sqrt(greatest(s2a3 / 13.0 - m3a * m3a, 0.0))
                      * sqrt(greatest(s2b3 / 13.0 - m3b * m3b, 0.0)), 0.0), 6) AS "ACtd_3",
       round((r - 1.0) / (r + 1.0), 6) AS "DN_Burstiness_B",
       round((sqrt(17.0) * r - sqrt(15.0))
             / nullif((sqrt(17.0) - 2.0) * r + sqrt(15.0), 0.0), 6) AS "DN_Burstiness_B_Kim",
       round(tnum / nullif(tden, 0.0), 6)      AS "CO_trev_1_raw",
       round(abs(tnum) / nullif(tden, 0.0), 6) AS "CO_trev_1_abs",
       round(tnum, 6)                          AS "CO_trev_1_num",
       round(abs(tnum), 6)                     AS "CO_trev_1_absnum",
       round(tden, 6)                          AS "CO_trev_1_denom"
FROM fin
"""

# MinHash-LSH near-dup pipeline: the engine generates candidates by LSH
# banding and verifies each with EXACT shingle Jaccard; at threshold 0.3
# the true pairs in this corpus all have J >= 0.9, where 16-band/4-row
# LSH recall is 1 - (1 - J^4)^16 > 1 - 3e-8 — so the verified pair set
# equals the exhaustive exact-Jaccard pair set this oracle computes.
ENGINE_ORACLES["minhash_dedup_pairs"] = QUERIES["doc_ngram_jaccard"]["duck"]

# Incremental MinHash-LSH index probe (operators/dedup_index.py): base
# 4/5 of the corpus indexed, delta 1/5 probed against it. The engine
# verifies every LSH candidate with EXACT shingle Jaccard, and this
# corpus's qualifying cross pairs all have J >= 0.9 (where 32x2 derived
# banding recall is 1 - (1 - 0.9^2)^32 ~ 1 - 2e-24), so the engine's
# pair set equals the exhaustive cross-side exact-Jaccard set below.
ENGINE_ORACLES["minhash_index_delta_pairs"] = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 2),
                  idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2])) AS sh
    FROM words WHERE len(ws) >= 3
  ) t
),
card AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh
  WHERE a.doc_id % 5 != 0 AND b.doc_id % 5 = 0
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       round(i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN card ca ON ca.doc_id = i.d1
JOIN card cb ON cb.doc_id = i.d2
WHERE i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE) >= 0.3
"""

# SimHash near-dup pairs: the engine computes md5-bit SimHash fingerprints
# (operators/dedup.simhash_md5) with 4x16-bit pigeonhole blocking — the
# scale-safe default tier (65,536 buckets per chunk, exact full recall at
# hamming <= 3); this oracle recomputes the identical fingerprints from
# md5 nibbles and takes the exhaustive all-pairs hamming join — candidate
# blocking must lose nothing at the configured recall tier.
ENGINE_ORACLES["simhash_near_pairs"] = """
WITH words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
),
wh AS (SELECT doc_id, md5(word) AS h FROM words),
bits AS (
  SELECT wh.doc_id, b.b,
         ((instr('0123456789abcdef', substr(wh.h, (b.b // 4) + 1, 1)) - 1)
           >> (3 - (b.b % 4))) & 1 AS bit
  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
),
v AS (
  SELECT doc_id, b, sum(2 * bit - 1) AS vote FROM bits GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 AND b < 32
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)        AS fp_lo,
         CAST(sum(CASE WHEN vote > 0 AND b >= 32
                  THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS fp_hi
  FROM v GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       CAST(bit_count(xor(a.fp_lo, b2.fp_lo))
            + bit_count(xor(a.fp_hi, b2.fp_hi)) AS BIGINT) AS hamming
FROM fp a JOIN fp b2 ON a.doc_id < b2.doc_id
WHERE bit_count(xor(a.fp_lo, b2.fp_lo)) + bit_count(xor(a.fp_hi, b2.fp_hi)) <= 3
"""

# IVF ANN at full probe (nprobe = nlist) must reproduce the exact
# brute-force top-3 bit-for-bit — this verifies the entire index
# machinery (k-means centroids, inverted-list assignment, query routing,
# in-list search, top-k ranking) end-to-end against the same SQL oracle
# as knn_cosine_top3. Partial probe (nprobe << nlist) is the scale knob;
# its recall/cost tradeoff is asserted in pytest, not here (the synthetic
# embeddings are near-isotropic, so no fixed per-query recall bound at
# partial probe would be honest).
ENGINE_ORACLES["knn_ivf"] = QUERIES["knn_cosine_top3"]["duck"]

# Persistent IVF index LIFECYCLE (build over 80% of the corpus ->
# append_to_ivf_index the remaining 20% "daily embedding batch" ->
# full-probe knn_ivf_index): the appended index must answer queries
# bit-identically to brute force over the UNION corpus — the same
# oracle as knn_ivf, now additionally proving the delta-append path
# (map-side assignment against the index's own centroids + partition
# append) loses/garbles nothing. Partial-probe equivalence of appended
# vs built vectors is pinned in tests/test_vector_index.py.
ENGINE_ORACLES["knn_ivf_index_delta"] = QUERIES["knn_cosine_top3"]["duck"]

# Multimodal decode->featurize: the fake decoder is seeded and
# deterministic, so the engine output is reproducible bit-for-bit; the
# oracle reads the committed golden snapshot (scripts/gen_media_golden.py).
ENGINE_ORACLES["media_features"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_features_48.parquet')
"""

# Video frame sampling (operators/multimodal.sample_video_frames): the
# golden is generated from the spec by scripts/gen_media_golden.py with
# plain numpy (no shared code path with the operator).
ENGINE_ORACLES["media_frames"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_frames_48.parquet')
"""

# REAL-codec decode (WAV/PPM/BMP/P6-stream payloads through the
# pure-numpy spec parsers, operators/codecs.py): golden derived from the
# container SPECS by scripts/gen_media_real_golden.py — header lengths,
# PCM quantization, and row padding recomputed with no engine import.
ENGINE_ORACLES["media_real_decode"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_real_48.parquet')
"""

# PNG/GIF in-repo decode: golden recomputed from spec-side content by
# scripts/gen_media_compressed_golden.py (losslessness makes decoded
# output == generated content; no engine import in the generator).
ENGINE_ORACLES["media_compressed_decode"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_compressed_48.parquet')
"""

# WET crawl ingestion: archives AND golden are both written spec-side
# by scripts/gen_wet_fixtures.py (its own serializer, no engine
# import); the engine's parser must reproduce the golden exactly.
ENGINE_ORACLES["wet_ingest"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/wet_ingest_90.parquet')
"""

# HTML -> clean-text extraction: fixture corpus AND golden are written
# by scripts/gen_html_fixtures.py, where the expected text is known BY
# CONSTRUCTION (documents are templated around known canonical
# paragraphs; markup/entity/boilerplate noise must canonicalize back) —
# no second extractor implementation exists anywhere.
ENGINE_ORACLES["doc_html_extract"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/html_extract_60.parquet')
"""

# Full crawl path (WARC archive -> response parse -> HTTP strip ->
# HTML extraction) must land on the SAME golden: the archive framing
# is byte-transparent to the extraction.
ENGINE_ORACLES["doc_warc_html_extract"] = ENGINE_ORACLES["doc_html_extract"]

# Full rollup schema at the flagship window=8 configuration (wlen
# 8/32/128), INCLUDING the HOL column: hazen spread_iqr is order-stat
# rank arithmetic (pos = p*n + 0.5, linear interpolation between the
# bracketing order statistics — numpy method='hazen', kernels.py
# iqr_hazen_2d), recomputed here per (doc, tier, window). s1/s2 are the
# raw ALG state sums (exact integers). Same bit-exact construction as
# the rollup_tiers_events oracle otherwise.
ENGINE_ORACLES["rollup_full_events"] = """
WITH series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(CAST(round(value) AS INTEGER) AS DOUBLE) AS v
  FROM events
),
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 8 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 32
  UNION ALL SELECT CAST(2 AS INTEGER), 128
),
w AS (
  SELECT s.doc_id, s.source, t.tier, t.wlen,
         CAST(floor(s.rn / t.wlen) AS BIGINT) AS window_idx,
         s.rn % t.wlen AS i, s.v,
         lead(s.v)    OVER (PARTITION BY s.doc_id, t.tier ORDER BY s.rn) AS v1,
         lead(s.v, 2) OVER (PARTITION BY s.doc_id, t.tier ORDER BY s.rn) AS v2
  FROM series s CROSS JOIN tiers t
),
agg AS (
  SELECT doc_id, source, tier, window_idx,
         CAST(count(*) AS BIGINT)                 AS n,
         CAST(max(wlen) AS DOUBLE)                AS nd,
         sum(v)                                   AS s1,
         sum(v * v)                               AS s2,
         sum(v * v1) FILTER (WHERE i < wlen - 1)  AS sxy1,
         sum(v * v2) FILTER (WHERE i < wlen - 2)  AS sxy2,
         sum(v)      FILTER (WHERE i < wlen - 1)  AS s1a1,
         sum(v * v)  FILTER (WHERE i < wlen - 1)  AS s2a1,
         sum(v)      FILTER (WHERE i >= 1)        AS s1b1,
         sum(v * v)  FILTER (WHERE i >= 1)        AS s2b1,
         sum(v)      FILTER (WHERE i < wlen - 2)  AS s1a2,
         sum(v * v)  FILTER (WHERE i < wlen - 2)  AS s2a2,
         sum(v)      FILTER (WHERE i >= 2)        AS s1b2,
         sum(v * v)  FILTER (WHERE i >= 2)        AS s2b2,
         max(CASE WHEN i = 0 THEN v END)          AS y0,
         max(CASE WHEN i = wlen - 1 THEN v END)   AS ylast
  FROM w
  GROUP BY doc_id, source, tier, window_idx
  HAVING count(*) = max(wlen)
),
hq AS (
  SELECT doc_id, tier, window_idx, v,
         row_number() OVER (PARTITION BY doc_id, tier, window_idx ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY doc_id, tier, window_idx) AS cnt
  FROM w
),
ps AS (
  SELECT CAST(0.25 AS DOUBLE) AS p UNION ALL SELECT CAST(0.75 AS DOUBLE)
),
bounds AS (
  SELECT h.doc_id, h.tier, h.window_idx, p.p, h.cnt,
         least(greatest(p.p * h.cnt + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(h.cnt AS DOUBLE)) AS posc
  FROM (SELECT DISTINCT doc_id, tier, window_idx, cnt FROM hq) h
  CROSS JOIN ps p
),
qv AS (
  SELECT b.doc_id, b.tier, b.window_idx, b.p,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM bounds b
  JOIN hq lo ON lo.doc_id = b.doc_id AND lo.tier = b.tier
            AND lo.window_idx = b.window_idx
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.doc_id = b.doc_id AND hi.tier = b.tier
            AND hi.window_idx = b.window_idx
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.cnt)
),
iqr AS (
  SELECT q75.doc_id, q75.tier, q75.window_idx, q75.q - q25.q AS iqr
  FROM qv q75
  JOIN qv q25 ON q25.doc_id = q75.doc_id AND q25.tier = q75.tier
             AND q25.window_idx = q75.window_idx
             AND q25.p = CAST(0.25 AS DOUBLE)
  WHERE q75.p = CAST(0.75 AS DOUBLE)
),
f1 AS (SELECT *, s1 / nd AS mean FROM agg),
f2 AS (
  SELECT *,
         greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM f1
),
f3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r,
         s1a1 / (nd - 1.0) AS mu1a, s1b1 / (nd - 1.0) AS mu1b,
         s1a2 / (nd - 2.0) AS mu2a, s1b2 / (nd - 2.0) AS mu2b
  FROM f2
),
f4 AS (
  SELECT *,
         sqrt(greatest(s2a1 / (nd - 1.0) - mu1a * mu1a, 0.0)) AS sg1a,
         sqrt(greatest(s2b1 / (nd - 1.0) - mu1b * mu1b, 0.0)) AS sg1b,
         sqrt(greatest(s2a2 / (nd - 2.0) - mu2a * mu2a, 0.0)) AS sg2a,
         sqrt(greatest(s2b2 / (nd - 2.0) - mu2b * mu2b, 0.0)) AS sg2b
  FROM f3
)
SELECT f4.doc_id, f4.source, f4.tier, f4.window_idx, f4.n,
       round(f4.mean, 6) AS mean,
       round(f4.var, 6)  AS variance,
       round(f4.std, 6)  AS spread_std,
       round(iqr.iqr, 6) AS spread_iqr,
       round((f4.sxy1 / (f4.nd - 1.0) - f4.mu1a * f4.mu1b)
             / nullif(f4.sg1a * f4.sg1b, 0.0), 6) AS ac1_td,
       round((f4.sxy2 / (f4.nd - 2.0) - f4.mu2a * f4.mu2b)
             / nullif(f4.sg2a * f4.sg2b, 0.0), 6) AS ac2_td,
       round(CASE WHEN f4.s2 - f4.nd * (f4.mean * f4.mean) > 0.0 THEN
               ((f4.sxy1 - f4.mean * ((2.0 * f4.s1 - f4.y0) - f4.ylast))
                + (f4.nd - 1.0) * (f4.mean * f4.mean))
               / (f4.s2 - f4.nd * (f4.mean * f4.mean))
             ELSE NULL END, 6) AS ac1_fourier,
       round((f4.r - 1.0) / (f4.r + 1.0), 6) AS burst_b,
       round((sqrt(f4.nd + 1.0) * f4.r - sqrt(f4.nd - 1.0))
             / nullif((sqrt(f4.nd + 1.0) - 2.0) * f4.r + sqrt(f4.nd - 1.0), 0.0), 6)
         AS burst_b_kim,
       round(f4.s1, 6) AS s1,
       round(f4.s2, 6) AS s2
FROM f4
JOIN iqr ON iqr.doc_id = f4.doc_id AND iqr.tier = f4.tier
        AND iqr.window_idx = f4.window_idx
"""

# EN_LZcomplexity (reference Entropy.py:542-631) on the tie-free view
# value + rn*1e-6 (event values are 2-decimal quantized; the offset is
# far above the seeded eps tie-break noise ~1e-15 and far below the 0.01
# value quantum, so the mergesort rank symbolization is deterministic).
# The LZ76 phrase scan is replayed as a recursive CTE: at each step k
# the current phrase (substr at ps+1, length pl) either re-occurs inside
# the first ps symbols (phrase grows) or opens a new phrase (counter
# increments) — exactly the reference's scan loop. Verified bit-exact
# against the engine kernel on all 150 sf0.01 users.
ENGINE_ORACLES["user_lz2"] = "\nWITH RECURSIVE series AS (\n  SELECT user_id,\n         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS t,\n         count(*) OVER (PARTITION BY user_id) AS n,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\ndetied AS (\n  -- mirror the engine's 4000-point cap (entropy.lz_complexity): truncate\n  -- BEFORE symbolization so ranks and n agree at any SF\n  SELECT user_id, t, least(n, CAST(4000 AS BIGINT)) AS n, v + t * 1e-6 AS v2\n  FROM series WHERE t <= 4000\n),\nranked AS (\n  SELECT user_id, t, n,\n         row_number() OVER (PARTITION BY user_id ORDER BY v2) AS rk\n  FROM detied\n),\nsym AS (\n  SELECT user_id, t, n,\n         CAST(floor(rk * (2.0 / (n + 1))) AS INTEGER) + 1 AS s\n  FROM ranked\n),\nstr AS (\n  SELECT user_id, CAST(max(n) AS INTEGER) AS n,\n         string_agg(CAST(s AS VARCHAR), '' ORDER BY t) AS sq\n  FROM sym GROUP BY user_id\n),\nlz(user_id, n, sq, k, ps, pl, c) AS (\n  SELECT user_id, n, sq, 2, 1, 1, 1 FROM str\n  UNION ALL\n  SELECT user_id, n, sq, k + 1,\n         CASE WHEN instr(substr(sq, 1, ps), substr(sq, ps + 1, pl)) > 0\n              THEN ps ELSE ps + pl END,\n         CASE WHEN instr(substr(sq, 1, ps), substr(sq, ps + 1, pl)) > 0\n              THEN pl + 1 ELSE 1 END,\n         CASE WHEN instr(substr(sq, 1, ps), substr(sq, ps + 1, pl)) > 0\n              THEN c ELSE c + 1 END\n  FROM lz WHERE k < n\n)\nSELECT user_id, round(c * ln(CAST(n AS DOUBLE)) / (n * ln(2.0)), 6) AS lz2\nFROM lz WHERE k = n\n"

# MF_ExpSmoothing (reference ModelFit.py:124-276) over per-user_id%10
# concatenated event series (N ~ 1000 > ntrain=100, so the training
# split, two-stage alpha search, and test residuals are all real —
# the per-user series at N <= 86 degenerate to all-NaN by the ntrain
# clamp). The oracle replays the smoothing recurrence
# s(i) = decay*cummean + T (the engine's exact O(N) closed form) as
# recursive CTEs for both alpha-search stages and the final pass, the
# stage-1 3-point quadratic as closed-form Lagrange interpolation, the
# stage-2 5-point quadratic by Cramer on the normal equations, and the
# residual diagnostics (mean/std/AC1/Durbin-Watson) as window
# aggregates. Verified bit-exact after round(6) on all 10 cohorts.
# (lbq_p / normksstat need chi2 / normal special functions — excluded,
# pytest-covered via residual_analysis.)
ENGINE_ORACLES["user_expsmooth"] = "\nWITH RECURSIVE series AS (\n  SELECT 'g' || CAST(user_id % 10 AS VARCHAR) AS skey, user_id, event_id,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\nord AS (\n  SELECT skey,\n         CAST(row_number() OVER (PARTITION BY skey ORDER BY user_id, event_id) AS BIGINT) AS t,\n         count(*) OVER (PARTITION BY skey) AS n,\n         v\n  FROM series\n),\ntr AS (\n  SELECT skey, t, n, v AS x,\n         lead(v)    OVER (PARTITION BY skey ORDER BY t) AS x1,\n         lead(v, 2) OVER (PARTITION BY skey ORDER BY t) AS x2\n  FROM ord\n),\nalphas1(ai, a) AS (\n  SELECT 0, CAST(0.1 AS DOUBLE) UNION ALL\n  SELECT 1, CAST(0.30000000000000004 AS DOUBLE) UNION ALL\n  SELECT 2, CAST(0.5 AS DOUBLE) UNION ALL\n  SELECT 3, CAST(0.7000000000000001 AS DOUBLE) UNION ALL\n  SELECT 4, CAST(0.9 AS DOUBLE)\n),\nrec1(skey, ai, a, b, i, cs, T, decay, sse) AS (\n  SELECT s.skey, al.ai, al.a, 1.0 - al.a, CAST(0 AS BIGINT), CAST(0 AS DOUBLE),\n         CAST(0 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)\n  FROM (SELECT DISTINCT skey FROM ord) s CROSS JOIN alphas1 al\n  UNION ALL\n  SELECT r.skey, r.ai, r.a, r.b, r.i + 1,\n         r.cs + tr.x,\n         r.b * r.T + r.a * tr.x1,\n         CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n              ELSE r.decay * r.b END,\n         r.sse\n         + ( (CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n                   ELSE r.decay * r.b END) * ((r.cs + tr.x) / (r.i + 1))\n             + (r.b * r.T + r.a * tr.x1) - tr.x2 )\n         * ( (CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n                   ELSE r.decay * r.b END) * ((r.cs + tr.x) / (r.i + 1))\n             + (r.b * r.T + r.a * tr.x1) - tr.x2 )\n  FROM rec1 r JOIN tr ON tr.skey = r.skey AND tr.t = r.i + 1\n  WHERE r.i < 98\n),\nrmse1 AS (\n  SELECT skey, ai, a, sqrt(sse / 98.0) AS rmse FROM rec1 WHERE i = 98\n),\nb3 AS (\n  SELECT skey, ai, a, rmse,\n         row_number() OVER (PARTITION BY skey ORDER BY rmse, ai) AS rnk\n  FROM rmse1\n),\np3 AS (\n  SELECT skey,\n    max(CASE WHEN rnk=1 THEN a END) AS xa, max(CASE WHEN rnk=1 THEN rmse END) AS ya,\n    max(CASE WHEN rnk=2 THEN a END) AS xb, max(CASE WHEN rnk=2 THEN rmse END) AS yb,\n    max(CASE WHEN rnk=3 THEN a END) AS xc, max(CASE WHEN rnk=3 THEN rmse END) AS yc\n  FROM b3 WHERE rnk <= 3 GROUP BY skey\n),\nfit1 AS (\n  SELECT skey,\n    ya/((xa-xb)*(xa-xc)) + yb/((xb-xa)*(xb-xc)) + yc/((xc-xa)*(xc-xb)) AS p0,\n    -(ya*(xb+xc)/((xa-xb)*(xa-xc)) + yb*(xa+xc)/((xb-xa)*(xb-xc))\n      + yc*(xa+xb)/((xc-xa)*(xc-xb))) AS p1,\n    ya*xb*xc/((xa-xb)*(xa-xc)) + yb*xa*xc/((xb-xa)*(xb-xc))\n      + yc*xa*xb/((xc-xa)*(xc-xb)) AS p2\n  FROM p3\n),\nst1 AS (\n  SELECT skey, p0, p1, p2,\n         -p1/(2*p0) AS am1,\n         CASE WHEN p0 > 0 THEN CAST(1 AS DOUBLE)\n              WHEN p0 < 0 THEN CAST(-1 AS DOUBLE)\n              ELSE CAST(0 AS DOUBLE) END AS cup\n  FROM fit1\n),\nlohi AS (\n  SELECT skey, am1,\n    CASE WHEN am1 - 0.1 <= 0 THEN CAST(0.01 AS DOUBLE)\n         WHEN am1 + 0.1 >= 1 THEN least(am1, CAST(1.0 AS DOUBLE)) - 0.1\n         ELSE am1 - 0.1 END AS lo,\n    CASE WHEN am1 - 0.1 <= 0 THEN greatest(am1, CAST(0.0 AS DOUBLE)) + 0.1\n         WHEN am1 + 0.1 >= 1 THEN CAST(1.0 AS DOUBLE)\n         ELSE am1 + 0.1 END AS hi\n  FROM st1 WHERE p0 >= 0\n),\ngrid2 AS (\n  SELECT l.skey, g.gi,\n         CASE WHEN g.gi = 4 THEN l.hi\n              ELSE g.gi * ((l.hi - l.lo) / 4.0) + l.lo END AS a\n  FROM lohi l CROSS JOIN (\n    SELECT CAST(0 AS BIGINT) AS gi UNION ALL SELECT 1 UNION ALL SELECT 2\n    UNION ALL SELECT 3 UNION ALL SELECT 4) g\n),\nrec2(skey, gi, a, b, i, cs, T, decay, sse) AS (\n  SELECT g.skey, g.gi, g.a, 1.0 - g.a, CAST(0 AS BIGINT), CAST(0 AS DOUBLE),\n         CAST(0 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)\n  FROM grid2 g\n  UNION ALL\n  SELECT r.skey, r.gi, r.a, r.b, r.i + 1,\n         r.cs + tr.x,\n         r.b * r.T + r.a * tr.x1,\n         CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n              ELSE r.decay * r.b END,\n         r.sse\n         + ( (CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n                   ELSE r.decay * r.b END) * ((r.cs + tr.x) / (r.i + 1))\n             + (r.b * r.T + r.a * tr.x1) - tr.x2 )\n         * ( (CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n                   ELSE r.decay * r.b END) * ((r.cs + tr.x) / (r.i + 1))\n             + (r.b * r.T + r.a * tr.x1) - tr.x2 )\n  FROM rec2 r JOIN tr ON tr.skey = r.skey AND tr.t = r.i + 1\n  WHERE r.i < 98\n),\nrmse2 AS (\n  SELECT skey, gi, a, sqrt(sse / 98.0) AS rmse FROM rec2 WHERE i = 98\n),\nm2 AS (\n  SELECT skey,\n         sum(a*a*a*a) AS s4, sum(a*a*a) AS s3, sum(a*a) AS s2, sum(a) AS s1,\n         sum(a*a*rmse) AS t2, sum(a*rmse) AS t1, sum(rmse) AS t0\n  FROM rmse2 GROUP BY skey\n),\nfit2 AS (\n  SELECT skey,\n    (s4*(s2*5 - s1*s1) - s3*(s3*5 - s1*s2) + s2*(s3*s1 - s2*s2)) AS det,\n    (t2*(s2*5 - s1*s1) - s3*(t1*5 - t0*s1) + s2*(t1*s1 - t0*s2)) AS n0,\n    (s4*(t1*5 - t0*s1) - t2*(s3*5 - s1*s2) + s2*(s3*t0 - t1*s2)) AS n1\n  FROM m2\n),\ngmin AS (\n  SELECT skey, a AS amin_grid\n  FROM (SELECT skey, a, row_number() OVER (PARTITION BY skey ORDER BY rmse, gi) AS rr\n        FROM rmse2) WHERE rr = 1\n),\nst2 AS (\n  SELECT f.skey,\n         CASE WHEN f.n0 / f.det < 0 THEN g.amin_grid\n              ELSE -(f.n1 / f.det) / (2 * (f.n0 / f.det)) END AS araw\n  FROM fit2 f JOIN gmin g ON g.skey = f.skey\n),\nalphasel AS (\n  SELECT st1.skey, st1.am1 AS alphamin_1, st1.cup AS cup_1,\n         CASE WHEN st1.p0 < 0 THEN\n                (CASE WHEN (st1.p0 * 0.01 + st1.p1) * 0.01 + st1.p2\n                           <= st1.p0 + st1.p1 + st1.p2\n                      THEN CAST(0.01 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END)\n              ELSE st2.araw END AS araw\n  FROM st1 LEFT JOIN st2 ON st2.skey = st1.skey\n),\nafin AS (\n  SELECT skey, alphamin_1, cup_1,\n         greatest(CAST(0.01 AS DOUBLE), least(CAST(1.0 AS DOUBLE), araw)) AS alpha\n  FROM alphasel\n),\nrec3(skey, a, b, i, cs, T, decay) AS (\n  SELECT f.skey, f.alpha, 1.0 - f.alpha, CAST(0 AS BIGINT), CAST(0 AS DOUBLE),\n         CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)\n  FROM afin f\n  UNION ALL\n  SELECT r.skey, r.a, r.b, r.i + 1,\n         r.cs + tr.x,\n         r.b * r.T + r.a * tr.x1,\n         CASE WHEN r.decay * r.b < 1e-320 THEN CAST(0 AS DOUBLE)\n              ELSE r.decay * r.b END\n  FROM rec3 r JOIN tr ON tr.skey = r.skey AND tr.t = r.i + 1\n  WHERE r.i < tr.n - 2\n),\nxfs AS (\n  SELECT skey, i + 2 AS t, decay * (cs / i) + T AS xf\n  FROM rec3 WHERE i >= 1\n),\nresid AS (\n  SELECT x.skey, x.t, x.xf - o.v AS e\n  FROM xfs x JOIN ord o ON o.skey = x.skey AND o.t = x.t\n),\nrc AS (\n  SELECT skey, t, e, avg(e) OVER (PARTITION BY skey) AS mu FROM resid\n),\nrc2 AS (\n  SELECT skey, t, e, e - mu AS ec,\n         lead(e - mu) OVER (PARTITION BY skey ORDER BY t) AS ec1,\n         lead(e)      OVER (PARTITION BY skey ORDER BY t) AS e1\n  FROM rc\n),\nrstat AS (\n  SELECT skey,\n         avg(e) AS rmean, stddev_samp(e) AS rstd,\n         sum(ec * ec1) / nullif(sum(ec * ec), 0.0) AS ac1,\n         CASE WHEN sum(ec * ec) > 0.0\n              THEN sum((ec1 - ec) * (ec1 - ec)) / sum(ec * ec)\n              ELSE NULL END AS dwts\n  FROM rc2 GROUP BY skey\n)\nSELECT s.skey,\n       round(a.alphamin_1, 6) AS alphamin_1,\n       round(a.cup_1, 6)      AS cup_1,\n       round(a.alpha, 6)      AS alphamin,\n       round(r.rmean, 6)      AS resid_mean,\n       round(r.rstd, 6)       AS resid_std,\n       round(r.ac1, 6)        AS resid_ac1,\n       round(r.dwts, 6)       AS dwts\nFROM (SELECT DISTINCT skey FROM ord) s\nLEFT JOIN afin a ON a.skey = s.skey\nLEFT JOIN rstat r ON r.skey = s.skey\n"

# Near-duplicate clustering (the linear-output production dedup): exact
# groups by content hash, exhaustive shingle-Jaccard pair graph over the
# min-id representatives (the LSH pipeline's full-recall spec at this
# corpus's J distribution), connected components by recursive-CTE
# transitive closure with min-label clusters, expanded back over every
# document. cluster_id = min doc_id of the cluster, deterministic in
# both engines.
ENGINE_ORACLES["doc_neardup_clusters"] = "\nWITH RECURSIVE grp AS (\n  SELECT md5(text) AS h, min(doc_id) AS rep FROM documents GROUP BY md5(text)\n),\nrepmap AS (\n  SELECT d.doc_id, g.rep FROM documents d JOIN grp g ON g.h = md5(d.text)\n),\nreps AS (\n  SELECT d.doc_id, d.text FROM documents d JOIN grp g ON g.rep = d.doc_id\n),\nwords AS (\n  SELECT doc_id, string_split(text, ' ') AS ws FROM reps\n),\nshingles AS (\n  SELECT DISTINCT doc_id, sh\n  FROM (\n    SELECT doc_id,\n           unnest(list_transform(generate_series(1, len(ws) - 2),\n                  idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2])) AS sh\n    FROM words WHERE len(ws) >= 3\n  ) t\n),\ncard AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY doc_id),\ninter AS (\n  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic\n  FROM shingles a JOIN shingles b\n    ON a.sh = b.sh AND a.doc_id < b.doc_id\n  GROUP BY a.doc_id, b.doc_id\n),\npairs AS (\n  SELECT i.d1, i.d2\n  FROM inter i\n  JOIN card ca ON ca.doc_id = i.d1\n  JOIN card cb ON cb.doc_id = i.d2\n  WHERE i.ic / CAST(ca.c + cb.c - i.ic AS DOUBLE) >= 0.3\n),\nedges AS (\n  SELECT d1 AS a, d2 AS b FROM pairs\n  UNION\n  SELECT d2, d1 FROM pairs\n),\nreach(a, b) AS (\n  SELECT a, b FROM edges\n  UNION\n  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b\n),\ncomp AS (\n  SELECT a AS rep, least(a, min(b)) AS cluster FROM reach GROUP BY a\n)\nSELECT m.doc_id, coalesce(c.cluster, m.rep) AS cluster_id\nFROM repmap m LEFT JOIN comp c ON c.rep = m.rep\n"

# KSG-2 lag-1 AMI (k=3) on the detied view (value + rn*1e-6 — see
# user_lz2) with DETERMINISTIC neighbor tie-break: detied VALUES are
# distinct but pair DISTANCES still collide (equal value-diff + equal
# index-gap), and ties at the k-th rank change the estimator-2 marginal
# extents — observed at sf0.1. Both sides therefore rank neighbors by
# (joint distance, neighbor index): the engine runs info._mi_ksg2 with
# deterministic=True (stable argsort), the SQL row_number() orders by
# (dz, j). Verified bit-exact on all 150 sf0.01 AND 1,500 sf0.1 users.
ENGINE_ORACLES["user_ami_ksg2"] = _PRE + '\n, det AS (\n  SELECT user_id, rn, v + (rn + 1) * 1e-6 AS v2 FROM series\n),\npts AS (\n  SELECT user_id, rn AS i, v2 AS x, y2 FROM (\n    SELECT user_id, rn, v2,\n           lead(v2) OVER (PARTITION BY user_id ORDER BY rn) AS y2\n    FROM det\n  ) q WHERE y2 IS NOT NULL\n),\nmm AS (SELECT user_id, count(*) AS m FROM pts GROUP BY user_id),\npd AS (\n  SELECT a.user_id, a.i, b.i AS j, abs(a.x - b.x) AS dx, abs(a.y2 - b.y2) AS dy,\n         greatest(abs(a.x - b.x), abs(a.y2 - b.y2)) AS dz\n  FROM pts a JOIN pts b ON b.user_id = a.user_id AND b.i <> a.i\n),\nknn AS (\n  SELECT user_id, i, dx, dy FROM (\n    SELECT user_id, i, dx, dy,\n           row_number() OVER (PARTITION BY user_id, i ORDER BY dz, j) AS rk\n    FROM pd\n  ) q WHERE rk <= 3\n),\neps AS (\n  SELECT user_id, i, max(dx) AS ex, max(dy) AS ey\n  FROM knn GROUP BY user_id, i\n),\ncnts AS (\n  SELECT p.user_id, p.i,\n         sum(CASE WHEN p.dx <= e.ex THEN 1 ELSE 0 END) AS nx,\n         sum(CASE WHEN p.dy <= e.ey THEN 1 ELSE 0 END) AS ny\n  FROM pd p JOIN eps e ON e.user_id = p.user_id AND e.i = p.i\n  GROUP BY p.user_id, p.i\n),\nints AS (SELECT DISTINCT rn + 1 AS mth FROM series),\ndgt AS (\n  SELECT mth,\n         CAST(-0.5772156649015329 AS DOUBLE)\n         + coalesce(sum(1.0 / CAST(mth AS DOUBLE)) OVER (\n             ORDER BY mth ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),\n           CAST(0.0 AS DOUBLE)) AS dg\n  FROM ints\n),\nterm AS (\n  SELECT c.user_id, dx2.dg + dy2.dg AS dsum\n  FROM cnts c\n  JOIN dgt dx2 ON dx2.mth = c.nx\n  JOIN dgt dy2 ON dy2.mth = c.ny\n)\nSELECT t.user_id,\n       round(d3.dg - CAST(1.0 AS DOUBLE) / 3 + dn.dg - avg(t.dsum), 6)\n         AS ami_ksg2\nFROM term t\nJOIN mm ON mm.user_id = t.user_id\nJOIN dgt d3 ON d3.mth = 3\nJOIN dgt dn ON dn.mth = mm.m\nGROUP BY t.user_id, d3.dg, dn.dg\n'


# Incremental continuous-aggregate refresh (operators/cagg.py): the
# Spark side materializes mergeable states from events where
# event_id % 5 != 4, then REFRESHES the store with the remaining fifth
# (delta interleaved in time = late data) and finalizes. The oracle is
# a FULL RECOMPUTE over all events — identical output proves
# finalize(refresh(materialize(A), B)) == finalize(partial(A UNION B)).
# Variance uses the engine's exact moment formula (s2 - s1^2/n)/(n-1),
# not var_samp, so both sides share the same floating-point expression;
# OHLC tie rules mirror user_ohlc_30m's ranked windows.
ENGINE_ORACLES["user_cagg_refresh"] = """
WITH e AS (
  SELECT user_id, CAST(value AS DOUBLE) AS value, epoch_us(ts) AS tus
  FROM events
),
d AS (
  SELECT user_id, CAST(floor(tus / 1800000000) AS BIGINT) AS widx,
         tus, value
  FROM e
),
r AS (
  SELECT user_id, widx, tus, value,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY tus, value) AS rn_o,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY tus DESC, value DESC) AS rn_c,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY value DESC, tus) AS rn_h,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY value, tus) AS rn_l
  FROM d
)
SELECT user_id, widx,
  CAST(count(*) AS BIGINT) AS n_events,
  round(sum(value) / count(*), 6) AS mean,
  round(CASE WHEN count(*) > 1 THEN
    (sum(value * value) - sum(value) * sum(value) / count(*))
      / (count(*) - 1) END, 6) AS variance,
  round(max(CASE WHEN rn_o = 1 THEN value END), 6) AS open,
  round(max(CASE WHEN rn_c = 1 THEN value END), 6) AS close,
  round(max(value), 6) AS high,
  round(min(value), 6) AS low,
  max(CASE WHEN rn_h = 1 THEN tus END) AS t_high,
  max(CASE WHEN rn_l = 1 THEN tus END) AS t_low
FROM r GROUP BY user_id, widx
"""

# Real-time continuous-aggregate view (operators/cagg.cagg_realtime):
# the Spark side materializes states for windows at/below an 80%-time
# watermark, then serves the query as store-history UNION on-the-fly
# partials of the raw tail. The oracle is the SAME full recompute as
# user_cagg_refresh — a hash match proves the view is indistinguishable
# from recomputing everything.
ENGINE_ORACLES["user_cagg_realtime"] = ENGINE_ORACLES["user_cagg_refresh"]


TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_views(spark, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def spark_sql_for(name: str) -> str:
    return QUERIES[name]["spark"]


def duck_sql_for(name: str) -> str:
    return QUERIES[name]["duck"]


# ===========================================================================
# Round-2 continuation: catalog queries for previously pytest-only operators
# ===========================================================================
#
# The Fourier ACF (CO_AutoCorr method='Fourier', Correlation.py:1241-1259)
# zero-pads to >= 2N, so the circular correlation it computes equals the
# LINEAR autocovariance of the mean-centered series:
#     acf[tau] = sum_t yc_t * yc_{t+tau} / sum_t yc_t^2
# which is exactly expressible as a lag self-join on `cent`.  Everything
# built on the Fourier ACF (first crossing, first minimum, PACF, AR
# residual ACs) therefore gets a plain-SQL oracle.

_PRE_ACF = _PRE + """,
acov AS (
  SELECT a.user_id, b.rn - a.rn AS tau, sum(a.vc * b.vc) AS s
  FROM cent a JOIN cent b ON a.user_id = b.user_id AND b.rn >= a.rn
  GROUP BY a.user_id, b.rn - a.rn
),
acfn AS (
  SELECT x.user_id, x.tau,
         x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM acov x
  JOIN (SELECT user_id, s FROM acov WHERE tau = 0) s0
    ON s0.user_id = x.user_id
),
nn AS (
  SELECT user_id, count(*) AS n FROM series GROUP BY user_id
)
"""


def _qa(sql: str) -> dict:
    return {"spark": _PRE_ACF + sql, "duck": _PRE_ACF + sql}


# --- DK_timerev tau=1 per user (Correlation.py:84-132) ----------------------
# 3-point embedding (a,b,c) = (y_{t+2}, y_{t+1}, y_t): <a^2 b - b c^2>
# = avg(v2*v2*v1 - v1*v*v) in lead-view terms.
QUERIES["user_timerev1"] = _q("""
SELECT user_id, round(avg(v2 * v2 * v1 - v1 * v * v), 6) AS timerev1
FROM win WHERE v2 IS NOT NULL GROUP BY user_id
""")

# --- DN_Fit_mle 'gaussian' per user (Distribution.py:285-335) ---------------
QUERIES["user_fitmle_gauss"] = _q("""
SELECT user_id, round(avg(v), 6) AS gauss_mean,
       round(stddev_pop(v), 6) AS gauss_std
FROM series GROUP BY user_id
""")

# --- SY_FitPolynomial k=1 per user (Stationarity.py:702-731) ----------------
# OLS closed form: mean squared residual of the best-fit line is
# var_pop(y) * (1 - corr(t, y)^2). The reference RETURNS the MSE
# (its docstring says RMS, its code says mean((y-f)^2) — bug-for-bug).
QUERIES["user_fitpoly1"] = _q("""
SELECT user_id,
       round(var_pop(v) *
             (1.0 - corr(CAST(rn AS DOUBLE), v) * corr(CAST(rn AS DOUBLE), v)), 6)
         AS fitpoly1_mse
FROM series GROUP BY user_id
""")

# --- CO_FirstCrossing corrFun='ac' threshold=0 (Correlation.py:1296-1343) ---
# pointOfCrossing (utils.py:242-281): first index i with acf[i] < 0, plus
# the linear interpolation between i-1 and i; (N-1, N-1) when no crossing.
# Outputs are zero-based lags as the reference emits them.
QUERIES["user_firstcross_ac"] = _qa("""
, fz AS (
  SELECT user_id, min(tau) AS i FROM acfn
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id
)
SELECT nn.user_id,
       round(CAST(coalesce(fz.i, nn.n - 1) AS DOUBLE), 6) AS ac_firstcross,
       round(CASE WHEN fz.i IS NULL THEN CAST(nn.n - 1 AS DOUBLE)
                  ELSE (fz.i - 1) + (CAST(0.0 AS DOUBLE) - p.r)
                       / nullif(c.r - p.r, CAST(0.0 AS DOUBLE)) END, 6)
         AS ac_crosspoint
FROM nn
LEFT JOIN fz ON fz.user_id = nn.user_id
LEFT JOIN acfn p ON p.user_id = nn.user_id AND p.tau = fz.i - 1
LEFT JOIN acfn c ON c.user_id = nn.user_id AND c.tau = fz.i
""")

# --- CO_FirstMin 'ac' per user (Information.py:11-89) -----------------------
# First tau in 1..N-2 that is a strict local minimum of the Fourier ACF;
# N-1 when none exists (kernels.first_min_ac).
QUERIES["user_firstmin_ac"] = _qa("""
, ext AS (
  SELECT user_id, tau, r,
         lag(r)  OVER (PARTITION BY user_id ORDER BY tau) AS rp,
         lead(r) OVER (PARTITION BY user_id ORDER BY tau) AS rf
  FROM acfn
),
fm AS (
  SELECT user_id, min(tau) AS t FROM ext
  WHERE tau >= 1 AND r < rp AND r < rf GROUP BY user_id
)
SELECT nn.user_id,
       round(CAST(fm.t AS DOUBLE), 6) AS ac_firstmin
FROM nn LEFT JOIN fm ON fm.user_id = nn.user_id
""")

# --- CO_PartialAutoCorr lags 1-3 (Correlation.py:805-850) -------------------
# statsmodels pacf method='ols' (the reference default): pac_k is the
# k-th lag coefficient of an intercept-included OLS of y_t on its first
# k lags; closed forms via centered cross-moments + Cramer's rule.
QUERIES["user_pacf3"] = _q("""
, l3 AS (
  SELECT user_id, rn, v,
         lead(v)    OVER (PARTITION BY user_id ORDER BY rn) AS a,
         lead(v, 2) OVER (PARTITION BY user_id ORDER BY rn) AS b,
         lead(v, 3) OVER (PARTITION BY user_id ORDER BY rn) AS c
  FROM series
),
k1 AS (
  SELECT user_id,
         (sum(v * a) - sum(v) * sum(a) / count(*))
           / nullif(sum(v * v) - sum(v) * sum(v) / count(*),
                    CAST(0.0 AS DOUBLE)) AS pac1
  FROM l3 WHERE a IS NOT NULL GROUP BY user_id
),
k2 AS (
  SELECT user_id,
         (c11 * c2y - c12 * c1y)
           / nullif(c11 * c22 - c12 * c12, CAST(0.0 AS DOUBLE)) AS pac2
  FROM (
    SELECT user_id,
           sum(a * a) - sum(a) * sum(a) / count(*) AS c11,
           sum(a * v) - sum(a) * sum(v) / count(*) AS c12,
           sum(v * v) - sum(v) * sum(v) / count(*) AS c22,
           sum(a * b) - sum(a) * sum(b) / count(*) AS c1y,
           sum(v * b) - sum(v) * sum(b) / count(*) AS c2y
    FROM l3 WHERE b IS NOT NULL GROUP BY user_id
  ) m2
),
k3 AS (
  SELECT user_id,
         (c11 * (c22 * c3y - c23 * c2y)
          - c12 * (c12 * c3y - c2y * c13)
          + c1y * (c12 * c23 - c22 * c13))
           / nullif(c11 * (c22 * c33 - c23 * c23)
                    - c12 * (c12 * c33 - c23 * c13)
                    + c13 * (c12 * c23 - c22 * c13),
                    CAST(0.0 AS DOUBLE)) AS pac3
  FROM (
    SELECT user_id,
           sum(b * b) - sum(b) * sum(b) / count(*) AS c11,
           sum(b * a) - sum(b) * sum(a) / count(*) AS c12,
           sum(b * v) - sum(b) * sum(v) / count(*) AS c13,
           sum(a * a) - sum(a) * sum(a) / count(*) AS c22,
           sum(a * v) - sum(a) * sum(v) / count(*) AS c23,
           sum(v * v) - sum(v) * sum(v) / count(*) AS c33,
           sum(b * c) - sum(b) * sum(c) / count(*) AS c1y,
           sum(a * c) - sum(a) * sum(c) / count(*) AS c2y,
           sum(v * c) - sum(v) * sum(c) / count(*) AS c3y
    FROM l3 WHERE c IS NOT NULL GROUP BY user_id
  ) m3
)
SELECT k1.user_id,
       round(k1.pac1, 6) AS pac_1,
       round(k2.pac2, 6) AS pac_2,
       round(k3.pac3, 6) AS pac_3
FROM k1 JOIN k2 ON k2.user_id = k1.user_id
JOIN k3 ON k3.user_id = k1.user_id
""")

# --- SY_VarRatioTest period=2 IID (HypothesisTests.py:10-81) ----------------
# Lo-MacKinlay: va = var_samp(diff); vb over 2-sums with the unbiased
# scaling m = q(nq-q+1)(1-q/nq); se_iid(q=2) = sqrt(1/nq).
QUERIES["user_vrt2"] = _q("""
SELECT user_id,
       round(vr, 6) AS vrt2_ratio,
       round((vr - 1.0) / sqrt(1.0 / nq), 6) AS vrt2_stat
FROM (
  SELECT ag.user_id, ag.nq,
         bg.sb / (2.0 * (ag.nq - 1.0) * (1.0 - 2.0 / ag.nq))
           / nullif(ag.va, CAST(0.0 AS DOUBLE)) AS vr
  FROM (
    SELECT user_id, CAST(count(*) AS DOUBLE) AS nq, avg(v1 - v) AS mu,
           var_samp(v1 - v) AS va
    FROM win WHERE v1 IS NOT NULL GROUP BY user_id
  ) ag
  JOIN (
    SELECT w.user_id,
           sum((w.v2 - w.v - 2.0 * m.mu) * (w.v2 - w.v - 2.0 * m.mu)) AS sb
    FROM win w
    JOIN (SELECT user_id, avg(v1 - v) AS mu FROM win
          WHERE v1 IS NOT NULL GROUP BY user_id) m
      ON m.user_id = w.user_id
    WHERE w.v2 IS NOT NULL GROUP BY w.user_id
  ) bg ON bg.user_id = ag.user_id
) t
""")

# --- SY_KPSStest lags=0, 'ct' detrend (Stationarity.py:432-490) -------------
# OLS line detrend on t=0..N-1, partial sums S, s2 = mean(e^2) (lag 0, no
# Newey-West terms), stat = sum(S^2)/(N^2 s2); p interpolated from the
# standard ct critical-value table with boundary clamping.
QUERIES["user_kpss_l0"] = _q("""
SELECT user_id,
       round(st, 6) AS kpss_stat,
       round(CASE WHEN st < 0.119 THEN 0.10
                  WHEN st > 0.216 THEN 0.01
                  WHEN st <= 0.146 THEN
                    0.10 + (st - 0.119) * (0.05 - 0.10) / (0.146 - 0.119)
                  WHEN st <= 0.176 THEN
                    0.05 + (st - 0.146) * (0.025 - 0.05) / (0.176 - 0.146)
                  ELSE 0.025 + (st - 0.176) * (0.01 - 0.025) / (0.216 - 0.176)
             END, 6) AS kpss_p
FROM (
  SELECT user_id,
         ss / (CAST(n AS DOUBLE) * n * nullif(s2, CAST(0.0 AS DOUBLE))) AS st
  FROM (
    SELECT user_id, max(n) AS n, sum(S * S) AS ss, sum(e * e) / max(n) AS s2
    FROM (
      SELECT user_id, rn, n, e,
             sum(e) OVER (PARTITION BY user_id ORDER BY rn) AS S
      FROM (
        SELECT s.user_id, s.rn, r.n,
               s.v - (r.my - r.b1 * r.mt) - r.b1 * CAST(s.rn AS DOUBLE) AS e
        FROM series s
        JOIN (
          SELECT user_id, count(*) AS n,
                 covar_pop(CAST(rn AS DOUBLE), v)
                   / nullif(var_pop(CAST(rn AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS b1,
                 avg(v) AS my, avg(CAST(rn AS DOUBLE)) AS mt
          FROM series GROUP BY user_id
        ) r ON r.user_id = s.user_id
      ) d
    ) c GROUP BY user_id
  ) k
) f
""")

# --- MF_arcov p=1 (ModelFit.py:350-390) -------------------------------------
# No-intercept OLS AR(1) on the raw series: phi = sum(y_{t-1} y_t) /
# sum(y_{t-1}^2); sigma2 = SSR/(N-1); filter residuals (zero-initialized
# past) with mean / std(ddof=1) / Fourier-ACF lags 1-2.
QUERIES["user_arcov1"] = _q("""
, ph AS (
  SELECT user_id,
         sum(v * v1) FILTER (WHERE v1 IS NOT NULL)
           / nullif(sum(v * v) FILTER (WHERE v1 IS NOT NULL),
                    CAST(0.0 AS DOUBLE)) AS phi,
         CAST(count(*) AS DOUBLE) AS n
  FROM win GROUP BY user_id
),
sg AS (
  SELECT w.user_id,
         sum((w.v1 - p.phi * w.v) * (w.v1 - p.phi * w.v)) / (p.n - 1.0) AS s2
  FROM win w JOIN ph p ON p.user_id = w.user_id
  WHERE w.v1 IS NOT NULL GROUP BY w.user_id, p.n
),
errt AS (
  SELECT w.user_id, w.rn,
         w.v - p.phi * coalesce(lag(w.v) OVER (PARTITION BY w.user_id ORDER BY w.rn),
                                CAST(0.0 AS DOUBLE)) AS err
  FROM win w JOIN ph p ON p.user_id = w.user_id
),
ec AS (
  SELECT user_id, rn, err,
         err - avg(err) OVER (PARTITION BY user_id) AS e
  FROM errt
),
el AS (
  SELECT user_id, e,
         lead(e)    OVER (PARTITION BY user_id ORDER BY rn) AS e1,
         lead(e, 2) OVER (PARTITION BY user_id ORDER BY rn) AS e2
  FROM ec
),
ac AS (
  SELECT user_id, sum(e * e) AS s0,
         sum(e * e1) FILTER (WHERE e1 IS NOT NULL) AS s1,
         sum(e * e2) FILTER (WHERE e2 IS NOT NULL) AS s2
  FROM el GROUP BY user_id
),
rs AS (
  SELECT user_id, avg(err) AS mu, stddev_samp(err) AS sd
  FROM errt GROUP BY user_id
)
SELECT ph.user_id,
       round(-ph.phi, 6) AS a2,
       round(sg.s2, 6) AS e_var,
       round(rs.mu, 6) AS res_mu,
       round(rs.sd, 6) AS res_std,
       round(ac.s1 / nullif(ac.s0, CAST(0.0 AS DOUBLE)), 6) AS res_ac1,
       round(ac.s2 / nullif(ac.s0, CAST(0.0 AS DOUBLE)), 6) AS res_ac2
FROM ph
JOIN sg ON sg.user_id = ph.user_id
JOIN ac ON ac.user_id = ph.user_id
JOIN rs ON rs.user_id = ph.user_id
""")


# --- DN_Spread robust estimators (Distribution.py:88-97) --------------------
# Hazen-quantile IQR (pos = p*n + 0.5 clamped to [1,n], linear interp
# between adjacent order statistics), mean abs dev, median abs dev.
QUERIES["user_spread_robust"] = _q("""
, hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
ps AS (
  SELECT CAST(0.25 AS DOUBLE) AS p UNION ALL SELECT CAST(0.75 AS DOUBLE)
),
bounds AS (
  SELECT h.user_id, p.p, h.n,
         least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(h.n AS DOUBLE)) AS posc
  FROM (SELECT DISTINCT user_id, n FROM hq) h CROSS JOIN ps p
),
qv AS (
  SELECT b.user_id, b.p,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM bounds b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
md AS (
  SELECT s.user_id, median(abs(s.v - m.med)) AS mead, avg(abs(s.v - m.mu)) AS mad
  FROM series s
  JOIN (SELECT user_id, median(v) AS med, avg(v) AS mu
        FROM series GROUP BY user_id) m ON m.user_id = s.user_id
  GROUP BY s.user_id
)
SELECT md.user_id,
       round(q75.q - q25.q, 6) AS spread_iqr,
       round(md.mad, 6)  AS spread_mad,
       round(md.mead, 6) AS spread_mead
FROM md
JOIN qv q25 ON q25.user_id = md.user_id AND q25.p = CAST(0.25 AS DOUBLE)
JOIN qv q75 ON q75.user_id = md.user_id AND q75.p = CAST(0.75 AS DOUBLE)
""")

# --- DN_pleft th=0.1 (Distribution.py:160-184) ------------------------------
# Hazen 0.9-quantile of |y - mean|, over std(ddof=1).
QUERIES["user_pleft"] = _q("""
, dev AS (
  SELECT s.user_id, abs(s.v - m.mu) AS a, m.sd
  FROM series s
  JOIN (SELECT user_id, avg(v) AS mu, stddev_samp(v) AS sd
        FROM series GROUP BY user_id) m ON m.user_id = s.user_id
),
hq AS (
  SELECT user_id, a, sd,
         row_number() OVER (PARTITION BY user_id ORDER BY a) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM dev
),
bounds AS (
  SELECT user_id, max(sd) AS sd, max(n) AS n,
         least(greatest(CAST(0.9 AS DOUBLE) * max(n) + 0.5,
                        CAST(1.0 AS DOUBLE)), CAST(max(n) AS DOUBLE)) AS posc
  FROM hq GROUP BY user_id
)
SELECT b.user_id,
       round((lo.a + (b.posc - floor(b.posc)) * (hi.a - lo.a))
             / nullif(b.sd, CAST(0.0 AS DOUBLE)), 6) AS pleft
FROM bounds b
JOIN hq lo ON lo.user_id = b.user_id AND lo.rk = CAST(floor(b.posc) AS BIGINT)
JOIN hq hi ON hi.user_id = b.user_id
          AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
""")

# --- DN_OutlierTest p=2 (Distribution.py:580-631) ---------------------------
# Mean and (ratio) std of values strictly inside the hazen 2%/98%
# quantiles.
QUERIES["user_outliertest2"] = _q("""
, hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
ps AS (
  SELECT CAST(0.02 AS DOUBLE) AS p UNION ALL SELECT CAST(0.98 AS DOUBLE)
),
bounds AS (
  SELECT h.user_id, p.p, h.n,
         least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(h.n AS DOUBLE)) AS posc
  FROM (SELECT DISTINCT user_id, n FROM hq) h CROSS JOIN ps p
),
qv AS (
  SELECT b.user_id, b.p,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM bounds b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
mid AS (
  SELECT s.user_id, avg(s.v) AS mu, stddev_samp(s.v) AS sd
  FROM series s
  JOIN qv lo2 ON lo2.user_id = s.user_id AND lo2.p = CAST(0.02 AS DOUBLE)
  JOIN qv hi2 ON hi2.user_id = s.user_id AND hi2.p = CAST(0.98 AS DOUBLE)
  WHERE s.v > lo2.q AND s.v < hi2.q
  GROUP BY s.user_id
)
SELECT mid.user_id,
       round(mid.mu, 6) AS ot2_mean,
       round(mid.sd / nullif(g.sd, CAST(0.0 AS DOUBLE)), 6) AS ot2_std
FROM mid
JOIN (SELECT user_id, stddev_samp(v) AS sd FROM series GROUP BY user_id) g
  ON g.user_id = mid.user_id
""")

# --- EN_ApEn m=1 r=0.2*std (Entropy.py:407-470) -----------------------------
# Chebyshev radius counts INCLUDING self-matches (KDTree.query_radius
# semantics): phi_m = mean_i ln(C_i / N_m); apen = phi_1 - phi_2.
QUERIES["user_apen1"] = _q("""
, st AS (
  SELECT user_id, 0.2 * stddev_samp(v) AS r, CAST(count(*) AS DOUBLE) AS n
  FROM series GROUP BY user_id
),
pr AS (
  SELECT a.user_id, a.rn AS i, st.n,
         CASE WHEN a.v1 IS NOT NULL THEN 1 ELSE 0 END AS has1,
         CASE WHEN abs(a.v - b.v) <= st.r THEN 1 ELSE 0 END AS c0,
         CASE WHEN a.v1 IS NOT NULL AND b.v1 IS NOT NULL
                   AND greatest(abs(a.v - b.v), abs(a.v1 - b.v1)) <= st.r
              THEN 1 ELSE 0 END AS c1
  FROM win a
  JOIN win b ON b.user_id = a.user_id
  JOIN st ON st.user_id = a.user_id
),
byi AS (
  SELECT user_id, i, max(n) AS n, max(has1) AS has1,
         sum(c0) AS cnt0, sum(c1) AS cnt1
  FROM pr GROUP BY user_id, i
)
SELECT user_id,
       round(avg(ln(cnt0 / n))
             - avg(ln(greatest(cnt1, 1) / (n - 1))) FILTER (WHERE has1 = 1),
             6) AS apen1
FROM byi GROUP BY user_id
""")

# --- EN_MS_shannon 2 bins, depth 3 (Entropy.py:15-86, MS_shannon.c) ---------
# Rank-equipopulated binary alphabet (stable ties by position), 3-letter
# overlapping words, Shannon entropy in nats over depth.
QUERIES["user_msshannon_2_3"] = _q("""
, sym AS (
  SELECT user_id, rn,
         CAST(floor(((row_number() OVER (PARTITION BY user_id ORDER BY v, rn)
                      - 1) * 2.0)
                    / (count(*) OVER (PARTITION BY user_id))) AS BIGINT) AS s
  FROM series
),
words AS (
  SELECT user_id,
         s + 2 * lead(s)    OVER (PARTITION BY user_id ORDER BY rn)
           + 4 * lead(s, 2) OVER (PARTITION BY user_id ORDER BY rn) AS word
  FROM sym
),
wc AS (
  SELECT user_id, word, CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
  FROM words WHERE word IS NOT NULL GROUP BY user_id, word
)
SELECT user_id,
       round(-sum((cnt / tot) * ln(cnt / tot)) / 3.0, 6) AS msshannon_2_3
FROM wc GROUP BY user_id
""")

# --- SY_LocalExtrema 'l' n=20 (Stationarity.py:339-431) ---------------------
# Length-20 windows via the MATLAB zero-padded buffer; the padded (or
# zero-ending) final column is dropped, mirroring the reference quirk.
QUERIES["user_localext20"] = _qa("""
, kp AS (
  SELECT nn.user_id,
         CASE WHEN nn.n % 20 = 0 AND lv.v <> CAST(0.0 AS DOUBLE)
              THEN CAST(nn.n / 20 AS BIGINT)
              ELSE CAST(ceil(CAST(nn.n AS DOUBLE) / 20.0) AS BIGINT) - 1
         END AS k
  FROM nn
  JOIN (SELECT s.user_id, s.v FROM series s
        JOIN nn ON nn.user_id = s.user_id AND s.rn = nn.n - 1) lv
    ON lv.user_id = nn.user_id
),
seg AS (
  SELECT user_id, CAST(floor(rn / 20) AS BIGINT) AS sg,
         max(v) AS mx, min(v) AS mn
  FROM series GROUP BY user_id, CAST(floor(rn / 20) AS BIGINT)
),
sege AS (
  SELECT seg.user_id, seg.sg, seg.mx, seg.mn, abs(seg.mn) AS amn,
         CASE WHEN abs(seg.mn) > seg.mx THEN seg.mn ELSE seg.mx END AS ext
  FROM seg JOIN kp ON kp.user_id = seg.user_id AND seg.sg < kp.k
),
segl AS (
  SELECT *, lead(ext) OVER (PARTITION BY user_id ORDER BY sg) AS exn
  FROM sege
)
SELECT user_id,
       round(avg(mx) / nullif(avg(amn), CAST(0.0 AS DOUBLE)), 6) AS meanrat,
       round(median(mx) / nullif(median(amn), CAST(0.0 AS DOUBLE)), 6) AS medianrat,
       round(min(mx), 6) AS minmax,
       round(min(amn), 6) AS minabsmin,
       round(min(mx) / nullif(min(amn), CAST(0.0 AS DOUBLE)), 6) AS minmaxonminabsmin,
       round(avg(mx), 6) AS meanmax,
       round(avg(amn), 6) AS meanabsmin,
       round(avg(ext), 6) AS meanext,
       round(median(mx), 6) AS medianmax,
       round(median(amn), 6) AS medianabsmin,
       round(median(ext), 6) AS medianext,
       round(stddev_samp(mx), 6) AS stdmax,
       round(stddev_samp(mn), 6) AS stdmin,
       round(stddev_samp(ext), 6) AS stdext,
       round(sum(CASE WHEN ext * exn < 0 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END) / count(*), 6) AS zcext,
       round(avg(abs(ext)), 6) AS meanabsext,
       round(median(abs(ext)), 6) AS medianabsext,
       round(sum(abs(mx - amn)) / count(*), 6) AS diffmaxabsmin,
       round(sum(CAST(sign(ext) AS DOUBLE)) / count(*), 6) AS uord,
       round(max(mx) / nullif(median(mx), CAST(0.0 AS DOUBLE)), 6) AS maxmaxmed,
       round(min(mn) / nullif(median(mn), CAST(0.0 AS DOUBLE)), 6) AS minminmed,
       round(max(abs(ext)) / nullif(median(abs(ext)), CAST(0.0 AS DOUBLE)), 6) AS maxabsext
FROM segl GROUP BY user_id HAVING count(*) >= 2
""")


# --- SC_fastdfa (Scaling.py:6-34, Little's fastdfa) -------------------------
# Dyadic scales s_k = N >> k while >= 4; profile = cumsum of centered y;
# per-window DFA-1 residual mean-square has the OLS closed form
# var_pop(prof) - covar_pop(t, prof)^2 / var_pop(t); the scaling
# exponent is the least-squares slope of log10(fluct) on log10(scale).
QUERIES["user_dfa"] = _qa("""
, prof AS (
  SELECT user_id, rn,
         sum(vc) OVER (PARTITION BY user_id ORDER BY rn) AS p
  FROM cent
),
ks AS (
  SELECT 0 AS k, 1 AS p2 UNION ALL SELECT 1, 2 UNION ALL SELECT 2, 4
  UNION ALL SELECT 3, 8 UNION ALL SELECT 4, 16 UNION ALL SELECT 5, 32
  UNION ALL SELECT 6, 64
),
scales AS (
  SELECT nn.user_id, CAST(floor(CAST(nn.n AS DOUBLE) / ks.p2) AS BIGINT) AS s
  FROM nn JOIN ks ON CAST(floor(CAST(nn.n AS DOUBLE) / ks.p2) AS BIGINT) >= 4
),
winres AS (
  SELECT pr.user_id, sc.s, CAST(floor(pr.rn / sc.s) AS BIGINT) AS wi,
         var_pop(pr.p)
           - covar_pop(CAST(pr.rn AS DOUBLE), pr.p)
             * covar_pop(CAST(pr.rn AS DOUBLE), pr.p)
             / nullif(var_pop(CAST(pr.rn AS DOUBLE)), CAST(0.0 AS DOUBLE))
           AS msr
  FROM prof pr
  JOIN scales sc ON sc.user_id = pr.user_id
  JOIN nn ON nn.user_id = pr.user_id
  WHERE pr.rn < CAST(floor(CAST(nn.n AS DOUBLE) / sc.s) AS BIGINT) * sc.s
  GROUP BY pr.user_id, sc.s, CAST(floor(pr.rn / sc.s) AS BIGINT)
),
fl AS (
  SELECT user_id, log10(CAST(s AS DOUBLE)) AS lx,
         log10(sqrt(avg(msr))) AS ly
  FROM winres GROUP BY user_id, s
)
SELECT user_id,
       round(covar_pop(lx, ly) / nullif(var_pop(lx), CAST(0.0 AS DOUBLE)), 6)
         AS dfa_alpha
FROM fl GROUP BY user_id
""")

# --- SP_Summaries 'fft' (Spectral.py:9-305), SQL-expressible subset ---------
# Single-sided PSD S_k = 2 |FFT(y, nfft)|^2 / (ny 2 pi) at w_k = 2 pi
# k / nfft, nfft = next pow2(ny), via an explicit DFT join (k-range
# reuses the series' own rn values: nfft/2 <= ny - 1 always).  Emits
# max / location, moments, cumulative-spectrum quantile widths, Shannon
# entropy, spectral flatness, band power, and 0.5-level crossings.
QUERIES["user_spec_fft"] = _qa("""
, nf AS (
  SELECT user_id, n,
         CASE WHEN n <= 4 THEN 4 WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16
              WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
              WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
              WHEN n <= 512 THEN 512 WHEN n <= 1024 THEN 1024
              WHEN n <= 2048 THEN 2048 WHEN n <= 4096 THEN 4096
              ELSE 8192 END AS nfft
  FROM nn
),
spec AS (
  SELECT s.user_id, ks.rn AS k,
         2.0 * pi() * ks.rn / nf.nfft AS w,
         2.0 * (pow(sum(s.v * cos(2.0 * pi() * ks.rn * s.rn / nf.nfft)), 2)
                + pow(sum(s.v * sin(2.0 * pi() * ks.rn * s.rn / nf.nfft)), 2))
           / nf.n / (2.0 * pi()) AS S,
         nf.nfft, nf.n
  FROM series s
  JOIN nf ON nf.user_id = s.user_id
  JOIN series ks ON ks.user_id = s.user_id AND ks.rn <= nf.nfft / 2
  GROUP BY s.user_id, ks.rn, nf.nfft, nf.n
),
speco AS (
  SELECT user_id, k, w, S, nfft,
         CAST(nfft / 2 + 1 AS BIGINT) AS nb,
         2.0 * pi() / nfft AS dw,
         sum(S) OVER (PARTITION BY user_id ORDER BY k) AS csS,
         sum(S) OVER (PARTITION BY user_id) AS totS,
         max(S) OVER (PARTITION BY user_id) AS mxS,
         lead(S) OVER (PARTITION BY user_id ORDER BY k) AS S1
  FROM spec
)
SELECT user_id,
       round(max(mxS), 6) AS maxS,
       round(min(w) FILTER (WHERE S = mxS), 6) AS maxw,
       round(avg(S), 6) AS spec_mean,
       round(median(S), 6) AS spec_median,
       round(stddev_samp(S), 6) AS spec_std,
       round(min(w) FILTER (WHERE csS >= 0.5  * totS), 6) AS centroid,
       round(min(w) FILTER (WHERE csS >= 0.1  * totS), 6) AS wmax_10,
       round(min(w) FILTER (WHERE csS >= 0.9  * totS), 6) AS wmax_90,
       round(-sum(S * ln(nullif(S, CAST(0.0 AS DOUBLE))))
               FILTER (WHERE S > 0), 6) AS spect_shann_ent,
       round(10.0 * log10(exp(avg(ln(nullif(S, CAST(0.0 AS DOUBLE)))))
                          / nullif(avg(S), CAST(0.0 AS DOUBLE))), 6) AS sfm,
       round(sum(S) FILTER (WHERE k < CAST(floor(nb / 2) AS BIGINT))
             * max(dw), 6) AS area_2_1,
       round(sum(CASE WHEN (S - 0.5 * mxS) * (S1 - 0.5 * mxS) < 0
                      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
               FILTER (WHERE S1 IS NOT NULL), 6) AS ncross_f05
FROM speco GROUP BY user_id
""")


# --- SB_MotifThree 'quantile' (Symbolic.py:296-400) -------------------------
# CoarseGrain 'quantile' 3-alphabet via hazen tertile thresholds
# (th[0]-1 makes the bottom bin closed); word probabilities use the
# reference's windowed denominators N-w+1; entropies over words 1-4.
QUERIES["user_motif3"] = _q("""
, hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
th AS (
  SELECT b.user_id, b.i,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(1.0 AS DOUBLE) / 3.0 AS p
                UNION ALL SELECT 2, CAST(2.0 AS DOUBLE) / 3.0) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
sym AS (
  SELECT s.user_id, s.rn,
         CASE WHEN s.v <= t1.q THEN 0 WHEN s.v <= t2.q THEN 1 ELSE 2 END AS sy
  FROM series s
  JOIN th t1 ON t1.user_id = s.user_id AND t1.i = 1
  JOIN th t2 ON t2.user_id = s.user_id AND t2.i = 2
),
codes AS (
  SELECT user_id, sy,
         sy * 3 + lead(sy)    OVER (PARTITION BY user_id ORDER BY rn) AS w2,
         (sy * 3 + lead(sy) OVER (PARTITION BY user_id ORDER BY rn)) * 3
           + lead(sy, 2) OVER (PARTITION BY user_id ORDER BY rn) AS w3,
         ((sy * 3 + lead(sy) OVER (PARTITION BY user_id ORDER BY rn)) * 3
           + lead(sy, 2) OVER (PARTITION BY user_id ORDER BY rn)) * 3
           + lead(sy, 3) OVER (PARTITION BY user_id ORDER BY rn) AS w4
  FROM sym
),
h1 AS (
  SELECT user_id,
         avg(CASE WHEN sy = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pa,
         avg(CASE WHEN sy = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pb,
         avg(CASE WHEN sy = 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pc
  FROM codes GROUP BY user_id
),
e2 AS (
  SELECT user_id, -sum((cnt / tot) * ln(cnt / tot)) AS h
  FROM (SELECT user_id, w2, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
        FROM codes WHERE w2 IS NOT NULL GROUP BY user_id, w2) t
  GROUP BY user_id
),
e3 AS (
  SELECT user_id, -sum((cnt / tot) * ln(cnt / tot)) AS h
  FROM (SELECT user_id, w3, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
        FROM codes WHERE w3 IS NOT NULL GROUP BY user_id, w3) t
  GROUP BY user_id
),
e4 AS (
  SELECT user_id, -sum((cnt / tot) * ln(cnt / tot)) AS h
  FROM (SELECT user_id, w4, CAST(count(*) AS DOUBLE) AS cnt,
               CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
        FROM codes WHERE w4 IS NOT NULL GROUP BY user_id, w4) t
  GROUP BY user_id
)
SELECT h1.user_id,
       round(h1.pa, 6) AS a, round(h1.pb, 6) AS b, round(h1.pc, 6) AS c,
       round(-(CASE WHEN h1.pa > 0 THEN h1.pa * ln(h1.pa) ELSE CAST(0.0 AS DOUBLE) END
               + CASE WHEN h1.pb > 0 THEN h1.pb * ln(h1.pb) ELSE CAST(0.0 AS DOUBLE) END
               + CASE WHEN h1.pc > 0 THEN h1.pc * ln(h1.pc) ELSE CAST(0.0 AS DOUBLE) END), 6) AS h,
       round(e2.h, 6) AS hh, round(e3.h, 6) AS hhh, round(e4.h, 6) AS hhhh
FROM h1
JOIN e2 ON e2.user_id = h1.user_id
JOIN e3 ON e3.user_id = h1.user_id
JOIN e4 ON e4.user_id = h1.user_id
""")

# --- SB_TransitionMatrix 2 groups, tau=1 (Symbolic.py:541-649) --------------
# Median-split alphabet; T in MATLAB column-major naming; all eigen /
# covariance summaries in closed form for the 2x2 case:
#   eig = (tr +- sqrt(tr^2 - 4 det)) / 2, complex when disc < 0;
#   np.cov(T.T) entries from pairwise column deviations.
QUERIES["user_transmat2"] = _q("""
, sy AS (
  SELECT s.user_id, s.rn,
         CASE WHEN s.v <= m.med THEN 1 ELSE 2 END AS g
  FROM series s
  JOIN (SELECT user_id, median(v) AS med FROM series GROUP BY user_id) m
    ON m.user_id = s.user_id
),
pr AS (
  SELECT user_id, g,
         lead(g) OVER (PARTITION BY user_id ORDER BY rn) AS g2
  FROM sy
),
tm AS (
  SELECT user_id,
         sum(CASE WHEN g = 1 AND g2 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           / count(g2) AS t00,
         sum(CASE WHEN g = 1 AND g2 = 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           / count(g2) AS t01,
         sum(CASE WHEN g = 2 AND g2 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           / count(g2) AS t10,
         sum(CASE WHEN g = 2 AND g2 = 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           / count(g2) AS t11
  FROM pr WHERE g2 IS NOT NULL GROUP BY user_id
),
ex AS (
  SELECT user_id, t00, t01, t10, t11,
         t00 + t11 AS tr,
         t00 * t11 - t01 * t10 AS det,
         (t00 + t11) * (t00 + t11) - 4.0 * (t00 * t11 - t01 * t10) AS disc,
         (t00 - t10) * (t00 - t10) / 2.0 AS c00,
         (t01 - t11) * (t01 - t11) / 2.0 AS c11,
         (t00 - t10) * (t01 - t11) / 2.0 AS c01
  FROM tm
)
SELECT user_id,
       round(t00, 6) AS T1, round(t10, 6) AS T2,
       round(t01, 6) AS T3, round(t11, 6) AS T4,
       round(tr, 6) AS ondiag,
       round(abs(t00 - t11) / sqrt(2.0), 6) AS stddiag,
       round(2.0 * abs(t01 - t10), 6) AS symdiff,
       round(t10 - t01, 6) AS symsumdiff,
       round(sqrt(abs(disc) / 2.0), 6) AS stdeig,
       round(CASE WHEN disc >= 0 THEN (tr + sqrt(disc)) / 2.0 ELSE tr / 2.0 END, 6) AS maxeig,
       round(CASE WHEN disc >= 0 THEN (tr - sqrt(disc)) / 2.0 ELSE tr / 2.0 END, 6) AS mineig,
       round(CASE WHEN disc >= 0 THEN CAST(0.0 AS DOUBLE) ELSE sqrt(-disc) / 2.0 END, 6) AS maximeig,
       round(c00 + c11, 6) AS sumdiagcov,
       round(sqrt((c00 - c11) * (c00 - c11) + 4.0 * c01 * c01) / sqrt(2.0), 6) AS stdeigcov,
       round((c00 + c11 + sqrt((c00 - c11) * (c00 - c11) + 4.0 * c01 * c01)) / 2.0, 6) AS maxeigcov
FROM ex
""")

# --- CO_TranslateShape circle d=2 'pts' (Correlation.py:1344-1477) ----------
# Neighbor counts inside a radius-2 circle in (t, y) translated to each
# interior point; count-distribution stats, the (smallest) modal count,
# i-count fractions, and StatAv 2/3/4 of the count sequence.
QUERIES["user_translate_circle2"] = _qa("""
, cnts AS (
  SELECT a.user_id, a.rn,
         CAST(sum(CASE WHEN (b.rn - a.rn) * (b.rn - a.rn)
                            + (b.v - a.v) * (b.v - a.v) <= 4.0
                       THEN 1 ELSE 0 END) AS DOUBLE) AS cnt
  FROM series a
  JOIN series b ON b.user_id = a.user_id
              AND b.rn BETWEEN a.rn - 2 AND a.rn + 2
  JOIN nn ON nn.user_id = a.user_id
  WHERE a.rn >= 2 AND a.rn <= nn.n - 3
  GROUP BY a.user_id, a.rn
),
seq AS (
  SELECT user_id, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY rn) - 1 AS i,
         count(*) OVER (PARTITION BY user_id) AS nn2,
         stddev_samp(cnt) OVER (PARTITION BY user_id) AS sdall
  FROM cnts
),
md AS (
  SELECT user_id, cnt, hits, tot,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY hits DESC, cnt ASC) AS rk
  FROM (SELECT user_id, cnt, count(*) AS hits,
               sum(count(*)) OVER (PARTITION BY user_id) AS tot
        FROM cnts GROUP BY user_id, cnt) t
),
sv AS (
  SELECT q.user_id, q.ns,
         stddev_samp(q.sm) / nullif(max(q.sdall), CAST(0.0 AS DOUBLE)) AS av_m,
         stddev_samp(q.ss) / nullif(max(q.sdall), CAST(0.0 AS DOUBLE)) AS av_s
  FROM (
    SELECT s.user_id, x.ns,
           CAST(floor(s.i / floor(s.nn2 / x.ns)) AS BIGINT) AS sg,
           avg(s.cnt) AS sm, stddev_samp(s.cnt) AS ss,
           count(*) AS c, max(floor(s.nn2 / x.ns)) AS wlen,
           max(s.sdall) AS sdall
    FROM seq s
    CROSS JOIN (SELECT 2 AS ns UNION ALL SELECT 3 UNION ALL SELECT 4) x
    GROUP BY s.user_id, x.ns, CAST(floor(s.i / floor(s.nn2 / x.ns)) AS BIGINT)
  ) q
  WHERE q.c = q.wlen
  GROUP BY q.user_id, q.ns
)
SELECT st.user_id,
       round(st.mx, 6) AS cnt_max,
       round(st.sd, 6) AS cnt_std,
       round(st.mu, 6) AS cnt_mean,
       round(md.hits / md.tot, 6) AS npatmode,
       round(md.cnt, 6) AS cnt_mode,
       round(st.p1, 6) AS ones, round(st.p2, 6) AS twos,
       round(st.p3, 6) AS threes, round(st.p4, 6) AS fours,
       round(st.p5, 6) AS fives,
       round(s2.av_m, 6) AS statav2_m, round(s2.av_s, 6) AS statav2_s,
       round(s3.av_m, 6) AS statav3_m, round(s3.av_s, 6) AS statav3_s,
       round(s4.av_m, 6) AS statav4_m, round(s4.av_s, 6) AS statav4_s
FROM (
  SELECT user_id, max(cnt) AS mx, stddev_samp(cnt) AS sd, avg(cnt) AS mu,
         avg(CASE WHEN cnt = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS p1,
         avg(CASE WHEN cnt = 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS p2,
         avg(CASE WHEN cnt = 3 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS p3,
         avg(CASE WHEN cnt = 4 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS p4,
         avg(CASE WHEN cnt = 5 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS p5
  FROM cnts GROUP BY user_id
) st
JOIN md ON md.user_id = st.user_id AND md.rk = 1
JOIN sv s2 ON s2.user_id = st.user_id AND s2.ns = 2
JOIN sv s3 ON s3.user_id = st.user_id AND s3.ns = 3
JOIN sv s4 ON s4.user_id = st.user_id AND s4.ns = 4
""")


# --- CO_Embed2 tau='tau' (Correlation.py:196-304), SQL subset ---------------
# tau = ACF first zero-crossing capped at N/10 (>= 1); angles of
# successive embedded steps (atan of dy2/dy1, +-pi/2 from the divide-
# by-zero limits), 10-bin angular histogram stats including empty bins,
# distance statistics over fifths, and outlier areas (mergesort-stable
# closest-half selection).
QUERIES["user_embed2"] = _qa("""
, fz AS (
  SELECT user_id, min(tau) AS i FROM acfn
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id
),
tauv AS (
  SELECT nn.user_id,
         greatest(CASE WHEN coalesce(fz.i, nn.n - 1) > CAST(nn.n AS DOUBLE) / 10.0
                       THEN CAST(floor(CAST(nn.n AS DOUBLE) / 10.0) AS BIGINT)
                       ELSE coalesce(fz.i, nn.n - 1) END, 1) AS tau,
         nn.n
  FROM nn LEFT JOIN fz ON fz.user_id = nn.user_id
),
emb AS (
  SELECT a.user_id, a.rn, a.v AS m0, b.v AS m1, t.n - t.tau AS nm
  FROM series a
  JOIN tauv t ON t.user_id = a.user_id
  JOIN series b ON b.user_id = a.user_id AND b.rn = a.rn + t.tau
),
dxy AS (
  SELECT user_id, rn, nm,
         lead(m1) OVER (PARTITION BY user_id ORDER BY rn) - m1 AS dy,
         lead(m0) OVER (PARTITION BY user_id ORDER BY rn) - m0 AS dx
  FROM emb
),
th AS (
  SELECT user_id, rn, nm,
         CASE WHEN dx = CAST(0.0 AS DOUBLE) THEN
                CASE WHEN dy > 0 THEN pi() / 2.0
                     WHEN dy < 0 THEN -pi() / 2.0
                     ELSE CAST('NaN' AS DOUBLE) END
              ELSE atan(dy / dx) END AS theta
  FROM dxy WHERE dx IS NOT NULL
),
thh AS (SELECT * FROM th WHERE theta IS NOT NULL),
bins AS (
  SELECT s.user_id, s.rn AS b FROM series s WHERE s.rn < 10
),
bc AS (
  SELECT bins.user_id, bins.b,
         coalesce(hc.c, 0) AS c,
         sum(coalesce(hc.c, 0)) OVER (PARTITION BY bins.user_id) AS tot
  FROM bins
  LEFT JOIN (
    SELECT user_id,
           least(CAST(floor((theta + pi() / 2.0) / (pi() / 10.0)) AS BIGINT), 9) AS b,
           count(*) AS c
    FROM thh GROUP BY user_id,
           least(CAST(floor((theta + pi() / 2.0) / (pi() / 10.0)) AS BIGINT), 9)
  ) hc ON hc.user_id = bins.user_id AND hc.b = bins.b
),
hstats AS (
  SELECT user_id,
         stddev_samp(CAST(c AS DOUBLE) / tot) AS hist10std,
         -sum(CASE WHEN c > 0
                   THEN (CAST(c AS DOUBLE) / tot)
                        * ln((CAST(c AS DOUBLE) / tot) / (pi() / 10.0))
                   ELSE CAST(0.0 AS DOUBLE) END) AS histent
  FROM bc GROUP BY user_id
),
tstats AS (
  SELECT user_id, avg(theta) AS theta_mean,
         stddev_samp(theta) AS theta_std
  FROM thh GROUP BY user_id
),
fif AS (
  SELECT user_id, m0, m1,
         CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY rn) - 1)
                    / floor(nm / 5.0)) AS BIGINT) AS sg,
         floor(nm / 5.0) AS afifth
  FROM emb
),
fstat AS (
  SELECT user_id, sg,
         avg(sqrt(m0 * m0 + m1 * m1)) AS dm,
         stddev_samp(sqrt(m0 * m0 + m1 * m1)) AS ds,
         (max(m0) - min(m0)) * (max(m1) - min(m1)) AS spana
  FROM fif WHERE sg < 5 AND afifth > 0
  GROUP BY user_id, sg HAVING count(*) = max(afifth)
),
fagg AS (
  SELECT user_id,
         avg(dm) AS mean_eucdm, stddev_samp(dm) AS std_eucdm,
         avg(ds) AS mean_eucds, stddev_samp(ds) AS std_eucds,
         avg(spana) AS meanspana, stddev_samp(spana) AS stdspana
  FROM fstat GROUP BY user_id
),
dr AS (
  SELECT user_id, m0, m1, nm,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY sqrt(m0 * m0 + m1 * m1), rn) AS rk
  FROM emb
),
areas AS (
  SELECT user_id,
         (max(m0) - min(m0)) * (max(m1) - min(m1)) AS areas_all,
         (max(m0) FILTER (WHERE rk <= CAST(ceil(nm / 2.0) AS BIGINT))
          - min(m0) FILTER (WHERE rk <= CAST(ceil(nm / 2.0) AS BIGINT)))
         * (max(m1) FILTER (WHERE rk <= CAST(ceil(nm / 2.0) AS BIGINT))
            - min(m1) FILTER (WHERE rk <= CAST(ceil(nm / 2.0) AS BIGINT))) AS areas_50
  FROM dr GROUP BY user_id
)
SELECT t.user_id,
       round(t.theta_mean, 6) AS theta_mean,
       round(t.theta_std, 6) AS theta_std,
       round(h.hist10std, 6) AS hist10std,
       round(h.histent, 6) AS histent,
       round(f.mean_eucdm, 6) AS mean_eucdm,
       round(f.std_eucdm, 6) AS std_eucdm,
       round(f.mean_eucds, 6) AS mean_eucds,
       round(f.std_eucds, 6) AS std_eucds,
       round(f.meanspana, 6) AS meanspana,
       round(f.stdspana, 6) AS stdspana,
       round(ar.areas_all, 6) AS areas_all,
       round(ar.areas_50, 6) AS areas_50,
       round(ar.areas_50 / nullif(ar.areas_all, CAST(0.0 AS DOUBLE)), 6) AS arearat
FROM tstats t
JOIN hstats h ON h.user_id = t.user_id
JOIN fagg f ON f.user_id = t.user_id
JOIN areas ar ON ar.user_id = t.user_id
""")

# --- IN_AutoMutualInfoStats gaussian, max_tau=10 (Information.py:155-257) ---
# AMI(tau) = -0.5 ln(1 - corr(y_t, y_{t+tau})^2) per lag via a lag
# self-join; curve statistics: mean/std, extrema fraction, first
# minimum (else lami), mean-crossing fraction, lag-1 Fourier ACF of the
# 10-point curve.
QUERIES["user_amistats_g10"] = _q("""
, taus AS (
  SELECT 1 AS tau UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4
  UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL SELECT 7
  UNION ALL SELECT 8 UNION ALL SELECT 9 UNION ALL SELECT 10
),
amit AS (
  SELECT a.user_id, t.tau,
         -0.5 * ln(1.0 - corr(a.v, b.v) * corr(a.v, b.v)) AS ami
  FROM series a
  JOIN taus t ON 1 = 1
  JOIN series b ON b.user_id = a.user_id AND b.rn = a.rn + t.tau
  GROUP BY a.user_id, t.tau
),
cent2 AS (
  SELECT user_id, tau, ami,
         ami - avg(ami) OVER (PARTITION BY user_id) AS c,
         avg(ami) OVER (PARTITION BY user_id) AS mami
  FROM amit
),
curve AS (
  SELECT user_id, tau, ami, c, mami,
         lead(ami) OVER (PARTITION BY user_id ORDER BY tau) AS ami1,
         lead(ami, 2) OVER (PARTITION BY user_id ORDER BY tau) AS ami2,
         lead(c) OVER (PARTITION BY user_id ORDER BY tau) AS c1
  FROM cent2
),
ext AS (
  SELECT user_id,
         sum(CASE WHEN (ami1 - ami) * (ami2 - ami1) < 0 THEN 1 ELSE 0 END)
           FILTER (WHERE ami2 IS NOT NULL) AS next_,
         min(CASE WHEN ami2 IS NOT NULL
                       AND (ami1 - ami) * (ami2 - ami1) < 0
                  THEN tau END) AS firstext,
         sum(CASE WHEN sign(ami1 - mami) <> sign(ami - mami)
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           FILTER (WHERE ami1 IS NOT NULL) AS ncrossmean,
         sum(c * c1) FILTER (WHERE c1 IS NOT NULL) AS s1,
         sum(c * c) AS s0,
         count(*) AS lami
  FROM curve GROUP BY user_id
),
pv AS (
  SELECT user_id,
         max(CASE WHEN tau = 1 THEN ami END) AS ami1,
         max(CASE WHEN tau = 2 THEN ami END) AS ami2,
         max(CASE WHEN tau = 3 THEN ami END) AS ami3,
         max(CASE WHEN tau = 4 THEN ami END) AS ami4,
         max(CASE WHEN tau = 5 THEN ami END) AS ami5,
         max(CASE WHEN tau = 6 THEN ami END) AS ami6,
         max(CASE WHEN tau = 7 THEN ami END) AS ami7,
         max(CASE WHEN tau = 8 THEN ami END) AS ami8,
         max(CASE WHEN tau = 9 THEN ami END) AS ami9,
         max(CASE WHEN tau = 10 THEN ami END) AS ami10,
         avg(ami) AS mami, stddev_samp(ami) AS stdami
  FROM amit GROUP BY user_id
)
SELECT pv.user_id,
       round(pv.ami1, 6) AS ami1, round(pv.ami2, 6) AS ami2,
       round(pv.ami3, 6) AS ami3, round(pv.ami4, 6) AS ami4,
       round(pv.ami5, 6) AS ami5, round(pv.ami6, 6) AS ami6,
       round(pv.ami7, 6) AS ami7, round(pv.ami8, 6) AS ami8,
       round(pv.ami9, 6) AS ami9, round(pv.ami10, 6) AS ami10,
       round(pv.mami, 6) AS mami,
       round(pv.stdami, 6) AS stdami,
       round(CAST(ext.next_ AS DOUBLE) / (ext.lami - 1), 6) AS pextrema,
       round(CAST(coalesce(ext.firstext, ext.lami) AS DOUBLE), 6) AS fmmi,
       round(ext.ncrossmean / (ext.lami - 1), 6) AS pcrossmean,
       round(ext.s1 / nullif(ext.s0, CAST(0.0 AS DOUBLE)), 6) AS amiac1
FROM pv JOIN ext ON ext.user_id = pv.user_id
""")


# --- CO_fzcglscf alpha=beta=1 (Correlation.py:1100-1152) --------------------
# GLSCF(1,1,tau) for every lag from one O(N^2/2) pair join; first
# crossing through zero with the reference's linear interpolation
# (tau at the crossing when prev is absent or equal); N when no crossing.
QUERIES["user_fzcglscf11"] = _qa("""
, gl AS (
  SELECT a.user_id, b.rn - a.rn AS tau,
         (avg(abs(a.v) * abs(b.v)) - avg(abs(a.v)) * avg(abs(b.v)))
           / nullif(sqrt(greatest(avg(abs(a.v) * abs(a.v))
                                  - avg(abs(a.v)) * avg(abs(a.v)),
                                  CAST(0.0 AS DOUBLE)))
                    * sqrt(greatest(avg(abs(b.v) * abs(b.v))
                                    - avg(abs(b.v)) * avg(abs(b.v)),
                                    CAST(0.0 AS DOUBLE))),
                    CAST(0.0 AS DOUBLE)) AS g
  FROM series a JOIN series b ON b.user_id = a.user_id AND b.rn > a.rn
  GROUP BY a.user_id, b.rn - a.rn
),
fc AS (
  SELECT user_id, min(tau) AS t FROM (
    SELECT user_id, tau, g,
           lag(g) OVER (PARTITION BY user_id ORDER BY tau) AS gp
    FROM gl
  ) sc
  WHERE sc.g * sc.gp < CAST(0.0 AS DOUBLE) GROUP BY user_id
)
SELECT nn.user_id,
       round(CASE WHEN fc.t IS NULL THEN CAST(nn.n AS DOUBLE)
                  ELSE fc.t - 1 + c.g / (c.g - p.g) END, 6) AS fzcglscf11
FROM nn
LEFT JOIN fc ON fc.user_id = nn.user_id
LEFT JOIN gl p ON p.user_id = nn.user_id AND p.tau = fc.t - 1
LEFT JOIN gl c ON c.user_id = nn.user_id AND c.tau = fc.t
""")

# --- FC_LoopLocalSimple 'mean' (ModelFit.py:15-77) --------------------------
# LocalSimple(mean, ltrain) for ltrain = 1..10 via a bounded-window pair
# join; per-ltrain residual stderr / Fourier ac1-ac2 / 5-segment sliding
# std-of-{std,mean}; then the reference's normalized curve-shape stats
# over the sweep (mean-diff over range, mean sign of diffs, std over
# range).
QUERIES["user_llsimple_mean"] = _q("""
, lps AS (
  SELECT 1 AS lp UNION ALL SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4
  UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL SELECT 7
  UNION ALL SELECT 8 UNION ALL SELECT 9 UNION ALL SELECT 10
),
res AS (
  SELECT a.user_id, l.lp, a.rn, avg(b.v) - a.v AS r
  FROM series a
  JOIN lps l ON 1 = 1
  JOIN series b ON b.user_id = a.user_id
               AND b.rn BETWEEN a.rn - l.lp AND a.rn - 1
  WHERE a.rn >= l.lp
  GROUP BY a.user_id, l.lp, a.rn, a.v
),
rc AS (
  SELECT user_id, lp, rn, r,
         r - avg(r) OVER (PARTITION BY user_id, lp) AS rcnt,
         count(*) OVER (PARTITION BY user_id, lp) AS nr
  FROM res
),
rl AS (
  SELECT user_id, lp, rn, r, rcnt, nr,
         lead(rcnt)    OVER (PARTITION BY user_id, lp ORDER BY rn) AS rc1,
         lead(rcnt, 2) OVER (PARTITION BY user_id, lp ORDER BY rn) AS rc2,
         row_number()  OVER (PARTITION BY user_id, lp ORDER BY rn) - 1 AS i
  FROM rc
),
base AS (
  SELECT user_id, lp,
         stddev_samp(r) AS stderr,
         sum(rcnt * rc1) FILTER (WHERE rc1 IS NOT NULL)
           / nullif(sum(rcnt * rcnt), CAST(0.0 AS DOUBLE)) AS ac1,
         sum(rcnt * rc2) FILTER (WHERE rc2 IS NOT NULL)
           / nullif(sum(rcnt * rcnt), CAST(0.0 AS DOUBLE)) AS ac2
  FROM rl GROUP BY user_id, lp
),
segs AS (
  SELECT user_id, lp,
         CAST(floor(i / floor(nr / 5.0)) AS BIGINT) AS sg,
         avg(r) AS sm, stddev_samp(r) AS ss,
         count(*) AS c, max(floor(nr / 5.0)) AS wlen
  FROM rl GROUP BY user_id, lp, CAST(floor(i / floor(nr / 5.0)) AS BIGINT)
),
sw AS (
  SELECT user_id, lp,
         stddev_samp(ss) AS sws_n, stddev_samp(sm) AS swm_n
  FROM segs WHERE c = wlen GROUP BY user_id, lp
),
curve AS (
  SELECT b.user_id, b.lp, b.stderr, b.ac1, b.ac2,
         sw.sws_n / nullif(b.stderr, CAST(0.0 AS DOUBLE)) AS sws,
         sw.swm_n / nullif(b.stderr, CAST(0.0 AS DOUBLE)) AS swm
  FROM base b
  JOIN sw ON sw.user_id = b.user_id AND sw.lp = b.lp
),
diffs AS (
  SELECT user_id, lp, stderr, sws, swm, ac1, ac2,
         lead(stderr) OVER (PARTITION BY user_id ORDER BY lp) - stderr AS dstderr,
         lead(sws)    OVER (PARTITION BY user_id ORDER BY lp) - sws    AS dsws,
         lead(swm)    OVER (PARTITION BY user_id ORDER BY lp) - swm    AS dswm,
         lead(ac1)    OVER (PARTITION BY user_id ORDER BY lp) - ac1    AS dac1,
         lead(ac2)    OVER (PARTITION BY user_id ORDER BY lp) - ac2    AS dac2
  FROM curve
)
SELECT user_id,
       round(avg(dstderr) / nullif(max(stderr) - min(stderr), CAST(0.0 AS DOUBLE)), 6) AS stderr_chn,
       round(avg(CAST(sign(dstderr) AS DOUBLE)), 6) AS stderr_meansgndiff,
       round(avg(dsws) / nullif(max(sws) - min(sws), CAST(0.0 AS DOUBLE)), 6) AS sws_chn,
       round(avg(CAST(sign(dsws) AS DOUBLE)), 6) AS sws_meansgndiff,
       round(stddev_samp(sws) / nullif(max(sws) - min(sws), CAST(0.0 AS DOUBLE)), 6) AS sws_stdn,
       round(avg(dswm) / nullif(max(swm) - min(swm), CAST(0.0 AS DOUBLE)), 6) AS swm_chn,
       round(avg(CAST(sign(dswm) AS DOUBLE)), 6) AS swm_meansgndiff,
       round(stddev_samp(swm) / nullif(max(swm) - min(swm), CAST(0.0 AS DOUBLE)), 6) AS swm_stdn,
       round(avg(dac1) / nullif(max(ac1) - min(ac1), CAST(0.0 AS DOUBLE)), 6) AS ac1_chn,
       round(avg(CAST(sign(dac1) AS DOUBLE)), 6) AS ac1_meansgndiff,
       round(stddev_samp(ac1) / nullif(max(ac1) - min(ac1), CAST(0.0 AS DOUBLE)), 6) AS ac1_stdn,
       round(avg(dac2) / nullif(max(ac2) - min(ac2), CAST(0.0 AS DOUBLE)), 6) AS ac2_chn,
       round(avg(CAST(sign(dac2) AS DOUBLE)), 6) AS ac2_meansgndiff,
       round(stddev_samp(ac2) / nullif(max(ac2) - min(ac2), CAST(0.0 AS DOUBLE)), 6) AS ac2_stdn
FROM diffs GROUP BY user_id
""")

# --- PH_Walker 'prop' p=0.5 (Physics.py:10-174), SQL subset -----------------
# The proportional walker is a linear recursion with closed form
# w_i = p * sum_{j<i} (1-p)^{i-1-j} y_j, evaluated as an O(N^2/2) join;
# trajectory stats, walker-vs-series comparisons, residual AC and
# 5-segment sliding std-of-std.
QUERIES["user_walker_prop"] = _qa("""
, wk AS (
  SELECT s.user_id, s.rn,
         coalesce(w.w, CAST(0.0 AS DOUBLE)) AS w, s.v
  FROM series s
  LEFT JOIN (
    SELECT a.user_id, a.rn,
           0.5 * sum(power(0.5, a.rn - 1 - b.rn) * b.v) AS w
    FROM series a
    JOIN series b ON b.user_id = a.user_id AND b.rn < a.rn
    GROUP BY a.user_id, a.rn
  ) w ON w.user_id = s.user_id AND w.rn = s.rn
),
wc AS (
  SELECT user_id, rn, w, v,
         w - avg(w) OVER (PARTITION BY user_id) AS cw,
         w - v AS res,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM wk
),
wl AS (
  SELECT user_id, rn, w, v, cw, res, n,
         lead(w)  OVER (PARTITION BY user_id ORDER BY rn) AS w1,
         lead(cw) OVER (PARTITION BY user_id ORDER BY rn) AS cw1,
         lead(cw, 2) OVER (PARTITION BY user_id ORDER BY rn) AS cw2,
         lead(w - v) OVER (PARTITION BY user_id ORDER BY rn) AS res1,
         row_number() OVER (PARTITION BY user_id ORDER BY rn) - 1 AS i
  FROM wc
),
wst AS (
  SELECT user_id,
         avg(w) AS w_mean, median(w) AS w_median,
         stddev_samp(w) AS w_std, min(w) AS w_min, max(w) AS w_max,
         sum(cw * cw1) FILTER (WHERE cw1 IS NOT NULL)
           / nullif(sum(cw * cw), CAST(0.0 AS DOUBLE)) AS w_ac1,
         sum(cw * cw2) FILTER (WHERE cw2 IS NOT NULL)
           / nullif(sum(cw * cw), CAST(0.0 AS DOUBLE)) AS w_ac2,
         sum(CASE WHEN w * w1 < 0 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
           FILTER (WHERE w1 IS NOT NULL) / (max(n) - 1) AS w_propzcross,
         avg(abs(v - w)) AS sw_meanabsdiff,
         sum(CASE WHEN res * res1 < 0 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
           FILTER (WHERE res1 IS NOT NULL) / (max(n) - 1) AS sw_propcross,
         stddev_samp(res) AS res_sd
  FROM wl GROUP BY user_id
),
rcent AS (
  SELECT user_id, rn,
         res - avg(res) OVER (PARTITION BY user_id) AS cr
  FROM wc
),
rac AS (
  SELECT user_id,
         sum(cr * cr1) FILTER (WHERE cr1 IS NOT NULL)
           / nullif(sum(cr * cr), CAST(0.0 AS DOUBLE)) AS res_ac1
  FROM (
    SELECT user_id, cr,
           lead(cr) OVER (PARTITION BY user_id ORDER BY rn) AS cr1
    FROM rcent
  ) z GROUP BY user_id
),
rsegs AS (
  SELECT user_id,
         CAST(floor(i / floor(n / 5.0)) AS BIGINT) AS sg,
         stddev_samp(res) AS ss, count(*) AS c, max(floor(n / 5.0)) AS wlen
  FROM wl GROUP BY user_id, CAST(floor(i / floor(n / 5.0)) AS BIGINT)
),
rsw AS (
  SELECT user_id, stddev_samp(ss) AS sws_n
  FROM rsegs WHERE c = wlen GROUP BY user_id
),
yst AS (
  SELECT user_id, stddev_samp(v) AS y_std, min(v) AS y_min, max(v) AS y_max
  FROM series GROUP BY user_id
)
SELECT w.user_id,
       round(w.w_mean, 6) AS w_mean,
       round(w.w_median, 6) AS w_median,
       round(w.w_std, 6) AS w_std,
       round(w.w_ac1, 6) AS w_ac1,
       round(w.w_ac2, 6) AS w_ac2,
       round(w.w_min, 6) AS w_min,
       round(w.w_max, 6) AS w_max,
       round(w.w_propzcross, 6) AS w_propzcross,
       round(w.sw_meanabsdiff, 6) AS sw_meanabsdiff,
       round(w.w_std / nullif(y.y_std, CAST(0.0 AS DOUBLE)), 6) AS sw_stdrat,
       round(w.w_min / nullif(y.y_min, CAST(0.0 AS DOUBLE)), 6) AS sw_minrat,
       round(w.w_max / nullif(y.y_max, CAST(0.0 AS DOUBLE)), 6) AS sw_maxrat,
       round(w.sw_propcross, 6) AS sw_propcross,
       round(w.w_ac1 / nullif(ac1y.r, CAST(0.0 AS DOUBLE)), 6) AS sw_ac1rat,
       round(ra.res_ac1, 6) AS res_ac1,
       round(rs.sws_n / nullif(w.res_sd, CAST(0.0 AS DOUBLE)), 6) AS res_swss5_1
FROM wst w
JOIN yst y ON y.user_id = w.user_id
JOIN rac ra ON ra.user_id = w.user_id
JOIN rsw rs ON rs.user_id = w.user_id
JOIN acfn ac1y ON ac1y.user_id = w.user_id AND ac1y.tau = 1
""")


# --- EX_MovingThreshold a=1, b=0.1 (ExtremeEvents.py:5-78) ------------------
# The adaptive barrier is a nonlinear per-step recursion (kick above
# extremes, decay otherwise) — not expressible as a window function, so
# the ENGINE computes it (per-user Arrow kernel) and the ORACLE walks
# the same recursion as a DuckDB recursive CTE, plus hazen-IQR and
# kick-interval statistics.
ENGINE_ORACLES["user_movthresh"] = """
WITH RECURSIVE raw AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         abs(CAST(value AS DOUBLE)) AS v
  FROM events
),
walk AS (
  SELECT user_id, rn, v, CAST(1.0 AS DOUBLE) AS q, CAST(0.0 AS DOUBLE) AS kick
  FROM raw WHERE rn = 0
  UNION ALL
  SELECT r.user_id, r.rn, r.v,
         CASE WHEN r.v > w.q THEN 2.0 * r.v ELSE 0.9 * w.q END,
         CASE WHEN r.v > w.q THEN 2.0 * r.v - w.q ELSE CAST(0.0 AS DOUBLE) END
  FROM walk w
  JOIN raw r ON r.user_id = w.user_id AND r.rn = w.rn + 1
),
hq AS (
  SELECT user_id, q,
         row_number() OVER (PARTITION BY user_id ORDER BY q) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM walk
),
qv AS (
  SELECT b.user_id, b.i,
         lo.q + (b.posc - floor(b.posc)) * (hi.q - lo.q) AS qq
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
ik AS (
  SELECT user_id, rn - lag(rn) OVER (PARTITION BY user_id ORDER BY rn) AS d
  FROM walk WHERE kick > 0
),
iks AS (
  SELECT user_id,
         CASE WHEN count(d) > 1 THEN stddev_samp(d) END AS stdkicks,
         avg(CAST(d AS DOUBLE)) AS meankickf,
         median(CAST(d AS DOUBLE)) AS mediankicksf
  FROM ik GROUP BY user_id
),
st AS (
  SELECT user_id,
         avg(q) AS meanq, median(q) AS medianq, max(q) AS maxq,
         min(q) AS minq, stddev_samp(q) AS stdq,
         avg(q - v) AS meanqover,
         sum(kick) / (count(*) - 1) AS pkick
  FROM walk GROUP BY user_id
)
SELECT st.user_id,
       round(st.meanq, 6) AS meanq,
       round(st.medianq, 6) AS medianq,
       round(q75.qq - q25.qq, 6) AS iqrq,
       round(st.maxq, 6) AS maxq,
       round(st.minq, 6) AS minq,
       round(st.stdq, 6) AS stdq,
       round(st.meanqover, 6) AS meanqover,
       round(st.pkick, 6) AS pkick,
       round(iks.stdkicks, 6) AS stdkicks,
       round(iks.meankickf, 6) AS meankickf,
       round(iks.mediankicksf, 6) AS mediankicksf
FROM st
JOIN qv q25 ON q25.user_id = st.user_id AND q25.i = 1
JOIN qv q75 ON q75.user_id = st.user_id AND q75.i = 2
LEFT JOIN iks ON iks.user_id = st.user_id
"""


# --- CO_AutoCorrShape 'posDrown' (Correlation.py:1478-1644), SQL subset -----
# Keep the ACF out to the first lag below 2/sqrt(N) (kept if still
# positive); emit the drown index, sum/mean of the kept curve, and the
# number of concave local minima of the kept curve.
QUERIES["user_acshape"] = _qa("""
, thv AS (
  SELECT user_id, 2.0 / sqrt(CAST(n AS DOUBLE)) AS th, n FROM nn
),
dr AS (
  SELECT a.user_id, min(a.tau) AS t0
  FROM acfn a JOIN thv t ON t.user_id = a.user_id AND a.r < t.th
  GROUP BY a.user_id
),
cut AS (
  SELECT nn.user_id,
         CASE WHEN dr.t0 IS NULL THEN CAST(0 AS BIGINT)
              WHEN c.r > 0 THEN dr.t0 + 1 ELSE dr.t0 END AS ndrown,
         CASE WHEN dr.t0 IS NULL THEN nn.n - 1
              WHEN c.r > 0 THEN dr.t0 ELSE dr.t0 - 1 END AS keepmax
  FROM nn
  LEFT JOIN dr ON dr.user_id = nn.user_id
  LEFT JOIN acfn c ON c.user_id = nn.user_id AND c.tau = dr.t0
),
kept AS (
  SELECT a.user_id, a.tau, a.r,
         lead(a.r)    OVER (PARTITION BY a.user_id ORDER BY a.tau) AS r1,
         lead(a.r, 2) OVER (PARTITION BY a.user_id ORDER BY a.tau) AS r2
  FROM acfn a JOIN cut ON cut.user_id = a.user_id AND a.tau <= cut.keepmax
)
SELECT c.user_id,
       round(CAST(c.ndrown AS DOUBLE), 6) AS nac,
       round(k.sumacf, 6) AS sumacf,
       round(k.meanacf, 6) AS meanacf,
       round(k.nminima, 6) AS nminima
FROM cut c
JOIN (
  SELECT user_id, sum(r) AS sumacf, avg(r) AS meanacf,
         CAST(sum(CASE WHEN r2 IS NOT NULL
                            AND (r2 - r1) * (r1 - r) < 0
                            AND (r2 - r1) - (r1 - r) > 0
                       THEN 1 ELSE 0 END) AS DOUBLE) AS nminima
  FROM kept GROUP BY user_id
) k ON k.user_id = c.user_id
""")

# --- SY_RangeEvolve (Stationarity.py:491-549), complete ---------------------
# Cumulative range via running max/min windows; unique-value and
# range-fraction statistics at percentage and fixed-length cut points
# (NaN keys for N below a fixed cut, the engine's stable-schema policy).
QUERIES["user_rangeevolve"] = _q("""
, rv AS (
  SELECT user_id, rn,
         max(v) OVER (PARTITION BY user_id ORDER BY rn)
           - min(v) OVER (PARTITION BY user_id ORDER BY rn) AS cums,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
agg AS (
  SELECT user_id, max(n) AS n,
         CAST(count(DISTINCT cums) AS DOUBLE) AS totnuq,
         CAST(count(DISTINCT CASE WHEN rn < CAST(floor(n * CAST(0.01 AS DOUBLE)) AS BIGINT)
                                  THEN cums END) AS DOUBLE) AS u_p1,
         CAST(count(DISTINCT CASE WHEN rn < CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT)
                                  THEN cums END) AS DOUBLE) AS u_p10,
         CAST(count(DISTINCT CASE WHEN rn < CAST(floor(n * CAST(0.2 AS DOUBLE)) AS BIGINT)
                                  THEN cums END) AS DOUBLE) AS u_p20,
         CAST(count(DISTINCT CASE WHEN rn < CAST(floor(n * CAST(0.5 AS DOUBLE)) AS BIGINT)
                                  THEN cums END) AS DOUBLE) AS u_p50,
         CAST(count(DISTINCT CASE WHEN rn < 10 THEN cums END) AS DOUBLE) AS u_l10,
         CAST(count(DISTINCT CASE WHEN rn < 50 THEN cums END) AS DOUBLE) AS u_l50,
         max(CASE WHEN rn = CAST(ceil(n * CAST(0.01 AS DOUBLE)) AS BIGINT) - 1 THEN cums END) AS c_p1,
         max(CASE WHEN rn = CAST(ceil(n * CAST(0.1 AS DOUBLE)) AS BIGINT) - 1 THEN cums END) AS c_p10,
         max(CASE WHEN rn = CAST(ceil(n * CAST(0.2 AS DOUBLE)) AS BIGINT) - 1 THEN cums END) AS c_p20,
         max(CASE WHEN rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT) - 1 THEN cums END) AS c_p50,
         max(CASE WHEN rn = 9 THEN cums END) AS c_l10,
         max(CASE WHEN rn = 49 THEN cums END) AS c_l50
  FROM rv GROUP BY user_id
),
fr AS (
  SELECT user_id, max(v) - min(v) AS fullr FROM series GROUP BY user_id
)
SELECT a.user_id,
       round(a.totnuq, 6) AS totnuq,
       round(a.u_p1 / a.totnuq, 6) AS nuqp1,
       round(a.u_p10 / a.totnuq, 6) AS nuqp10,
       round(a.u_p20 / a.totnuq, 6) AS nuqp20,
       round(a.u_p50 / a.totnuq, 6) AS nuqp50,
       round(CASE WHEN a.n >= 10 THEN a.u_l10 / a.totnuq END, 6) AS nuql10,
       round(CASE WHEN a.n >= 50 THEN a.u_l50 / a.totnuq END, 6) AS nuql50,
       CAST(NULL AS DOUBLE) AS nuql100,
       CAST(NULL AS DOUBLE) AS nuql1000,
       round(a.c_p1 / nullif(f.fullr, CAST(0.0 AS DOUBLE)), 6) AS p1,
       round(a.c_p10 / nullif(f.fullr, CAST(0.0 AS DOUBLE)), 6) AS p10,
       round(a.c_p20 / nullif(f.fullr, CAST(0.0 AS DOUBLE)), 6) AS p20,
       round(a.c_p50 / nullif(f.fullr, CAST(0.0 AS DOUBLE)), 6) AS p50,
       round(CASE WHEN a.n >= 10 THEN a.c_l10 / nullif(f.fullr, CAST(0.0 AS DOUBLE)) END, 6) AS l10,
       round(CASE WHEN a.n >= 50 THEN a.c_l50 / nullif(f.fullr, CAST(0.0 AS DOUBLE)) END, 6) AS l50,
       CAST(NULL AS DOUBLE) AS l100,
       CAST(NULL AS DOUBLE) AS l1000
FROM agg a JOIN fr f ON f.user_id = a.user_id
""")

# --- MD_hrv_classic (Medical.py:71-211), complete ---------------------------
# pNNx thresholds, LF/HF band powers from a Hann periodogram (nfft=256
# DFT join with the window spelled out), MATLAB binpicker 'nbins=10'
# triangular index (power-of-10 width refinement + digitize-equivalent
# edge comparisons), and Poincare SD1/SD2.
QUERIES["user_hrv_classic"] = _qa("""
, k16 AS (
  SELECT d1.rn * 16 + d2.rn AS k
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 16 AND user_id =
        (SELECT min(user_id) FROM series)) d1
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 16 AND user_id =
        (SELECT min(user_id) FROM series)) d2
  WHERE d1.rn * 16 + d2.rn <= 128
),
hw AS (
  SELECT s.user_id, s.rn, s.v,
         s.v * (0.5 - 0.5 * cos(2.0 * pi() * s.rn / (nn.n - 1))) AS wv,
         (0.5 - 0.5 * cos(2.0 * pi() * s.rn / (nn.n - 1)))
           * (0.5 - 0.5 * cos(2.0 * pi() * s.rn / (nn.n - 1))) AS w2
  FROM series s JOIN nn ON nn.user_id = s.user_id
),
spec AS (
  SELECT h.user_id, k16.k,
         (pow(sum(h.wv * cos(2.0 * pi() * k16.k * h.rn / 256.0)), 2)
          + pow(sum(h.wv * sin(2.0 * pi() * k16.k * h.rn / 256.0)), 2))
           / (2.0 * pi() * max(t.sw2))
           * (CASE WHEN k16.k = 0 OR k16.k = 128 THEN 1.0 ELSE 2.0 END) AS P,
         2.0 * pi() * k16.k / 256.0 AS F
  FROM hw h
  JOIN (SELECT user_id, sum(w2) AS sw2 FROM hw GROUP BY user_id) t
    ON t.user_id = h.user_id
  CROSS JOIN k16
  GROUP BY h.user_id, k16.k
),
bands AS (
  SELECT user_id,
         sum(P) FILTER (WHERE F >= 0.04 AND F <= 0.15) AS lfp,
         sum(P) FILTER (WHERE F >= 0.15 AND F <= 0.4) AS hfp,
         sum(P) FILTER (WHERE F <= 0.04) AS vlfp,
         sum(P) AS totp
  FROM spec GROUP BY user_id
),
bp AS (
  SELECT mm.user_id, mm.mn, mm.mx,
         least(bw2.bw * floor(mm.mn / bw2.bw), mm.mn) AS le0, bw2.bw AS bw0
  FROM (SELECT user_id, min(v) AS mn, max(v) AS mx
        FROM series GROUP BY user_id) mm
  JOIN (
    SELECT user_id,
           power(10.0, floor(log10((mx - mn) / 10.0)))
             * floor(((mx - mn) / 10.0)
                     / power(10.0, floor(log10((mx - mn) / 10.0)))) AS bw
    FROM (SELECT user_id, min(v) AS mn, max(v) AS mx
          FROM series GROUP BY user_id) m2
  ) bw2 ON bw2.user_id = mm.user_id
),
bpf AS (
  SELECT user_id, mn, mx, le0,
         power(10.0, floor(log10((mx - le0) / 9.0 - (mx - le0) / 10.0)))
           * ceil(((mx - le0) / 10.0)
                  / power(10.0, floor(log10((mx - le0) / 9.0
                                            - (mx - le0) / 10.0)))) AS bw,
         greatest(le0 + 10.0 * (power(10.0, floor(log10((mx - le0) / 9.0 - (mx - le0) / 10.0)))
           * ceil(((mx - le0) / 10.0)
                  / power(10.0, floor(log10((mx - le0) / 9.0
                                            - (mx - le0) / 10.0))))), mx) AS re
  FROM bp
),
tric AS (
  SELECT s.user_id,
         CASE WHEN s.v = b.re THEN 10
              WHEN s.v < b.le0 + 1.0 * b.bw THEN 0
              WHEN s.v < b.le0 + 2.0 * b.bw THEN 1
              WHEN s.v < b.le0 + 3.0 * b.bw THEN 2
              WHEN s.v < b.le0 + 4.0 * b.bw THEN 3
              WHEN s.v < b.le0 + 5.0 * b.bw THEN 4
              WHEN s.v < b.le0 + 6.0 * b.bw THEN 5
              WHEN s.v < b.le0 + 7.0 * b.bw THEN 6
              WHEN s.v < b.le0 + 8.0 * b.bw THEN 7
              WHEN s.v < b.le0 + 9.0 * b.bw THEN 8
              ELSE 9 END AS bin
  FROM series s JOIN bpf b ON b.user_id = s.user_id
),
tri AS (
  SELECT t.user_id, CAST(max(c) AS DOUBLE) AS maxc
  FROM (SELECT user_id, bin, count(*) AS c FROM tric GROUP BY user_id, bin) t
  GROUP BY t.user_id
),
dx AS (
  SELECT user_id, abs(v1 - v) AS ad, v1 - v AS d
  FROM win WHERE v1 IS NOT NULL
),
dstat AS (
  SELECT user_id,
         avg(CASE WHEN ad > 0.005 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pnn5,
         avg(CASE WHEN ad > 0.01  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pnn10,
         avg(CASE WHEN ad > 0.02  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pnn20,
         avg(CASE WHEN ad > 0.03  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pnn30,
         avg(CASE WHEN ad > 0.04  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pnn40,
         stddev_samp(d) AS rmssd
  FROM dx GROUP BY user_id
),
yst AS (
  SELECT user_id, stddev_samp(v) AS sd, count(*) AS n
  FROM series GROUP BY user_id
)
SELECT d.user_id,
       round(d.pnn5, 6) AS pnn5, round(d.pnn10, 6) AS pnn10,
       round(d.pnn20, 6) AS pnn20, round(d.pnn30, 6) AS pnn30,
       round(d.pnn40, 6) AS pnn40,
       round(b.lfp / nullif(b.hfp, CAST(0.0 AS DOUBLE)), 6) AS lfhf,
       round(b.vlfp / b.totp * 100.0, 6) AS vlf,
       round(b.lfp / b.totp * 100.0, 6) AS lf,
       round(b.hfp / b.totp * 100.0, 6) AS hf,
       round(y.n / t.maxc, 6) AS tri,
       round(d.rmssd / sqrt(2.0) * 1000.0, 6) AS SD1,
       round(sqrt(greatest(2.0 * y.sd * y.sd - 0.5 * d.rmssd * d.rmssd,
                           CAST(0.0 AS DOUBLE))) * 1000.0, 6) AS SD2
FROM dstat d
JOIN bands b ON b.user_id = d.user_id
JOIN tri t ON t.user_id = d.user_id
JOIN yst y ON y.user_id = d.user_id
""")


# --- EN_mse scales [1,2], m=2, r=0.15 (Entropy.py:166-262) ------------------
# Non-overlapping-mean coarse-graining (the tier cascade's downsample),
# physionet SampEn (m=2) per scale with the reference's ABSOLUTE
# r = 0.15 (never rescaled by the coarse-grained std — bug-for-bug),
# + max/min/mean over the finite scales.
QUERIES["user_mse12"] = _q("""
, cg2 AS (
  SELECT user_id, CAST(floor(rn / 2) AS BIGINT) AS t, (v + v1) / 2.0 AS c
  FROM win WHERE rn % 2 = 0 AND v1 IS NOT NULL
),
cl2 AS (
  SELECT user_id, t, c,
         lead(c)    OVER (PARTITION BY user_id ORDER BY t) AS c1,
         lead(c, 2) OVER (PARTITION BY user_id ORDER BY t) AS c2
  FROM cg2
),
st2 AS (
  SELECT user_id, CAST(0.15 AS DOUBLE) AS r, count(*) AS cnt
  FROM cg2 GROUP BY user_id
),
se2 AS (
  SELECT user_id,
         CASE WHEN a2 > 0 AND b2 > 0
              THEN -ln(CAST(a2 AS DOUBLE) / b2)
              ELSE CAST('Infinity' AS DOUBLE) END AS sampen
  FROM (
    SELECT a.user_id,
           sum(CASE WHEN b.t <= st2.cnt - 3
                         AND abs(a.c - b.c) <= st2.r
                         AND abs(a.c1 - b.c1) <= st2.r THEN 1 ELSE 0 END) AS b2,
           sum(CASE WHEN b.t <= st2.cnt - 3
                         AND abs(a.c - b.c) <= st2.r
                         AND abs(a.c1 - b.c1) <= st2.r
                         AND abs(a.c2 - b.c2) <= st2.r THEN 1 ELSE 0 END) AS a2
    FROM cl2 a
    JOIN cl2 b ON b.user_id = a.user_id AND a.t < b.t
    JOIN st2 ON st2.user_id = a.user_id
    GROUP BY a.user_id
  ) p
),
wl1 AS (
  SELECT user_id, rn, v, v1, v2 FROM win
),
st1 AS (
  SELECT user_id, CAST(0.15 AS DOUBLE) AS r, count(*) AS cnt
  FROM series GROUP BY user_id
),
se1 AS (
  SELECT user_id,
         CASE WHEN a2 > 0 AND b2 > 0
              THEN -ln(CAST(a2 AS DOUBLE) / b2)
              ELSE CAST('Infinity' AS DOUBLE) END AS sampen
  FROM (
    SELECT a.user_id,
           sum(CASE WHEN b.rn <= st1.cnt - 3
                         AND abs(a.v - b.v) <= st1.r
                         AND abs(a.v1 - b.v1) <= st1.r THEN 1 ELSE 0 END) AS b2,
           sum(CASE WHEN b.rn <= st1.cnt - 3
                         AND abs(a.v - b.v) <= st1.r
                         AND abs(a.v1 - b.v1) <= st1.r
                         AND abs(a.v2 - b.v2) <= st1.r THEN 1 ELSE 0 END) AS a2
    FROM wl1 a
    JOIN wl1 b ON b.user_id = a.user_id AND a.rn < b.rn
    JOIN st1 ON st1.user_id = a.user_id
    GROUP BY a.user_id
  ) p
)
SELECT f.user_id,
       CASE WHEN f.v1 < finf THEN round(f.v1, 6) END AS sampen_s1,
       CASE WHEN f.v2 < finf THEN round(f.v2, 6) END AS sampen_s2,
       CASE WHEN f.mx < finf THEN round(f.mx, 6) END AS maxSampEn,
       CASE WHEN f.mn < finf THEN round(f.mn, 6) END AS minSampEn,
       CASE WHEN f.mu < finf THEN round(f.mu, 6) END AS meanSampEn,
       round(f.mxs, 6) AS maxScale,
       round(f.mns, 6) AS minScale,
       CASE WHEN f.sd < finf THEN round(f.sd, 6) END AS stdSampEn,
       CASE WHEN f.cv < finf THEN round(f.cv, 6) END AS cvSampEn,
       CASE WHEN f.ch < finf AND f.ch > -finf THEN round(f.ch, 6) END
         AS meanch
FROM (
  SELECT s1.user_id,
         CAST('Infinity' AS DOUBLE) AS finf,
         s1.sampen AS v1, s2.sampen AS v2,
         CASE WHEN s1.sampen IS NULL THEN s2.sampen
              WHEN s2.sampen IS NULL THEN s1.sampen
              ELSE greatest(s1.sampen, s2.sampen) END AS mx,
         CASE WHEN s1.sampen IS NULL THEN s2.sampen
              WHEN s2.sampen IS NULL THEN s1.sampen
              ELSE least(s1.sampen, s2.sampen) END AS mn,
         (coalesce(s1.sampen, CAST(0.0 AS DOUBLE))
          + coalesce(s2.sampen, CAST(0.0 AS DOUBLE)))
           / nullif((CASE WHEN s1.sampen IS NULL THEN 0 ELSE 1 END)
                    + (CASE WHEN s2.sampen IS NULL THEN 0 ELSE 1 END), 0)
           AS mu,
         CASE WHEN s1.sampen IS NULL THEN CAST(2.0 AS DOUBLE)
              WHEN s2.sampen IS NULL THEN CAST(1.0 AS DOUBLE)
              WHEN s1.sampen >= s2.sampen THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(2.0 AS DOUBLE) END AS mxs,
         CASE WHEN s1.sampen IS NULL THEN CAST(2.0 AS DOUBLE)
              WHEN s2.sampen IS NULL THEN CAST(1.0 AS DOUBLE)
              WHEN s1.sampen <= s2.sampen THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(2.0 AS DOUBLE) END AS mns,
         CASE WHEN s1.sampen IS NULL OR s2.sampen IS NULL THEN NULL
              ELSE abs(s1.sampen - s2.sampen) / sqrt(2.0) END AS sd,
         CASE WHEN s1.sampen IS NULL OR s2.sampen IS NULL THEN NULL
              ELSE (abs(s1.sampen - s2.sampen) / sqrt(2.0))
                   / ((s1.sampen + s2.sampen) / 2.0) END AS cv,
         s2.sampen - s1.sampen AS ch
  FROM se1 s1 JOIN se2 s2 ON s2.user_id = s1.user_id
) f
""")

# --- EN_rpde m=2 tau=1 eps=0.12 (Entropy.py:349-406) ------------------------
# Close returns without recursion: per embedded point, the exit time is
# the first later index outside the eps-ball and the return time the
# first index at or after it back inside; recurrence-period density
# entropy over the T histogram (ne+1 bins).
QUERIES["user_rpde"] = _qa("""
, emb AS (
  SELECT user_id, rn AS i, v AS e0, v1 AS e1,
         count(*) OVER (PARTITION BY user_id) AS ne
  FROM win WHERE v1 IS NOT NULL
),
prs AS (
  SELECT a.user_id, a.i, b.i AS j,
         greatest(abs(b.e0 - a.e0), abs(b.e1 - a.e1)) AS d
  FROM emb a JOIN emb b ON b.user_id = a.user_id AND b.i > a.i
),
ex AS (
  SELECT user_id, i, min(j) AS jex FROM prs
  WHERE d > CAST(0.12 AS DOUBLE) GROUP BY user_id, i
),
ret AS (
  SELECT p.user_id, p.i, min(p.j) - p.i AS T
  FROM prs p JOIN ex ON ex.user_id = p.user_id AND ex.i = p.i
  WHERE p.j >= ex.jex AND p.d <= CAST(0.12 AS DOUBLE)
  GROUP BY p.user_id, p.i
),
hist AS (
  SELECT user_id, T, CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS s
  FROM ret GROUP BY user_id, T
),
hstat AS (
  SELECT user_id,
         -sum((cnt / s) * ln(cnt / s)) AS H,
         count(*) AS nbins,
         max(cnt / s) AS maxp
  FROM hist GROUP BY user_id
),
nev AS (
  SELECT user_id, max(ne) + 1 AS nn2 FROM emb GROUP BY user_id
)
SELECT nv.user_id,
       round(h.H, 6) AS H,
       round(h.H / ln(CAST(nv.nn2 AS DOUBLE)), 6) AS H_norm,
       round(coalesce(CAST(h.nbins AS DOUBLE) / nv.nn2, CAST(0.0 AS DOUBLE)), 6)
         AS propNonZero,
       round(CAST(nv.nn2 AS DOUBLE) / h.nbins, 6) AS meanNonZero,
       round(coalesce(h.maxp * nv.nn2, CAST(0.0 AS DOUBLE)), 6) AS maxRPD
FROM nev nv LEFT JOIN hstat h ON h.user_id = nv.user_id
""")

# --- MD_rawHRVmeas (Medical.py:6-70) ----------------------------------------
# Triangular indices at 10 / 20 / ceil(sqrt(N)) binpicker bins (generic
# per-user bin count via a digitize join against the refined edges) and
# Poincare SD1/SD2.
QUERIES["user_raw_hrv"] = _qa("""
, nbt AS (
  SELECT user_id, 1 AS which, 10 AS nb FROM nn
  UNION ALL SELECT user_id, 2, 20 FROM nn
  UNION ALL SELECT user_id, 3, CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS INT) FROM nn
),
mm AS (
  SELECT user_id, min(v) AS mn, max(v) AS mx FROM series GROUP BY user_id
),
bp0 AS (
  SELECT t.user_id, t.which, t.nb, m.mn, m.mx,
         power(10.0, floor(log10((m.mx - m.mn) / t.nb)))
           * floor(((m.mx - m.mn) / t.nb)
                   / power(10.0, floor(log10((m.mx - m.mn) / t.nb)))) AS bw0
  FROM nbt t JOIN mm m ON m.user_id = t.user_id
),
bp1 AS (
  SELECT user_id, which, nb, mn, mx,
         least(bw0 * floor(mn / bw0), mn) AS le
  FROM bp0
),
bpf AS (
  SELECT user_id, which, nb, mn, mx, le,
         CASE WHEN nb > 1 THEN
           power(10.0, floor(log10((mx - le) / (nb - 1.0) - (mx - le) / nb)))
             * ceil(((mx - le) / nb)
                    / power(10.0, floor(log10((mx - le) / (nb - 1.0)
                                              - (mx - le) / nb))))
         ELSE (mx - le) END AS bw
  FROM bp1
),
bpr AS (
  SELECT user_id, which, nb, le, bw,
         greatest(le + nb * bw, mx) AS re
  FROM bpf
),
ints AS (
  SELECT DISTINCT rn AS k FROM series
  WHERE rn <= 20 AND user_id = (SELECT min(user_id) FROM series)
),
edges AS (
  SELECT b.user_id, b.which, ints.k,
         CASE WHEN ints.k = 0 THEN b.le
              WHEN ints.k = b.nb THEN b.re
              ELSE b.le + ints.k * b.bw END AS e
  FROM bpr b JOIN ints ON ints.k <= b.nb
),
dig AS (
  SELECT s.user_id, e.which, s.rn,
         count(*) FILTER (WHERE e.e <= s.v) - 1 AS bin
  FROM series s
  JOIN edges e ON e.user_id = s.user_id
  GROUP BY s.user_id, e.which, s.rn
),
tri AS (
  SELECT user_id, which, CAST(max(c) AS DOUBLE) AS maxc
  FROM (SELECT user_id, which, bin, count(*) AS c
        FROM dig GROUP BY user_id, which, bin) t
  GROUP BY user_id, which
),
dst AS (
  SELECT user_id, stddev_samp(v1 - v) AS rmssd
  FROM win WHERE v1 IS NOT NULL GROUP BY user_id
),
yst AS (
  SELECT user_id, var_samp(v) AS vr, count(*) AS n
  FROM series GROUP BY user_id
)
SELECT y.user_id,
       round(y.n / t10.maxc, 6) AS tri10,
       round(y.n / t20.maxc, 6) AS tri20,
       round(y.n / tsq.maxc, 6) AS trisqrt,
       round(d.rmssd / sqrt(2.0) * 1000.0, 6) AS SD1,
       round(sqrt(greatest(2.0 * y.vr - 0.5 * d.rmssd * d.rmssd,
                           CAST(0.0 AS DOUBLE))) * 1000.0, 6) AS SD2
FROM yst y
JOIN dst d ON d.user_id = y.user_id
JOIN tri t10 ON t10.user_id = y.user_id AND t10.which = 1
JOIN tri t20 ON t20.user_id = y.user_id AND t20.which = 2
JOIN tri tsq ON tsq.user_id = y.user_id AND tsq.which = 3
""")


# --- MD_polvar d=1, D=6 (Medical.py:212-283) --------------------------------
# The reference's non-overlapping advance-by-D scan (jump D after a
# uniform window, else advance 1) is a data-dependent walk, replayed as
# a recursive CTE over precomputed all-same window flags; the engine
# side runs the numpy kernel per user group (__spark_entry__).
ENGINE_ORACLES["user_polvar"] = """
WITH RECURSIVE raw AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
dx AS (
  SELECT user_id, rn,
         CASE WHEN abs(lead(v) OVER (PARTITION BY user_id ORDER BY rn) - v)
                   >= CAST(1.0 AS DOUBLE) THEN 1 ELSE 0 END AS sym
  FROM raw
),
sy AS (
  SELECT user_id, rn, sym,
         sum(sym) OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS wsum,
         count(*) OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS wcnt,
         count(*) OVER (PARTITION BY user_id) AS nd
  FROM dx WHERE rn < (SELECT max(r2.rn) FROM raw r2 WHERE r2.user_id = dx.user_id)
),
flags AS (
  SELECT user_id, rn,
         CASE WHEN wcnt = 6 AND (wsum = 0 OR wsum = 6) THEN 1 ELSE 0 END AS allsame,
         nd
  FROM sy
),
walk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS pc
  FROM (SELECT DISTINCT user_id FROM flags) u
  UNION ALL
  SELECT w.user_id,
         w.i + CASE WHEN f.allsame = 1 THEN 6 ELSE 1 END,
         w.pc + CASE WHEN f.allsame = 1 THEN 1 ELSE 0 END
  FROM walk w
  JOIN flags f ON f.user_id = w.user_id AND f.rn = w.i
  WHERE w.i <= f.nd - 6
)
SELECT w.user_id,
       round(CAST(max(w.pc) AS DOUBLE) / max(f2.nd), 6) AS polvar_d1_6
FROM walk w
JOIN (SELECT user_id, max(nd) AS nd FROM flags GROUP BY user_id) f2
  ON f2.user_id = w.user_id
GROUP BY w.user_id
"""


# --- DN_Mean, all 7 location measures (Distribution.py:213-259) -------------
QUERIES["user_mean_types"] = _q("""
, hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
qv AS (
  SELECT b.user_id, b.i,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
iqm AS (
  SELECT s.user_id, avg(s.v) AS iqm
  FROM series s
  JOIN qv lo2 ON lo2.user_id = s.user_id AND lo2.i = 1
  JOIN qv hi2 ON hi2.user_id = s.user_id AND hi2.i = 2
  WHERE s.v >= lo2.q AND s.v <= hi2.q
  GROUP BY s.user_id
),
base AS (
  SELECT user_id,
         avg(v) AS m_arith, median(v) AS m_median,
         CASE WHEN min(v) > 0 THEN exp(avg(ln(abs(v) + CASE WHEN v > 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END))) END AS m_geom,
         count(*) / sum(1.0 / v) AS m_harm,
         sqrt(avg(v * v)) AS m_rms
  FROM series GROUP BY user_id
)
SELECT b.user_id,
       round(b.m_arith, 6) AS m_arith,
       round(b.m_median, 6) AS m_median,
       round(b.m_geom, 6) AS m_geom,
       round(b.m_harm, 6) AS m_harm,
       round(b.m_rms, 6) AS m_rms,
       round(i.iqm, 6) AS m_iqm,
       round(0.5 * (q1.q + q3.q), 6) AS m_midhinge
FROM base b
JOIN iqm i ON i.user_id = b.user_id
JOIN qv q1 ON q1.user_id = b.user_id AND q1.i = 1
JOIN qv q3 ON q3.user_id = b.user_id AND q3.i = 2
""")

# --- DN_Fit_mle 'uniform' / 'geometric' (Distribution.py:285-335) -----------
QUERIES["user_fitmle_rest"] = _q("""
SELECT user_id,
       round(min(v), 6) AS unif_a,
       round(max(v), 6) AS unif_b,
       round(1.0 / (1.0 + avg(v)), 6) AS geom_p
FROM series GROUP BY user_id
""")

# --- DN_OutlierInclude 'abs', inc=1.0 (Distribution.py:460-580) -------------
# Threshold sweep over the raw |y| scale (inc=1.0 keeps the sweep
# bounded on unnormalized series); per-threshold inter-event-time and
# event-position curves, the reference's NaN / 2%-coverage trims, curve
# summaries, and the +-1-lag cross-correlation between the mean
# inter-event time and its standard error.
QUERIES["user_outlierinc_abs"] = _qa("""
, i400 AS (
  SELECT a.rn * 20 + b.rn AS k
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 20 AND user_id =
        (SELECT min(user_id) FROM series)) a
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 20 AND user_id =
        (SELECT min(user_id) FROM series)) b
),
mxs AS (
  SELECT user_id, max(abs(v)) AS mxa, count(*) AS n
  FROM series GROUP BY user_id
),
ths AS (
  SELECT m.user_id, CAST(i.k AS DOUBLE) AS th, m.n
  FROM mxs m JOIN i400 i ON CAST(i.k AS DOUBLE) < m.mxa
),
evs AS (
  SELECT t.user_id, t.th, s.rn, t.n,
         lead(s.rn) OVER (PARTITION BY t.user_id, t.th ORDER BY s.rn) - s.rn AS dt
  FROM ths t JOIN series s ON s.user_id = t.user_id AND abs(s.v) >= t.th
),
rowst AS (
  SELECT user_id, th, max(n) AS n,
         avg(CAST(dt AS DOUBLE)) AS mdt,
         CASE WHEN count(dt) > 1
              THEN stddev_samp(CAST(dt AS DOUBLE)) / sqrt(count(*)) END AS sdt,
         CAST(count(dt) AS DOUBLE) / max(n) * 100.0 AS pct,
         median(CAST(rn AS DOUBLE)) / (max(n) / 2.0) - 1.0 AS medr,
         avg(CAST(rn AS DOUBLE)) / (max(n) / 2.0) - 1.0 AS meanr,
         CASE WHEN count(*) > 1
              THEN stddev_samp(CAST(rn AS DOUBLE)) / sqrt(count(*)) END AS sr
  FROM evs GROUP BY user_id, th
),
lims AS (
  SELECT user_id,
         min(CASE WHEN mdt IS NULL THEN th END) AS nanth
  FROM rowst GROUP BY user_id
),
kept0 AS (
  SELECT r.* FROM rowst r
  JOIN lims l ON l.user_id = r.user_id
  WHERE l.nanth IS NULL OR r.th < l.nanth
),
lims2 AS (
  SELECT user_id, max(CASE WHEN pct > 2.0 THEN th END) AS lastv
  FROM kept0 GROUP BY user_id
),
kept AS (
  SELECT k.*,
         lead(k.mdt) OVER (PARTITION BY k.user_id ORDER BY k.th) AS mdt1,
         lead(k.sdt) OVER (PARTITION BY k.user_id ORDER BY k.th) AS sdt1
  FROM kept0 k
  JOIN lims2 l ON l.user_id = k.user_id
  WHERE l.lastv IS NULL OR k.th <= l.lastv
)
SELECT user_id,
       round(avg(mdt), 6) AS mdtm,
       round(median(mdt), 6) AS mdtmd,
       round(stddev_samp(mdt), 6) AS mdtstd,
       round(avg(medr), 6) AS mdrm,
       round(median(medr), 6) AS mdrmd,
       round(stddev_samp(medr), 6) AS mdrstd,
       round(avg(meanr), 6) AS mrm,
       round(median(meanr), 6) AS mrmd,
       round(stddev_samp(meanr), 6) AS mrstd,
       round(CASE WHEN count(*) > 2 AND count(sdt) = count(*) THEN
               sum(mdt1 * sdt) FILTER (WHERE mdt1 IS NOT NULL)
               / nullif(sqrt(sum(mdt * mdt) * sum(sdt * sdt)),
                        CAST(0.0 AS DOUBLE)) END, 6) AS xcmerr1,
       round(CASE WHEN count(*) > 2 AND count(sdt) = count(*) THEN
               sum(mdt * sdt1) FILTER (WHERE sdt1 IS NOT NULL)
               / nullif(sqrt(sum(mdt * mdt) * sum(sdt * sdt)),
                        CAST(0.0 AS DOUBLE)) END, 6) AS xcmerrn1
FROM kept GROUP BY user_id
""")


# --- PP_Compare 'medianf4' (PreProcess.py:31-136), complete surface ---------
# Median-filter detrend (k=4, zero-padded edges) via a 4-offset join;
# both series double-z-scored; StatAv 'seg' 2-10, overlapping
# sliding-window mean/std stationarity at (win, inc_move) combos, and
# trimmed outlier-test ratios — every output a detrended/raw ratio.
# PP_Compare 'medianf3': the reference's _medfilt1d is odd-length only
# with REPLICATED first/last samples at the edges (PreProcess.py:10-25),
# replayed via a clamped-index join.
QUERIES["user_ppc_medianf3"] = _q("""
, z1 AS (
  SELECT user_id, rn,
         (v - avg(v) OVER (PARTITION BY user_id))
           / nullif(stddev_samp(v) OVER (PARTITION BY user_id),
                    CAST(0.0 AS DOUBLE)) AS x
  FROM series
),
zraw AS (
  SELECT user_id, rn,
         (x - avg(x) OVER (PARTITION BY user_id))
           / nullif(stddev_samp(x) OVER (PARTITION BY user_id),
                    CAST(0.0 AS DOUBLE)) AS x
  FROM z1
),
off3 AS (
  SELECT -1 AS o UNION ALL SELECT 0 UNION ALL SELECT 1
),
nmax AS (
  SELECT user_id, max(rn) AS mx FROM series GROUP BY user_id
),
mf AS (
  SELECT s.user_id, s.rn, median(b.v) AS d
  FROM series s
  JOIN nmax x ON x.user_id = s.user_id
  CROSS JOIN off3 o
  JOIN series b ON b.user_id = s.user_id
   AND b.rn = greatest(CAST(0 AS BIGINT), least(x.mx, s.rn + o.o))
  GROUP BY s.user_id, s.rn
),
zd1 AS (
  SELECT user_id, rn,
         (d - avg(d) OVER (PARTITION BY user_id))
           / nullif(stddev_samp(d) OVER (PARTITION BY user_id),
                    CAST(0.0 AS DOUBLE)) AS x
  FROM mf
),
zdet AS (
  SELECT user_id, rn,
         (x - avg(x) OVER (PARTITION BY user_id))
           / nullif(stddev_samp(x) OVER (PARTITION BY user_id),
                    CAST(0.0 AS DOUBLE)) AS x
  FROM zd1
),
ser2 AS (
  SELECT user_id, 0 AS wh, rn, x FROM zraw
  UNION ALL
  SELECT user_id, 1 AS wh, rn, x FROM zdet
),
sn AS (
  SELECT user_id, wh, count(*) AS n, stddev_samp(x) AS sx
  FROM ser2 GROUP BY user_id, wh
),
segt AS (
  SELECT 2 AS sg UNION ALL SELECT 4 UNION ALL SELECT 6
  UNION ALL SELECT 8 UNION ALL SELECT 10
),
sv AS (
  SELECT q.user_id, q.wh, q.sg,
         stddev_samp(q.m) / nullif(max(q.sx), CAST(0.0 AS DOUBLE)) AS v
  FROM (
    SELECT s.user_id, s.wh, t.sg,
           CAST(floor(s.rn / floor(n.n / CAST(t.sg AS DOUBLE))) AS BIGINT) AS si,
           avg(s.x) AS m, count(*) AS c,
           max(floor(n.n / CAST(t.sg AS DOUBLE))) AS p, max(n.sx) AS sx
    FROM ser2 s
    JOIN sn n ON n.user_id = s.user_id AND n.wh = s.wh
    CROSS JOIN segt t
    GROUP BY s.user_id, s.wh, t.sg,
             CAST(floor(s.rn / floor(n.n / CAST(t.sg AS DOUBLE))) AS BIGINT)
  ) q
  WHERE q.c = q.p AND q.si < q.sg
  GROUP BY q.user_id, q.wh, q.sg
),
cmb AS (
  SELECT 2 AS w, 1 AS st UNION ALL SELECT 2, 2 UNION ALL SELECT 5, 1
  UNION ALL SELECT 5, 2 UNION ALL SELECT 10, 1 UNION ALL SELECT 10, 2
),
i25 AS (
  SELECT DISTINCT rn AS k FROM series
  WHERE rn < 25 AND user_id = (SELECT min(user_id) FROM series)
),
sw0 AS (
  SELECT s.user_id, s.wh, c.w, c.st, i.k AS sidx,
         avg(s.x) AS wm, stddev_samp(s.x) AS ws
  FROM sn n
  JOIN cmb c ON 1 = 1
  JOIN i25 i
    ON i.k <= CAST(floor((n.n - floor(n.n / CAST(c.w AS DOUBLE)))
                   / greatest(floor(floor(n.n / CAST(c.w AS DOUBLE))
                                    / CAST(c.st AS DOUBLE)),
                              CAST(1.0 AS DOUBLE))) AS BIGINT)
  JOIN ser2 s ON s.user_id = n.user_id AND s.wh = n.wh
    AND s.rn >= i.k * greatest(floor(floor(n.n / CAST(c.w AS DOUBLE))
                                     / CAST(c.st AS DOUBLE)),
                               CAST(1.0 AS DOUBLE))
    AND s.rn < i.k * greatest(floor(floor(n.n / CAST(c.w AS DOUBLE))
                                    / CAST(c.st AS DOUBLE)),
                              CAST(1.0 AS DOUBLE))
              + floor(n.n / CAST(c.w AS DOUBLE))
  GROUP BY s.user_id, s.wh, c.w, c.st, i.k
),
sw1 AS (
  SELECT s0.user_id, s0.wh, s0.w, s0.st,
         stddev_samp(s0.wm) / nullif(max(n.sx), CAST(0.0 AS DOUBLE)) AS vm,
         stddev_samp(s0.ws) / nullif(max(n.sx), CAST(0.0 AS DOUBLE)) AS vs
  FROM sw0 s0 JOIN sn n ON n.user_id = s0.user_id AND n.wh = s0.wh
  GROUP BY s0.user_id, s0.wh, s0.w, s0.st
),
olbsrc AS (
  SELECT user_id, wh, x,
         row_number() OVER (PARTITION BY user_id, wh ORDER BY x, rn) AS rk,
         count(*) OVER (PARTITION BY user_id, wh) AS n
  FROM ser2
),
olbq AS (
  SELECT user_id, wh, x,
         least(greatest(CAST(0.02 AS DOUBLE) * n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(n AS DOUBLE)) AS p2l,
         least(greatest(CAST(0.98 AS DOUBLE) * n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(n AS DOUBLE)) AS p2h,
         least(greatest(CAST(0.05 AS DOUBLE) * n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(n AS DOUBLE)) AS p5l,
         least(greatest(CAST(0.95 AS DOUBLE) * n + 0.5, CAST(1.0 AS DOUBLE)),
               CAST(n AS DOUBLE)) AS p5h,
         rk, n
  FROM olbsrc
),
olbb AS (
  SELECT user_id, wh, x, p2l, p2h, p5l, p5h,
         max(CASE WHEN rk = CAST(floor(p2l) AS BIGINT) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v2ll,
         max(CASE WHEN rk = least(CAST(floor(p2l) AS BIGINT) + 1, n) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v2lh,
         max(CASE WHEN rk = CAST(floor(p2h) AS BIGINT) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v2hl,
         max(CASE WHEN rk = least(CAST(floor(p2h) AS BIGINT) + 1, n) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v2hh,
         max(CASE WHEN rk = CAST(floor(p5l) AS BIGINT) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v5ll,
         max(CASE WHEN rk = least(CAST(floor(p5l) AS BIGINT) + 1, n) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v5lh,
         max(CASE WHEN rk = CAST(floor(p5h) AS BIGINT) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v5hl,
         max(CASE WHEN rk = least(CAST(floor(p5h) AS BIGINT) + 1, n) THEN x END)
           OVER (PARTITION BY user_id, wh) AS v5hh
  FROM olbq
),
olb AS (
  SELECT user_id, wh,
         avg(x) FILTER (WHERE x > v2ll + (p2l - floor(p2l)) * (v2lh - v2ll)
                          AND x < v2hl + (p2h - floor(p2h)) * (v2hh - v2hl)) AS m2,
         stddev_samp(x) FILTER (WHERE x > v2ll + (p2l - floor(p2l)) * (v2lh - v2ll)
                                  AND x < v2hl + (p2h - floor(p2h)) * (v2hh - v2hl)) AS s2,
         avg(x) FILTER (WHERE x > v5ll + (p5l - floor(p5l)) * (v5lh - v5ll)
                          AND x < v5hl + (p5h - floor(p5h)) * (v5hh - v5hl)) AS m5,
         stddev_samp(x) FILTER (WHERE x > v5ll + (p5l - floor(p5l)) * (v5lh - v5ll)
                                  AND x < v5hl + (p5h - floor(p5h)) * (v5hh - v5hl)) AS s5
  FROM olbb GROUP BY user_id, wh
)
, svp AS (
  SELECT user_id,
         max(CASE WHEN wh = 0 AND sg = 2 THEN v END) AS r2,
         max(CASE WHEN wh = 1 AND sg = 2 THEN v END) AS d2,
         max(CASE WHEN wh = 0 AND sg = 4 THEN v END) AS r4,
         max(CASE WHEN wh = 1 AND sg = 4 THEN v END) AS d4,
         max(CASE WHEN wh = 0 AND sg = 6 THEN v END) AS r6,
         max(CASE WHEN wh = 1 AND sg = 6 THEN v END) AS d6,
         max(CASE WHEN wh = 0 AND sg = 8 THEN v END) AS r8,
         max(CASE WHEN wh = 1 AND sg = 8 THEN v END) AS d8,
         max(CASE WHEN wh = 0 AND sg = 10 THEN v END) AS r10,
         max(CASE WHEN wh = 1 AND sg = 10 THEN v END) AS d10
  FROM sv GROUP BY user_id
),
swp AS (
  SELECT user_id,
         max(CASE WHEN wh = 0 AND w = 2 AND st = 1 THEN vs END) AS r21s,
         max(CASE WHEN wh = 1 AND w = 2 AND st = 1 THEN vs END) AS d21s,
         max(CASE WHEN wh = 0 AND w = 2 AND st = 2 THEN vm END) AS r22m,
         max(CASE WHEN wh = 1 AND w = 2 AND st = 2 THEN vm END) AS d22m,
         max(CASE WHEN wh = 0 AND w = 2 AND st = 2 THEN vs END) AS r22s,
         max(CASE WHEN wh = 1 AND w = 2 AND st = 2 THEN vs END) AS d22s,
         max(CASE WHEN wh = 0 AND w = 5 AND st = 1 THEN vm END) AS r51m,
         max(CASE WHEN wh = 1 AND w = 5 AND st = 1 THEN vm END) AS d51m,
         max(CASE WHEN wh = 0 AND w = 5 AND st = 1 THEN vs END) AS r51s,
         max(CASE WHEN wh = 1 AND w = 5 AND st = 1 THEN vs END) AS d51s,
         max(CASE WHEN wh = 0 AND w = 5 AND st = 2 THEN vm END) AS r52m,
         max(CASE WHEN wh = 1 AND w = 5 AND st = 2 THEN vm END) AS d52m,
         max(CASE WHEN wh = 0 AND w = 5 AND st = 2 THEN vs END) AS r52s,
         max(CASE WHEN wh = 1 AND w = 5 AND st = 2 THEN vs END) AS d52s,
         max(CASE WHEN wh = 0 AND w = 10 AND st = 1 THEN vm END) AS r101m,
         max(CASE WHEN wh = 1 AND w = 10 AND st = 1 THEN vm END) AS d101m,
         max(CASE WHEN wh = 0 AND w = 10 AND st = 1 THEN vs END) AS r101s,
         max(CASE WHEN wh = 1 AND w = 10 AND st = 1 THEN vs END) AS d101s,
         max(CASE WHEN wh = 0 AND w = 10 AND st = 2 THEN vm END) AS r102m,
         max(CASE WHEN wh = 1 AND w = 10 AND st = 2 THEN vm END) AS d102m,
         max(CASE WHEN wh = 0 AND w = 10 AND st = 2 THEN vs END) AS r102s,
         max(CASE WHEN wh = 1 AND w = 10 AND st = 2 THEN vs END) AS d102s
  FROM sw1 GROUP BY user_id
),
olp AS (
  SELECT user_id,
         max(CASE WHEN wh = 0 THEN m2 END) AS rm2,
         max(CASE WHEN wh = 1 THEN m2 END) AS dm2,
         max(CASE WHEN wh = 0 THEN m5 END) AS rm5,
         max(CASE WHEN wh = 1 THEN m5 END) AS dm5,
         max(CASE WHEN wh = 0 THEN s2 END) AS rs2,
         max(CASE WHEN wh = 1 THEN s2 END) AS ds2,
         max(CASE WHEN wh = 0 THEN s5 END) AS rs5,
         max(CASE WHEN wh = 1 THEN s5 END) AS ds5
  FROM olb GROUP BY user_id
),
snp AS (
  SELECT user_id,
         max(CASE WHEN wh = 0 THEN sx END) AS rsx,
         max(CASE WHEN wh = 1 THEN sx END) AS dsx
  FROM sn GROUP BY user_id
)
SELECT svp.user_id,
       round(svp.d2 / nullif(svp.r2, CAST(0.0 AS DOUBLE)), 6) AS statv2,
       round(svp.d4 / nullif(svp.r4, CAST(0.0 AS DOUBLE)), 6) AS statv4,
       round(svp.d6 / nullif(svp.r6, CAST(0.0 AS DOUBLE)), 6) AS statv6,
       round(svp.d8 / nullif(svp.r8, CAST(0.0 AS DOUBLE)), 6) AS statv8,
       round(svp.d10 / nullif(svp.r10, CAST(0.0 AS DOUBLE)), 6) AS statv10,
       round(swp.d22m / nullif(swp.r22m, CAST(0.0 AS DOUBLE)), 6) AS swms2_2,
       round(swp.d51m / nullif(swp.r51m, CAST(0.0 AS DOUBLE)), 6) AS swms5_1,
       round(swp.d52m / nullif(swp.r52m, CAST(0.0 AS DOUBLE)), 6) AS swms5_2,
       round(swp.d101m / nullif(swp.r101m, CAST(0.0 AS DOUBLE)), 6) AS swms10_1,
       round(swp.d102m / nullif(swp.r102m, CAST(0.0 AS DOUBLE)), 6) AS swms10_2,
       round(swp.d21s / nullif(swp.r21s, CAST(0.0 AS DOUBLE)), 6) AS swss2_1,
       round(swp.d22s / nullif(swp.r22s, CAST(0.0 AS DOUBLE)), 6) AS swss2_2,
       round(swp.d51s / nullif(swp.r51s, CAST(0.0 AS DOUBLE)), 6) AS swss5_1,
       round(swp.d52s / nullif(swp.r52s, CAST(0.0 AS DOUBLE)), 6) AS swss5_2,
       round(swp.d101s / nullif(swp.r101s, CAST(0.0 AS DOUBLE)), 6) AS swss10_1,
       round(swp.d102s / nullif(swp.r102s, CAST(0.0 AS DOUBLE)), 6) AS swss10_2,
       round(olp.dm2 / nullif(olp.rm2, CAST(0.0 AS DOUBLE)), 6) AS olbt_m2,
       round(olp.dm5 / nullif(olp.rm5, CAST(0.0 AS DOUBLE)), 6) AS olbt_m5,
       round((olp.ds2 / nullif(snp.dsx, CAST(0.0 AS DOUBLE)))
             / nullif(olp.rs2 / nullif(snp.rsx, CAST(0.0 AS DOUBLE)),
                      CAST(0.0 AS DOUBLE)), 6) AS olbt_s2,
       round((olp.ds5 / nullif(snp.dsx, CAST(0.0 AS DOUBLE)))
             / nullif(olp.rs5 / nullif(snp.rsx, CAST(0.0 AS DOUBLE)),
                      CAST(0.0 AS DOUBLE)), 6) AS olbt_s5
FROM svp
JOIN swp ON swp.user_id = svp.user_id
JOIN olp ON olp.user_id = svp.user_id
JOIN snp ON snp.user_id = svp.user_id
""")


# --- SY_DynWin (Stationarity.py:88-168), complete -----------------------------
# Stationarity sweep nseg = 2..10: per aligned window of length N//nseg,
# ten local features (mean, std, skew, Fisher kurtosis, quadSampEn1 at
# absolute r=0.15, Fourier AC1/AC2, AC at the global and the local ACF
# first-zero lag, and that local lag itself); std across windows per
# scale, std across scales per feature. NULL propagation mirrors
# numpy's NaN std (any missing window poisons the column).
QUERIES["user_dynwin"] = _qa("""
, fz AS (
  SELECT user_id, min(tau) AS i FROM acfn
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id
),
tg AS (
  SELECT nn.user_id, coalesce(fz.i, nn.n - 1) AS taug
  FROM nn LEFT JOIN fz ON fz.user_id = nn.user_id
),
nsegt AS (
  SELECT 2 AS sg UNION ALL SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5
  UNION ALL SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8
  UNION ALL SELECT 9 UNION ALL SELECT 10
),
wassign AS (
  SELECT s.user_id, t.sg, s.rn, s.v,
         CAST(floor(nn.n / CAST(t.sg AS DOUBLE)) AS BIGINT) AS wlen,
         CAST(floor(s.rn / floor(nn.n / CAST(t.sg AS DOUBLE))) AS BIGINT) AS wi
  FROM series s
  JOIN nn ON nn.user_id = s.user_id
  CROSS JOIN nsegt t
  WHERE CAST(floor(s.rn / floor(nn.n / CAST(t.sg AS DOUBLE))) AS BIGINT)
        < CAST(floor(nn.n / floor(nn.n / CAST(t.sg AS DOUBLE))) AS BIGINT)
),
wrows AS (
  SELECT user_id, sg, wi, wlen, rn, v,
         avg(v) OVER (PARTITION BY user_id, sg, wi) AS wm,
         lead(v) OVER (PARTITION BY user_id, sg, wi ORDER BY rn) AS v1,
         rn - wi * wlen AS k
  FROM wassign
),
wstat AS (
  SELECT user_id, sg, wi, max(wlen) AS wlen,
         avg(v) AS m, stddev_samp(v) AS sd,
         avg((v - wm) * (v - wm)) AS m2,
         avg((v - wm) * (v - wm) * (v - wm)) AS m3,
         avg((v - wm) * (v - wm) * (v - wm) * (v - wm)) AS m4
  FROM wrows GROUP BY user_id, sg, wi
),
wpair AS (
  SELECT a.user_id, a.sg, a.wi, b.rn - a.rn AS tau,
         sum((a.v - a.wm) * (b.v - b.wm)) AS s
  FROM wrows a
  JOIN wrows b ON b.user_id = a.user_id AND b.sg = a.sg AND b.wi = a.wi
              AND b.rn >= a.rn
  GROUP BY a.user_id, a.sg, a.wi, b.rn - a.rn
),
wacf AS (
  SELECT p.user_id, p.sg, p.wi, p.tau,
         p.s / nullif(p0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM wpair p
  JOIN (SELECT user_id, sg, wi, s FROM wpair WHERE tau = 0) p0
    ON p0.user_id = p.user_id AND p0.sg = p.sg AND p0.wi = p.wi
),
wtaul AS (
  SELECT w.user_id, w.sg, w.wi, w.wlen,
         coalesce(fzw.t, w.wlen - 1) AS taul
  FROM (SELECT DISTINCT user_id, sg, wi, wlen FROM wassign) w
  LEFT JOIN (SELECT user_id, sg, wi, min(tau) AS t FROM wacf
             WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id, sg, wi) fzw
    ON fzw.user_id = w.user_id AND fzw.sg = w.sg AND fzw.wi = w.wi
),
wsamp AS (
  SELECT a.user_id, a.sg, a.wi,
         sum(CASE WHEN b.k <= a.wlen - 2
                       AND abs(a.v - b.v) <= CAST(0.15 AS DOUBLE)
                  THEN 1 ELSE 0 END) AS b1,
         sum(CASE WHEN b.k <= a.wlen - 2
                       AND abs(a.v - b.v) <= CAST(0.15 AS DOUBLE)
                       AND a.v1 IS NOT NULL AND b.v1 IS NOT NULL
                       AND abs(a.v1 - b.v1) <= CAST(0.15 AS DOUBLE)
                  THEN 1 ELSE 0 END) AS a1
  FROM wrows a
  JOIN wrows b ON b.user_id = a.user_id AND b.sg = a.sg AND b.wi = a.wi
              AND a.k < b.k
  GROUP BY a.user_id, a.sg, a.wi
),
feats AS (
  SELECT st.user_id, st.sg, st.wi,
         st.m AS f_mean, st.sd AS f_std,
         st.m3 / nullif(st.m2 * sqrt(st.m2), CAST(0.0 AS DOUBLE)) AS f_skew,
         st.m4 / nullif(st.m2 * st.m2, CAST(0.0 AS DOUBLE)) - 3.0 AS f_kurt,
         CASE WHEN sp.a1 > 0 AND sp.b1 > 0
              THEN -ln(CAST(sp.a1 AS DOUBLE) / sp.b1) + ln(CAST(0.3 AS DOUBLE))
         END AS f_sampen,
         r1.r AS f_ac1, r2.r AS f_ac2, rg.r AS f_actaug, rl.r AS f_actaul,
         CAST(tl.taul AS DOUBLE) AS f_taul
  FROM wstat st
  JOIN wtaul tl ON tl.user_id = st.user_id AND tl.sg = st.sg AND tl.wi = st.wi
  JOIN tg ON tg.user_id = st.user_id
  LEFT JOIN wsamp sp ON sp.user_id = st.user_id AND sp.sg = st.sg AND sp.wi = st.wi
  LEFT JOIN wacf r1 ON r1.user_id = st.user_id AND r1.sg = st.sg
                   AND r1.wi = st.wi AND r1.tau = 1
  LEFT JOIN wacf r2 ON r2.user_id = st.user_id AND r2.sg = st.sg
                   AND r2.wi = st.wi AND r2.tau = 2
  LEFT JOIN wacf rg ON rg.user_id = st.user_id AND rg.sg = st.sg
                   AND rg.wi = st.wi AND rg.tau = tg.taug
  LEFT JOIN wacf rl ON rl.user_id = st.user_id AND rl.sg = st.sg
                   AND rl.wi = st.wi AND rl.tau = tl.taul
),
perscale AS (
  SELECT user_id, sg,
         CASE WHEN count(f_mean) = count(*) THEN stddev_samp(f_mean) END AS s_mean,
         CASE WHEN count(f_std) = count(*) THEN stddev_samp(f_std) END AS s_std,
         CASE WHEN count(f_skew) = count(*) THEN stddev_samp(f_skew) END AS s_skew,
         CASE WHEN count(f_kurt) = count(*) THEN stddev_samp(f_kurt) END AS s_kurt,
         CASE WHEN count(f_sampen) = count(*) THEN stddev_samp(f_sampen) END AS s_sampen,
         CASE WHEN count(f_ac1) = count(*) THEN stddev_samp(f_ac1) END AS s_ac1,
         CASE WHEN count(f_ac2) = count(*) THEN stddev_samp(f_ac2) END AS s_ac2,
         CASE WHEN count(f_actaug) = count(*) THEN stddev_samp(f_actaug) END AS s_actaug,
         CASE WHEN count(f_actaul) = count(*) THEN stddev_samp(f_actaul) END AS s_actaul,
         CASE WHEN count(f_taul) = count(*) THEN stddev_samp(f_taul) END AS s_taul
  FROM feats GROUP BY user_id, sg
)
SELECT user_id,
       round(CASE WHEN count(s_mean) = count(*) THEN stddev_samp(s_mean) END, 6) AS stdmean,
       round(CASE WHEN count(s_std) = count(*) THEN stddev_samp(s_std) END, 6) AS stdstd,
       round(CASE WHEN count(s_skew) = count(*) THEN stddev_samp(s_skew) END, 6) AS stdskew,
       round(CASE WHEN count(s_kurt) = count(*) THEN stddev_samp(s_kurt) END, 6) AS stdkurt,
       round(CASE WHEN count(s_sampen) = count(*) THEN stddev_samp(s_sampen) END, 6) AS stdsampen1_015,
       round(CASE WHEN count(s_ac1) = count(*) THEN stddev_samp(s_ac1) END, 6) AS stdac1,
       round(CASE WHEN count(s_ac2) = count(*) THEN stddev_samp(s_ac2) END, 6) AS stdac2,
       round(CASE WHEN count(s_actaug) = count(*) THEN stddev_samp(s_actaug) END, 6) AS stdactaug,
       round(CASE WHEN count(s_actaul) = count(*) THEN stddev_samp(s_actaul) END, 6) AS stdactaul,
       round(CASE WHEN count(s_taul) = count(*) THEN stddev_samp(s_taul) END, 6) AS stdtaul
FROM perscale GROUP BY user_id
""")


# --- CO_Embed2_Dist tau='tau' (Correlation.py:851-922), complete ------------
# Successive Euclidean step lengths in the (y_t, y_{t+tau}) plane:
# Fourier ACs of the distance series, moments, hazen IQR, and the
# exponential-MLE negative log-likelihood N(ln mean + 1).
QUERIES["user_embed2_dist"] = _qa("""
, fz AS (
  SELECT user_id, min(tau) AS i FROM acfn
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id
),
tauv AS (
  SELECT nn.user_id,
         greatest(CASE WHEN coalesce(fz.i, nn.n - 1) > CAST(nn.n AS DOUBLE) / 10.0
                       THEN CAST(floor(CAST(nn.n AS DOUBLE) / 10.0) AS BIGINT)
                       ELSE coalesce(fz.i, nn.n - 1) END, 1) AS tau,
         nn.n
  FROM nn LEFT JOIN fz ON fz.user_id = nn.user_id
),
emb AS (
  SELECT a.user_id, a.rn, a.v AS m0, b.v AS m1
  FROM series a
  JOIN tauv t ON t.user_id = a.user_id
  JOIN series b ON b.user_id = a.user_id AND b.rn = a.rn + t.tau
),
dst AS (
  SELECT user_id, rn,
         sqrt(pow(lead(m0) OVER (PARTITION BY user_id ORDER BY rn) - m0, 2)
              + pow(lead(m1) OVER (PARTITION BY user_id ORDER BY rn) - m1, 2)) AS d
  FROM emb
),
dd AS (SELECT user_id, rn, d FROM dst WHERE d IS NOT NULL),
dc AS (
  SELECT user_id, rn, d,
         d - avg(d) OVER (PARTITION BY user_id) AS c
  FROM dd
),
dl AS (
  SELECT user_id, d, c,
         lead(c)    OVER (PARTITION BY user_id ORDER BY rn) AS c1,
         lead(c, 2) OVER (PARTITION BY user_id ORDER BY rn) AS c2,
         lead(c, 3) OVER (PARTITION BY user_id ORDER BY rn) AS c3
  FROM dc
),
hq AS (
  SELECT user_id, d,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM dd
),
qv AS (
  SELECT b.user_id, b.i,
         lo.d + (b.posc - floor(b.posc)) * (hi.d - lo.d) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
)
SELECT ag.user_id,
       round(ag.s1 / nullif(ag.s0, CAST(0.0 AS DOUBLE)), 6) AS d_ac1,
       round(ag.s2 / nullif(ag.s0, CAST(0.0 AS DOUBLE)), 6) AS d_ac2,
       round(ag.s3 / nullif(ag.s0, CAST(0.0 AS DOUBLE)), 6) AS d_ac3,
       round(ag.mu, 6) AS d_mean,
       round(ag.med, 6) AS d_median,
       round(ag.sd, 6) AS d_std,
       round(q75.q - q25.q, 6) AS d_iqr,
       round(ag.mx, 6) AS d_max,
       round(ag.mn, 6) AS d_min,
       round(ag.mu / nullif(ag.sd, CAST(0.0 AS DOUBLE)), 6) AS d_cv,
       round(ag.cnt * (ln(ag.mu) + 1.0), 6) AS d_expfit_nlogL
FROM (
  SELECT user_id,
         sum(c * c) AS s0,
         sum(c * c1) FILTER (WHERE c1 IS NOT NULL) AS s1,
         sum(c * c2) FILTER (WHERE c2 IS NOT NULL) AS s2,
         sum(c * c3) FILTER (WHERE c3 IS NOT NULL) AS s3,
         avg(d) AS mu, median(d) AS med, stddev_samp(d) AS sd,
         max(d) AS mx, min(d) AS mn, CAST(count(*) AS DOUBLE) AS cnt
  FROM dl GROUP BY user_id
) ag
JOIN qv q25 ON q25.user_id = ag.user_id AND q25.i = 1
JOIN qv q75 ON q75.user_id = ag.user_id AND q75.i = 2
""")

# --- CO_HistogramAMI 'quantiles' 5 bins, tau=1 (Correlation.py:434-529) -----
# Hazen-quantile bin edges with the +-0.1 outer extensions; joint 2-D
# histogram with edge-inclusive-right assignment; MI in nats.
QUERIES["user_histami_quantile5"] = _q("""
, hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
edges AS (
  SELECT b.user_id, b.i,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS e
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.i * CAST(0.2 AS DOUBLE) * h.n + 0.5,
                          CAST(1.0 AS DOUBLE)), CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i UNION ALL SELECT 2 UNION ALL SELECT 3
                UNION ALL SELECT 4) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
ep AS (
  SELECT user_id,
         max(CASE WHEN i = 1 THEN e END) AS e1,
         max(CASE WHEN i = 2 THEN e END) AS e2,
         max(CASE WHEN i = 3 THEN e END) AS e3,
         max(CASE WHEN i = 4 THEN e END) AS e4
  FROM edges GROUP BY user_id
),
bpair AS (
  SELECT w.user_id,
         CASE WHEN w.v < ep.e1 THEN 0 WHEN w.v < ep.e2 THEN 1
              WHEN w.v < ep.e3 THEN 2 WHEN w.v < ep.e4 THEN 3
              ELSE 4 END AS bi,
         CASE WHEN w.v1 < ep.e1 THEN 0 WHEN w.v1 < ep.e2 THEN 1
              WHEN w.v1 < ep.e3 THEN 2 WHEN w.v1 < ep.e4 THEN 3
              ELSE 4 END AS bj
  FROM win w JOIN ep ON ep.user_id = w.user_id
  WHERE w.v1 IS NOT NULL
),
cellc AS (
  SELECT user_id, bi, bj, CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
  FROM bpair GROUP BY user_id, bi, bj
)
SELECT user_id,
       round(sum((cnt / tot) * ln((cnt / tot) / ((ci / tot) * (cj / tot)))), 6)
         AS histami_q5
FROM (
  SELECT user_id, cnt, tot,
         sum(cnt) OVER (PARTITION BY user_id, bi) AS ci,
         sum(cnt) OVER (PARTITION BY user_id, bj) AS cj
  FROM cellc
) d
GROUP BY user_id
""")

# --- DN_RemovePoints 'absfar' p=0.1 'remove' (Distribution.py:775-880) ------
# Keep the round-half-even(0.9 N) points closest to zero (stable by
# original index), re-index, and compare Fourier ACFs at lags 1-8 plus
# moments and the raw-kurtosis ratio against the original.
QUERIES["user_remove_points"] = _qa("""
, kr AS (
  SELECT user_id, rn, v,
         row_number() OVER (PARTITION BY user_id ORDER BY abs(v), rn) AS ark,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
kcnt AS (
  SELECT user_id, n,
         CAST(floor(h) + CASE
              WHEN h - floor(h) > 0.5 THEN 1
              WHEN h - floor(h) = 0.5
                   AND CAST(floor(h) AS BIGINT) % 2 = 1 THEN 1
              ELSE 0 END AS BIGINT) AS keepn
  FROM (SELECT DISTINCT user_id, n, n * CAST(0.9 AS DOUBLE) AS h FROM kr) t
),
kept AS (
  SELECT k.user_id, k.v,
         row_number() OVER (PARTITION BY k.user_id ORDER BY k.rn) - 1 AS j
  FROM kr k JOIN kcnt c ON c.user_id = k.user_id AND k.ark <= c.keepn
),
kc AS (
  SELECT user_id, j, v,
         v - avg(v) OVER (PARTITION BY user_id) AS c
  FROM kept
),
kacf AS (
  SELECT a.user_id, b.j - a.j AS tau, sum(a.c * b.c) AS s
  FROM kc a JOIN kc b ON b.user_id = a.user_id
                     AND b.j >= a.j AND b.j - a.j <= 8
  GROUP BY a.user_id, b.j - a.j
),
kacfn AS (
  SELECT x.user_id, x.tau, x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM kacf x
  JOIN (SELECT user_id, s FROM kacf WHERE tau = 0) s0
    ON s0.user_id = x.user_id
  WHERE x.tau BETWEEN 1 AND 8
),
oacf AS (
  SELECT user_id, tau, r FROM acfn WHERE tau BETWEEN 1 AND 8
),
accmp AS (
  SELECT o.user_id,
         sum(abs(k.r - o.r)) AS sumabs,
         max(CASE WHEN o.tau = 1 THEN k.r / nullif(o.r, CAST(0.0 AS DOUBLE)) END) AS ac1rat,
         max(CASE WHEN o.tau = 2 THEN k.r / nullif(o.r, CAST(0.0 AS DOUBLE)) END) AS ac2rat,
         max(CASE WHEN o.tau = 3 THEN k.r / nullif(o.r, CAST(0.0 AS DOUBLE)) END) AS ac3rat,
         max(CASE WHEN o.tau = 1 THEN abs(k.r - o.r) END) AS ac1diff,
         max(CASE WHEN o.tau = 2 THEN abs(k.r - o.r) END) AS ac2diff,
         max(CASE WHEN o.tau = 3 THEN abs(k.r - o.r) END) AS ac3diff
  FROM oacf o JOIN kacfn k ON k.user_id = o.user_id AND k.tau = o.tau
  GROUP BY o.user_id
),
kmom AS (
  SELECT user_id, avg(v) AS mu, median(v) AS med, stddev_samp(v) AS sd,
         avg(c * c * c * c) / nullif(avg(c * c) * avg(c * c),
                                     CAST(0.0 AS DOUBLE)) AS kurt
  FROM kc GROUP BY user_id
),
omom AS (
  SELECT user_id,
         avg(vc * vc * vc * vc) / nullif(avg(vc * vc) * avg(vc * vc),
                                         CAST(0.0 AS DOUBLE)) AS kurt
  FROM cent GROUP BY user_id
)
SELECT a.user_id,
       round(a.ac1rat, 6) AS ac1rat, round(a.ac1diff, 6) AS ac1diff,
       round(a.ac2rat, 6) AS ac2rat, round(a.ac2diff, 6) AS ac2diff,
       round(a.ac3rat, 6) AS ac3rat, round(a.ac3diff, 6) AS ac3diff,
       round(a.sumabs, 6) AS sumabsacfdiff,
       round(km.mu, 6) AS rp_mean,
       round(km.med, 6) AS rp_median,
       round(km.sd, 6) AS rp_std,
       round(km.kurt / nullif(om.kurt, CAST(0.0 AS DOUBLE)), 6) AS kurtosisrat
FROM accmp a
JOIN kmom km ON km.user_id = a.user_id
JOIN omom om ON om.user_id = a.user_id
""")


# --- NW_VisibilityGraph 'horiz' (Graph.py:9-125), complete ------------------
# The reference's nearest-taller-neighbor construction: each node links
# to the closest strictly-taller node on each side (min/max filtered
# joins), the edge set deduplicated and symmetrized; then the full
# degree-distribution surface: smallest-mode stats, hazen IQR, 90%
# outlier measures, equal-width histogram entropy at ceil-free
# int(sqrt(N)) bins, gaussian/exponential nlogL, Fourier ACs of the
# degree sequence, and the interpolated ACF-crossing timescale.
QUERIES["user_vg_horiz"] = _qa("""
, fwd AS (
  SELECT a.user_id, a.rn AS i, min(b.rn) AS j
  FROM series a JOIN series b
    ON b.user_id = a.user_id AND b.rn > a.rn AND b.v > a.v
  GROUP BY a.user_id, a.rn
),
bwd AS (
  SELECT a.user_id, a.rn AS i, max(b.rn) AS j
  FROM series a JOIN series b
    ON b.user_id = a.user_id AND b.rn < a.rn AND b.v > a.v
  GROUP BY a.user_id, a.rn
),
edges AS (
  SELECT user_id, i AS a, j AS b FROM fwd
  UNION
  SELECT user_id, j AS a, i AS b FROM bwd
),
degt AS (
  SELECT s.user_id, s.rn,
         CAST(coalesce(ea.c, 0) + coalesce(eb.c, 0) AS DOUBLE) AS k
  FROM series s
  LEFT JOIN (SELECT user_id, a, count(*) AS c FROM edges GROUP BY user_id, a) ea
    ON ea.user_id = s.user_id AND ea.a = s.rn
  LEFT JOIN (SELECT user_id, b, count(*) AS c FROM edges GROUP BY user_id, b) eb
    ON eb.user_id = s.user_id AND eb.b = s.rn
),
md AS (
  SELECT user_id, k AS mode, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, k ASC) AS rk
  FROM (SELECT user_id, k, count(*) AS cnt FROM degt GROUP BY user_id, k) t
),
hq AS (
  SELECT user_id, k,
         row_number() OVER (PARTITION BY user_id ORDER BY k) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM degt
),
qv AS (
  SELECT b.user_id, b.i,
         lo.k + (b.posc - floor(b.posc)) * (hi.k - lo.k) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)
                UNION ALL SELECT 3, CAST(0.05 AS DOUBLE)
                UNION ALL SELECT 4, CAST(0.95 AS DOUBLE)) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
qp AS (
  SELECT user_id,
         max(CASE WHEN i = 1 THEN q END) AS q25,
         max(CASE WHEN i = 2 THEN q END) AS q75,
         max(CASE WHEN i = 3 THEN q END) AS q05,
         max(CASE WHEN i = 4 THEN q END) AS q95
  FROM qv GROUP BY user_id
),
kcent AS (
  SELECT user_id, rn, k,
         k - avg(k) OVER (PARTITION BY user_id) AS c,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM degt
),
kacov AS (
  SELECT a.user_id, b.rn - a.rn AS tau, sum(a.c * b.c) AS s
  FROM kcent a JOIN kcent b ON b.user_id = a.user_id AND b.rn >= a.rn
  GROUP BY a.user_id, b.rn - a.rn
),
kacfn AS (
  SELECT x.user_id, x.tau, x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM kacov x
  JOIN (SELECT user_id, s FROM kacov WHERE tau = 0) s0
    ON s0.user_id = x.user_id
),
kfz AS (
  SELECT user_id, min(tau) AS i FROM kacfn
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id
),
ktau AS (
  SELECT kc.user_id,
         CASE WHEN kfz.i IS NULL THEN CAST(kc.n - 1 AS DOUBLE)
              ELSE (kfz.i - 1) + (CAST(0.0 AS DOUBLE) - p.r)
                   / nullif(c2.r - p.r, CAST(0.0 AS DOUBLE)) END AS tau
  FROM (SELECT DISTINCT user_id, n FROM kcent) kc
  LEFT JOIN kfz ON kfz.user_id = kc.user_id
  LEFT JOIN kacfn p ON p.user_id = kc.user_id AND p.tau = kfz.i - 1
  LEFT JOIN kacfn c2 ON c2.user_id = kc.user_id AND c2.tau = kfz.i
),
vbpr AS (
  -- reference Graph.py:111: DistributionEntropy(k, 'hist', 'sqrt') --
  -- numpy 'sqrt' rule edges linspace(mn, mx, ceil(sqrt(n))+1); the
  -- histc exact-max catch bin is dropped BEFORE normalizing
  SELECT user_id, min(k) AS mn, max(k) AS mx,
         CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS nb,
         (max(k) - min(k)) / ceil(sqrt(CAST(count(*) AS DOUBLE))) AS bw
  FROM degt GROUP BY user_id
),
ints21 AS (
  SELECT DISTINCT rn AS e FROM series
  WHERE rn <= 30 AND user_id = (SELECT min(user_id) FROM series)
),
vedges AS (
  SELECT b.user_id, ints21.e AS ei,
         CASE WHEN ints21.e = b.nb THEN b.mx
              ELSE b.mn + ints21.e * (b.mx - b.mn) / b.nb END AS ev
  FROM vbpr b JOIN ints21 ON ints21.e <= b.nb
),
vdig AS (
  SELECT d.user_id, d.rn,
         count(*) FILTER (WHERE e.ev <= d.k) - 1 AS bin
  FROM degt d
  JOIN vedges e ON e.user_id = d.user_id
  GROUP BY d.user_id, d.rn
),
hcnt AS (
  SELECT user_id, bin, CAST(count(*) AS DOUBLE) AS cnt
  FROM vdig GROUP BY user_id, bin
),
htot AS (
  SELECT h.user_id, sum(h.cnt) AS tot
  FROM hcnt h JOIN vbpr r ON r.user_id = h.user_id
  WHERE h.bin < r.nb GROUP BY h.user_id
),
hent AS (
  SELECT h.user_id,
         -sum((h.cnt / t.tot) * ln((h.cnt / t.tot) / r.bw)) AS h
  FROM hcnt h
  JOIN vbpr r ON r.user_id = h.user_id
  JOIN htot t ON t.user_id = h.user_id
  WHERE h.bin < r.nb AND h.cnt > 0
  GROUP BY h.user_id
),
kst AS (
  SELECT user_id, avg(k) AS mu, median(k) AS med, stddev_samp(k) AS sd,
         max(k) AS mx, min(k) AS mn, sum(k) AS tot,
         avg(c * c) AS m2, avg(c * c * c) AS m3,
         sum(0.5 * ((k - avg2) / nullif(sd2, CAST(0.0 AS DOUBLE)))
                 * ((k - avg2) / nullif(sd2, CAST(0.0 AS DOUBLE)))
             + ln(sd2 * sqrt(2.0 * pi()))) AS gnll,
         sum(k / nullif(avg2, CAST(0.0 AS DOUBLE))
             + ln(avg2)) AS enll,
         count(*) AS n
  FROM (
    SELECT user_id, rn, k, c,
           avg(k) OVER (PARTITION BY user_id) AS avg2,
           stddev_samp(k) OVER (PARTITION BY user_id) AS sd2
    FROM kcent
  ) z GROUP BY user_id
),
acp AS (
  SELECT user_id,
         max(CASE WHEN tau = 1 THEN r END) AS kac1,
         max(CASE WHEN tau = 2 THEN r END) AS kac2,
         max(CASE WHEN tau = 3 THEN r END) AS kac3
  FROM kacfn GROUP BY user_id
),
olstats AS (
  SELECT d.user_id,
         avg(d.k) FILTER (WHERE d.k >= qp.q05 AND d.k <= qp.q95) AS midmean,
         avg(d.k - ks.mu) FILTER (WHERE d.k >= qp.q95) AS upmean
  FROM degt d
  JOIN qp ON qp.user_id = d.user_id
  JOIN (SELECT user_id, avg(k) AS mu FROM degt GROUP BY user_id) ks
    ON ks.user_id = d.user_id
  GROUP BY d.user_id
)
SELECT k.user_id,
       round(md.mode, 6) AS mode,
       round(mdc.modecnt / k.tot, 6) AS propmode,
       round(k.mu, 6) AS meank,
       round(k.med, 6) AS mediank,
       round(k.sd, 6) AS stdk,
       round(k.mx, 6) AS maxk,
       round(k.mn, 6) AS mink,
       round(k.mx - k.mn, 6) AS rangek,
       round(qp.q75 - qp.q25, 6) AS iqrk,
       round(k.mx / nullif(k.med, CAST(0.0 AS DOUBLE)), 6) AS maxonmedian,
       round(k.m3 / nullif(k.m2 * sqrt(k.m2), CAST(0.0 AS DOUBLE)), 6) AS skewnessk,
       round(ol.midmean / nullif(k.mu, CAST(0.0 AS DOUBLE)), 6) AS ol90,
       round(ol.upmean / nullif(k.sd, CAST(0.0 AS DOUBLE)), 6) AS olu90,
       round(he.h, 6) AS entropy,
       round(k.gnll, 6) AS gaussnlogL,
       round(k.enll, 6) AS expnlogL,
       round(acp.kac1, 6) AS kac1,
       round(acp.kac2, 6) AS kac2,
       round(acp.kac3, 6) AS kac3,
       round(kt.tau, 6) AS ktau
FROM kst k
JOIN md ON md.user_id = k.user_id AND md.rk = 1
JOIN (SELECT d2.user_id, CAST(count(*) AS DOUBLE) AS modecnt
      FROM degt d2 JOIN md m2 ON m2.user_id = d2.user_id AND m2.rk = 1
                             AND d2.k = m2.mode
      GROUP BY d2.user_id) mdc ON mdc.user_id = k.user_id
JOIN qp ON qp.user_id = k.user_id
JOIN olstats ol ON ol.user_id = k.user_id
JOIN hent he ON he.user_id = k.user_id
JOIN acp ON acp.user_id = k.user_id
JOIN ktau kt ON kt.user_id = k.user_id
""")


# --- SY_LocalDistributions 'par' 5 segments (Stationarity.py:13-87) ---------
# Scott-rule gaussian KDE of each fifth vs the parent, evaluated on a
# 200-point grid spanning the full series, as explicit exp-sum joins;
# L1 divergences and their mean/median/max/population-std.
QUERIES["user_localdists"] = _qa("""
, grid AS (
  SELECT a.rn * 15 + b.rn AS gi
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 15 AND user_id =
        (SELECT min(user_id) FROM series)) a
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 15 AND user_id =
        (SELECT min(user_id) FROM series)) b
  WHERE a.rn * 15 + b.rn < 200
),
gpts AS (
  SELECT m.user_id, g.gi,
         m.mn + g.gi * (m.mx - m.mn) / 199.0 AS p
  FROM (SELECT user_id, min(v) AS mn, max(v) AS mx
        FROM series GROUP BY user_id) m
  CROSS JOIN grid g
),
segrows AS (
  SELECT s.user_id, s.rn, s.v,
         CAST(floor(s.rn / floor(nn.n / 5.0)) AS BIGINT) AS sg
  FROM series s JOIN nn ON nn.user_id = s.user_id
  WHERE s.rn < 5 * CAST(floor(nn.n / 5.0) AS BIGINT)
),
segbw AS (
  SELECT user_id, sg,
         power(CAST(count(*) AS DOUBLE), -0.2) * stddev_samp(v) AS bw,
         CAST(count(*) AS DOUBLE) AS m
  FROM segrows GROUP BY user_id, sg
),
parbw AS (
  SELECT user_id,
         power(CAST(count(*) AS DOUBLE), -0.2) * stddev_samp(v) AS bw,
         CAST(count(*) AS DOUBLE) AS m
  FROM series GROUP BY user_id
),
segden AS (
  SELECT g.user_id, g.gi, r.sg,
         sum(exp(-0.5 * pow((g.p - r.v) / b.bw, 2)))
           / (b.m * b.bw * sqrt(2.0 * pi())) AS f
  FROM gpts g
  JOIN segrows r ON r.user_id = g.user_id
  JOIN segbw b ON b.user_id = g.user_id AND b.sg = r.sg
  GROUP BY g.user_id, g.gi, r.sg, b.m, b.bw
),
parden AS (
  SELECT g.user_id, g.gi,
         sum(exp(-0.5 * pow((g.p - s.v) / b.bw, 2)))
           / (b.m * b.bw * sqrt(2.0 * pi())) AS f
  FROM gpts g
  JOIN series s ON s.user_id = g.user_id
  JOIN parbw b ON b.user_id = g.user_id
  GROUP BY g.user_id, g.gi, b.m, b.bw
),
divs AS (
  SELECT sd.user_id, sd.sg, sum(abs(sd.f - pd.f)) AS dv
  FROM segden sd
  JOIN parden pd ON pd.user_id = sd.user_id AND pd.gi = sd.gi
  GROUP BY sd.user_id, sd.sg
)
SELECT user_id,
       round(avg(dv), 6) AS meandiv,
       round(median(dv), 6) AS mediandiv,
       round(max(dv), 6) AS maxdiv,
       round(stddev_pop(dv), 6) AS stddiv
FROM divs GROUP BY user_id
""")


# --- MF_ARfit pmin=1 pmax=2 'sbc' (ModelFit.py:443-551), SQL subset ---------
# statsmodels ar_select_order/AutoReg(trend='n') semantics in SQL:
# candidate orders 0/1/2 are all scored on the COMMON hold_back sample
# (rows with lag-2 present, nobs = N-2, incl. the order-0 null model);
# the winner (clamped to pmin=1) is REFIT on its own conditional
# sample, which supplies coefficients, noise variance C, and residual
# diagnostics. Reported sbc_p/fpe_p curves are the common-sample ICs
# normalized by N (reference pops order 0 in _get_criteria). aerr_* are
# Student-t 95% intervals (A&S 26.7.5 t.ppf expansion, constants
# identical to functions/helpers.t_ppf_975) on the MLE-sigma2 OLS
# covariance. (res_siglev needs the chi-square survival function and
# stays engine-side.)
QUERIES["user_arfit12"] = _q("""
, lagd AS (
  SELECT user_id, rn, v,
         lag(v)    OVER (PARTITION BY user_id ORDER BY rn) AS vm1,
         lag(v, 2) OVER (PARTITION BY user_id ORDER BY rn) AS vm2,
         count(*)  OVER (PARTITION BY user_id) AS n
  FROM series
),
fit1 AS (
  SELECT user_id, max(n) AS n,
         sum(vm1 * v) / nullif(sum(vm1 * vm1), CAST(0.0 AS DOUBLE)) AS phi,
         sum(vm1 * vm1) AS xx
  FROM lagd WHERE vm1 IS NOT NULL GROUP BY user_id
),
sig1 AS (
  SELECT l.user_id,
         sum(pow(l.v - f.phi * l.vm1, 2)) / (f.n - 1.0) AS s2
  FROM lagd l JOIN fit1 f ON f.user_id = l.user_id
  WHERE l.vm1 IS NOT NULL GROUP BY l.user_id, f.n
),
ne2 AS (
  SELECT user_id, max(n) AS n,
         sum(vm1 * vm1) AS a, sum(vm1 * vm2) AS b, sum(vm2 * vm2) AS c,
         sum(vm1 * v) AS r1, sum(vm2 * v) AS r2
  FROM lagd WHERE vm2 IS NOT NULL GROUP BY user_id
),
fit2 AS (
  SELECT user_id, n, a, b, c,
         (c * r1 - b * r2) / nullif(a * c - b * b, CAST(0.0 AS DOUBLE)) AS p1,
         (a * r2 - b * r1) / nullif(a * c - b * b, CAST(0.0 AS DOUBLE)) AS p2,
         a * c - b * b AS det
  FROM ne2
),
sig2 AS (
  SELECT l.user_id,
         sum(pow(l.v - f.p1 * l.vm1 - f.p2 * l.vm2, 2)) / (f.n - 2.0) AS s2
  FROM lagd l JOIN fit2 f ON f.user_id = l.user_id
  WHERE l.vm2 IS NOT NULL GROUP BY l.user_id, f.n
),
selfits AS (
  SELECT user_id, max(n) AS n,
         sum(v * v) AS ssr0,
         sum(vm1 * v) / nullif(sum(vm1 * vm1), CAST(0.0 AS DOUBLE)) AS phi1c
  FROM lagd WHERE vm2 IS NOT NULL GROUP BY user_id
),
sig1c AS (
  SELECT l.user_id,
         sum(pow(l.v - f.phi1c * l.vm1, 2)) / (f.n - 2.0) AS s2
  FROM lagd l JOIN selfits f ON f.user_id = l.user_id
  WHERE l.vm2 IS NOT NULL GROUP BY l.user_id, f.n
),
crit AS (
  SELECT f1.user_id, f1.n, f1.phi AS phi1, s1.s2 AS s2_1,
         f2.p1, f2.p2, s2x.s2 AS s2_2, f2.a, f2.c, f2.det,
         (CAST(f1.n AS DOUBLE) - 2.0)
           * (ln(2.0 * pi() * sf.ssr0 / (CAST(f1.n AS DOUBLE) - 2.0)) + 1.0)
           / f1.n
           + ln(CAST(f1.n AS DOUBLE) - 2.0) * 1.0 / f1.n AS sbc0,
         (CAST(f1.n AS DOUBLE) - 2.0)
           * (ln(2.0 * pi() * s1c.s2) + 1.0) / f1.n
           + 2.0 * 2.0 / f1.n AS fpe1,
         (CAST(f1.n AS DOUBLE) - 2.0)
           * (ln(2.0 * pi() * s1c.s2) + 1.0) / f1.n
           + ln(CAST(f1.n AS DOUBLE) - 2.0) * 2.0 / f1.n AS sbc1,
         (CAST(f1.n AS DOUBLE) - 2.0)
           * (ln(2.0 * pi() * s2x.s2) + 1.0) / f1.n
           + 2.0 * 3.0 / f1.n AS fpe2,
         (CAST(f1.n AS DOUBLE) - 2.0)
           * (ln(2.0 * pi() * s2x.s2) + 1.0) / f1.n
           + ln(CAST(f1.n AS DOUBLE) - 2.0) * 3.0 / f1.n AS sbc2
  FROM fit1 f1
  JOIN sig1 s1 ON s1.user_id = f1.user_id
  JOIN fit2 f2 ON f2.user_id = f1.user_id
  JOIN sig2 s2x ON s2x.user_id = f1.user_id
  JOIN selfits sf ON sf.user_id = f1.user_id
  JOIN sig1c s1c ON s1c.user_id = f1.user_id
),
sel AS (
  SELECT *,
         CASE WHEN sbc2 < sbc0 AND sbc2 < sbc1 THEN 2 ELSE 1 END AS popt
  FROM crit
),
resid AS (
  SELECT l.user_id, l.rn,
         CASE WHEN s.popt = 1 THEN l.v - s.phi1 * l.vm1
              ELSE l.v - s.p1 * l.vm1 - s.p2 * l.vm2 END AS e
  FROM lagd l JOIN sel s ON s.user_id = l.user_id
  WHERE (s.popt = 1 AND l.vm1 IS NOT NULL)
     OR (s.popt = 2 AND l.vm2 IS NOT NULL)
),
rc AS (
  SELECT user_id, rn, e - avg(e) OVER (PARTITION BY user_id) AS c
  FROM resid
),
racv AS (
  SELECT a.user_id, b.rn - a.rn AS tau, sum(a.c * b.c) AS s
  FROM rc a JOIN rc b ON b.user_id = a.user_id AND b.rn >= a.rn
                     AND b.rn - a.rn <= 20
  GROUP BY a.user_id, b.rn - a.rn
),
racf AS (
  SELECT x.user_id, x.tau, x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM racv x
  JOIN (SELECT user_id, s FROM racv WHERE tau = 0) s0
    ON s0.user_id = x.user_id
  WHERE x.tau BETWEEN 1 AND 20
),
pcorr AS (
  SELECT rf.user_id,
         sum(CASE WHEN abs(rf.r) > 1.96 / sqrt(CAST(s.n AS DOUBLE))
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           / 20.0 AS pc
  FROM racf rf JOIN sel s ON s.user_id = rf.user_id
  GROUP BY rf.user_id
),
tc AS (
  SELECT user_id,
         CAST(1.959963984540054 AS DOUBLE)
         + CAST(2.372271230298562 AS DOUBLE) / dof
         + CAST(2.8224986157396112 AS DOUBLE) / pow(dof, 2)
         + CAST(2.555849679507722 AS DOUBLE) / pow(dof, 3)
         + CAST(1.5895340533938225 AS DOUBLE) / pow(dof, 4) AS tcrit
  FROM (
    SELECT user_id,
           CASE WHEN popt = 1 THEN CAST(n AS DOUBLE) - 2.0
                ELSE CAST(n AS DOUBLE) - 4.0 END AS dof
    FROM sel
  ) q
)
SELECT s.user_id,
       round(CASE WHEN s.popt = 1 THEN s.phi1 ELSE s.p1 END, 6) AS A1,
       round(CASE WHEN s.popt = 1 THEN CAST(0.0 AS DOUBLE) ELSE s.p2 END, 6) AS A2,
       round(CASE WHEN s.popt = 1 THEN s.phi1
                  ELSE greatest(s.p1, s.p2) END, 6) AS maxA,
       round(CASE WHEN s.popt = 1 THEN s.phi1
                  ELSE least(s.p1, s.p2) END, 6) AS minA,
       round(CASE WHEN s.popt = 1 THEN s.phi1
                  ELSE (s.p1 + s.p2) / 2.0 END, 6) AS meanA,
       round(CASE WHEN s.popt = 1 THEN CAST(0.0 AS DOUBLE)
                  ELSE abs(s.p1 - s.p2) / sqrt(2.0) END, 6) AS stdA,
       round(CASE WHEN s.popt = 1 THEN s.phi1 ELSE s.p1 + s.p2 END, 6) AS sumA,
       round(CASE WHEN s.popt = 1 THEN abs(s.phi1)
                  ELSE sqrt(s.p1 * s.p1 + s.p2 * s.p2) END, 6) AS rmsA,
       round(CASE WHEN s.popt = 1 THEN s.phi1 * s.phi1
                  ELSE s.p1 * s.p1 + s.p2 * s.p2 END, 6) AS sumsqA,
       round(CASE WHEN s.popt = 1 THEN s.s2_1 ELSE s.s2_2 END, 6) AS C,
       round(s.sbc1, 6) AS sbc_1, round(s.sbc2, 6) AS sbc_2,
       round(s.fpe1, 6) AS fpe_1, round(s.fpe2, 6) AS fpe_2,
       round(least(s.sbc1, s.sbc2), 6) AS minsbc,
       round(CASE WHEN s.sbc1 <= s.sbc2 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(2.0 AS DOUBLE) END, 6) AS popt_sbc,
       round(least(s.fpe1, s.fpe2), 6) AS minfpe,
       round(CASE WHEN s.fpe1 <= s.fpe2 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(2.0 AS DOUBLE) END, 6) AS popt_fpe,
       round(p.pc, 6) AS pcorr_res,
       round(CASE WHEN s.popt = 1
                  THEN t.tcrit * sqrt(s.s2_1 / f1x.xx)
                  ELSE least(t.tcrit * sqrt(s.s2_2 * s.c / s.det),
                             t.tcrit * sqrt(s.s2_2 * s.a / s.det)) END, 6) AS aerr_min,
       round(CASE WHEN s.popt = 1
                  THEN t.tcrit * sqrt(s.s2_1 / f1x.xx)
                  ELSE greatest(t.tcrit * sqrt(s.s2_2 * s.c / s.det),
                                t.tcrit * sqrt(s.s2_2 * s.a / s.det)) END, 6) AS aerr_max,
       round(CASE WHEN s.popt = 1
                  THEN t.tcrit * sqrt(s.s2_1 / f1x.xx)
                  ELSE (t.tcrit * sqrt(s.s2_2 * s.c / s.det)
                        + t.tcrit * sqrt(s.s2_2 * s.a / s.det)) / 2.0 END, 6) AS aerr_mean
FROM sel s
JOIN pcorr p ON p.user_id = s.user_id
JOIN fit1 f1x ON f1x.user_id = s.user_id
JOIN tc t ON t.user_id = s.user_id
""")


# --- SB_BinaryStats 'diff' (Symbolic.py:458-540), complete ------------------
# diff>0 binarization; run lengths via gaps-and-islands; halves ratio,
# stretch count/extreme/mean/std raw and /N, the stretch-diff and
# 2-vs-1-run-probability outputs.
QUERIES["user_binarystats_diff"] = _q("""
, bs AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY rn) - 1 AS t,
         CASE WHEN v1 - v > 0 THEN 1 ELSE 0 END AS b,
         count(*) OVER (PARTITION BY user_id) AS nb
  FROM win WHERE v1 IS NOT NULL
),
runs AS (
  SELECT user_id, b, CAST(count(*) AS DOUBLE) AS len
  FROM (SELECT user_id, t, b, nb,
               t - row_number() OVER (PARTITION BY user_id, b ORDER BY t) AS g
        FROM bs) x
  GROUP BY user_id, b, g
),
r1 AS (
  SELECT user_id, count(*) AS c1, max(len) AS mx1, avg(len) AS mu1,
         stddev_samp(len) AS sd1,
         avg(CASE WHEN len = 2 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
           - avg(CASE WHEN len = 1 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END) AS d21
  FROM runs WHERE b = 1 GROUP BY user_id
),
r0 AS (
  SELECT user_id, count(*) AS c0, max(len) AS mx0, avg(len) AS mu0,
         stddev_samp(len) AS sd0,
         avg(CASE WHEN len = 2 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
           - avg(CASE WHEN len = 1 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END) AS d21
  FROM runs WHERE b = 0 GROUP BY user_id
),
hv AS (
  SELECT user_id, max(nb) AS nb,
         sum(CASE WHEN t <  CAST(floor(nb / 2.0) AS BIGINT) AND b = 1
                  THEN 1 ELSE 0 END) AS ones1,
         sum(CASE WHEN t >= CAST(floor(nb / 2.0) AS BIGINT) AND b = 1
                  THEN 1 ELSE 0 END) AS ones2
  FROM bs GROUP BY user_id
)
SELECT hv.user_id,
       round(CAST(hv.ones2 AS DOUBLE) / nullif(hv.ones1, 0), 6) AS pupstat2,
       round(coalesce(CAST(r1.c1 AS DOUBLE), CAST(0.0 AS DOUBLE)) / hv.nb, 6)
         AS pstretch1,
       round(coalesce(r0.mx0, CAST(0.0 AS DOUBLE)), 6) AS longstretch0,
       round(coalesce(r0.mx0, CAST(0.0 AS DOUBLE)) / hv.nb, 6) AS longstretch0norm,
       round(coalesce(r0.mu0, CAST(0.0 AS DOUBLE)), 6) AS meanstretch0,
       round(coalesce(r0.mu0, CAST(0.0 AS DOUBLE)) / hv.nb, 6) AS meanstretch0norm,
       round(r0.sd0, 6) AS stdstretch0,
       round(r0.sd0 / hv.nb, 6) AS stdstretch0norm,
       round(coalesce(r1.mx1, CAST(0.0 AS DOUBLE)), 6) AS longstretch1,
       round(coalesce(r1.mx1, CAST(0.0 AS DOUBLE)) / hv.nb, 6) AS longstretch1norm,
       round(coalesce(r1.mu1, CAST(0.0 AS DOUBLE)), 6) AS meanstretch1,
       round(coalesce(r1.mu1, CAST(0.0 AS DOUBLE)) / hv.nb, 6) AS meanstretch1norm,
       round(r1.sd1, 6) AS stdstretch1,
       round(r1.sd1 / hv.nb, 6) AS stdstretch1norm,
       round((coalesce(r1.mu1, CAST(0.0 AS DOUBLE))
              - coalesce(r0.mu0, CAST(0.0 AS DOUBLE))) / hv.nb, 6) AS meanstretchdiff,
       round((r1.sd1 - r0.sd0) / hv.nb, 6) AS stdstretchdiff,
       round(r1.d21, 6) AS diff21stretch1,
       round(r0.d21, 6) AS diff21stretch0
FROM hv
LEFT JOIN r1 ON r1.user_id = hv.user_id
LEFT JOIN r0 ON r0.user_id = hv.user_id
""")

# --- SB_BinaryStretch lseq1/lseq0 (Symbolic.py:401-457, bug-for-bug) --------
# The reference's mislabeled statistic: gaps between sign changes of
# (one-index diffs - 1.5), max consecutive-gap / N; 0 when fewer than
# two sign changes.
QUERIES["user_binarystretch"] = _q("""
, bz AS (
  SELECT user_id, rn,
         CASE WHEN v > 0 THEN 1 ELSE 0 END AS b,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
tgt AS (SELECT 1 AS t UNION ALL SELECT 0),
oneidx AS (
  SELECT b.user_id, g.t,
         row_number() OVER (PARTITION BY b.user_id, g.t ORDER BY b.rn) - 1 AS k,
         b.rn, b.n
  FROM bz b JOIN tgt g ON b.b = g.t
),
dfs AS (
  SELECT user_id, t, k, n,
         lead(rn) OVER (PARTITION BY user_id, t ORDER BY k) - rn - 1.5 AS d
  FROM oneidx
),
sc AS (
  SELECT user_id, t, k, n
  FROM (SELECT user_id, t, k, n, d,
               lead(d) OVER (PARTITION BY user_id, t ORDER BY k) AS d1
        FROM dfs WHERE d IS NOT NULL) x
  WHERE d1 IS NOT NULL AND d * d1 < 0
),
mg AS (
  SELECT user_id, t,
         max(nk) AS gapmax, count(*) AS nsc, max(n) AS n
  FROM (SELECT user_id, t, n,
               lead(k) OVER (PARTITION BY user_id, t ORDER BY k) - k AS nk
        FROM sc) y
  GROUP BY user_id, t
),
base AS (SELECT DISTINCT user_id FROM series)
SELECT base.user_id,
       round(coalesce(CASE WHEN m1.nsc > 1
                           THEN CAST(m1.gapmax AS DOUBLE) / m1.n END,
                      CAST(0.0 AS DOUBLE)), 6) AS stretch1,
       round(coalesce(CASE WHEN m0.nsc > 1
                           THEN CAST(m0.gapmax AS DOUBLE) / m0.n END,
                      CAST(0.0 AS DOUBLE)), 6) AS stretch0
FROM base
LEFT JOIN mg m1 ON m1.user_id = base.user_id AND m1.t = 1
LEFT JOIN mg m0 ON m0.user_id = base.user_id AND m0.t = 0
""")


# --- CO_CompareMinAMI 'even' bins 2-10 (Correlation.py:356-433) -------------
# For each bin count, scan the even-binned histogram AMI over
# tau = 0..ceil(N/2) and take the lag before the first turning point
# (last lag when the curve never turns); then the reference's statistics
# over the nine first-minimum estimates, including the smallest-mode,
# the last-5 convergence mean, and the local-maxima-above-band count.
QUERIES["user_compare_minami"] = _qa("""
, nbt AS (
  SELECT 2 AS nb UNION ALL SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5
  UNION ALL SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8
  UNION ALL SELECT 9 UNION ALL SELECT 10
),
mm AS (
  SELECT user_id, min(v) AS mn, max(v) AS mx FROM series GROUP BY user_id
),
ints11 AS (
  SELECT DISTINCT rn AS i FROM series
  WHERE rn <= 10 AND user_id = (SELECT min(user_id) FROM series)
),
edges AS (
  SELECT m.user_id, t.nb, i.i,
         CASE WHEN i.i = 0 THEN m.mn - 0.1
              WHEN i.i = t.nb THEN m.mx + 0.1
              ELSE m.mn + i.i * (m.mx - m.mn) / t.nb END AS e
  FROM mm m CROSS JOIN nbt t
  JOIN ints11 i ON i.i <= t.nb
),
taus AS (
  SELECT nn.user_id, s.rn AS tau,
         CAST(ceil(CAST(nn.n AS DOUBLE) / 2.0) AS BIGINT) AS taumax
  FROM nn JOIN series s ON s.user_id = nn.user_id
  WHERE s.rn <= CAST(ceil(CAST(nn.n AS DOUBLE) / 2.0) AS BIGINT)
),
pr AS (
  SELECT t.user_id, t.tau, a.rn, a.v AS va, b.v AS vb
  FROM taus t
  JOIN series a ON a.user_id = t.user_id
  JOIN series b ON b.user_id = t.user_id AND b.rn = a.rn + t.tau
),
dig AS (
  SELECT p.user_id, e.nb, p.tau, p.rn,
         count(*) FILTER (WHERE e.e <= p.va) - 1 AS bi,
         count(*) FILTER (WHERE e.e <= p.vb) - 1 AS bj
  FROM pr p
  JOIN edges e ON e.user_id = p.user_id
  GROUP BY p.user_id, e.nb, p.tau, p.rn, p.va, p.vb
),
cells AS (
  SELECT user_id, nb, tau, bi, bj, CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(count(*)) OVER (PARTITION BY user_id, nb, tau) AS DOUBLE) AS tot
  FROM dig GROUP BY user_id, nb, tau, bi, bj
),
amit AS (
  SELECT user_id, nb, tau,
         sum((cnt / tot) * ln((cnt / tot) / ((ci / tot) * (cj / tot)))) AS ami
  FROM (
    SELECT user_id, nb, tau, cnt, tot,
           sum(cnt) OVER (PARTITION BY user_id, nb, tau, bi) AS ci,
           sum(cnt) OVER (PARTITION BY user_id, nb, tau, bj) AS cj
    FROM cells
  ) x GROUP BY user_id, nb, tau
),
turn AS (
  SELECT user_id, nb, min(tau) AS firstturn
  FROM (
    SELECT user_id, nb, tau, ami,
           lag(ami)    OVER (PARTITION BY user_id, nb ORDER BY tau) AS a1,
           lag(ami, 2) OVER (PARTITION BY user_id, nb ORDER BY tau) AS a2
    FROM amit
  ) d
  WHERE tau > 1 AND (ami - a1) * (a1 - a2) < 0
  GROUP BY user_id, nb
),
amim AS (
  SELECT t.user_id, t.nb - 2 AS i,
         CAST(coalesce(tr.firstturn - 1, tx.taumax) AS DOUBLE) AS am
  FROM (SELECT DISTINCT user_id, nb FROM amit) t
  JOIN (SELECT DISTINCT user_id, taumax FROM taus) tx
    ON tx.user_id = t.user_id
  LEFT JOIN turn tr ON tr.user_id = t.user_id AND tr.nb = t.nb
),
md AS (
  SELECT user_id, am AS mode, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, am ASC) AS rk
  FROM (SELECT user_id, am, count(*) AS cnt FROM amim GROUP BY user_id, am) z
),
curve AS (
  SELECT user_id, i, am,
         lead(am) OVER (PARTITION BY user_id ORDER BY i) AS amn
  FROM amim
),
dcurve AS (
  SELECT user_id, i, d,
         lead(d) OVER (PARTITION BY user_id ORDER BY i) AS d1
  FROM (SELECT user_id, i, amn - am AS d FROM curve WHERE i <= 6) z
),
locext AS (
  SELECT user_id, i + 1 AS li
  FROM dcurve WHERE d1 IS NOT NULL AND d > 0 AND d * d1 < 0
),
stats AS (
  SELECT user_id, min(am) AS mn, max(am) AS mx, median(am) AS med,
         avg(am) AS mu, stddev_samp(am) AS sd,
         CAST(count(DISTINCT am) AS DOUBLE) AS nuq,
         avg(am) FILTER (WHERE i >= 4) AS conv4
  FROM amim GROUP BY user_id
),
nloc AS (
  SELECT a.user_id, CAST(count(*) AS DOUBLE) AS c
  FROM amim a
  JOIN stats st ON st.user_id = a.user_id
  JOIN locext le ON le.user_id = a.user_id AND le.li = a.i
  WHERE a.am > st.mu + st.sd
  GROUP BY a.user_id
)
SELECT st.user_id,
       round(st.mn, 6) AS ami_min,
       round(st.mx, 6) AS ami_max,
       round(st.mx - st.mn, 6) AS ami_range,
       round(st.med, 6) AS ami_median,
       round(st.mu, 6) AS ami_mean,
       round(st.sd, 6) AS ami_std,
       round(st.nuq, 6) AS nunique,
       round(md.mode, 6) AS mode,
       round(CAST(md.cnt AS DOUBLE) / 9.0, 6) AS modef,
       round(st.conv4, 6) AS conv4,
       round(coalesce(nl.c, CAST(0.0 AS DOUBLE)), 6) AS nlocmax
FROM stats st
JOIN md ON md.user_id = st.user_id AND md.rk = 1
LEFT JOIN nloc nl ON nl.user_id = st.user_id
""")


# --- EN_DistributionEntropy 'ks' (Entropy.py:87-165) ------------------------
# Differential entropy of the Scott-rule gaussian KDE on a 512-point
# grid spanning [min - 3 sigma, max + 3 sigma], as an explicit exp-sum
# join: H = -sum f ln f dx over positive density.
# EN_DistributionEntropy 'ks' default width (Entropy.py:149-160,
# bug-for-bug): silverman FACTOR (0.75 n)^(-1/5); kde bandwidth =
# factor * std_samp; 100-point grid padded by 3*factor*std_pop; entropy
# -sum(px * ln(px / dx)) over the RAW density values (no dx multiplier).
QUERIES["user_distent_ks"] = _q("""
, i100 AS (
  SELECT a.rn * 10 + b.rn AS gi
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 10 AND user_id =
        (SELECT min(user_id) FROM series)) a
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 10 AND user_id =
        (SELECT min(user_id) FROM series)) b
),
kp AS (
  SELECT user_id,
         power(CAST(count(*) AS DOUBLE) * 3.0 / 4.0, -0.2) AS fac,
         stddev_samp(v) AS sds, stddev_pop(v) AS sdp,
         min(v) AS mn, max(v) AS mx,
         CAST(count(*) AS DOUBLE) AS m
  FROM series GROUP BY user_id
),
kp2 AS (
  SELECT user_id, fac * sds AS h,
         mn - 3.0 * fac * sdp AS lo,
         mx + 3.0 * fac * sdp AS hi, m
  FROM kp
),
gpts AS (
  SELECT k.user_id, g.gi,
         k.lo + g.gi * (k.hi - k.lo) / 99.0 AS p,
         (k.hi - k.lo) / 99.0 AS dx, k.h, k.m
  FROM kp2 k CROSS JOIN i100 g
),
dens AS (
  SELECT g.user_id, g.gi, max(g.dx) AS dx,
         sum(exp(-0.5 * pow((g.p - s.v) / g.h, 2)))
           / (max(g.m) * max(g.h) * sqrt(2.0 * pi())) AS f
  FROM gpts g JOIN series s ON s.user_id = g.user_id
  GROUP BY g.user_id, g.gi
)
SELECT user_id,
       round(-sum(CASE WHEN f > 0 THEN f * ln(f / dx)
                       ELSE CAST(0.0 AS DOUBLE) END), 6) AS distent_ks
FROM dens GROUP BY user_id
""")

# --- HT_HypothesisTest 'signtest' on the diff series ------------------------
# (HypothesisTests.py:82-134): exact two-sided binomial p via
# log-factorial running sums over an integer table (doubled smaller
# tail, capped at 1). Applied to diff(y), where the sign split is
# informative.
QUERIES["user_signtest_diff"] = _q("""
, dser AS (
  SELECT user_id, v1 - v AS d FROM win WHERE v1 IS NOT NULL
),
cn AS (
  SELECT user_id,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN d <> CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END) AS nn2
  FROM dser GROUP BY user_id
),
iall AS (
  SELECT a.rn * 10 + b.rn AS k
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 10 AND user_id =
        (SELECT min(user_id) FROM series)) a
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 10 AND user_id =
        (SELECT min(user_id) FROM series)) b
),
lf AS (
  SELECT k,
         sum(CASE WHEN k2.k2v > 0 THEN ln(CAST(k2.k2v AS DOUBLE))
                  ELSE CAST(0.0 AS DOUBLE) END) AS v
  FROM iall
  LEFT JOIN (SELECT k AS k2v FROM iall) k2 ON k2.k2v <= iall.k AND k2.k2v >= 1
  GROUP BY k
),
tails AS (
  SELECT c.user_id,
         sum(exp(lfn.v - lfi.v - lfni.v
                 - c.nn2 * ln(CAST(2.0 AS DOUBLE)))) AS tail
  FROM cn c
  JOIN iall i ON i.k <= least(c.pos, c.nn2 - c.pos)
  JOIN lf lfn ON lfn.k = c.nn2
  JOIN lf lfi ON lfi.k = i.k
  JOIN lf lfni ON lfni.k = c.nn2 - i.k
  GROUP BY c.user_id
)
SELECT c.user_id,
       round(least(CAST(1.0 AS DOUBLE), 2.0 * coalesce(t.tail, CAST(0.0 AS DOUBLE))), 6)
         AS signtest_p
FROM cn c LEFT JOIN tails t ON t.user_id = c.user_id
""")


# --- rm_information tau=1 (Information.py:490-688, RM_histogram2) -----------
# Moddemeijer histogram MI with the automatic descriptor: ncell =
# ceil(n^(1/3)), half-delta-expanded linspace bounds per marginal,
# plug-in MI plus the unbiased occupied-cell correction.
QUERIES["user_rm_info1"] = _q("""
, pairs AS (
  SELECT user_id, rn, v AS x, v1 AS z FROM win WHERE v1 IS NOT NULL
),
desc0 AS (
  SELECT user_id,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(ceil(pow(CAST(count(*) AS DOUBLE), 1.0 / 3.0)) AS BIGINT) AS nc,
         min(x) AS mnx, max(x) AS mxx, min(z) AS mnz, max(z) AS mxz,
         (max(x) - min(x)) / (count(*) - 1.0) AS dx,
         (max(z) - min(z)) / (count(*) - 1.0) AS dz
  FROM pairs GROUP BY user_id
),
zf AS (
  -- RM_histogram2 (utils.py:551-553): 1-based cell = banker's-rounded
  -- round(f*ncell + 1/2); out-of-range points are DROPPED
  SELECT p.user_id, p.rn, d.nc,
         (p.x - (d.mnx - d.dx / 2.0))
           / ((d.mxx + d.dx / 2.0) - (d.mnx - d.dx / 2.0)) * d.nc + 0.5 AS zx,
         (p.z - (d.mnz - d.dz / 2.0))
           / ((d.mxz + d.dz / 2.0) - (d.mnz - d.dz / 2.0)) * d.nc + 0.5 AS zz
  FROM pairs p JOIN desc0 d ON d.user_id = p.user_id
),
dig AS (
  SELECT user_id, rn, nc,
         CAST(floor(zx) AS BIGINT) + CASE
           WHEN zx - floor(zx) > 0.5 THEN 1
           WHEN zx - floor(zx) = 0.5
                AND CAST(floor(zx) AS BIGINT) % 2 = 1 THEN 1
           ELSE 0 END AS bi,
         CAST(floor(zz) AS BIGINT) + CASE
           WHEN zz - floor(zz) > 0.5 THEN 1
           WHEN zz - floor(zz) = 0.5
                AND CAST(floor(zz) AS BIGINT) % 2 = 1 THEN 1
           ELSE 0 END AS bj
  FROM zf
),
cells AS (
  SELECT user_id, bi, bj, CAST(count(*) AS DOUBLE) AS h
  FROM dig
  WHERE bi >= 1 AND bi <= nc AND bj >= 1 AND bj <= nc
  GROUP BY user_id, bi, bj
),
marg AS (
  SELECT user_id, bi, sum(h) AS hx FROM cells GROUP BY user_id, bi
),
marg2 AS (
  SELECT user_id, bj, sum(h) AS hy FROM cells GROUP BY user_id, bj
),
agg AS (
  SELECT c.user_id,
         sum(c.h * ln(c.h)) AS shh,
         CAST(count(*) AS DOUBLE) AS mxy,
         sum(c.h) AS cnt
  FROM cells c GROUP BY c.user_id
),
aggx AS (
  SELECT user_id, sum(hx * ln(hx)) AS shx, CAST(count(*) AS DOUBLE) AS mx
  FROM marg GROUP BY user_id
),
aggy AS (
  SELECT user_id, sum(hy * ln(hy)) AS shy, CAST(count(*) AS DOUBLE) AS my
  FROM marg2 GROUP BY user_id
)
SELECT a.user_id,
       round((a.shh - ax.shx - ay.shy) / a.cnt + ln(a.cnt)
             - (d.nc - 1.0) * (d.nc - 1.0) / (2.0 * a.cnt), 6) AS rm_info1
FROM agg a
JOIN aggx ax ON ax.user_id = a.user_id
JOIN aggy ay ON ay.user_id = a.user_id
JOIN desc0 d ON d.user_id = a.user_id
""")


# --- CO_StickAngles (Correlation.py:530-750), on the centered series --------
# The raw event values are single-signed, so the catalog applies the
# operator to y - mean(y) (documented parametrization; the kernel is
# sign-split by construction). Line-of-sight angles above/below zero:
# raw moment stats, double-z-scored hazen quantiles, StatAv 2-5 blocks,
# ACF timescales at lags 1-2 + interpolated zero crossing, per-sign
# positive/negative mean ratios, and the Scott-KDE symmetry and
# p-vs-n difference measures.
QUERIES["user_stickangles"] = _q("""
, sgn AS (
  SELECT user_id, rn, vc,
         CASE WHEN vc >= 0 THEN 0 ELSE 1 END AS sg
  FROM cent
),
lnk AS (
  SELECT user_id, sg, rn, vc,
         lead(vc) OVER (PARTITION BY user_id, sg ORDER BY rn) AS vn,
         lead(rn) OVER (PARTITION BY user_id, sg ORDER BY rn) AS rnn,
         row_number() OVER (PARTITION BY user_id, sg ORDER BY rn) - 1 AS j
  FROM sgn
),
ang0 AS (
  SELECT user_id, sg, j, atan((vn - vc) / (rnn - rn)) AS a
  FROM lnk WHERE vn IS NOT NULL
),
angs AS (
  SELECT user_id, sg AS suf, j, a FROM ang0
  UNION ALL
  SELECT user_id, 2 AS suf, sg * 1000000 + j AS j, a FROM ang0
),
pos0 AS (
  SELECT user_id, suf, a,
         row_number() OVER (PARTITION BY user_id, suf ORDER BY j) - 1 AS p,
         count(*) OVER (PARTITION BY user_id, suf) AS m
  FROM angs
),
z1 AS (
  SELECT user_id, suf, p, m, a,
         (a - avg(a) OVER (PARTITION BY user_id, suf))
           / nullif(stddev_samp(a) OVER (PARTITION BY user_id, suf),
                    CAST(0.0 AS DOUBLE)) AS x
  FROM pos0
),
zz AS (
  SELECT user_id, suf, p, m, a,
         (x - avg(x) OVER (PARTITION BY user_id, suf))
           / nullif(stddev_samp(x) OVER (PARTITION BY user_id, suf),
                    CAST(0.0 AS DOUBLE)) AS z
  FROM z1
),
rawst AS (
  SELECT user_id, suf,
         CASE WHEN count(*) > 1 THEN stddev_samp(a) END AS sd,
         CASE WHEN count(*) > 1 THEN avg(a) END AS mu,
         CASE WHEN count(*) > 1 THEN median(a) END AS med,
         CASE WHEN count(*) > 1 AND avg((a - am) * (a - am)) > 0
              THEN avg((a - am) * (a - am) * (a - am))
                   / pow(avg((a - am) * (a - am)), 1.5) END AS skw,
         CASE WHEN count(*) > 1 AND avg((a - am) * (a - am)) > 0
              THEN avg((a - am) * (a - am) * (a - am) * (a - am))
                   / pow(avg((a - am) * (a - am)), 2.0) END AS kur,
         avg(a) FILTER (WHERE a > 0) AS posmu,
         avg(a) FILTER (WHERE a < 0) AS negmu,
         var_pop(a) AS vp, max(abs(a)) AS maxdev,
         CAST(count(*) AS DOUBLE) AS m
  FROM (SELECT user_id, suf, a,
               avg(a) OVER (PARTITION BY user_id, suf) AS am
        FROM pos0) t
  GROUP BY user_id, suf
),
zc AS (
  SELECT user_id, suf, p, m,
         z - avg(z) OVER (PARTITION BY user_id, suf) AS c
  FROM zz WHERE z IS NOT NULL
),
zacv AS (
  SELECT a.user_id, a.suf, b.p - a.p AS tau, sum(a.c * b.c) AS s
  FROM zc a JOIN zc b ON b.user_id = a.user_id AND b.suf = a.suf
                     AND b.p >= a.p
  GROUP BY a.user_id, a.suf, b.p - a.p
),
zacf AS (
  SELECT x.user_id, x.suf, x.tau,
         x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r
  FROM zacv x
  JOIN (SELECT user_id, suf, s FROM zacv WHERE tau = 0) s0
    ON s0.user_id = x.user_id AND s0.suf = x.suf
),
zfz AS (
  SELECT user_id, suf, min(tau) AS i FROM zacf
  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id, suf
),
ztau AS (
  SELECT mm.user_id, mm.suf,
         CASE WHEN mm.m <= 2 THEN NULL
              WHEN zfz.i IS NULL THEN CAST(mm.m - 1 AS DOUBLE)
              ELSE (zfz.i - 1) + (CAST(0.0 AS DOUBLE) - pv.r)
                   / nullif(cv.r - pv.r, CAST(0.0 AS DOUBLE)) END AS tau,
         CASE WHEN mm.m > 2 THEN r1.r END AS ac1,
         CASE WHEN mm.m > 2 THEN r2.r END AS ac2
  FROM (SELECT user_id, suf, max(m) AS m FROM zc GROUP BY user_id, suf) mm
  LEFT JOIN zfz ON zfz.user_id = mm.user_id AND zfz.suf = mm.suf
  LEFT JOIN zacf pv ON pv.user_id = mm.user_id AND pv.suf = mm.suf
                    AND pv.tau = zfz.i - 1
  LEFT JOIN zacf cv ON cv.user_id = mm.user_id AND cv.suf = mm.suf
                    AND cv.tau = zfz.i
  LEFT JOIN zacf r1 ON r1.user_id = mm.user_id AND r1.suf = mm.suf
                    AND r1.tau = 1
  LEFT JOIN zacf r2 ON r2.user_id = mm.user_id AND r2.suf = mm.suf
                    AND r2.tau = 2
),
sav AS (
  SELECT q.user_id, q.suf, q.ns,
         CASE WHEN max(q.plen) >= 1 AND max(q.sdz) > 0
              THEN stddev_samp(q.sm) / max(q.sdz) END AS av_m,
         CASE WHEN max(q.plen) >= 1 AND max(q.sdz) > 0
              THEN stddev_samp(q.ss) / max(q.sdz) END AS av_s
  FROM (
    SELECT z.user_id, z.suf, t.ns,
           CAST(floor(z.p / floor(z.m / CAST(t.ns AS DOUBLE))) AS BIGINT) AS si,
           avg(z.z) AS sm, stddev_pop(z.z) AS ss, count(*) AS c,
           max(floor(z.m / CAST(t.ns AS DOUBLE))) AS plen,
           max(zsd.sd) AS sdz
    FROM zz z
    JOIN (SELECT user_id, suf, stddev_samp(z) AS sd FROM zz
          GROUP BY user_id, suf) zsd
      ON zsd.user_id = z.user_id AND zsd.suf = z.suf
    CROSS JOIN (SELECT 2 AS ns UNION ALL SELECT 3 UNION ALL SELECT 4
                UNION ALL SELECT 5) t
    WHERE z.z IS NOT NULL AND floor(z.m / CAST(t.ns AS DOUBLE)) >= 1
      AND z.p < t.ns * CAST(floor(z.m / CAST(t.ns AS DOUBLE)) AS BIGINT)
    GROUP BY z.user_id, z.suf, t.ns,
             CAST(floor(z.p / floor(z.m / CAST(t.ns AS DOUBLE))) AS BIGINT)
  ) q
  WHERE q.c = q.plen
  GROUP BY q.user_id, q.suf, q.ns
),
zhq AS (
  SELECT user_id, suf, z,
         row_number() OVER (PARTITION BY user_id, suf ORDER BY z) AS rk,
         count(*) OVER (PARTITION BY user_id, suf) AS n
  FROM zz WHERE z IS NOT NULL
),
zqv AS (
  SELECT b.user_id, b.suf, b.i,
         lo.z + (b.posc - floor(b.posc)) * (hi.z - lo.z) AS q
  FROM (
    SELECT h.user_id, h.suf, pq.i, h.n,
           least(greatest(pq.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, suf, n FROM zhq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.01 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.1 AS DOUBLE)
                UNION ALL SELECT 3, CAST(0.9 AS DOUBLE)
                UNION ALL SELECT 4, CAST(0.99 AS DOUBLE)) pq
  ) b
  JOIN zhq lo ON lo.user_id = b.user_id AND lo.suf = b.suf
             AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN zhq hi ON hi.user_id = b.user_id AND hi.suf = b.suf
             AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
i201 AS (
  SELECT a.rn * 15 + b.rn AS gi
  FROM (SELECT DISTINCT rn FROM series WHERE rn < 15 AND user_id =
        (SELECT min(user_id) FROM series)) a
  CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 15 AND user_id =
        (SELECT min(user_id) FROM series)) b
  WHERE a.rn * 15 + b.rn < 201
),
kbw AS (
  SELECT user_id, suf,
         power(CAST(count(*) AS DOUBLE), -0.2) * stddev_samp(a) AS bw,
         CAST(count(*) AS DOUBLE) AS m
  FROM pos0 GROUP BY user_id, suf
),
symgrid AS (
  SELECT r.user_id, r.suf, g.gi,
         -r.maxdev + g.gi * (2.0 * r.maxdev) / 200.0 AS gp
  FROM rawst r JOIN i201 g ON g.gi < 201
  WHERE r.suf IN (0, 1) AND r.m > 1 AND r.vp > 1e-10
),
symden AS (
  SELECT sgd.user_id, sgd.suf, sgd.gi,
         sum(exp(-0.5 * pow((sgd.gp - p0.a) / kb.bw, 2)))
           / (kb.m * kb.bw * sqrt(2.0 * pi())) AS f
  FROM symgrid sgd
  JOIN pos0 p0 ON p0.user_id = sgd.user_id AND p0.suf = sgd.suf
  JOIN kbw kb ON kb.user_id = sgd.user_id AND kb.suf = sgd.suf
  GROUP BY sgd.user_id, sgd.suf, sgd.gi, kb.m, kb.bw
),
symks AS (
  SELECT l.user_id, l.suf, sum(abs(l.f - r.f)) AS v
  FROM symden l
  JOIN symden r ON r.user_id = l.user_id AND r.suf = l.suf
              AND r.gi = 200 - l.gi
  WHERE l.gi < 100
  GROUP BY l.user_id, l.suf
),
pngrid AS (
  SELECT r.user_id, g.gi,
         r.mna + g.gi * (r.mxa - r.mna) / 199.0 AS gp
  FROM (SELECT user_id, min(a) AS mna, max(a) AS mxa
        FROM pos0 WHERE suf = 2 GROUP BY user_id) r
  JOIN i201 g ON g.gi < 200
),
pnden AS (
  SELECT pg.user_id, p0.suf, pg.gi,
         sum(exp(-0.5 * pow((pg.gp - p0.a) / kb.bw, 2)))
           / (kb.m * kb.bw * sqrt(2.0 * pi())) AS f
  FROM pngrid pg
  JOIN pos0 p0 ON p0.user_id = pg.user_id AND p0.suf IN (0, 1)
  JOIN kbw kb ON kb.user_id = pg.user_id AND kb.suf = p0.suf
  GROUP BY pg.user_id, p0.suf, pg.gi, kb.m, kb.bw
),
pnsum AS (
  SELECT a.user_id, sum(abs(a.f - b.f)) AS v
  FROM pnden a
  JOIN pnden b ON b.user_id = a.user_id AND b.gi = a.gi AND b.suf = 1
  WHERE a.suf = 0
  GROUP BY a.user_id
),
rawp AS (
  SELECT user_id,
         max(CASE WHEN suf = 0 THEN sd END) AS sd_p,
         max(CASE WHEN suf = 0 THEN mu END) AS mu_p,
         max(CASE WHEN suf = 0 THEN med END) AS med_p,
         max(CASE WHEN suf = 0 THEN skw END) AS skw_p,
         max(CASE WHEN suf = 0 THEN kur END) AS kur_p,
         max(CASE WHEN suf = 0 THEN posmu END) AS posmu_p,
         max(CASE WHEN suf = 0 THEN negmu END) AS negmu_p,
         max(CASE WHEN suf = 0 THEN vp END) AS vp_p,
         max(CASE WHEN suf = 0 THEN m END) AS m_p,
         max(CASE WHEN suf = 1 THEN sd END) AS sd_n,
         max(CASE WHEN suf = 1 THEN mu END) AS mu_n,
         max(CASE WHEN suf = 1 THEN med END) AS med_n,
         max(CASE WHEN suf = 1 THEN skw END) AS skw_n,
         max(CASE WHEN suf = 1 THEN kur END) AS kur_n,
         max(CASE WHEN suf = 1 THEN posmu END) AS posmu_n,
         max(CASE WHEN suf = 1 THEN negmu END) AS negmu_n,
         max(CASE WHEN suf = 1 THEN vp END) AS vp_n,
         max(CASE WHEN suf = 1 THEN m END) AS m_n,
         max(CASE WHEN suf = 2 THEN sd END) AS sd_a,
         max(CASE WHEN suf = 2 THEN mu END) AS mu_a,
         max(CASE WHEN suf = 2 THEN med END) AS med_a,
         max(CASE WHEN suf = 2 THEN skw END) AS skw_a,
         max(CASE WHEN suf = 2 THEN kur END) AS kur_a
  FROM rawst GROUP BY user_id
),
savp AS (
  SELECT user_id,
         max(CASE WHEN suf = 0 AND ns = 2 THEN av_m END) AS s2pm,
         max(CASE WHEN suf = 0 AND ns = 2 THEN av_s END) AS s2ps,
         max(CASE WHEN suf = 0 AND ns = 3 THEN av_m END) AS s3pm,
         max(CASE WHEN suf = 0 AND ns = 3 THEN av_s END) AS s3ps,
         max(CASE WHEN suf = 0 AND ns = 4 THEN av_m END) AS s4pm,
         max(CASE WHEN suf = 0 AND ns = 4 THEN av_s END) AS s4ps,
         max(CASE WHEN suf = 0 AND ns = 5 THEN av_m END) AS s5pm,
         max(CASE WHEN suf = 0 AND ns = 5 THEN av_s END) AS s5ps,
         max(CASE WHEN suf = 1 AND ns = 2 THEN av_m END) AS s2nm,
         max(CASE WHEN suf = 1 AND ns = 2 THEN av_s END) AS s2ns,
         max(CASE WHEN suf = 1 AND ns = 3 THEN av_m END) AS s3nm,
         max(CASE WHEN suf = 1 AND ns = 3 THEN av_s END) AS s3ns,
         max(CASE WHEN suf = 1 AND ns = 4 THEN av_m END) AS s4nm,
         max(CASE WHEN suf = 1 AND ns = 4 THEN av_s END) AS s4ns,
         max(CASE WHEN suf = 1 AND ns = 5 THEN av_m END) AS s5nm,
         max(CASE WHEN suf = 1 AND ns = 5 THEN av_s END) AS s5ns,
         max(CASE WHEN suf = 2 AND ns = 2 THEN av_m END) AS s2am,
         max(CASE WHEN suf = 2 AND ns = 2 THEN av_s END) AS s2as,
         max(CASE WHEN suf = 2 AND ns = 3 THEN av_m END) AS s3am,
         max(CASE WHEN suf = 2 AND ns = 3 THEN av_s END) AS s3as,
         max(CASE WHEN suf = 2 AND ns = 4 THEN av_m END) AS s4am,
         max(CASE WHEN suf = 2 AND ns = 4 THEN av_s END) AS s4as,
         max(CASE WHEN suf = 2 AND ns = 5 THEN av_m END) AS s5am,
         max(CASE WHEN suf = 2 AND ns = 5 THEN av_s END) AS s5as
  FROM sav GROUP BY user_id
),
ztaup AS (
  SELECT user_id,
         max(CASE WHEN suf = 0 THEN tau END) AS tau_p,
         max(CASE WHEN suf = 0 THEN ac1 END) AS ac1_p,
         max(CASE WHEN suf = 0 THEN ac2 END) AS ac2_p,
         max(CASE WHEN suf = 1 THEN tau END) AS tau_n,
         max(CASE WHEN suf = 1 THEN ac1 END) AS ac1_n,
         max(CASE WHEN suf = 1 THEN ac2 END) AS ac2_n,
         max(CASE WHEN suf = 2 THEN tau END) AS tau_a,
         max(CASE WHEN suf = 2 THEN ac1 END) AS ac1_a,
         max(CASE WHEN suf = 2 THEN ac2 END) AS ac2_a
  FROM ztau GROUP BY user_id
),
zqvp AS (
  SELECT user_id,
         max(CASE WHEN suf = 0 AND i = 1 THEN q END) AS q1_p,
         max(CASE WHEN suf = 0 AND i = 2 THEN q END) AS q10_p,
         max(CASE WHEN suf = 0 AND i = 3 THEN q END) AS q90_p,
         max(CASE WHEN suf = 0 AND i = 4 THEN q END) AS q99_p,
         max(CASE WHEN suf = 1 AND i = 1 THEN q END) AS q1_n,
         max(CASE WHEN suf = 1 AND i = 2 THEN q END) AS q10_n,
         max(CASE WHEN suf = 1 AND i = 3 THEN q END) AS q90_n,
         max(CASE WHEN suf = 1 AND i = 4 THEN q END) AS q99_n,
         max(CASE WHEN suf = 2 AND i = 1 THEN q END) AS q1_a,
         max(CASE WHEN suf = 2 AND i = 2 THEN q END) AS q10_a,
         max(CASE WHEN suf = 2 AND i = 3 THEN q END) AS q90_a,
         max(CASE WHEN suf = 2 AND i = 4 THEN q END) AS q99_a
  FROM zqv GROUP BY user_id
),
symp AS (
  SELECT user_id,
         max(CASE WHEN suf = 0 THEN v END) AS symks_p,
         max(CASE WHEN suf = 1 THEN v END) AS symks_n
  FROM symks GROUP BY user_id
)
SELECT r.user_id,
       round(r.sd_p, 6) AS std_p, round(r.mu_p, 6) AS mean_p,
       round(r.med_p, 6) AS median_p,
       round(r.sd_n, 6) AS std_n, round(r.mu_n, 6) AS mean_n,
       round(r.med_n, 6) AS median_n,
       round(r.sd_a, 6) AS std, round(r.mu_a, 6) AS mean,
       round(r.med_a, 6) AS median,
       round(CASE WHEN r.m_p > 1 AND r.m_n > 1 AND r.vp_p > 1e-10
                       AND r.vp_n > 1e-10 THEN pn.v END, 6) AS pnsumabsdiff,
       round(CASE WHEN r.m_p > 1 AND r.vp_p > 1e-10 THEN sy.symks_p END, 6) AS symks_p,
       round(CASE WHEN r.m_n > 1 AND r.vp_n > 1e-10 THEN sy.symks_n END, 6) AS symks_n,
       round(CASE WHEN r.m_p > 1 AND r.vp_p > 1e-10
                  THEN r.posmu_p / nullif(r.negmu_p, CAST(0.0 AS DOUBLE)) END, 6) AS ratmean_p,
       round(CASE WHEN r.m_n > 1 AND r.vp_n > 1e-10
                  THEN r.posmu_n / nullif(r.negmu_n, CAST(0.0 AS DOUBLE)) END, 6) AS ratmean_n,
       round(sv.s2pm, 6) AS statav2_p_m, round(sv.s2ps, 6) AS statav2_p_s,
       round(sv.s3pm, 6) AS statav3_p_m, round(sv.s3ps, 6) AS statav3_p_s,
       round(sv.s4pm, 6) AS statav4_p_m, round(sv.s4ps, 6) AS statav4_p_s,
       round(sv.s5pm, 6) AS statav5_p_m, round(sv.s5ps, 6) AS statav5_p_s,
       round(sv.s2nm, 6) AS statav2_n_m, round(sv.s2ns, 6) AS statav2_n_s,
       round(sv.s3nm, 6) AS statav3_n_m, round(sv.s3ns, 6) AS statav3_n_s,
       round(sv.s4nm, 6) AS statav4_n_m, round(sv.s4ns, 6) AS statav4_n_s,
       round(sv.s5nm, 6) AS statav5_n_m, round(sv.s5ns, 6) AS statav5_n_s,
       round(sv.s2am, 6) AS statav2_all_m, round(sv.s2as, 6) AS statav2_all_s,
       round(sv.s3am, 6) AS statav3_all_m, round(sv.s3as, 6) AS statav3_all_s,
       round(sv.s4am, 6) AS statav4_all_m, round(sv.s4as, 6) AS statav4_all_s,
       round(sv.s5am, 6) AS statav5_all_m, round(sv.s5as, 6) AS statav5_all_s,
       round(zt.tau_p, 6) AS tau_p, round(zt.ac1_p, 6) AS ac1_p,
       round(zt.ac2_p, 6) AS ac2_p,
       round(zt.tau_n, 6) AS tau_n, round(zt.ac1_n, 6) AS ac1_n,
       round(zt.ac2_n, 6) AS ac2_n,
       round(zt.tau_a, 6) AS tau_all, round(zt.ac1_a, 6) AS ac1_all,
       round(zt.ac2_a, 6) AS ac2_all,
       round(zq.q1_p, 6) AS q1_p, round(zq.q10_p, 6) AS q10_p,
       round(zq.q90_p, 6) AS q90_p, round(zq.q99_p, 6) AS q99_p,
       round(zq.q1_n, 6) AS q1_n, round(zq.q10_n, 6) AS q10_n,
       round(zq.q90_n, 6) AS q90_n, round(zq.q99_n, 6) AS q99_n,
       round(zq.q1_a, 6) AS q1_all, round(zq.q10_a, 6) AS q10_all,
       round(zq.q90_a, 6) AS q90_all, round(zq.q99_a, 6) AS q99_all,
       round(r.skw_p, 6) AS skewness_p, round(r.kur_p, 6) AS kurtosis_p,
       round(r.skw_n, 6) AS skewness_n, round(r.kur_n, 6) AS kurtosis_n,
       round(r.skw_a, 6) AS skewness_all, round(r.kur_a, 6) AS kurtosis_all
FROM rawp r
LEFT JOIN savp sv ON sv.user_id = r.user_id
LEFT JOIN ztaup zt ON zt.user_id = r.user_id
LEFT JOIN zqvp zq ON zq.user_id = r.user_id
LEFT JOIN symp sy ON sy.user_id = r.user_id
LEFT JOIN pnsum pn ON pn.user_id = r.user_id
""")


# --- WL_coeffs 'db1' level 1 (Wavelet.py:192-249) ---------------------------
# The Haar level-1 reconstructed detail magnitudes are |x_2k - x_2k+1|/2
# repeated per pair (one trailing zero for odd N from the symmetric
# extension), so the sorted-decay statistics are plain aggregations:
# mean/max/median of |D| and the first-below-p*max positions over N.
QUERIES["user_wl_haar1"] = _qa("""
, pd2 AS (
  SELECT user_id, abs(v - v1) / 2.0 AS d
  FROM win WHERE rn % 2 = 0 AND v1 IS NOT NULL
),
dets AS (
  SELECT user_id, d FROM pd2
  UNION ALL SELECT user_id, d FROM pd2
  UNION ALL SELECT user_id, CAST(0.0 AS DOUBLE) AS d
  FROM nn WHERE n % 2 = 1
),
agg AS (
  SELECT user_id, avg(d) AS mu, max(d) AS mx, median(d) AS med,
         CAST(count(*) AS DOUBLE) AS n
  FROM dets GROUP BY user_id
),
wb AS (
  SELECT d.user_id,
         sum(CASE WHEN d.d >= 0.99 * a.mx THEN 1 ELSE 0 END) / a.n AS wb99m,
         sum(CASE WHEN d.d >= 0.90 * a.mx THEN 1 ELSE 0 END) / a.n AS wb90m,
         sum(CASE WHEN d.d >= 0.75 * a.mx THEN 1 ELSE 0 END) / a.n AS wb75m,
         sum(CASE WHEN d.d >= 0.50 * a.mx THEN 1 ELSE 0 END) / a.n AS wb50m,
         sum(CASE WHEN d.d >= 0.25 * a.mx THEN 1 ELSE 0 END) / a.n AS wb25m,
         sum(CASE WHEN d.d >= 0.10 * a.mx THEN 1 ELSE 0 END) / a.n AS wb10m,
         sum(CASE WHEN d.d >= 0.01 * a.mx THEN 1 ELSE 0 END) / a.n AS wb1m,
         sum(CASE WHEN d.d < 0.01 * a.mx THEN 1 ELSE 0 END) AS below1
  FROM dets d JOIN agg a ON a.user_id = d.user_id
  GROUP BY d.user_id, a.n
)
SELECT a.user_id,
       round(a.mu, 6) AS mean_coeff,
       round(a.mx, 6) AS max_coeff,
       round(a.med, 6) AS med_coeff,
       round(w.wb99m, 6) AS wb99m, round(w.wb90m, 6) AS wb90m,
       round(w.wb75m, 6) AS wb75m, round(w.wb50m, 6) AS wb50m,
       round(w.wb25m, 6) AS wb25m, round(w.wb10m, 6) AS wb10m,
       round(CASE WHEN w.below1 > 0 THEN w.wb1m END, 6) AS wb1m
FROM agg a JOIN wb w ON w.user_id = a.user_id
""")


# --- FC_Surprise 'dist' memory=0.2 (Symbolic.py:11-137) ---------------------
# The reference's seeded scan positions (np.random.seed(0) +
# permutation) depend only on the series LENGTH, so they are a
# per-N mathematical constant — precomputed to
# tests/golden/surprise_rs.parquet (scripts/gen_surprise_golden.py) and
# joined by n. Everything else is computed from the data: hazen-tertile
# symbols, the 20%-memory window match probability per sampled t,
# -ln(p) with the p=0 -> 1 quirk, and the statistics over the FULL
# 500-slot store (unused slots contribute zeros, bug-for-bug).
QUERIES["user_surprise"] = _q2(f"""
WITH series AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
nn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),
hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
th AS (
  SELECT b.user_id, b.i,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(1.0 AS DOUBLE) / 3.0 AS p
                UNION ALL SELECT 2, CAST(2.0 AS DOUBLE) / 3.0) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
sym AS (
  SELECT s.user_id, s.rn,
         CASE WHEN s.v <= t1.q THEN 0 WHEN s.v <= t2.q THEN 1 ELSE 2 END AS sy
  FROM series s
  JOIN th t1 ON t1.user_id = s.user_id AND t1.i = 1
  JOIN th t2 ON t2.user_id = s.user_id AND t2.i = 2
),
rsl AS (
  SELECT nn.user_id, L.t,
         CAST(round(nn.n * CAST(0.2 AS DOUBLE)) AS BIGINT) AS mem
  FROM nn JOIN parquet.`{_GOLDEN}/surprise_rs.parquet` L
    ON L.n = nn.n
),
pv AS (
  SELECT r.user_id, r.t,
         avg(CASE WHEN m.sy = st.sy THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END) AS p
  FROM rsl r
  JOIN sym st ON st.user_id = r.user_id AND st.rn = r.t
  JOIN sym m ON m.user_id = r.user_id
            AND m.rn >= r.t - r.mem AND m.rn < r.t
  GROUP BY r.user_id, r.t
),
rcnt AS (
  SELECT user_id, count(*) AS c FROM rsl GROUP BY user_id
),
store AS (
  SELECT user_id,
         CASE WHEN p = 0 THEN CAST(0.0 AS DOUBLE) ELSE -ln(p) END AS s
  FROM pv
  UNION ALL
  SELECT rcnt.user_id, CAST(0.0 AS DOUBLE) AS s
  FROM rcnt
  JOIN (SELECT a.rn * 23 + b.rn AS k
        FROM (SELECT DISTINCT rn FROM series WHERE rn < 23 AND user_id =
              (SELECT min(user_id) FROM series)) a
        CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 23 AND user_id =
              (SELECT min(user_id) FROM series)) b
        WHERE a.rn * 23 + b.rn < 500) z
    ON z.k < 500 - rcnt.c
),
shq AS (
  SELECT user_id, s,
         row_number() OVER (PARTITION BY user_id ORDER BY s) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM store
),
sqv AS (
  SELECT b.user_id, b.i,
         lo.s + (b.posc - floor(b.posc)) * (hi.s - lo.s) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM shq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)) p
  ) b
  JOIN shq lo ON lo.user_id = b.user_id
             AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN shq hi ON hi.user_id = b.user_id
             AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
)
SELECT st.user_id,
       round(st.mn_pos, 6) AS min,
       round(st.mx, 6) AS max,
       round(st.mu, 6) AS mean,
       round(st.tot, 6) AS sum,
       round(st.med, 6) AS median,
       round(q25.q, 6) AS lq,
       round(q75.q, 6) AS uq,
       round(st.sd, 6) AS std,
       round(CASE WHEN st.sd <> 0
                  THEN abs((st.mu - 1.0) / (st.sd / sqrt(CAST(500.0 AS DOUBLE)))) END, 6) AS tstat
FROM (
  SELECT user_id,
         min(s) FILTER (WHERE s > 0) AS mn_pos,
         max(s) AS mx, avg(s) AS mu, sum(s) AS tot,
         median(s) AS med, stddev_samp(s) AS sd
  FROM store GROUP BY user_id
) st
JOIN sqv q25 ON q25.user_id = st.user_id AND q25.i = 1
JOIN sqv q75 ON q75.user_id = st.user_id AND q75.i = 2
""",
f"""
WITH series AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
nn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),
hq AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM series
),
th AS (
  SELECT b.user_id, b.i,
         lo.v + (b.posc - floor(b.posc)) * (hi.v - lo.v) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM hq) h
    CROSS JOIN (SELECT 1 AS i, CAST(1.0 AS DOUBLE) / 3.0 AS p
                UNION ALL SELECT 2, CAST(2.0 AS DOUBLE) / 3.0) p
  ) b
  JOIN hq lo ON lo.user_id = b.user_id
            AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN hq hi ON hi.user_id = b.user_id
            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
),
sym AS (
  SELECT s.user_id, s.rn,
         CASE WHEN s.v <= t1.q THEN 0 WHEN s.v <= t2.q THEN 1 ELSE 2 END AS sy
  FROM series s
  JOIN th t1 ON t1.user_id = s.user_id AND t1.i = 1
  JOIN th t2 ON t2.user_id = s.user_id AND t2.i = 2
),
rsl AS (
  SELECT nn.user_id, L.t,
         CAST(round(nn.n * CAST(0.2 AS DOUBLE)) AS BIGINT) AS mem
  FROM nn JOIN read_parquet('{_GOLDEN}/surprise_rs.parquet') L
    ON L.n = nn.n
),
pv AS (
  SELECT r.user_id, r.t,
         avg(CASE WHEN m.sy = st.sy THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END) AS p
  FROM rsl r
  JOIN sym st ON st.user_id = r.user_id AND st.rn = r.t
  JOIN sym m ON m.user_id = r.user_id
            AND m.rn >= r.t - r.mem AND m.rn < r.t
  GROUP BY r.user_id, r.t
),
rcnt AS (
  SELECT user_id, count(*) AS c FROM rsl GROUP BY user_id
),
store AS (
  SELECT user_id,
         CASE WHEN p = 0 THEN CAST(0.0 AS DOUBLE) ELSE -ln(p) END AS s
  FROM pv
  UNION ALL
  SELECT rcnt.user_id, CAST(0.0 AS DOUBLE) AS s
  FROM rcnt
  JOIN (SELECT a.rn * 23 + b.rn AS k
        FROM (SELECT DISTINCT rn FROM series WHERE rn < 23 AND user_id =
              (SELECT min(user_id) FROM series)) a
        CROSS JOIN (SELECT DISTINCT rn FROM series WHERE rn < 23 AND user_id =
              (SELECT min(user_id) FROM series)) b
        WHERE a.rn * 23 + b.rn < 500) z
    ON z.k < 500 - rcnt.c
),
shq AS (
  SELECT user_id, s,
         row_number() OVER (PARTITION BY user_id ORDER BY s) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM store
),
sqv AS (
  SELECT b.user_id, b.i,
         lo.s + (b.posc - floor(b.posc)) * (hi.s - lo.s) AS q
  FROM (
    SELECT h.user_id, p.i, h.n,
           least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),
                 CAST(h.n AS DOUBLE)) AS posc
    FROM (SELECT DISTINCT user_id, n FROM shq) h
    CROSS JOIN (SELECT 1 AS i, CAST(0.25 AS DOUBLE) AS p
                UNION ALL SELECT 2, CAST(0.75 AS DOUBLE)) p
  ) b
  JOIN shq lo ON lo.user_id = b.user_id
             AND lo.rk = CAST(floor(b.posc) AS BIGINT)
  JOIN shq hi ON hi.user_id = b.user_id
             AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)
)
SELECT st.user_id,
       round(st.mn_pos, 6) AS min,
       round(st.mx, 6) AS max,
       round(st.mu, 6) AS mean,
       round(st.tot, 6) AS sum,
       round(st.med, 6) AS median,
       round(q25.q, 6) AS lq,
       round(q75.q, 6) AS uq,
       round(st.sd, 6) AS std,
       round(CASE WHEN st.sd <> 0
                  THEN abs((st.mu - 1.0) / (st.sd / sqrt(CAST(500.0 AS DOUBLE)))) END, 6) AS tstat
FROM (
  SELECT user_id,
         min(s) FILTER (WHERE s > 0) AS mn_pos,
         max(s) AS mx, avg(s) AS mu, sum(s) AS tot,
         median(s) AS med, stddev_samp(s) AS sd
  FROM store GROUP BY user_id
) st
JOIN sqv q25 ON q25.user_id = st.user_id AND q25.i = 1
JOIN sqv q75 ON q75.user_id = st.user_id AND q75.i = 2
""")


# --- PD_PeriodicityWang (c22 PD_PeriodicityWang.c via Correlation.py:326) ---
# The splinefit3 detrend's projection matrix depends only on the series
# length (knots at 0, floor(N/2)-1, N-1), precomputed to
# tests/golden/spline_hat.parquet (scripts/gen_spline_hat_golden.py);
# the oracle replays the detrend as a matvec join, then the raw
# autocovariance to ceil(N/3), the strict slope-sign peak/trough scan,
# and the seven-threshold first-qualifying-peak rule (default 1).
QUERIES["user_periodicity_wang"] = _q2(f"""
WITH series AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
nn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),
hres AS (
  SELECT s.user_id, s.rn AS i, s.v - sum(H.h * b.v) AS r
  FROM series s
  JOIN nn ON nn.user_id = s.user_id
  JOIN parquet.`{_GOLDEN}/spline_hat.parquet` H
    ON H.n = nn.n AND H.i = s.rn
  JOIN series b ON b.user_id = s.user_id AND b.rn = H.j
  GROUP BY s.user_id, s.rn, s.v
),
acv AS (
  SELECT a.user_id, b.i - a.i AS tau,
         sum(a.r * b.r) / (max(nn.n) - (b.i - a.i)) AS acf
  FROM hres a
  JOIN hres b ON b.user_id = a.user_id AND b.i > a.i
  JOIN nn ON nn.user_id = a.user_id
  WHERE b.i - a.i <= CAST(ceil(CAST(nn.n AS DOUBLE) / 3.0) AS BIGINT)
  GROUP BY a.user_id, b.i - a.i
),
sl AS (
  SELECT user_id, tau, acf,
         acf - lag(acf) OVER (PARTITION BY user_id ORDER BY tau) AS si,
         lead(acf) OVER (PARTITION BY user_id ORDER BY tau) - acf AS so
  FROM acv
),
pk AS (
  SELECT user_id, tau AS p, acf AS acfp FROM sl
  WHERE si > 0 AND so < 0
),
tr AS (
  SELECT user_id, tau AS q, acf AS acfq FROM sl
  WHERE si < 0 AND so > 0
),
cand AS (
  SELECT p.user_id, p.p, p.acfp, tq.acfq
  FROM pk p
  JOIN (SELECT p2.user_id, p2.p, max(t2.q) AS lastq
        FROM pk p2 JOIN tr t2 ON t2.user_id = p2.user_id AND t2.q < p2.p
        GROUP BY p2.user_id, p2.p) lt
    ON lt.user_id = p.user_id AND lt.p = p.p
  JOIN tr tq ON tq.user_id = p.user_id AND tq.q = lt.lastq
  WHERE p.acfp >= 0
),
ths AS (
  SELECT nn.user_id, k.k,
         CASE k.k WHEN 1 THEN CAST(0.0 AS DOUBLE)
                  WHEN 2 THEN CAST(0.01 AS DOUBLE)
                  WHEN 3 THEN CAST(0.1 AS DOUBLE)
                  WHEN 4 THEN CAST(0.2 AS DOUBLE)
                  WHEN 5 THEN 1.0 / sqrt(CAST(nn.n AS DOUBLE))
                  WHEN 6 THEN 5.0 / sqrt(CAST(nn.n AS DOUBLE))
                  ELSE 10.0 / sqrt(CAST(nn.n AS DOUBLE)) END AS th
  FROM nn
  CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
              UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
              UNION ALL SELECT 7) k
),
wins AS (
  SELECT t.user_id, t.k, min(c.p) AS p
  FROM ths t
  LEFT JOIN cand c ON c.user_id = t.user_id AND c.acfp - c.acfq >= t.th
  GROUP BY t.user_id, t.k
)
SELECT user_id,
       round(coalesce(max(CASE WHEN k = 1 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th1,
       round(coalesce(max(CASE WHEN k = 2 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th2,
       round(coalesce(max(CASE WHEN k = 3 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th3,
       round(coalesce(max(CASE WHEN k = 4 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th4,
       round(coalesce(max(CASE WHEN k = 5 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th5,
       round(coalesce(max(CASE WHEN k = 6 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th6,
       round(coalesce(max(CASE WHEN k = 7 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th7
FROM wins GROUP BY user_id
""",
f"""
WITH series AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(value AS DOUBLE) AS v
  FROM events
),
nn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),
hres AS (
  SELECT s.user_id, s.rn AS i, s.v - sum(H.h * b.v) AS r
  FROM series s
  JOIN nn ON nn.user_id = s.user_id
  JOIN read_parquet('{_GOLDEN}/spline_hat.parquet') H
    ON H.n = nn.n AND H.i = s.rn
  JOIN series b ON b.user_id = s.user_id AND b.rn = H.j
  GROUP BY s.user_id, s.rn, s.v
),
acv AS (
  SELECT a.user_id, b.i - a.i AS tau,
         sum(a.r * b.r) / (max(nn.n) - (b.i - a.i)) AS acf
  FROM hres a
  JOIN hres b ON b.user_id = a.user_id AND b.i > a.i
  JOIN nn ON nn.user_id = a.user_id
  WHERE b.i - a.i <= CAST(ceil(CAST(nn.n AS DOUBLE) / 3.0) AS BIGINT)
  GROUP BY a.user_id, b.i - a.i
),
sl AS (
  SELECT user_id, tau, acf,
         acf - lag(acf) OVER (PARTITION BY user_id ORDER BY tau) AS si,
         lead(acf) OVER (PARTITION BY user_id ORDER BY tau) - acf AS so
  FROM acv
),
pk AS (
  SELECT user_id, tau AS p, acf AS acfp FROM sl
  WHERE si > 0 AND so < 0
),
tr AS (
  SELECT user_id, tau AS q, acf AS acfq FROM sl
  WHERE si < 0 AND so > 0
),
cand AS (
  SELECT p.user_id, p.p, p.acfp, tq.acfq
  FROM pk p
  JOIN (SELECT p2.user_id, p2.p, max(t2.q) AS lastq
        FROM pk p2 JOIN tr t2 ON t2.user_id = p2.user_id AND t2.q < p2.p
        GROUP BY p2.user_id, p2.p) lt
    ON lt.user_id = p.user_id AND lt.p = p.p
  JOIN tr tq ON tq.user_id = p.user_id AND tq.q = lt.lastq
  WHERE p.acfp >= 0
),
ths AS (
  SELECT nn.user_id, k.k,
         CASE k.k WHEN 1 THEN CAST(0.0 AS DOUBLE)
                  WHEN 2 THEN CAST(0.01 AS DOUBLE)
                  WHEN 3 THEN CAST(0.1 AS DOUBLE)
                  WHEN 4 THEN CAST(0.2 AS DOUBLE)
                  WHEN 5 THEN 1.0 / sqrt(CAST(nn.n AS DOUBLE))
                  WHEN 6 THEN 5.0 / sqrt(CAST(nn.n AS DOUBLE))
                  ELSE 10.0 / sqrt(CAST(nn.n AS DOUBLE)) END AS th
  FROM nn
  CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
              UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
              UNION ALL SELECT 7) k
),
wins AS (
  SELECT t.user_id, t.k, min(c.p) AS p
  FROM ths t
  LEFT JOIN cand c ON c.user_id = t.user_id AND c.acfp - c.acfq >= t.th
  GROUP BY t.user_id, t.k
)
SELECT user_id,
       round(coalesce(max(CASE WHEN k = 1 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th1,
       round(coalesce(max(CASE WHEN k = 2 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th2,
       round(coalesce(max(CASE WHEN k = 3 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th3,
       round(coalesce(max(CASE WHEN k = 4 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th4,
       round(coalesce(max(CASE WHEN k = 5 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th5,
       round(coalesce(max(CASE WHEN k = 6 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th6,
       round(coalesce(max(CASE WHEN k = 7 THEN CAST(p AS DOUBLE) END), CAST(1.0 AS DOUBLE)), 6) AS th7
FROM wins GROUP BY user_id
""")


# --- WL_DetailCoeffs 'db3' (Wavelet.py:109-191), complete -------------------
# The level-l reconstructed detail is a LINEAR operator on y whose
# matrix depends only on (N, level) — precomputed by pushing the
# identity through the engine's pywt-semantics cascade
# (scripts/gen_wavelet_golden.py -> tests/golden/wavelet_detail.parquet,
# zeros dropped). The oracle replays every level as a matvec join and
# computes the per-level |detail| mean/median/max plus the cross-level
# statistics (argmax, largest/second ratio, sum-ratio selector, std,
# max-vs-median correlation) from the data.
QUERIES["user_wl_detailcoeffs"] = _q2(f'\nWITH series AS (\n  SELECT user_id,\n         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\nnn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),\ndets AS (\n  SELECT s.user_id, D.level, s.rn AS i, abs(sum(D.d * b.v)) AS ad\n  FROM series s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN parquet.`{_GOLDEN}/wavelet_detail.parquet` D ON D.n = nn.n AND D.i = s.rn\n  JOIN series b ON b.user_id = s.user_id AND b.rn = D.j\n  GROUP BY s.user_id, D.level, s.rn\n),\nfull_dets AS (\n  SELECT s.user_id, lv.level, s.rn AS i,\n         coalesce(d.ad, CAST(0.0 AS DOUBLE)) AS ad\n  FROM series s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN (SELECT DISTINCT n, level FROM parquet.`{_GOLDEN}/wavelet_detail.parquet`) lv ON lv.n = nn.n\n  LEFT JOIN dets d ON d.user_id = s.user_id AND d.level = lv.level\n                  AND d.i = s.rn\n),\npl AS (\n  SELECT user_id, level,\n         avg(ad) AS m_mean, median(ad) AS m_med, max(ad) AS m_max\n  FROM full_dets GROUP BY user_id, level\n),\nplw AS (\n  SELECT user_id, level, m_mean, m_med, m_max,\n         max(m_mean) OVER (PARTITION BY user_id) AS g_mean,\n         max(m_med)  OVER (PARTITION BY user_id) AS g_med,\n         max(m_max)  OVER (PARTITION BY user_id) AS g_max,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_mean DESC, level) AS r_mean,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_med DESC, level) AS r_med,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_max DESC, level) AS r_max\n  FROM pl\n),\npv AS (\n  SELECT user_id, count(*) AS k,\n         max(CASE WHEN level = 1 THEN m_mean END) AS mean1,\n         max(CASE WHEN level = 2 THEN m_mean END) AS mean2,\n         max(CASE WHEN level = 3 THEN m_mean END) AS mean3,\n         max(CASE WHEN level = 4 THEN m_mean END) AS mean4,\n         max(CASE WHEN level = 1 THEN m_med END) AS med1,\n         max(CASE WHEN level = 2 THEN m_med END) AS med2,\n         max(CASE WHEN level = 3 THEN m_med END) AS med3,\n         max(CASE WHEN level = 4 THEN m_med END) AS med4,\n         max(m_mean) AS mx_mean, stddev_samp(m_mean) AS sd_mean,\n         max(m_med) AS mx_med, stddev_samp(m_med) AS sd_med,\n         max(m_max) AS mx_max, stddev_samp(m_max) AS sd_max,\n         min(CASE WHEN m_mean = g_mean THEN level END) - 1 AS wm_mean,\n         min(CASE WHEN m_med = g_med THEN level END) - 1 AS wm_med,\n         min(CASE WHEN m_max = g_max THEN level END) - 1 AS wm_max,\n         max(CASE WHEN r_mean = 2 THEN m_mean END) AS second_mean,\n         max(CASE WHEN r_med = 2 THEN m_med END) AS second_med,\n         max(CASE WHEN r_max = 2 THEN m_max END) AS second_max,\n         corr(m_max, m_med) AS ccf\n  FROM plw GROUP BY user_id\n)\nSELECT user_id,\n       round(mx_mean, 6) AS max_mean,\n       round(sd_mean, 6) AS std_mean,\n       round(CAST(wm_mean AS DOUBLE), 6) AS wheremax_mean,\n       round(mx_mean / nullif(second_mean, CAST(0.0 AS DOUBLE)), 6) AS max1on2_mean,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(mean1 / nullif(mean3 + mean4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((mean1 + mean2) / nullif(mean4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_mean,\n       round(mx_med, 6) AS max_median,\n       round(sd_med, 6) AS std_median,\n       round(CAST(wm_med AS DOUBLE), 6) AS wheremax_median,\n       round(mx_med / nullif(second_med, CAST(0.0 AS DOUBLE)), 6) AS max1on2_median,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(med1 / nullif(med3 + med4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((med1 + med2) / nullif(med4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_median,\n       round(mx_max, 6) AS max_max,\n       round(sd_max, 6) AS std_max,\n       round(CAST(wm_max AS DOUBLE), 6) AS wheremax_max,\n       round(mx_max / nullif(second_max, CAST(0.0 AS DOUBLE)), 6) AS max1on2_max,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(g1.max1 / nullif(g1.max3 + g1.max4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((g1.max1 + g1.max2) / nullif(g1.max4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_max,\n       round(ccf, 6) AS corrcoef_max_medians\nFROM pv\nJOIN (SELECT user_id AS uid2,\n             max(CASE WHEN level = 1 THEN m_max END) AS max1,\n             max(CASE WHEN level = 2 THEN m_max END) AS max2,\n             max(CASE WHEN level = 3 THEN m_max END) AS max3,\n             max(CASE WHEN level = 4 THEN m_max END) AS max4\n      FROM pl GROUP BY user_id) g1 ON g1.uid2 = pv.user_id\n', f"\nWITH series AS (\n  SELECT user_id,\n         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\nnn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),\ndets AS (\n  SELECT s.user_id, D.level, s.rn AS i, abs(sum(D.d * b.v)) AS ad\n  FROM series s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN read_parquet('{_GOLDEN}/wavelet_detail.parquet') D ON D.n = nn.n AND D.i = s.rn\n  JOIN series b ON b.user_id = s.user_id AND b.rn = D.j\n  GROUP BY s.user_id, D.level, s.rn\n),\nfull_dets AS (\n  SELECT s.user_id, lv.level, s.rn AS i,\n         coalesce(d.ad, CAST(0.0 AS DOUBLE)) AS ad\n  FROM series s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN (SELECT DISTINCT n, level FROM read_parquet('{_GOLDEN}/wavelet_detail.parquet')) lv ON lv.n = nn.n\n  LEFT JOIN dets d ON d.user_id = s.user_id AND d.level = lv.level\n                  AND d.i = s.rn\n),\npl AS (\n  SELECT user_id, level,\n         avg(ad) AS m_mean, median(ad) AS m_med, max(ad) AS m_max\n  FROM full_dets GROUP BY user_id, level\n),\nplw AS (\n  SELECT user_id, level, m_mean, m_med, m_max,\n         max(m_mean) OVER (PARTITION BY user_id) AS g_mean,\n         max(m_med)  OVER (PARTITION BY user_id) AS g_med,\n         max(m_max)  OVER (PARTITION BY user_id) AS g_max,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_mean DESC, level) AS r_mean,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_med DESC, level) AS r_med,\n         row_number() OVER (PARTITION BY user_id ORDER BY m_max DESC, level) AS r_max\n  FROM pl\n),\npv AS (\n  SELECT user_id, count(*) AS k,\n         max(CASE WHEN level = 1 THEN m_mean END) AS mean1,\n         max(CASE WHEN level = 2 THEN m_mean END) AS mean2,\n         max(CASE WHEN level = 3 THEN m_mean END) AS mean3,\n         max(CASE WHEN level = 4 THEN m_mean END) AS mean4,\n         max(CASE WHEN level = 1 THEN m_med END) AS med1,\n         max(CASE WHEN level = 2 THEN m_med END) AS med2,\n         max(CASE WHEN level = 3 THEN m_med END) AS med3,\n         max(CASE WHEN level = 4 THEN m_med END) AS med4,\n         max(m_mean) AS mx_mean, stddev_samp(m_mean) AS sd_mean,\n         max(m_med) AS mx_med, stddev_samp(m_med) AS sd_med,\n         max(m_max) AS mx_max, stddev_samp(m_max) AS sd_max,\n         min(CASE WHEN m_mean = g_mean THEN level END) - 1 AS wm_mean,\n         min(CASE WHEN m_med = g_med THEN level END) - 1 AS wm_med,\n         min(CASE WHEN m_max = g_max THEN level END) - 1 AS wm_max,\n         max(CASE WHEN r_mean = 2 THEN m_mean END) AS second_mean,\n         max(CASE WHEN r_med = 2 THEN m_med END) AS second_med,\n         max(CASE WHEN r_max = 2 THEN m_max END) AS second_max,\n         corr(m_max, m_med) AS ccf\n  FROM plw GROUP BY user_id\n)\nSELECT user_id,\n       round(mx_mean, 6) AS max_mean,\n       round(sd_mean, 6) AS std_mean,\n       round(CAST(wm_mean AS DOUBLE), 6) AS wheremax_mean,\n       round(mx_mean / nullif(second_mean, CAST(0.0 AS DOUBLE)), 6) AS max1on2_mean,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(mean1 / nullif(mean3 + mean4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((mean1 + mean2) / nullif(mean4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_mean,\n       round(mx_med, 6) AS max_median,\n       round(sd_med, 6) AS std_median,\n       round(CAST(wm_med AS DOUBLE), 6) AS wheremax_median,\n       round(mx_med / nullif(second_med, CAST(0.0 AS DOUBLE)), 6) AS max1on2_median,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(med1 / nullif(med3 + med4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((med1 + med2) / nullif(med4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_median,\n       round(mx_max, 6) AS max_max,\n       round(sd_max, 6) AS std_max,\n       round(CAST(wm_max AS DOUBLE), 6) AS wheremax_max,\n       round(mx_max / nullif(second_max, CAST(0.0 AS DOUBLE)), 6) AS max1on2_max,\n       round(CASE WHEN k <= 3 THEN CAST(1.0 AS DOUBLE)\n                  WHEN abs(g1.max1 / nullif(g1.max3 + g1.max4, CAST(0.0 AS DOUBLE)) - 1.0)\n                       <= abs((g1.max1 + g1.max2) / nullif(g1.max4, CAST(0.0 AS DOUBLE)) - 1.0)\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(2.0 AS DOUBLE) END, 6) AS wslesr_max,\n       round(ccf, 6) AS corrcoef_max_medians\nFROM pv\nJOIN (SELECT user_id AS uid2,\n             max(CASE WHEN level = 1 THEN m_max END) AS max1,\n             max(CASE WHEN level = 2 THEN m_max END) AS max2,\n             max(CASE WHEN level = 3 THEN m_max END) AS max3,\n             max(CASE WHEN level = 4 THEN m_max END) AS max4\n      FROM pl GROUP BY user_id) g1 ON g1.uid2 = pv.user_id\n")


# --- WL_cwt 'db3' max_scale=32 (Wavelet.py:8-98), complete ------------------
# pywt's CWT is per scale a fixed 1-D convolution (reversed sampled
# integrated wavelet, diffed, -sqrt(a)-scaled, center-cropped) -- the
# filters depend only on the scale and live in a 2.7k-row lookup
# (scripts/gen_cwt_golden.py, crop offsets verified against the engine
# cascade). The oracle computes the full 32xN coefficient matrix as a
# zero-padded filter join and scores the complete surface incl. the
# reference's pover98 key-98/threshold-0.88 quirk, the 2-D entropy,
# scale-summed crossings, and np.array_split half/fifth stationarity.
QUERIES["user_cwt_features"] = _q2(f'\nWITH series AS (\n  SELECT user_id,\n         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\nnn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),\nfmeta AS (\n  SELECT scale, count(*) AS lf,\n         CAST(floor((count(*) - 1) / 2.0) AS BIGINT) AS lo\n  FROM parquet.`{_GOLDEN}/cwt_filters.parquet` GROUP BY scale\n),\ncoef AS (\n  SELECT tgt.user_id, fm.scale, tgt.rn AS t,\n         sum(fl.f * coalesce(b.v, CAST(0.0 AS DOUBLE))) AS c\n  FROM series tgt\n  CROSS JOIN fmeta fm\n  JOIN parquet.`{_GOLDEN}/cwt_filters.parquet` fl ON fl.scale = fm.scale\n  LEFT JOIN series b ON b.user_id = tgt.user_id\n                    AND b.rn = tgt.rn + fm.lo - fl.k\n  GROUP BY tgt.user_id, fm.scale, tgt.rn\n),\nsc AS (\n  SELECT user_id, scale, t, c,\n         100.0 * (c * c) / sum(c * c) OVER (PARTITION BY user_id) AS s\n  FROM coef\n),\ngl AS (\n  SELECT user_id,\n         avg(c) AS meanc, avg(abs(c)) AS meanabsc,\n         median(abs(c)) AS medianabsc, max(abs(c)) AS maxabsc,\n         max(s) AS mxsc, avg(s) AS musc,\n         stddev_samp(s) AS sdsc, stddev_pop(s) AS sdsc0,\n         sum(s) AS sumsc,\n         CAST(count(*) AS DOUBLE) AS ne\n  FROM sc GROUP BY user_id\n),\npov AS (\n  SELECT s.user_id,\n         sum(s.s) FILTER (WHERE s.s > 0.99 * g.mxsc) / g.ne AS p99,\n         sum(s.s) FILTER (WHERE s.s > 0.88 * g.mxsc) / g.ne AS p98,\n         sum(s.s) FILTER (WHERE s.s > 0.95 * g.mxsc) / g.ne AS p95,\n         sum(s.s) FILTER (WHERE s.s > 0.90 * g.mxsc) / g.ne AS p90,\n         sum(s.s) FILTER (WHERE s.s > 0.80 * g.mxsc) / g.ne AS p80,\n         -sum((s.s / g.sumsc) * ln(s.s / g.sumsc))\n           FILTER (WHERE s.s > 0) AS sch\n  FROM sc s JOIN gl g ON g.user_id = s.user_id\n  GROUP BY s.user_id, g.ne, g.mxsc, g.sumsc\n),\nssc AS (\n  SELECT user_id, t, sum(s) AS v\n  FROM sc GROUP BY user_id, t\n),\nsscl AS (\n  SELECT user_id, t, v,\n         lead(v) OVER (PARTITION BY user_id ORDER BY t) AS v1,\n         max(v) OVER (PARTITION BY user_id) AS mx\n  FROM ssc\n),\nsscs AS (\n  SELECT s2.user_id,\n         max(s2.v) AS mx, min(s2.v) AS mn, median(s2.v) AS med,\n         stddev_pop(s2.v) AS sd0,\n         sum(CASE WHEN (s2.v - 0.5 * s2.mx) * (s2.v1 - 0.5 * s2.mx) < 0\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)\n           FILTER (WHERE s2.v1 IS NOT NULL) AS ncross,\n         CAST(count(*) AS DOUBLE) AS n\n  FROM sscl s2 GROUP BY s2.user_id\n),\nfcuts AS (\n  SELECT user_id,\n         CAST(floor(n / 5.0) AS BIGINT) AS q,\n         n - 5 * CAST(floor(n / 5.0) AS BIGINT) AS r\n  FROM nn\n),\nsegd AS (\n  SELECT s.user_id, s.s,\n         CASE WHEN s.t < CAST(floor(nn.n / 2.0) AS BIGINT) THEN 0 ELSE 1 END AS half,\n         CASE WHEN s.t < fc.q + least(fc.r, 1) THEN 0\n              WHEN s.t < 2 * fc.q + least(fc.r, 2) THEN 1\n              WHEN s.t < 3 * fc.q + least(fc.r, 3) THEN 2\n              WHEN s.t < 4 * fc.q + least(fc.r, 4) THEN 3\n              ELSE 4 END AS fifth\n  FROM sc s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN fcuts fc ON fc.user_id = s.user_id\n),\nhstats AS (\n  SELECT user_id,\n         avg(CASE WHEN half = 0 THEN s END) AS m1,\n         avg(CASE WHEN half = 1 THEN s END) AS m2,\n         stddev_samp(CASE WHEN half = 0 THEN s END) AS sd1,\n         stddev_samp(CASE WHEN half = 1 THEN s END) AS sd2\n  FROM segd GROUP BY user_id\n),\nfstats AS (\n  SELECT user_id, fifth, avg(s) AS m, stddev_samp(s) AS sd\n  FROM segd GROUP BY user_id, fifth\n),\nfagg AS (\n  SELECT user_id,\n         max(CASE WHEN fifth = 0 THEN m END) AS m51,\n         max(CASE WHEN fifth = 1 THEN m END) AS m52,\n         max(CASE WHEN fifth = 2 THEN m END) AS m53,\n         max(CASE WHEN fifth = 3 THEN m END) AS m54,\n         max(CASE WHEN fifth = 4 THEN m END) AS m55,\n         max(CASE WHEN fifth = 0 THEN sd END) AS s51,\n         max(CASE WHEN fifth = 1 THEN sd END) AS s52,\n         max(CASE WHEN fifth = 2 THEN sd END) AS s53,\n         max(CASE WHEN fifth = 3 THEN sd END) AS s54,\n         max(CASE WHEN fifth = 4 THEN sd END) AS s55,\n         avg(sd) AS msd, stddev_samp(m) AS sdm, stddev_samp(sd) AS sdsd\n  FROM fstats GROUP BY user_id\n)\nSELECT g.user_id,\n       round(g.meanc, 6) AS meanC,\n       round(g.meanabsc, 6) AS meanabsC,\n       round(g.medianabsc, 6) AS medianabsC,\n       round(g.maxabsc, 6) AS maxabsC,\n       round(g.maxabsc / nullif(g.meanabsc, CAST(0.0 AS DOUBLE)), 6) AS maxonmeanC,\n       round(g.mxsc / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS maxonmeanSC,\n       round(p.p99, 6) AS pover99, round(p.p98, 6) AS pover98,\n       round(p.p95, 6) AS pover95, round(p.p90, 6) AS pover90,\n       round(p.p80, 6) AS pover80,\n       round(p.sch, 6) AS SC_h,\n       round(ss.mx, 6) AS max_ssc, round(ss.mn, 6) AS min_ssc,\n       round(ss.mx / nullif(ss.med, CAST(0.0 AS DOUBLE)), 6) AS maxonmed_ssc,\n       round(ss.ncross / (ss.n - 1.0), 6) AS pcross_maxssc50,\n       round(ss.sd0, 6) AS std_ssc,\n       round((h.sd1 + h.sd2) / 2.0 / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_m_s,\n       round(abs(h.m1 - h.m2) / sqrt(2.0)\n             / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_s_m,\n       round(abs(h.sd1 - h.sd2) / sqrt(2.0)\n             / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_s_s,\n       round(f.m51, 6) AS mean5_1, round(f.m52, 6) AS mean5_2,\n       round(f.m53, 6) AS mean5_3, round(f.m54, 6) AS mean5_4,\n       round(f.m55, 6) AS mean5_5,\n       round(f.s51, 6) AS std5_1, round(f.s52, 6) AS std5_2,\n       round(f.s53, 6) AS std5_3, round(f.s54, 6) AS std5_4,\n       round(f.s55, 6) AS std5_5,\n       round(f.msd / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_m_s,\n       round(f.sdm / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_s_m,\n       round(f.sdsd / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_s_s\nFROM gl g\nJOIN pov p ON p.user_id = g.user_id\nJOIN sscs ss ON ss.user_id = g.user_id\nJOIN hstats h ON h.user_id = g.user_id\nJOIN fagg f ON f.user_id = g.user_id\n', f"\nWITH series AS (\n  SELECT user_id,\n         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) - 1 AS rn,\n         CAST(value AS DOUBLE) AS v\n  FROM events\n),\nnn AS (SELECT user_id, count(*) AS n FROM series GROUP BY user_id),\nfmeta AS (\n  SELECT scale, count(*) AS lf,\n         CAST(floor((count(*) - 1) / 2.0) AS BIGINT) AS lo\n  FROM read_parquet('{_GOLDEN}/cwt_filters.parquet') GROUP BY scale\n),\ncoef AS (\n  SELECT tgt.user_id, fm.scale, tgt.rn AS t,\n         sum(fl.f * coalesce(b.v, CAST(0.0 AS DOUBLE))) AS c\n  FROM series tgt\n  CROSS JOIN fmeta fm\n  JOIN read_parquet('{_GOLDEN}/cwt_filters.parquet') fl ON fl.scale = fm.scale\n  LEFT JOIN series b ON b.user_id = tgt.user_id\n                    AND b.rn = tgt.rn + fm.lo - fl.k\n  GROUP BY tgt.user_id, fm.scale, tgt.rn\n),\nsc AS (\n  SELECT user_id, scale, t, c,\n         100.0 * (c * c) / sum(c * c) OVER (PARTITION BY user_id) AS s\n  FROM coef\n),\ngl AS (\n  SELECT user_id,\n         avg(c) AS meanc, avg(abs(c)) AS meanabsc,\n         median(abs(c)) AS medianabsc, max(abs(c)) AS maxabsc,\n         max(s) AS mxsc, avg(s) AS musc,\n         stddev_samp(s) AS sdsc, stddev_pop(s) AS sdsc0,\n         sum(s) AS sumsc,\n         CAST(count(*) AS DOUBLE) AS ne\n  FROM sc GROUP BY user_id\n),\npov AS (\n  SELECT s.user_id,\n         sum(s.s) FILTER (WHERE s.s > 0.99 * g.mxsc) / g.ne AS p99,\n         sum(s.s) FILTER (WHERE s.s > 0.88 * g.mxsc) / g.ne AS p98,\n         sum(s.s) FILTER (WHERE s.s > 0.95 * g.mxsc) / g.ne AS p95,\n         sum(s.s) FILTER (WHERE s.s > 0.90 * g.mxsc) / g.ne AS p90,\n         sum(s.s) FILTER (WHERE s.s > 0.80 * g.mxsc) / g.ne AS p80,\n         -sum((s.s / g.sumsc) * ln(s.s / g.sumsc))\n           FILTER (WHERE s.s > 0) AS sch\n  FROM sc s JOIN gl g ON g.user_id = s.user_id\n  GROUP BY s.user_id, g.ne, g.mxsc, g.sumsc\n),\nssc AS (\n  SELECT user_id, t, sum(s) AS v\n  FROM sc GROUP BY user_id, t\n),\nsscl AS (\n  SELECT user_id, t, v,\n         lead(v) OVER (PARTITION BY user_id ORDER BY t) AS v1,\n         max(v) OVER (PARTITION BY user_id) AS mx\n  FROM ssc\n),\nsscs AS (\n  SELECT s2.user_id,\n         max(s2.v) AS mx, min(s2.v) AS mn, median(s2.v) AS med,\n         stddev_pop(s2.v) AS sd0,\n         sum(CASE WHEN (s2.v - 0.5 * s2.mx) * (s2.v1 - 0.5 * s2.mx) < 0\n                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)\n           FILTER (WHERE s2.v1 IS NOT NULL) AS ncross,\n         CAST(count(*) AS DOUBLE) AS n\n  FROM sscl s2 GROUP BY s2.user_id\n),\nfcuts AS (\n  SELECT user_id,\n         CAST(floor(n / 5.0) AS BIGINT) AS q,\n         n - 5 * CAST(floor(n / 5.0) AS BIGINT) AS r\n  FROM nn\n),\nsegd AS (\n  SELECT s.user_id, s.s,\n         CASE WHEN s.t < CAST(floor(nn.n / 2.0) AS BIGINT) THEN 0 ELSE 1 END AS half,\n         CASE WHEN s.t < fc.q + least(fc.r, 1) THEN 0\n              WHEN s.t < 2 * fc.q + least(fc.r, 2) THEN 1\n              WHEN s.t < 3 * fc.q + least(fc.r, 3) THEN 2\n              WHEN s.t < 4 * fc.q + least(fc.r, 4) THEN 3\n              ELSE 4 END AS fifth\n  FROM sc s\n  JOIN nn ON nn.user_id = s.user_id\n  JOIN fcuts fc ON fc.user_id = s.user_id\n),\nhstats AS (\n  SELECT user_id,\n         avg(CASE WHEN half = 0 THEN s END) AS m1,\n         avg(CASE WHEN half = 1 THEN s END) AS m2,\n         stddev_samp(CASE WHEN half = 0 THEN s END) AS sd1,\n         stddev_samp(CASE WHEN half = 1 THEN s END) AS sd2\n  FROM segd GROUP BY user_id\n),\nfstats AS (\n  SELECT user_id, fifth, avg(s) AS m, stddev_samp(s) AS sd\n  FROM segd GROUP BY user_id, fifth\n),\nfagg AS (\n  SELECT user_id,\n         max(CASE WHEN fifth = 0 THEN m END) AS m51,\n         max(CASE WHEN fifth = 1 THEN m END) AS m52,\n         max(CASE WHEN fifth = 2 THEN m END) AS m53,\n         max(CASE WHEN fifth = 3 THEN m END) AS m54,\n         max(CASE WHEN fifth = 4 THEN m END) AS m55,\n         max(CASE WHEN fifth = 0 THEN sd END) AS s51,\n         max(CASE WHEN fifth = 1 THEN sd END) AS s52,\n         max(CASE WHEN fifth = 2 THEN sd END) AS s53,\n         max(CASE WHEN fifth = 3 THEN sd END) AS s54,\n         max(CASE WHEN fifth = 4 THEN sd END) AS s55,\n         avg(sd) AS msd, stddev_samp(m) AS sdm, stddev_samp(sd) AS sdsd\n  FROM fstats GROUP BY user_id\n)\nSELECT g.user_id,\n       round(g.meanc, 6) AS meanC,\n       round(g.meanabsc, 6) AS meanabsC,\n       round(g.medianabsc, 6) AS medianabsC,\n       round(g.maxabsc, 6) AS maxabsC,\n       round(g.maxabsc / nullif(g.meanabsc, CAST(0.0 AS DOUBLE)), 6) AS maxonmeanC,\n       round(g.mxsc / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS maxonmeanSC,\n       round(p.p99, 6) AS pover99, round(p.p98, 6) AS pover98,\n       round(p.p95, 6) AS pover95, round(p.p90, 6) AS pover90,\n       round(p.p80, 6) AS pover80,\n       round(p.sch, 6) AS SC_h,\n       round(ss.mx, 6) AS max_ssc, round(ss.mn, 6) AS min_ssc,\n       round(ss.mx / nullif(ss.med, CAST(0.0 AS DOUBLE)), 6) AS maxonmed_ssc,\n       round(ss.ncross / (ss.n - 1.0), 6) AS pcross_maxssc50,\n       round(ss.sd0, 6) AS std_ssc,\n       round((h.sd1 + h.sd2) / 2.0 / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_m_s,\n       round(abs(h.m1 - h.m2) / sqrt(2.0)\n             / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_s_m,\n       round(abs(h.sd1 - h.sd2) / sqrt(2.0)\n             / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_2_s_s,\n       round(f.m51, 6) AS mean5_1, round(f.m52, 6) AS mean5_2,\n       round(f.m53, 6) AS mean5_3, round(f.m54, 6) AS mean5_4,\n       round(f.m55, 6) AS mean5_5,\n       round(f.s51, 6) AS std5_1, round(f.s52, 6) AS std5_2,\n       round(f.s53, 6) AS std5_3, round(f.s54, 6) AS std5_4,\n       round(f.s55, 6) AS std5_5,\n       round(f.msd / nullif(g.musc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_m_s,\n       round(f.sdm / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_s_m,\n       round(f.sdsd / nullif(g.sdsc, CAST(0.0 AS DOUBLE)), 6) AS stat_5_s_s\nFROM gl g\nJOIN pov p ON p.user_id = g.user_id\nJOIN sscs ss ON ss.user_id = g.user_id\nJOIN hstats h ON h.user_id = g.user_id\nJOIN fagg f ON f.user_id = g.user_id\n")


# --- CO_Embed2_AngleTau max_tau=10 (Correlation.py:133-195) -----------------
# theta_t(tau) = atan(dy_{t+tau} / dy_t) over consecutive diffs dy; a1/a2
# are the Fourier-ACF (linear autocovariance) of each theta series at
# lags 1/2, and the outputs are stats over the 10-long a1/a2 vectors.
# Zero-denominator diffs follow numpy exactly: atan(+-inf) = +-pi/2,
# 0/0 = NaN (poisons that tau's ACs; per-vector NaN flags map the
# poisoned outputs to NULL like the engine's NaN->NULL encoding).
# Verified bit-exact vs embedding.embed2_angle_tau on all 150 users.
QUERIES["user_embed2_angletau"] = _q("\n, dvv AS (\n  SELECT user_id, rn, dy FROM (\n    SELECT user_id, rn,\n           lead(v) OVER (PARTITION BY user_id ORDER BY rn) - v AS dy\n    FROM series\n  ) WHERE dy IS NOT NULL\n),\ntaus AS (\n  SELECT CAST(1 AS BIGINT) AS tau UNION ALL SELECT 2 UNION ALL SELECT 3\n  UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6\n  UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9\n  UNION ALL SELECT 10\n),\nthp AS (\n  SELECT a.user_id, tt.tau, a.rn,\n         CASE WHEN a.dy = CAST(0.0 AS DOUBLE) THEN\n                CASE WHEN b.dy > 0 THEN pi() / 2.0\n                     WHEN b.dy < 0 THEN -pi() / 2.0\n                     ELSE CAST('NaN' AS DOUBLE) END\n              ELSE atan(b.dy / a.dy) END AS theta\n  FROM dvv a\n  CROSS JOIN taus tt\n  JOIN dvv b ON b.user_id = a.user_id AND b.rn = a.rn + tt.tau\n),\nthc AS (\n  SELECT user_id, tau, rn,\n         theta - avg(theta) OVER (PARTITION BY user_id, tau) AS tc\n  FROM thp\n),\nthc2 AS (\n  SELECT user_id, tau, tc,\n         lead(tc)    OVER (PARTITION BY user_id, tau ORDER BY rn) AS tc1,\n         lead(tc, 2) OVER (PARTITION BY user_id, tau ORDER BY rn) AS tc2\n  FROM thc\n),\naa AS (\n  SELECT user_id, tau,\n         CASE WHEN sum(tc * tc) = CAST(0.0 AS DOUBLE)\n              THEN CAST('NaN' AS DOUBLE)\n              ELSE sum(tc * tc1) / sum(tc * tc) END AS a1,\n         CASE WHEN sum(tc * tc) = CAST(0.0 AS DOUBLE)\n              THEN CAST('NaN' AS DOUBLE)\n              ELSE sum(tc * tc2) / sum(tc * tc) END AS a2\n  FROM thc2 GROUP BY user_id, tau\n),\nav AS (\n  SELECT user_id, tau, a1, a2,\n         a1 - avg(a1) OVER (PARTITION BY user_id) AS c1,\n         a2 - avg(a2) OVER (PARTITION BY user_id) AS c2\n  FROM aa\n),\nav2 AS (\n  SELECT user_id, tau, a1, a2, c1, c2,\n         lead(c1) OVER (PARTITION BY user_id ORDER BY tau) AS c1n,\n         lead(c2) OVER (PARTITION BY user_id ORDER BY tau) AS c2n\n  FROM av\n),\nfin AS (\n  SELECT user_id,\n         max(CASE WHEN isnan(a1) THEN 1 ELSE 0 END) AS bad1,\n         max(CASE WHEN isnan(a2) THEN 1 ELSE 0 END) AS bad2,\n         CASE WHEN sum(c1 * c1) = CAST(0.0 AS DOUBLE)\n              THEN CAST('NaN' AS DOUBLE)\n              ELSE sum(c1 * c1n) / sum(c1 * c1) END AS ac1_a1,\n         CASE WHEN sum(c2 * c2) = CAST(0.0 AS DOUBLE)\n              THEN CAST('NaN' AS DOUBLE)\n              ELSE sum(c2 * c2n) / sum(c2 * c2) END AS ac1_a2,\n         avg(a1) AS mean1, max(a1) AS max1, min(a1) AS min1,\n         avg(a2) AS mean2, max(a2) AS max2, min(a2) AS min2,\n         sum(abs(a2 - a1)) AS sdiff\n  FROM av2 GROUP BY user_id\n)\nSELECT user_id,\n  CASE WHEN bad1 = 1 THEN NULL ELSE round(ac1_a1, 6) END AS ac1_thetaac1,\n  CASE WHEN bad2 = 1 THEN NULL ELSE round(ac1_a2, 6) END AS ac1_thetaac2,\n  CASE WHEN bad1 = 1 THEN NULL ELSE round(mean1, 6) END AS mean_thetaac1,\n  CASE WHEN bad1 = 1 THEN NULL ELSE round(max1, 6) END AS max_thetaac1,\n  CASE WHEN bad1 = 1 THEN NULL ELSE round(min1, 6) END AS min_thetaac1,\n  CASE WHEN bad2 = 1 THEN NULL ELSE round(mean2, 6) END AS mean_thetaac2,\n  CASE WHEN bad2 = 1 THEN NULL ELSE round(max2, 6) END AS max_thetaac2,\n  CASE WHEN bad2 = 1 THEN NULL ELSE round(min2, 6) END AS min_thetaac2,\n  CASE WHEN bad1 = 1 OR bad2 = 1 THEN NULL\n       ELSE round(mean1 / nullif(mean2, CAST(0.0 AS DOUBLE)), 6) END\n    AS meanrat_thetaac12,\n  CASE WHEN bad1 = 1 OR bad2 = 1 THEN NULL ELSE round(sdiff, 6) END\n    AS diff_thetaac12\nFROM fin\n")

# --- CO_Embed2_Shapes shape='circle' r=1, tau=1 (Correlation.py:1011-1100) --
# Z-scored series embedded as (z_t, z_{t+1}); per-point circle-neighbor
# counts via an in-user pair join (the engine kernel is the O(N^2)
# distance matrix); then ACF stats of the count series (self-join
# autocovariance), the interpolated ACF zero-crossing ('tau'), hazen
# IQR by rank arithmetic, and StatAv5 segment ratios. Verified
# bit-exact vs embedding.embed2_shapes(z, tau=1, r=1) on all 150 users.
QUERIES["user_embed2_shapes"] = _q('\n, zs AS (\n  SELECT s.user_id, s.rn, (s.v - st.mu) / nullif(st.sd, CAST(0.0 AS DOUBLE)) AS z\n  FROM series s\n  JOIN (SELECT user_id, avg(v) AS mu, stddev_samp(v) AS sd\n        FROM series GROUP BY user_id) st ON st.user_id = s.user_id\n),\npts AS (\n  SELECT user_id, rn, z AS x, y2 FROM (\n    SELECT user_id, rn, z,\n           lead(z) OVER (PARTITION BY user_id ORDER BY rn) AS y2\n    FROM zs\n  ) WHERE y2 IS NOT NULL\n),\ncnt AS (\n  SELECT a.user_id, a.rn,\n         CAST(count(*) FILTER (WHERE\n           (a.x - b.x) * (a.x - b.x) + (a.y2 - b.y2) * (a.y2 - b.y2)\n             <= CAST(1.0 AS DOUBLE)) AS DOUBLE) - 1.0 AS c\n  FROM pts a JOIN pts b ON b.user_id = a.user_id\n  GROUP BY a.user_id, a.rn\n),\nnn2 AS (SELECT user_id, count(*) AS m FROM cnt GROUP BY user_id),\ncc AS (\n  SELECT user_id, rn, c,\n         c - avg(c) OVER (PARTITION BY user_id) AS cc\n  FROM cnt\n),\ncacov AS (\n  SELECT a.user_id, b.rn - a.rn AS tau, sum(a.cc * b.cc) AS s\n  FROM cc a JOIN cc b ON b.user_id = a.user_id AND b.rn >= a.rn\n  GROUP BY a.user_id, b.rn - a.rn\n),\ncacf AS (\n  SELECT x.user_id, x.tau, x.s / nullif(s0.s, CAST(0.0 AS DOUBLE)) AS r\n  FROM cacov x\n  JOIN (SELECT user_id, s FROM cacov WHERE tau = 0) s0\n    ON s0.user_id = x.user_id\n),\nfz AS (\n  SELECT user_id, min(tau) AS i FROM cacf\n  WHERE r < CAST(0.0 AS DOUBLE) GROUP BY user_id\n),\ntauv AS (\n  SELECT n2.user_id,\n         CASE WHEN fz.i IS NULL THEN CAST(n2.m - 1 AS DOUBLE)\n              ELSE (fz.i - 1) + (CAST(0.0 AS DOUBLE) - p.r)\n                   / nullif(c2.r - p.r, CAST(0.0 AS DOUBLE)) END AS tauout\n  FROM nn2 n2\n  LEFT JOIN fz ON fz.user_id = n2.user_id\n  LEFT JOIN cacf p ON p.user_id = n2.user_id AND p.tau = fz.i - 1\n  LEFT JOIN cacf c2 ON c2.user_id = n2.user_id AND c2.tau = fz.i\n),\nacs AS (\n  SELECT user_id,\n         max(CASE WHEN tau = 1 THEN r END) AS ac1,\n         max(CASE WHEN tau = 2 THEN r END) AS ac2,\n         max(CASE WHEN tau = 3 THEN r END) AS ac3\n  FROM cacf GROUP BY user_id\n),\nhq AS (\n  SELECT user_id, c,\n         row_number() OVER (PARTITION BY user_id ORDER BY c) AS rk,\n         count(*) OVER (PARTITION BY user_id) AS n\n  FROM cnt\n),\nps AS (\n  SELECT CAST(0.25 AS DOUBLE) AS p UNION ALL SELECT CAST(0.75 AS DOUBLE)\n),\nbounds AS (\n  SELECT h.user_id, p.p, h.n,\n         least(greatest(p.p * h.n + 0.5, CAST(1.0 AS DOUBLE)),\n               CAST(h.n AS DOUBLE)) AS posc\n  FROM (SELECT DISTINCT user_id, n FROM hq) h CROSS JOIN ps p\n),\nqv AS (\n  SELECT b.user_id, b.p,\n         lo.c + (b.posc - floor(b.posc)) * (hi.c - lo.c) AS q\n  FROM bounds b\n  JOIN hq lo ON lo.user_id = b.user_id\n            AND lo.rk = CAST(floor(b.posc) AS BIGINT)\n  JOIN hq hi ON hi.user_id = b.user_id\n            AND hi.rk = least(CAST(floor(b.posc) AS BIGINT) + 1, b.n)\n),\niqrs AS (\n  SELECT q75.user_id, q75.q - q25.q AS iqr\n  FROM qv q75\n  JOIN qv q25 ON q25.user_id = q75.user_id AND q25.p = CAST(0.25 AS DOUBLE)\n  WHERE q75.p = CAST(0.75 AS DOUBLE)\n),\nsegs AS (\n  SELECT c.user_id, CAST(floor(c.rn / f.afifth) AS BIGINT) AS seg,\n         avg(c.c) AS sm, stddev_samp(c.c) AS ss\n  FROM cnt c\n  JOIN (SELECT user_id, CAST(floor(m / 5) AS BIGINT) AS afifth FROM nn2) f\n    ON f.user_id = c.user_id\n  WHERE c.rn < 5 * f.afifth\n  GROUP BY c.user_id, CAST(floor(c.rn / f.afifth) AS BIGINT)\n),\nsstat AS (\n  SELECT user_id, stddev_samp(sm) AS sam, stddev_samp(ss) AS sas\n  FROM segs GROUP BY user_id\n),\nbstat AS (\n  SELECT user_id, avg(c) AS cmean, stddev_samp(c) AS cstd,\n         max(c) AS cmax, median(c) AS cmed,\n         max(c) - min(c) AS crange\n  FROM cnt GROUP BY user_id\n)\nSELECT b.user_id,\n       round(a.ac1, 6) AS ac1, round(a.ac2, 6) AS ac2, round(a.ac3, 6) AS ac3,\n       round(t.tauout, 6) AS tau,\n       round(b.cmax, 6) AS max, round(b.cstd, 6) AS std,\n       round(b.cmed, 6) AS median, round(b.cmean, 6) AS mean,\n       round(i.iqr, 6) AS iqr,\n       round(i.iqr / nullif(b.crange, CAST(0.0 AS DOUBLE)), 6) AS iqronrange,\n       round(s.sam / nullif(b.cstd, CAST(0.0 AS DOUBLE)), 6) AS statav5_m,\n       round(s.sas / nullif(b.cstd, CAST(0.0 AS DOUBLE)), 6) AS statav5_s\nFROM bstat b\nJOIN acs a ON a.user_id = b.user_id\nJOIN tauv t ON t.user_id = b.user_id\nJOIN iqrs i ON i.user_id = b.user_id\nJOIN sstat s ON s.user_id = b.user_id\n')


# --- IN_AutoMutualInfo 'kraskov1' lag 1, k=3 (Information.py:411-487) -------
# KSG estimator 1 as a pair join: joint max-norm distances per embedded
# pair (y_t, y_{t+1}), the k-th NN radius by rank (tie-safe: only the
# rank-3 VALUE matters), strict-inequality marginal counts, and integer
# -argument digamma values as harmonic numbers (psi(m) = H_{m-1} -
# gamma, running-window sum over an integer table — engine digamma
# matches to <1e-12, far under round(6)). Verified bit-exact vs
# info._mi_ksg1 on all 150 sf0.01 users. (kraskov2 is oracled too —
# user_ami_ksg2 uses the DETERMINISTIC neighbor tie-break variant,
# ordering distance ties by neighbor index on both engines.)
QUERIES["user_ami_ksg1"] = _q('\n, pts AS (\n  SELECT user_id, rn AS i, v AS x, y2 FROM (\n    SELECT user_id, rn, v,\n           lead(v) OVER (PARTITION BY user_id ORDER BY rn) AS y2\n    FROM series\n  ) q WHERE y2 IS NOT NULL\n),\nmm AS (SELECT user_id, count(*) AS m FROM pts GROUP BY user_id),\npd AS (\n  SELECT a.user_id, a.i, abs(a.x - b.x) AS dx, abs(a.y2 - b.y2) AS dy,\n         greatest(abs(a.x - b.x), abs(a.y2 - b.y2)) AS dz\n  FROM pts a JOIN pts b ON b.user_id = a.user_id AND b.i <> a.i\n),\neps AS (\n  SELECT user_id, i, dz AS e FROM (\n    SELECT user_id, i, dz,\n           row_number() OVER (PARTITION BY user_id, i ORDER BY dz) AS rk\n    FROM pd\n  ) q WHERE rk = 3\n),\ncnts AS (\n  SELECT p.user_id, p.i,\n         sum(CASE WHEN p.dx < e.e THEN 1 ELSE 0 END) AS nx,\n         sum(CASE WHEN p.dy < e.e THEN 1 ELSE 0 END) AS ny\n  FROM pd p JOIN eps e ON e.user_id = p.user_id AND e.i = p.i\n  GROUP BY p.user_id, p.i\n),\nints AS (SELECT DISTINCT rn + 1 AS mth FROM series),\ndgt AS (\n  SELECT mth,\n         CAST(-0.5772156649015329 AS DOUBLE)\n         + coalesce(sum(1.0 / CAST(mth AS DOUBLE)) OVER (\n             ORDER BY mth ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),\n           CAST(0.0 AS DOUBLE)) AS dg\n  FROM ints\n),\nterm AS (\n  SELECT c.user_id, dx.dg + dy.dg AS dsum\n  FROM cnts c\n  JOIN dgt dx ON dx.mth = c.nx + 1\n  JOIN dgt dy ON dy.mth = c.ny + 1\n)\nSELECT t.user_id,\n       round(d3.dg + dn.dg - avg(t.dsum), 6) AS ami_ksg1\nFROM term t\nJOIN mm ON mm.user_id = t.user_id\nJOIN dgt d3 ON d3.mth = 3\nJOIN dgt dn ON dn.mth = mm.m\nGROUP BY t.user_id, d3.dg, dn.dg\n')


# --- Within-document repetition scoring (training-data quality signal) ------
# Fraction of duplicated 3-gram / 5-gram occurrences per document
# (1 - distinct/total) plus the highest single-trigram occurrence
# count — the standard "repetitious text" filter in large-corpus
# pipelines (e.g. Gopher/ MassiveText quality rules). Pure JVM
# expressions on the Spark side; same aggregation in DuckDB.
QUERIES["doc_repetition"] = _q2(
    """
WITH words AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
),
tri AS (
  SELECT doc_id, sh
  FROM words
  LATERAL VIEW explode(
    transform(sequence(0, size(ws) - 3),
              idx -> concat_ws(' ', ws[idx], ws[idx + 1], ws[idx + 2]))
  ) t AS sh
  WHERE size(ws) >= 3
),
five AS (
  SELECT doc_id, sh
  FROM words
  LATERAL VIEW explode(
    transform(sequence(0, size(ws) - 5),
              idx -> concat_ws(' ', ws[idx], ws[idx + 1], ws[idx + 2],
                               ws[idx + 3], ws[idx + 4]))
  ) t AS sh
  WHERE size(ws) >= 5
),
t3c AS (SELECT doc_id, sh, count(*) AS c FROM tri GROUP BY doc_id, sh),
t3 AS (SELECT doc_id, sum(c) AS tot, count(*) AS uniq,
              CAST(max(c) AS BIGINT) AS maxc
       FROM t3c GROUP BY doc_id),
t5c AS (SELECT doc_id, sh, count(*) AS c FROM five GROUP BY doc_id, sh),
t5 AS (SELECT doc_id, sum(c) AS tot, count(*) AS uniq FROM t5c GROUP BY doc_id)
SELECT t3.doc_id,
       round(1.0 - t3.uniq / CAST(t3.tot AS DOUBLE), 6) AS rep3,
       round(1.0 - t5.uniq / CAST(t5.tot AS DOUBLE), 6) AS rep5,
       t3.maxc AS max3
FROM t3 JOIN t5 ON t5.doc_id = t3.doc_id
""",
    """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 2),
                idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2])) AS sh
  FROM words WHERE len(ws) >= 3
),
five AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 4),
                idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2]
                       || ' ' || ws[idx + 3] || ' ' || ws[idx + 4])) AS sh
  FROM words WHERE len(ws) >= 5
),
t3c AS (SELECT doc_id, sh, count(*) AS c FROM tri GROUP BY doc_id, sh),
t3 AS (SELECT doc_id, sum(c) AS tot, count(*) AS uniq,
              CAST(max(c) AS BIGINT) AS maxc
       FROM t3c GROUP BY doc_id),
t5c AS (SELECT doc_id, sh, count(*) AS c FROM five GROUP BY doc_id, sh),
t5 AS (SELECT doc_id, sum(c) AS tot, count(*) AS uniq FROM t5c GROUP BY doc_id)
SELECT t3.doc_id,
       round(1.0 - t3.uniq / CAST(t3.tot AS DOUBLE), 6) AS rep3,
       round(1.0 - t5.uniq / CAST(t5.tot AS DOUBLE), 6) AS rep5,
       t3.maxc AS max3
FROM t3 JOIN t5 ON t5.doc_id = t3.doc_id
""",
)


# --- Benchmark decontamination (train/eval n-gram collision screen) ---------
# Eval set = the first 20 documents (deterministic driver view); a
# corpus doc is contaminated when it shares any distinct 8-word n-gram
# with the eval set. The engine operator broadcasts the eval n-gram set
# and semi-joins the corpus explode (operators/text.contamination_check);
# the eval docs themselves self-collide by construction, which the
# oracle reproduces.
QUERIES["doc_contamination"] = _q2(
    """
WITH words AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, sh
  FROM words
  LATERAL VIEW explode(
    transform(sequence(0, size(ws) - 8),
              idx -> concat_ws(' ', ws[idx], ws[idx + 1], ws[idx + 2],
                               ws[idx + 3], ws[idx + 4], ws[idx + 5],
                               ws[idx + 6], ws[idx + 7]))
  ) t AS sh
  WHERE size(ws) >= 8
),
ev AS (SELECT DISTINCT sh FROM ng WHERE doc_id < 20),
hits AS (
  SELECT ng.doc_id, count(*) AS n_hits
  FROM ng JOIN ev ON ev.sh = ng.sh
  GROUP BY ng.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) >= 1 THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
""",
    """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 7),
                  idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2]
                         || ' ' || ws[idx + 3] || ' ' || ws[idx + 4]
                         || ' ' || ws[idx + 5] || ' ' || ws[idx + 6]
                         || ' ' || ws[idx + 7])) AS sh
    FROM words WHERE len(ws) >= 8
  ) t
),
ev AS (SELECT DISTINCT sh FROM ng WHERE doc_id < 20),
hits AS (
  SELECT ng.doc_id, count(*) AS n_hits
  FROM ng JOIN ev ON ev.sh = ng.sh
  GROUP BY ng.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) >= 1 THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
""",
)


# --- Composite corpus filter (keep/drop + reason) ---------------------------
# The standard quality-filter decision composed from already-oracled
# components: length (doc_quality), stopword ratio (doc_quality),
# within-doc repetition (doc_repetition), language id
# (doc_language_id). Precedence: too_short -> low_stopword ->
# repetitious -> lang_und -> keep. Each component subquery is the
# exact SQL the driver already hash-checks, so the filter inherits
# their verification.
_QF_RULE = """
SELECT q.doc_id,
       CAST(CASE WHEN q.n_words < 20 THEN 0
                 WHEN q.stopword_ratio < CAST(0.05 AS DOUBLE) THEN 0
                 WHEN r.rep3 > CAST(0.05 AS DOUBLE) THEN 0
                 WHEN l.pred_lang = 'und' THEN 0
                 ELSE 1 END AS INT) AS keep,
       CASE WHEN q.n_words < 20 THEN 'too_short'
            WHEN q.stopword_ratio < CAST(0.05 AS DOUBLE) THEN 'low_stopword'
            WHEN r.rep3 > CAST(0.05 AS DOUBLE) THEN 'repetitious'
            WHEN l.pred_lang = 'und' THEN 'lang_und'
            ELSE 'keep' END AS reason
FROM ({Q}) q
LEFT JOIN ({R}) r ON r.doc_id = q.doc_id
LEFT JOIN ({L}) l ON l.doc_id = q.doc_id
"""
QUERIES["doc_quality_filter"] = _q2(
    _QF_RULE.format(
        Q=QUERIES["doc_quality"]["spark"],
        R=QUERIES["doc_repetition"]["spark"],
        L=QUERIES["doc_language_id"]["spark"],
    ),
    _QF_RULE.format(
        Q=QUERIES["doc_quality"]["duck"],
        R=QUERIES["doc_repetition"]["duck"],
        L=QUERIES["doc_language_id"]["duck"],
    ),
)


# --- BPE-ish regex token count (tokenizer-approximate budget counting) ------
# Word-split counting underestimates real tokenizer output; this counts
# GPT-style pre-tokenizer units instead: letter runs, digit runs, and
# individual non-alphanumeric marks. The same class-based pattern
# behaves identically in Java regex (Spark) and RE2 (DuckDB).
QUERIES["doc_token_count_bpe"] = _q2(
    r"""
SELECT doc_id,
       CAST(size(split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS BIGINT)
         AS n_bpe_tokens
FROM documents
""",
    r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
""",
)


# --- REAL BPE token count under the committed merges table ------------------
# Engine: operators/bpe.bpe_token_count (distinct-word Arrow UDF +
# broadcast join). Oracle: DuckDB-side recursive replay — each word is
# a chr(30)/chr(31)-wrapped token string; merges apply in rank order
# (exact for pair BPE: a pair's rank always exceeds its components'
# creation ranks) via delimiter-exact replace; token count = number of
# open delimiters left. The merges VALUES are generated from the
# committed resources/bpe_merges.json at import.


def _bpe_merges_values() -> str:
    from pyhctsa_spark.operators.bpe import load_merges

    return ", ".join(
        f"({i + 1}, '{a}', '{b}')"
        for i, (a, b) in enumerate(load_merges())
    )


ENGINE_ORACLES["doc_token_count_bpe_real"] = f"""
WITH RECURSIVE merges(rk, a, b) AS (
  SELECT * FROM (VALUES {{MERGES}}) m(rk, a, b)
),
wocc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY doc_id, w
),
vocab AS (SELECT DISTINCT w FROM wocc),
init AS (
  SELECT w,
         array_to_string(
           list_transform(string_split(w, ''),
                          c -> chr(30) || c || chr(31)), '') AS s
  FROM vocab
),
bpe(w, s, step) AS (
  SELECT w, s, 0 FROM init
  UNION ALL
  SELECT b.w,
         replace(b.s, chr(30) || m.a || chr(31) || chr(30) || m.b || chr(31),
                 chr(30) || m.a || m.b || chr(31)),
         b.step + 1
  FROM bpe b JOIN merges m ON m.rk = b.step + 1
),
wtok AS (
  SELECT w,
         CAST((length(s) - length(replace(s, chr(30), ''))) AS BIGINT) AS n
  FROM bpe WHERE step = (SELECT max(rk) FROM merges)
)
SELECT o.doc_id, CAST(sum(o.c * t.n) AS BIGINT) AS n_bpe_tokens_real
FROM wocc o JOIN wtok t ON t.w = o.w
GROUP BY o.doc_id
""".replace("{MERGES}", _bpe_merges_values())


# --- Event sessionization (gap-based sessions over event time) --------------
# Classic event-analytics operator: a new session starts when the gap
# to the previous event of the same user exceeds 6 hours. Session index
# = running sum of new-session flags; per-session row with event count,
# duration, and mean value. Epoch seconds are fractional in BOTH
# dialects (Spark unix_micros under the engine's fixed UTC session tz /
# 1e6 == DuckDB epoch() of the naive timestamp: both are parquet
# microseconds / 1e6), so boundaries agree exactly.
_SESSION_BODY = """
g AS (
  SELECT user_id, event_id, value, tsec,
         lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS ptsec
  FROM e
),
f AS (
  SELECT user_id, event_id, value, tsec,
         CASE WHEN ptsec IS NULL OR tsec - ptsec > CAST(21600 AS DOUBLE)
              THEN 1 ELSE 0 END AS new_s
  FROM g
),
s AS (
  SELECT user_id, event_id, value, tsec,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
)
SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(tsec) - min(tsec), 6) AS dur_sec,
       round(avg(value), 6) AS mean_value
FROM s GROUP BY user_id, sess
"""
QUERIES["user_sessions"] = _q2(
    "WITH e AS (SELECT user_id, event_id, value,"
    " unix_micros(CAST(ts AS TIMESTAMP)) / CAST(1000000 AS DOUBLE) AS tsec"
    " FROM events),\n" + _SESSION_BODY,
    "WITH e AS (SELECT user_id, event_id, value, epoch(ts) AS tsec"
    " FROM events),\n" + _SESSION_BODY,
)


# --- Time-weighted average rollup (irregular events, LOCF weighting) --------
# TimescaleDB-style time_weight('LOCF') over 30-minute wall-clock
# windows: each event's value holds until the next same-user event,
# clamped to the window end; the divisor is the covered span
# (window end - first event). Weights are normalized to fractions
# BEFORE summing so the aggregate stays at value magnitude — a raw
# micros-weighted sum reaches ~1e11 where double summation-order noise
# (~1e-5 absolute) could flip the round(6) hash between engines.
# (user_id, ts) pairs are tie-free at every SF (verified), so lead()
# is deterministic.
_TWA_BODY = """
w AS (
  SELECT user_id, tus, value,
         lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS nxt,
         CAST(floor(tus / 1800000000) AS BIGINT) AS widx
  FROM e
),
wd AS (
  SELECT user_id, widx, tus, value, nxt,
         (widx + 1) * 1800000000 AS wend,
         min(tus) OVER (PARTITION BY user_id, widx) AS t0
  FROM w
)
SELECT user_id, widx, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value
                 * CAST(least(coalesce(nxt, wend), wend) - tus AS DOUBLE)
                 / CAST(wend - t0 AS DOUBLE)), 6) AS twa
FROM wd GROUP BY user_id, widx
"""
QUERIES["user_twa_30m"] = _q2(
    "WITH e AS (SELECT user_id, value,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n" + _TWA_BODY,
    "WITH e AS (SELECT user_id, value, epoch_us(ts) AS tus"
    " FROM events),\n" + _TWA_BODY,
)


# LOCF resample to a regular 15-minute grid
# (operators/temporal_join.resample_locf): per user, grid points from
# ceil(first event) to the last event; each grid point carries the value
# in force (as-of backward). Engine = grid explode + the merge-form
# asof_join; oracle = DuckDB generate_series + native ASOF LEFT JOIN.
ENGINE_ORACLES["user_resample_15m"] = """
WITH b AS (
  SELECT user_id, min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id,
         unnest(generate_series(((lo + 899999999) // 900000000) * 900000000,
                                hi, 900000000)) AS gus
  FROM b
),
ev AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events)
SELECT g.user_id, g.gus, round(e.value, 6) AS locf_value
FROM grid g
ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.gus >= e.tus
"""


# Reset-aware counter increase/rate per 30-minute window
# (operators/continuous_agg.counter_agg): a negative same-user delta is
# a counter reset and the post-reset reading is the increase since the
# restart (Prometheus extrapolation-free `increase`). A window's first
# delta reaches back across the boundary (so tier sums telescope);
# events with no same-user predecessor contribute nothing. rate =
# increase / in-window covered seconds, NULL for zero-span windows.
ENGINE_ORACLES["user_counter_30m"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events
),
d AS (
  SELECT user_id, tus, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY tus) AS prev,
         CAST(floor(tus / 1800000000) AS BIGINT) AS widx
  FROM e
)
SELECT user_id, widx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(coalesce(sum(CASE WHEN value - prev < 0 THEN 1 END), 0)
            AS BIGINT) AS n_resets,
       round(sum(CASE WHEN prev IS NULL THEN NULL
                      WHEN value - prev >= 0 THEN value - prev
                      ELSE value END), 6) AS counter_increase,
       round(CASE WHEN max(tus) > min(tus)
                  THEN sum(CASE WHEN prev IS NULL THEN NULL
                                WHEN value - prev >= 0 THEN value - prev
                                ELSE value END)
                       / ((max(tus) - min(tus)) / 1000000.0)
             END, 6) AS rate_per_s
FROM d GROUP BY user_id, widx
"""


# LTTB shape-preserving downsample to 24 points per user
# (operators/downsample.lttb_downsample). The oracle replays the
# sequential bucket-by-bucket argmax as a recursive CTE: each round
# selects the next bucket's max-triangle-area point via a correlated
# NOT EXISTS (no window functions in the recursive term). Bit-exact
# cross-engine because inputs are integer-valued doubles (re-based
# micros; value scaled x100), so bucket-centroid sums are exact in any
# summation order and the single division + area cross-product evaluate
# identically (verified EXACT at sf0.01: 3600/3600 rows).
ENGINE_ORACLES["user_lttb_24"] = """
WITH RECURSIVE
e AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CAST(round(value * 100, 0) AS DOUBLE) AS v
  FROM events
),
o AS (
  SELECT user_id, tus, v,
         row_number() OVER (PARTITION BY user_id ORDER BY tus) - 1 AS j,
         count(*) OVER (PARTITION BY user_id) AS n,
         min(tus) OVER (PARTITION BY user_id) AS t0
  FROM e
),
small AS (SELECT user_id, tus, v FROM o WHERE n <= 24),
big AS (SELECT * FROM o WHERE n > 24),
cand AS (
  SELECT user_id, tus, CAST(tus - t0 AS DOUBLE) AS tr, v,
         ((j - 1) * 22) // (n - 2) AS bucket
  FROM big WHERE j BETWEEN 1 AND n - 2
),
cent AS (
  SELECT user_id, bucket, sum(tr) / count(*) AS ct, sum(v) / count(*) AS cv
  FROM cand GROUP BY user_id, bucket
),
lastp AS (SELECT user_id, tus, CAST(tus - t0 AS DOUBLE) AS tr, v
          FROM big WHERE j = n - 1),
firstp AS (SELECT user_id, tus, CAST(0 AS DOUBLE) AS tr, v
           FROM big WHERE j = 0),
nextc AS (
  SELECT user_id, bucket - 1 AS bucket, ct, cv FROM cent WHERE bucket >= 1
  UNION ALL
  SELECT user_id, 21 AS bucket, tr AS ct, v AS cv FROM lastp
),
sel AS (
  SELECT user_id, -1 AS bucket, tus, tr AS sa, v AS sv FROM firstp
  UNION ALL
  SELECT c.user_id, c.bucket, c.tus, c.tr, c.v
  FROM sel s
  JOIN cand c ON c.user_id = s.user_id AND c.bucket = s.bucket + 1
  JOIN nextc nc ON nc.user_id = c.user_id AND nc.bucket = c.bucket
  WHERE NOT EXISTS (
    SELECT 1 FROM cand c2
    WHERE c2.user_id = c.user_id AND c2.bucket = c.bucket
      AND (abs((s.sa - nc.ct) * (c2.v - s.sv)
               - (s.sa - c2.tr) * (nc.cv - s.sv))
             > abs((s.sa - nc.ct) * (c.v - s.sv)
                   - (s.sa - c.tr) * (nc.cv - s.sv))
        OR (abs((s.sa - nc.ct) * (c2.v - s.sv)
                - (s.sa - c2.tr) * (nc.cv - s.sv))
              = abs((s.sa - nc.ct) * (c.v - s.sv)
                    - (s.sa - c.tr) * (nc.cv - s.sv))
           AND c2.tr < c.tr))
  )
)
SELECT user_id, tus, CAST(v AS BIGINT) AS v100
FROM (
  SELECT user_id, tus, v FROM small
  UNION ALL SELECT user_id, tus, sv AS v FROM sel
  UNION ALL SELECT user_id, tus, v FROM lastp
)
"""


# --- Exact-dedup survivor set (keep-first semantics) ------------------------
# The surviving doc ids after exact content dedup: smallest doc_id per
# md5(text) group — the deterministic-winner contract of
# operators/dedup.dedup_keep_first. Identical SQL in both dialects.
_KEEP_FIRST_SQL = """
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) t WHERE rn = 1
"""
QUERIES["doc_dedup_keep_first"] = _q2(_KEEP_FIRST_SQL, _KEEP_FIRST_SQL)


# --- M4 / OHLC downsample-by-aggregation per 30-minute window ---------------
# (operators/continuous_agg.ohlc_agg — Jugel et al. VLDB'14 M4, the
# candlestick aggregate every TSDB ships.) Deterministic tie rules,
# identical on both sides: open = value at earliest ts (smallest value
# on ts tie), close = value at latest ts (largest on tie), t_high/t_low
# = EARLIEST ts attaining the max/min value. The engine uses
# struct-ordered min/max aggregates (one hash-aggregate, map-side
# combine); the oracle ranks with window functions — different plans,
# same contract.
_OHLC_BODY = """
d AS (
  SELECT user_id, CAST(floor(tus / 1800000000) AS BIGINT) AS widx,
         tus, value
  FROM e
),
r AS (
  SELECT user_id, widx, tus, value,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY tus, value) AS rn_o,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY tus DESC, value DESC) AS rn_c,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY value DESC, tus) AS rn_h,
    row_number() OVER (PARTITION BY user_id, widx
                       ORDER BY value, tus) AS rn_l
  FROM d
)
SELECT user_id, widx,
  CAST(count(*) AS BIGINT) AS n_events,
  round(max(CASE WHEN rn_o = 1 THEN value END), 6) AS open,
  round(max(CASE WHEN rn_c = 1 THEN value END), 6) AS close,
  round(max(value), 6) AS high,
  round(min(value), 6) AS low,
  max(CASE WHEN rn_h = 1 THEN tus END) AS t_high,
  max(CASE WHEN rn_l = 1 THEN tus END) AS t_low
FROM r GROUP BY user_id, widx
"""
QUERIES["user_ohlc_30m"] = _q2(
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS value,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _OHLC_BODY,
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS value,"
    " epoch_us(ts) AS tus FROM events),\n" + _OHLC_BODY,
)


# --- Seasonal hour-of-day profile --------------------------------------------
# The seasonality baseline every TSDB dashboard draws: per (user, hour
# 0-23) mean/std/count plus each hour's share of the user's total
# activity. Pure GROUP BY (one exchange, map-side combine). Hour is
# derived from epoch time, not calendar functions, so both engines
# agree without timezone/DST machinery (the synthetic events are NTZ).
_HOURPROF_BODY = """
h AS (
  SELECT user_id,
         CAST(floor(tus / 3600000000) % 24 AS BIGINT) AS hour_of_day,
         v
  FROM e
),
tot AS (SELECT user_id, count(*) AS n_tot FROM h GROUP BY user_id)
SELECT h.user_id, h.hour_of_day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(avg(v), 6) AS mean_v,
       round(CASE WHEN count(*) > 1 THEN
         (sum(v * v) - sum(v) * sum(v) / count(*)) / (count(*) - 1)
       END, 6) AS var_v,
       round(count(*) / CAST(max(t.n_tot) AS DOUBLE), 6) AS hour_share
FROM h JOIN tot t ON t.user_id = h.user_id
GROUP BY h.user_id, h.hour_of_day
"""
QUERIES["user_hour_profile"] = _q2(
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _HOURPROF_BODY,
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n" + _HOURPROF_BODY,
)


# --- Histogram percentiles (deterministic percentile_agg) --------------------
# (operators/hist_percentile.py) Fixed 60-bin equi-width histogram over
# the declared [0, 600) value range, edge-clamped; p50/p90 via in-bin
# linear interpolation at continuous rank t = q*(n-1)+1. Both engines
# evaluate the IDENTICAL expression tree (unlike approx_percentile /
# percentile_cont, whose algorithms differ per engine), so the values
# hash-match. Literals CAST to DOUBLE (Spark parses bare 0.5 as
# DECIMAL).
_HISTP_BODY = """
d AS (
  SELECT user_id, CAST(floor(tus / 1800000000) AS BIGINT) AS widx,
         CAST(least(greatest(floor(v / CAST(10 AS DOUBLE)),
                             CAST(0 AS DOUBLE)),
                    CAST(59 AS DOUBLE)) AS INTEGER) AS bin
  FROM e
),
c AS (
  SELECT user_id, widx, bin, count(*) AS cnt
  FROM d GROUP BY user_id, widx, bin
),
k AS (
  SELECT user_id, widx, bin, cnt,
         sum(cnt) OVER (PARTITION BY user_id, widx ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY user_id, widx) AS n
  FROM c
)
SELECT user_id, widx, CAST(max(n) AS BIGINT) AS n_events,
  round(min(CASE WHEN cum >= CAST(0.5 AS DOUBLE) * (n - 1) + 1
                  AND cum - cnt < CAST(0.5 AS DOUBLE) * (n - 1) + 1
            THEN CAST(10 AS DOUBLE)
                 * (bin + ((CAST(0.5 AS DOUBLE) * (n - 1) + 1)
                           - (cum - cnt)) / cnt) END), 6) AS p50,
  round(min(CASE WHEN cum >= CAST(0.9 AS DOUBLE) * (n - 1) + 1
                  AND cum - cnt < CAST(0.9 AS DOUBLE) * (n - 1) + 1
            THEN CAST(10 AS DOUBLE)
                 * (bin + ((CAST(0.9 AS DOUBLE) * (n - 1) + 1)
                           - (cum - cnt)) / cnt) END), 6) AS p90
FROM k GROUP BY user_id, widx
"""
QUERIES["user_hist_p90"] = _q2(
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _HISTP_BODY,
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n" + _HISTP_BODY,
)


# --- Multi-dimensional rollup (GROUPING SETS) --------------------------------
# The OLAP cube slice every dashboard needs: per (cohort, event_type),
# per cohort, per event_type, and grand total in ONE pass — Spark
# expands grouping sets map-side, so the shuffle carries pre-combined
# partials for all four granularities (vs 4 separate scans). Identical
# SQL in both engines; grouping() markers folded into 'ALL' labels so
# the NULL-vs-label representation can't diverge.
QUERIES["user_type_grouping"] = _q("""
SELECT CASE WHEN grouping(cohort) = 1 THEN 'ALL' ELSE cohort END AS cohort,
       CASE WHEN grouping(event_type) = 1 THEN 'ALL'
            ELSE event_type END AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(CAST(value AS DOUBLE)), 6) AS sum_v,
       round(avg(CAST(value AS DOUBLE)), 6) AS mean_v
FROM (SELECT 'c' || CAST(user_id % 5 AS STRING) AS cohort,
             event_type, value
      FROM events) t
GROUP BY GROUPING SETS ((cohort, event_type), (cohort), (event_type), ())
""")


# --- Correlated-metrics discovery --------------------------------------------
# "Which series moves with mine" — the metric-correlation search every
# observability TSDB ships. Series are aligned on 6-hour window
# MEANS, paired WITHIN a cohort block (user_id % 20 — at 10^12 scale
# all-pairs is quadratic; blocking bounds the join fan-out and is the
# documented contract), Pearson computed from explicit moment sums
# (identical expression order in both engines — corr() implementations
# differ), pairs below 15 co-occurring windows dropped, and each user
# keeps its single best partner (|corr| DESC, partner ASC tie-break).
_CORR_BODY = """
w AS (
  SELECT user_id, CAST(floor(tus / 21600000000) AS BIGINT) AS widx,
         avg(v) AS m
  FROM e GROUP BY user_id, widx
),
p AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         count(*) AS n,
         sum(a.m) AS sx, sum(b.m) AS sy,
         sum(a.m * a.m) AS sxx, sum(b.m * b.m) AS syy,
         sum(a.m * b.m) AS sxy
  FROM w a JOIN w b
    ON b.widx = a.widx AND a.user_id < b.user_id
   AND a.user_id % 20 = b.user_id % 20
  GROUP BY a.user_id, b.user_id
  HAVING count(*) >= 15
),
c AS (
  SELECT ua, ub, n,
         (n * sxy - sx * sy)
         / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy),
                  CAST(0 AS DOUBLE)) AS r
  FROM p
),
both_dirs AS (
  SELECT ua AS user_id, ub AS partner, n, r FROM c
  UNION ALL
  SELECT ub, ua, n, r FROM c
),
rk AS (
  SELECT user_id, partner, n, r,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(r) DESC, partner) AS rnk
  FROM both_dirs WHERE r IS NOT NULL
)
SELECT user_id, partner, n, round(r, 6) AS corr
FROM rk WHERE rnk = 1
"""
QUERIES["user_corr_pairs"] = _q2(
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _CORR_BODY,
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n" + _CORR_BODY,
)


# --- Rolling z-score anomaly detection --------------------------------------
# The TSDB anomaly staple: each event scored against the mean/std of
# its 20 PRECEDING same-user events (frame excludes the current row, so
# an outlier cannot mask itself); flagged when |z| > 3 with at least 10
# prior samples. Pure window SQL in both engines, identical frames and
# evaluation order; nullif guards the zero-variance frames (Spark ANSI
# would raise on the division otherwise, and AND does not short-circuit).
_ANOM_BODY = """
w AS (
  SELECT user_id, tus, v,
    avg(v) OVER (PARTITION BY user_id ORDER BY tus
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
    stddev_samp(v) OVER (PARTITION BY user_id ORDER BY tus
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sd,
    count(v) OVER (PARTITION BY user_id ORDER BY tus
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS cnt
  FROM e
)
SELECT user_id, tus, round(v, 6) AS value,
       round((v - mu) / nullif(sd, CAST(0 AS DOUBLE)), 6) AS z
FROM w
WHERE cnt >= 10 AND abs((v - mu) / nullif(sd, CAST(0 AS DOUBLE))) > 3
"""
QUERIES["user_anomaly_z"] = _q2(
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _ANOM_BODY,
    "WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n" + _ANOM_BODY,
)


# --- Intra-series gap detection (silences > 12h) ----------------------------
# (operators/continuous_agg.gap_detect — the data-quality probe behind
# the rollup gap-fill path.) (user_id, ts) pairs are tie-free (verified
# at every SF) so lag() is deterministic.
_GAPS_BODY = """
d AS (
  SELECT user_id, tus,
         lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
  FROM e
)
SELECT user_id, prev AS gap_start, tus AS gap_end,
       round((tus - prev) / 1000000.0, 6) AS gap_s
FROM d WHERE tus - prev > 43200000000
"""
QUERIES["user_gaps_12h"] = _q2(
    "WITH e AS (SELECT user_id,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _GAPS_BODY,
    "WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),\n"
    + _GAPS_BODY,
)


# --- EWMA smoothing (alpha = 0.25) ------------------------------------------
# (operators/recurrence.ewma) Sequential recurrence
#   s_0 = v_0;  s_i = 0.25*v_i + 0.75*s_{i-1}
# replayed as a recursive CTE walking each user's rank chain. alpha and
# 1-alpha are exactly representable doubles and both engines evaluate
# the identical expression sequence, so the raw doubles agree
# bit-for-bit. alpha=0.25 over 2-decimal inputs yields dyadic values
# that sit EXACTLY on the 1e-6 rounding halfway (x.xxx5625...), where
# Spark round (BigDecimal HALF_UP) and DuckDB round (float-scaled)
# disagree — so the output is the engine-independent scaled integer
# floor(s*1e6 + 0.5) instead of round(s, 6).
ENGINE_ORACLES["user_ewma"] = """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS tus, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
rec(user_id, rn, s) AS (
  SELECT user_id, rn, v FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, 0.25 * e.v + 0.75 * r.s
  FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT e.user_id, e.tus, round(e.v, 6) AS value,
       CAST(floor(r.s * 1000000 + 0.5) AS BIGINT) AS ewma_u6
FROM e JOIN rec r ON e.user_id = r.user_id AND e.rn = r.rn
"""


# --- Two-sided tabular CUSUM drift summary ----------------------------------
# (operators/recurrence.cusum — Page 1954; target=10, slack k=1,
# decision interval h=25.) Recurrence per user over the rank chain:
#   hi_i = max(0, hi_{i-1} + (v_i - 11.0))
#   lo_i = max(0, lo_{i-1} - (v_i - 9.0))
# alarm rows are counted per side each time the updated statistic
# exceeds h (no post-alarm reset — tabular form); first_alarm_t is the
# timestamp of the first alarming row. All constants are exact doubles;
# the expression order matches the numpy kernel exactly.
ENGINE_ORACLES["user_cusum"] = """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS tus, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
rec(user_id, rn, n, hi, lo, nhi, nlo, first_t) AS (
  SELECT user_id, rn, n,
         greatest(0.0, v - 11.0) AS hi,
         greatest(0.0, -(v - 9.0)) AS lo,
         CASE WHEN greatest(0.0, v - 11.0) > 25.0 THEN 1 ELSE 0 END,
         CASE WHEN greatest(0.0, -(v - 9.0)) > 25.0 THEN 1 ELSE 0 END,
         CASE WHEN greatest(0.0, v - 11.0) > 25.0
                OR greatest(0.0, -(v - 9.0)) > 25.0 THEN tus END
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.n,
         greatest(0.0, r.hi + (e.v - 11.0)),
         greatest(0.0, r.lo - (e.v - 9.0)),
         r.nhi + CASE WHEN greatest(0.0, r.hi + (e.v - 11.0)) > 25.0
                      THEN 1 ELSE 0 END,
         r.nlo + CASE WHEN greatest(0.0, r.lo - (e.v - 9.0)) > 25.0
                      THEN 1 ELSE 0 END,
         coalesce(r.first_t,
                  CASE WHEN greatest(0.0, r.hi + (e.v - 11.0)) > 25.0
                         OR greatest(0.0, r.lo - (e.v - 9.0)) > 25.0
                       THEN e.tus END)
  FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       round(hi, 6) AS cusum_hi, round(lo, 6) AS cusum_lo,
       CAST(nhi AS BIGINT) AS n_alarm_hi, CAST(nlo AS BIGINT) AS n_alarm_lo,
       first_t AS first_alarm_t
FROM rec WHERE rn = n
"""


# --- Linear-interpolation resample to a regular 15-minute grid --------------
# (operators/temporal_join.resample_linear) Each grid point interpolates
# between the bracketing events; a grid point on an event returns that
# value exactly. Engine = grid explode + backward & forward merge-form
# asof scans; oracle = DuckDB generate_series + two native ASOF joins.
# The interpolation arithmetic (v0 + (v1-v0)*(dg/dt)) is evaluated in
# the same IEEE order on both sides; results are non-terminating
# decimals (products of inexact 2-decimal doubles), so round(6) halfway
# collisions cannot occur (unlike the dyadic EWMA case).
ENGINE_ORACLES["user_resample_lin_15m"] = """
WITH b AS (
  SELECT user_id, min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id,
         unnest(generate_series(((lo + 899999999) // 900000000) * 900000000,
                                hi, 900000000)) AS gus
  FROM b
),
ev AS (SELECT user_id, epoch_us(ts) AS tus, CAST(value AS DOUBLE) AS v
       FROM events),
bwd AS (
  SELECT g.user_id, g.gus, e.tus AS t0, e.v AS v0
  FROM grid g
  ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.gus >= e.tus
),
fwd AS (
  SELECT g.user_id, g.gus, e.tus AS t1, e.v AS v1
  FROM grid g
  ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.gus <= e.tus
)
SELECT b.user_id, b.gus,
       round(CASE WHEN f.t1 = b.t0 THEN b.v0
                  ELSE b.v0 + (f.v1 - b.v0)
                       * (CAST(b.gus - b.t0 AS DOUBLE)
                          / CAST(f.t1 - b.t0 AS DOUBLE)) END,
             6) AS value
FROM bwd b JOIN fwd f ON b.user_id = f.user_id AND b.gus = f.gus
"""


# --- Holt double-exponential smoothing (level + trend) ----------------------
# (operators/recurrence.holt; alpha=0.5, beta=0.25 — both exact doubles)
#   l_0 = v_0, b_0 = 0
#   l_i = 0.5*v_i + 0.5*(l_{i-1} + b_{i-1})
#   b_i = 0.25*(l_i - l_{i-1}) + 0.75*b_{i-1}
# Recursive-CTE replay with the identical expression order; outputs are
# dyadic rationals of 2-decimal inputs (same halfway hazard as EWMA), so
# level/trend are emitted as engine-independent scaled integers
# floor(x*1e6 + 0.5).
ENGINE_ORACLES["user_holt"] = """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS tus, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
rec(user_id, rn, l, lprev, b) AS (
  SELECT user_id, rn, v, v, CAST(0.0 AS DOUBLE) FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         0.5 * e.v + 0.5 * (r.l + r.b),
         r.l,
         0.25 * ((0.5 * e.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
  FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT e.user_id, e.tus, round(e.v, 6) AS value,
       CAST(floor(r.l * 1000000 + 0.5) AS BIGINT) AS level_u6,
       CAST(floor(r.b * 1000000 + 0.5) AS BIGINT) AS trend_u6
FROM e JOIN rec r ON e.user_id = r.user_id AND e.rn = r.rn
"""


# --- corpus-curation operators (operators/curation.py) ---------------------
# Every "random" decision in these ops is an md5-derived integer, so the
# DuckDB replay is exact. _duck_md5_u32 mirrors curation.md5_u32: first
# 32 bits of md5(salt || key) assembled nibble-by-nibble.


def _duck_md5_u32(key_expr: str, salt: str) -> str:
    h = f"md5('{salt}' || CAST({key_expr} AS VARCHAR))"
    parts = [
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (7 - i)} AS BIGINT)"
        for i in range(8)
    ]
    return "(" + " + ".join(parts) + ")"


# pack_sequences(documents, seq_len=64, n_shards=4): concat-and-chunk
# packing replayed with a window running sum + generate_series span
# explode. All output columns are exact integers/strings.
ENGINE_ORACLES["doc_pack_sequences"] = f"""
WITH base AS (
  SELECT source,
         CAST({_duck_md5_u32('doc_id', 'pack:')} % 4 AS BIGINT) AS shard,
         doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
placed AS (
  SELECT source, shard, doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
  FROM base
),
spans AS (
  SELECT source, shard, doc_id, n_tok, st,
         unnest(generate_series(st // 64, (st + n_tok - 1) // 64)) AS seq_id
  FROM placed
)
SELECT source, shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(st, seq_id * 64) - seq_id * 64 AS BIGINT)  AS offset_in_seq,
       CAST(greatest(st, seq_id * 64) - st AS BIGINT)           AS tok_start,
       CAST(least(st + n_tok, (seq_id + 1) * 64)
            - greatest(st, seq_id * 64) AS BIGINT)              AS tok_len
FROM spans
"""

# source_mix: keep iff md5-uniform(doc_id) < rate(source), with
# rate = ((suffix % 4) + 1) / 4 — all exact binary fractions, so the
# comparison is deterministic in both engines.
ENGINE_ORACLES["doc_source_mix"] = f"""
SELECT doc_id, source
FROM documents
WHERE {_duck_md5_u32('doc_id', 'mix:')} / 4294967296.0
      < ((CAST(substr(source, 4) AS INT) % 4) + 1) / 4.0
"""

# pii_redact over deterministically augmented text (the synthetic corpus
# contains no PII, so the query plants a varying mix of emails/IPs/
# phones keyed on doc_id — both sides build the identical string).
ENGINE_ORACLES["doc_pii_redact"] = """
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 > 0
              THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@ex'
                   || CAST(doc_id % 5 AS VARCHAR) || '.org' ELSE '' END
         || CASE WHEN doc_id % 2 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                   || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
         || CASE WHEN doc_id % 4 = 1
              THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              ELSE '' END AS t
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug
),
i AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ips,
         regexp_replace(t1, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS t2
  FROM e
)
SELECT doc_id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{4,5}')) AS BIGINT) AS n_phones,
       regexp_replace(t2, '[0-9]{3}-[0-9]{4,5}', '<PHONE>', 'g') AS redacted
FROM i
"""

# global_shuffle(documents, 8): hash shard + within-shard md5 order.
ENGINE_ORACLES["doc_global_shuffle"] = f"""
WITH k AS (
  SELECT doc_id,
         CAST({_duck_md5_u32('doc_id', 'shuf:')} % 8 AS BIGINT) AS shard,
         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM k
"""

# passage_dedup_stats(documents, block_words=8, max_dup_frac=0.5):
# fixed 8-word blocks, corpus-wide occurrence counts, per-doc dup
# fraction; LEFT JOIN keeps block-less short docs (NULL stats, keep).
ENGINE_ORACLES["doc_passage_dedup"] = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) // 8 AS nb
  FROM documents
),
blocks AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, nb - 1),
                b -> array_to_string(ws[b * 8 + 1 : b * 8 + 8], ' '))) AS blk
  FROM docs WHERE nb >= 1
),
freq AS (SELECT blk, count(*) AS occ FROM blocks GROUP BY blk),
per_doc AS (
  SELECT b.doc_id, count(*) AS n_blocks,
         sum(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM blocks b JOIN freq f ON b.blk = f.blk
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_blocks, 0) AS BIGINT) AS n_blocks,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT)    AS n_dup_blocks,
       round(CASE WHEN p.n_blocks > 0
             THEN CAST(p.n_dup AS DOUBLE) / CAST(p.n_blocks AS DOUBLE) END, 6) AS dup_frac,
       COALESCE(round(CAST(p.n_dup AS DOUBLE) / CAST(p.n_blocks AS DOUBLE), 6) <= 0.5,
                TRUE) AS keep
FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

# lm_perplexity (operators/lm.py): bigram LM trained on the trusted
# slice (source <> 'src0'), add-0.5 smoothing over the context row,
# every doc scored. Counts are exact integers and the smoothing
# arithmetic is replayed term-for-term, so the only float work is
# ln/exp of identical doubles (round(6) absorbs sum-order ulps).
# DuckDB zips the two equal-length unnests positionally — the bigram
# stream without structs.
ENGINE_ORACLES["doc_lm_ppl"] = """
WITH tok AS (
  SELECT doc_id, source,
         list_prepend('<s>', string_split(text, ' ')) AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, source,
         unnest(arr[1:len(arr) - 1]) AS w1,
         unnest(arr[2:len(arr)])     AS w2
  FROM tok
),
bi AS (
  SELECT w1, w2, count(*) AS c_bi FROM bg
  WHERE source <> 'src0' GROUP BY w1, w2
),
ctx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bi GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vs FROM bi),
lp AS (
  SELECT b.doc_id,
         ln((CAST(COALESCE(bi.c_bi, 0) AS DOUBLE) + 0.5)
            / (CAST(COALESCE(ctx.c_ctx, 0) AS DOUBLE) + 0.5 * v.vs)) AS l
  FROM bg b
  LEFT JOIN bi  ON b.w1 = bi.w1 AND b.w2 = bi.w2
  LEFT JOIN ctx ON b.w1 = ctx.w1
  CROSS JOIN v
),
per AS (
  SELECT doc_id, count(*) AS n, sum(l) AS slp FROM lp GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS n_bigrams,
       round(-p.slp / p.n, 6) AS nll,
       round(exp(-p.slp / p.n), 6) AS ppl
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per p ON d.doc_id = p.doc_id
"""

# dataset_split (operators/curation.py): hash-range train/val/test.
# Thresholds are the EXACT integers curation.split_thresholds emits for
# (train .9, val .05, test .05) — cumulative float sums floored to the
# 2^32 hash range once in Python (0.9 -> 3865470566,
# 0.9 + 0.05 = 0.9500000000000001 -> 4080218931); the comparison is
# pure integer, so no float boundary can split the engines.
# tests/test_curation.py pins these literals to split_thresholds().
ENGINE_ORACLES["doc_split"] = f"""
SELECT doc_id, source,
       CASE WHEN {_duck_md5_u32("doc_id", "split:")} < 3865470566 THEN 'train'
            WHEN {_duck_md5_u32("doc_id", "split:")} < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

# corpus_sample (operators/curation.py): deterministic k-per-source
# sampling. Unweighted = k smallest md5 hashes (uniform without
# replacement); weighted = Efraimidis–Spirakis exponential clocks
# key = -ln((u32+0.5)/2^32) / n_chars, k smallest. Ranking compares
# round(key, 12) with a doc_id tie-break on BOTH engines so a libm-ULP
# difference in ln() can never flip the k-th/(k+1)-th boundary.
ENGINE_ORACLES["doc_sample_k"] = f"""
WITH s AS (
  SELECT doc_id, source, {_duck_md5_u32("doc_id", "sample:")} AS sample_u32
  FROM documents
), r AS (
  SELECT doc_id, source, sample_u32,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY sample_u32, doc_id) AS BIGINT) AS rn
  FROM s
)
SELECT doc_id, source, sample_u32, rn FROM r WHERE rn <= 10
"""

ENGINE_ORACLES["doc_sample_weighted"] = f"""
WITH s AS (
  SELECT doc_id, source, {_duck_md5_u32("doc_id", "sample:")} AS sample_u32,
         CAST(n_chars AS DOUBLE) AS w
  FROM documents
  WHERE n_chars > 0
), kx AS (
  SELECT doc_id, source, sample_u32,
         -ln((CAST(sample_u32 AS DOUBLE) + 0.5) / 4294967296.0) / w AS key
  FROM s
), r AS (
  SELECT doc_id, source, sample_u32, key,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY round(key, 12), doc_id) AS BIGINT) AS rn
  FROM kx
)
SELECT doc_id, source, sample_u32, round(key, 6) AS sample_key, rn
FROM r WHERE rn <= 10
"""

# media_audio_compressed: golden parquet written by
# scripts/gen_media_audio_golden.py — an INDEPENDENT scalar
# implementation of the G.711 mu-law/A-law expansion and the IMA ADPCM
# state machine from the published specs (no engine import); container
# sizes are closed-form RIFF arithmetic.
ENGINE_ORACLES["media_audio_compressed"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_audio_24.parquet')
"""

# media_flac_decode: FLAC is lossless, so the golden
# (scripts/gen_media_flac_golden.py) recomputes features from the raw
# content samples — no codec in the loop; the engine decode must
# reproduce the content bit-for-bit.
ENGINE_ORACLES["media_flac_decode"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_flac_16.parquet')
"""

# exact_substring_dedup (operators/curation.py): Lee-et-al-style span
# removal — every 8-word gram occurring elsewhere in the corpus is cut
# from all but its globally-first (doc_id, pos) occurrence; overlapping
# spans merge by coverage union. The oracle replays the whole thing in
# SQL including the RECONSTRUCTED clean text (string_agg over the
# uncovered words in position order), so the value hash pins the exact
# words removed, not just the counts.
ENGINE_ORACLES["doc_substring_dedup"] = """
WITH docs AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(generate_series(0, n - 8)) AS p,
         unnest(list_transform(generate_series(0, n - 8),
                q -> md5(array_to_string(w[q + 1:q + 8], ' ')))) AS h
  FROM docs WHERE n >= 8
),
marks AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
    FROM grams
  ) WHERE rn > 1
),
words AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS pos, unnest(w) AS word
  FROM docs
),
cov AS (
  SELECT wd.doc_id AS doc_id, wd.pos AS pos, wd.word AS word,
         max(CASE WHEN m.p IS NOT NULL THEN 1 ELSE 0 END) AS c
  FROM words wd
  LEFT JOIN marks m
    ON wd.doc_id = m.doc_id AND m.p <= wd.pos AND wd.pos < m.p + 8
  GROUP BY wd.doc_id, wd.pos, wd.word
),
agg AS (
  SELECT doc_id, sum(c) AS removed,
         COALESCE(string_agg(word, ' ' ORDER BY pos)
                  FILTER (WHERE c = 0), '') AS clean
  FROM cov GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(d.n AS INTEGER) AS n_words,
       CAST(a.removed AS INTEGER) AS tokens_removed,
       round(CAST(a.removed AS DOUBLE) / d.n, 6) AS dup_frac,
       a.clean AS clean_text
FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""
# NULL-text note for doc_substring_dedup: the engine keeps unmeasurable
# rows with NULL stats (score-every-row contract); a NULL text yields no
# word rows, so the LEFT JOIN reproduces the all-NULL row instead of
# dropping it (d.n is already NULL for those rows, matching n_words).

# media_jpeg_lossless: SOF3 is lossless, so the golden
# (scripts/gen_media_jpegls_golden.py) recomputes features from the raw
# content images AND n_bytes from an independent scalar replay of the
# Annex H prediction/Huffman wire size — no engine code in the loop.
ENGINE_ORACLES["media_jpeg_lossless"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_jpegls_16.parquet')
"""

# containment_pairs (operators/dedup.py): asymmetric near-dup — pairs
# sharing a rare (df 2..64) 5-word shingle, verified with the exact
# intersection over ALL distinct shingles; both directional
# containments reported, max >= 0.8 kept. The engine's exact-collapse
# fast path must be invisible in the output (the oracle is the naive
# full replay).
ENGINE_ORACLES["doc_containment_pairs"] = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS d,
         unnest(list_distinct(list_transform(generate_series(0, n - 5),
                q -> array_to_string(w[q + 1:q + 5], ' ')))) AS s
  FROM docs WHERE n >= 5
),
sizes AS (SELECT d, count(*) AS nsh FROM sh GROUP BY d),
idx AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 64),
cands AS (
  SELECT DISTINCT a.d AS d1, b.d AS d2
  FROM sh a JOIN idx USING (s) JOIN sh b USING (s)
  WHERE a.d < b.d
),
inter AS (
  SELECT a.d AS d1, b.d AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.d < b.d
  JOIN cands c ON c.d1 = a.d AND c.d2 = b.d
  GROUP BY a.d, b.d
)
SELECT i.d1 AS d1, i.d2 AS d2, CAST(i.i AS BIGINT) AS inter,
       CAST(s1.nsh AS BIGINT) AS n1, CAST(s2.nsh AS BIGINT) AS n2,
       round(CAST(i.i AS DOUBLE) / s1.nsh, 6) AS c1,
       round(CAST(i.i AS DOUBLE) / s2.nsh, 6) AS c2
FROM inter i JOIN sizes s1 ON i.d1 = s1.d JOIN sizes s2 ON i.d2 = s2.d
WHERE greatest(round(CAST(i.i AS DOUBLE) / s1.nsh, 6),
               round(CAST(i.i AS DOUBLE) / s2.nsh, 6)) >= 0.8
"""

# DSIR data selection (operators/dsir.py): hashed unigram+bigram bag,
# add-alpha bucket model target-vs-raw, per-doc log importance weight,
# deterministic md5-Gumbel perturbation, fixed-threshold selection.
# Target slice = lang 'en'; n_buckets=1024, alpha=1.0, threshold=0.0.
# ln() of the same exact-integer counts on both engines; round(6)
# BEFORE the >= comparison pins the boundary to 6 decimals (engine
# does the same).
ENGINE_ORACLES["doc_dsir_select"] = f"""
WITH words AS (
  SELECT doc_id, (lang = 'en') AS tgt, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, tgt, unnest(ws) AS gram FROM words
  UNION ALL
  SELECT doc_id, tgt,
         unnest(ws[1:len(ws) - 1]) || ' ' || unnest(ws[2:len(ws)]) AS gram
  FROM words WHERE len(ws) >= 2
),
hashed AS (
  SELECT doc_id, tgt,
         CAST({_duck_md5_u32('gram', 'dsir:')} % 1024 AS BIGINT) AS bucket
  FROM grams
),
bstats AS (
  SELECT bucket,
         count(*) AS c_raw,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM hashed GROUP BY bucket
),
tot AS (SELECT sum(c_raw) AS r_tot, sum(c_tgt) AS t_tot FROM bstats),
ratio AS (
  SELECT bucket,
         ln(CAST(c_tgt AS DOUBLE) + CAST(1.0 AS DOUBLE))
         - ln(CAST(t.t_tot AS DOUBLE) + CAST(1024.0 AS DOUBLE))
         - ln(CAST(c_raw AS DOUBLE) + CAST(1.0 AS DOUBLE))
         + ln(CAST(t.r_tot AS DOUBLE) + CAST(1024.0 AS DOUBLE)) AS lr
  FROM bstats CROSS JOIN tot t
),
w AS (
  SELECT h.doc_id, sum(r.lr) AS logw
  FROM hashed h JOIN ratio r USING (bucket)
  GROUP BY h.doc_id
),
scored AS (
  SELECT w.doc_id, w.logw,
         w.logw - ln(-ln((CAST({_duck_md5_u32('w.doc_id', 'dsir-g:')} AS DOUBLE)
                          + CAST(0.5 AS DOUBLE))
                         / CAST(4294967296.0 AS DOUBLE))) AS gscore
  FROM w
)
SELECT d.doc_id,
       round(s.logw, 6)   AS logw6,
       round(s.gscore, 6) AS gscore6,
       COALESCE(round(s.gscore, 6) >= CAST(0.0 AS DOUBLE), FALSE) AS selected
FROM (SELECT doc_id FROM documents) d
LEFT JOIN scored s ON d.doc_id = s.doc_id
"""

# media_webp_decode: VP8L is lossless, so the golden
# (scripts/gen_media_webp_golden.py) recomputes features from the raw
# content pixels — no codec in the loop; the engine decode must
# reproduce the content bit-for-bit.
ENGINE_ORACLES["media_webp_decode"] = f"""
SELECT * FROM read_parquet('{_GOLDEN}/media_webp_16.parquet')
"""

# doc_semdedup: SemDeDup (operators/semdedup.py) with the
# oracle-replayable quantizer (train_iters=0): anchors are the 8
# corpus vectors with the smallest (md5(id), id); assignment is
# nearest-anchor by cosine (ties -> smallest cid); within a cluster,
# max_prior_sim is the max cosine to any member ordered earlier under
# (cent_sim ASC NULLS LAST, id ASC); keep = no prior above eps=0.30.
ENGINE_ORACLES["doc_semdedup"] = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
anch AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cid,
         e, nrm
  FROM v
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 8
),
scored AS (
  SELECT vv.vec_id, a.cid,
         list_dot_product(vv.e, a.e) / nullif(vv.nrm * a.nrm, 0) AS cs
  FROM v vv CROSS JOIN anch a
),
asg AS (
  SELECT vec_id, cid, cs AS cent_sim FROM (
    SELECT vec_id, cid, cs,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC NULLS LAST, cid) AS rk
    FROM scored
  ) q WHERE rk = 1
),
ordm AS (
  SELECT vec_id, cid, cent_sim,
         row_number() OVER (PARTITION BY cid
                            ORDER BY cent_sim ASC NULLS LAST, vec_id) AS pos
  FROM asg
),
prior AS (
  SELECT a.vec_id,
         max(list_dot_product(va.e, vb.e) / nullif(va.nrm * vb.nrm, 0)) AS mps
  FROM ordm a
  JOIN ordm b ON b.cid = a.cid AND b.pos < a.pos
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  GROUP BY a.vec_id
)
SELECT o.vec_id, o.cid,
       round(o.cent_sim, 6) AS cent_sim,
       round(p.mps, 6) AS max_prior_sim,
       coalesce(p.mps < CAST(0.30 AS DOUBLE), TRUE) AS keep
FROM ordm o LEFT JOIN prior p ON p.vec_id = o.vec_id
"""

# knn_pq_top3: product-quantization ADC (operators/pq.py) with the
# oracle-replayable codebooks (train_iters=0): per 8-dim subspace the
# codewords are the subvectors of the 16 corpus vectors with the
# smallest (md5(id), id), L2-normalized row-wise first. Encode picks
# the argmin ||x - c||^2 codeword via the |x|^2+|c|^2-2xc expansion
# (ties -> smallest codeword index), a query's score is the sum of its
# 8 subspace inner products with the assigned codewords, top-3 by
# (score desc, nid asc), self-matches excluded.
ENGINE_ORACLES["knn_pq_top3"] = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
vn AS (
  SELECT vec_id,
         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm)
              ELSE list_transform(e, x -> CAST(0 AS DOUBLE)) END AS u
  FROM v
),
samp AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS j,
         u
  FROM vn
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
subs AS (SELECT unnest(generate_series(0, 7)) AS s),
cw AS (
  SELECT sb.s, p.j, p.u[sb.s * 8 + 1 : sb.s * 8 + 8] AS c
  FROM subs sb CROSS JOIN samp p
),
sv AS (
  SELECT n.vec_id, sb.s, n.u[sb.s * 8 + 1 : sb.s * 8 + 8] AS x
  FROM vn n CROSS JOIN subs sb
),
enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT sv.vec_id, sv.s, cw.j,
           row_number() OVER (PARTITION BY sv.vec_id, sv.s
             ORDER BY list_dot_product(sv.x, sv.x)
                      + list_dot_product(cw.c, cw.c)
                      - 2 * list_dot_product(sv.x, cw.c) ASC, cw.j) AS rk
    FROM sv JOIN cw ON cw.s = sv.s
  ) q WHERE rk = 1
),
qs AS (
  SELECT vec_id AS qid, s, x AS qx FROM sv WHERE vec_id < 20
),
scores AS (
  SELECT qs.qid, e.vec_id AS nid,
         sum(list_dot_product(qs.qx, cw.c)) AS score
  FROM enc e
  JOIN cw ON cw.s = e.s AND cw.j = e.code
  JOIN qs ON qs.s = e.s
  WHERE qs.qid <> e.vec_id
  GROUP BY qs.qid, e.vec_id
)
SELECT qid, nid, round(score, 6) AS score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT qid, nid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, nid) AS rank
  FROM scores
) q WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# HyperLogLog rollup oracles (operators/hll_rollup.py). The engine's
# splitmix64 hash is replayed EXACTLY in SQL: DuckDB raises on 64-bit
# multiply overflow, so the two wraparound multiplies are done in
# 32-bit halves with HUGEINT intermediates and an explicit mod 2^64
# (verified bit-equal to the numpy uint64 path over the full token
# domain in tests/test_hll_rollup.py). rho uses length(bin(w)) —
# DuckDB's bin() of a UBIGINT is its minimal binary string, so its
# length IS bit_length, exactly; the engine's numpy side uses integer
# binary search for the same reason (float log2 misrounds above 2^53).
# All derived register quantities (harmonic denominator, zero count)
# are integers; the only doubles are one shared pre-multiplied alpha
# constant, an IEEE int->double conversion, and libm ln on the 256
# possible linear-counting inputs — each bit-identical across engines.

def _sm64_mulmod_sql(a: str, c: int) -> str:
    """(a * c) mod 2^64 with HUGEINT-safe 32-bit-half products."""
    clo, chi = c & 0xFFFFFFFF, c >> 32
    return (
        f"CAST((CAST(({a}) % 4294967296 AS HUGEINT) * {clo} + "
        f"((CAST(({a}) // 4294967296 AS HUGEINT) * {clo} + "
        f"CAST(({a}) % 4294967296 AS HUGEINT) * {chi}) % 4294967296) "
        f"* 4294967296) % 18446744073709551616 AS UBIGINT)"
    )


def _sm64_hash_sql(src: str, keys: str, pfx: str = "") -> str:
    """CTE chain hashing column ``tok`` of CTE ``src`` -> CTE
    ``{pfx}hsh`` with (keys..., h) where h is the full splitmix64
    UBIGINT. ``pfx`` namespaces the chain so one query can hash two
    different token sources (e.g. corpus + probe set)."""
    return f"""
{pfx}hx0 AS (SELECT {keys}, tok,
        CAST((CAST(tok AS HUGEINT) + 11400714819323198485)
             % 18446744073709551616 AS UBIGINT) AS z0 FROM {src}),
{pfx}hx1 AS (SELECT *, xor(z0, z0 >> 30) AS z1 FROM {pfx}hx0),
{pfx}hx2 AS (SELECT *, {_sm64_mulmod_sql('z1', 0xBF58476D1CE4E5B9)} AS z2 FROM {pfx}hx1),
{pfx}hx3 AS (SELECT *, xor(z2, z2 >> 27) AS z3 FROM {pfx}hx2),
{pfx}hx4 AS (SELECT *, {_sm64_mulmod_sql('z3', 0x94D049BB133111EB)} AS z4 FROM {pfx}hx3),
{pfx}hsh AS (SELECT {keys}, xor(z4, z4 >> 31) AS h FROM {pfx}hx4)"""


def _sm64_chain_sql(src: str, keys: str) -> str:
    """CTE chain hashing column ``tok`` of CTE ``src`` -> CTE ``hll_br``
    with (keys..., bucket, rho). p=8, 56 rho bits."""
    return f"""{_sm64_hash_sql(src, keys)},
hll_br AS (SELECT {keys},
       CAST(h >> 56 AS INTEGER) AS bucket,
       CASE WHEN h % CAST(72057594037927936 AS UBIGINT) = 0
            THEN 57
            ELSE 57 - length(bin(h % CAST(72057594037927936 AS UBIGINT)))
       END AS rho
FROM hsh)"""


_HLL_ALPHA_NUM = "CAST('1.3249790702834051e+19' AS DOUBLE)"

_HLL_EST = f"""round(CASE
    WHEN {_HLL_ALPHA_NUM} / hll_denom <= CAST(640 AS DOUBLE)
         AND hll_zeros > 0
    THEN CAST(256 AS DOUBLE)
         * ln(CAST(256 AS DOUBLE) / CAST(hll_zeros AS DOUBLE))
    ELSE {_HLL_ALPHA_NUM} / hll_denom
END, 6)"""

_HLL_SERIES = """series AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_id) AS BIGINT) - 1 AS rn,
         CAST(round(value) AS BIGINT) AS tok
  FROM events
)"""

ENGINE_ORACLES["rollup_hll_distinct"] = f"""
WITH {_HLL_SERIES},
{_sm64_chain_sql('series', 'doc_id, source, rn')},
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 16 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 64
),
w AS (
  SELECT b.doc_id, b.source, t.tier, t.wlen,
         CAST(floor(b.rn / t.wlen) AS BIGINT) AS window_idx,
         b.bucket, b.rho
  FROM hll_br b CROSS JOIN tiers t
),
regs AS (
  SELECT doc_id, source, tier, wlen, window_idx, bucket,
         max(rho) AS r, CAST(count(*) AS BIGINT) AS cnt
  FROM w GROUP BY ALL
),
tot AS (
  SELECT doc_id, source, tier, window_idx,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM regs GROUP BY doc_id, source, tier, window_idx, wlen
  HAVING sum(cnt) = wlen
)
SELECT doc_id, source, tier, window_idx, n, hll_zeros, hll_denom,
       {_HLL_EST} AS est_distinct
FROM tot
"""

# Retention path: tier 1 recomputed directly from raw events — the
# engine computes it ONLY by max-merging the materialized tier-0
# register blobs (hll_cascade_from_store), and register max is exact,
# so the two must agree bit-for-bit on every column.
ENGINE_ORACLES["rollup_hll_cascade"] = f"""
WITH {_HLL_SERIES},
{_sm64_chain_sql('series', 'doc_id, source, rn')},
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 64) AS BIGINT) AS window_idx, bucket, rho
  FROM hll_br
),
regs AS (
  SELECT doc_id, source, window_idx, bucket,
         max(rho) AS r, CAST(count(*) AS BIGINT) AS cnt
  FROM w GROUP BY ALL
),
tot AS (
  SELECT doc_id, source, window_idx,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM regs GROUP BY doc_id, source, window_idx
  HAVING sum(cnt) = 64
)
SELECT doc_id, source, CAST(1 AS INTEGER) AS tier, window_idx, n,
       hll_zeros, hll_denom, {_HLL_EST} AS est_distinct
FROM tot
"""

# Cross-document sketch union: distinct tokens per SOURCE, registers
# max-merged across every document of the source (the combiner-friendly
# distributed-union shape; shuffle volume O(sources x 256) per task).
ENGINE_ORACLES["hll_distinct_by_source"] = f"""
WITH {_HLL_SERIES},
{_sm64_chain_sql('series', 'source')},
regs AS (
  SELECT source, bucket, max(rho) AS r, CAST(count(*) AS BIGINT) AS cnt
  FROM hll_br GROUP BY ALL
),
tot AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM regs GROUP BY source
)
SELECT source, n, hll_zeros, hll_denom, {_HLL_EST} AS est_distinct
FROM tot
"""


# Timestamp-windowed HLL continuous aggregate (hll_partial ->
# hll_merge -> hll_estimates over raw events): approx distinct rounded
# values per user per 30-minute window. Same exact-integer replay as
# the rollup_hll_* family, windowed by epoch_us like the other cagg
# oracles.
ENGINE_ORACLES["user_hll_30m"] = f"""
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1800000000) AS BIGINT) AS widx,
         CAST(round(value) AS BIGINT) AS tok
  FROM events WHERE value IS NOT NULL
),
{_sm64_chain_sql('ev', 'user_id, widx')},
regs AS (
  SELECT user_id, widx, bucket, max(rho) AS r
  FROM hll_br GROUP BY ALL
),
tot AS (
  SELECT user_id, widx,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM regs GROUP BY user_id, widx
)
SELECT user_id, widx, hll_zeros, hll_denom, {_HLL_EST} AS est_distinct
FROM tot
"""


# ---------------------------------------------------------------------------
# KMV bottom-k sketch oracles (operators/kmv_sketch.py). Hashes are
# splitmix64 >> 1 (63-bit, BIGINT-safe in both engines with unsigned
# order preserved); every compared quantity is an integer and the only
# doubles are the exact constant (k-1)*2^63 and IEEE divisions — no
# transcendentals, no rounding boundary to defend.

_KMV_K = 128
_KMV_CONST = "CAST('1.1713682486805565e+21' AS DOUBLE)"  # (128-1)*2^63

_KMV_TOP = f"""{_HLL_SERIES},
{_sm64_hash_sql('series', 'source')},
hs AS (SELECT DISTINCT source, CAST(h >> 1 AS BIGINT) AS h63 FROM hsh),
rk AS (SELECT source, h63,
              row_number() OVER (PARTITION BY source ORDER BY h63) AS rn
       FROM hs),
top AS (SELECT * FROM rk WHERE rn <= {_KMV_K})"""

ENGINE_ORACLES["kmv_distinct_by_source"] = f"""
WITH {_KMV_TOP},
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM series GROUP BY source),
agg AS (SELECT source, CAST(count(*) AS BIGINT) AS kmv_size,
               max(h63) AS kmv_kth
        FROM top GROUP BY source)
SELECT n.source, n.n, agg.kmv_size, agg.kmv_kth,
       round(CASE WHEN agg.kmv_size < {_KMV_K}
                  THEN CAST(agg.kmv_size AS DOUBLE)
                  ELSE {_KMV_CONST} / agg.kmv_kth END, 6) AS est_distinct
FROM n JOIN agg USING (source)
"""

ENGINE_ORACLES["kmv_source_overlap"] = f"""
WITH {_KMV_TOP},
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM top) a
  JOIN (SELECT DISTINCT source FROM top) b ON a.source < b.source
),
u0 AS (
  SELECT p.sa, p.sb, t.h63,
         max(CASE WHEN t.source = p.sa THEN 1 ELSE 0 END) AS ia,
         max(CASE WHEN t.source = p.sb THEN 1 ELSE 0 END) AS ib
  FROM pairs p JOIN top t ON t.source IN (p.sa, p.sb)
  GROUP BY p.sa, p.sb, t.h63
),
ur AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h63) AS rn
       FROM u0),
uk AS (SELECT * FROM ur WHERE rn <= {_KMV_K}),
agg AS (
  SELECT sa, sb, CAST(count(*) AS BIGINT) AS union_size,
         max(h63) AS union_kth,
         CAST(sum(ia * ib) AS BIGINT) AS inter_matches
  FROM uk GROUP BY sa, sb
),
est AS (
  SELECT *, CASE WHEN union_size < {_KMV_K}
                 THEN CAST(union_size AS DOUBLE)
                 ELSE {_KMV_CONST} / union_kth END AS union_est_raw,
            CAST(inter_matches AS DOUBLE)
            / CAST(union_size AS DOUBLE) AS jacc_raw
  FROM agg
)
SELECT sa AS source_a, sb AS source_b, union_size, union_kth,
       inter_matches,
       round(union_est_raw, 6) AS union_est,
       round(jacc_raw, 6) AS jaccard_est,
       round(jacc_raw * union_est_raw, 6) AS inter_est
FROM est
"""


# Count-min sketch oracle (operators/cms_sketch.py): d=4 byte-hash rows
# x w=256 counters, state and estimates integer end-to-end. The corpus
# and the probe set are hashed by two namespaced copies of the same
# splitmix64 chain; estimates are min over rows with absent counters as
# exact zeros.
ENGINE_ORACLES["cms_token_freq_by_source"] = f"""
WITH {_HLL_SERIES},
{_sm64_hash_sql('series', 'source')},
irange AS (SELECT unnest(generate_series(0, 3)) AS i),
cms AS (
  SELECT source, i.i AS i,
         CAST((h >> (8 * i.i)) % 256 AS INTEGER) AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM hsh CROSS JOIN irange i
  GROUP BY source, i.i, col
),
probe_toks AS (
  SELECT CAST(unnest(generate_series(0, 19)) AS BIGINT) AS token,
         CAST(unnest(generate_series(0, 19)) AS BIGINT) AS tok
),
{_sm64_hash_sql('probe_toks', 'token', 'p')},
pr AS (
  SELECT token, i.i AS i,
         CAST((h >> (8 * i.i)) % 256 AS INTEGER) AS col
  FROM phsh CROSS JOIN irange i
),
grps AS (SELECT DISTINCT source FROM series)
SELECT g.source, p.token,
       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
FROM grps g CROSS JOIN pr p
LEFT JOIN cms c ON c.source = g.source AND c.i = p.i AND c.col = p.col
GROUP BY g.source, p.token
"""


# Bloom-filter decontamination oracle (operators/bloom.py): replays the
# bitmap semantics exactly — an n-gram is flagged iff ALL k=5 of its
# Kirsch-Mitzenmacher positions (md5 split into two 60-bit halves,
# idx_i = (h1 + i*h2) mod 2^20) are present in the eval position set —
# so even the deterministic false positives agree between engines.
ENGINE_ORACLES["doc_contamination_bloom"] = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 7),
                  idx -> ws[idx] || ' ' || ws[idx + 1] || ' ' || ws[idx + 2]
                         || ' ' || ws[idx + 3] || ' ' || ws[idx + 4]
                         || ' ' || ws[idx + 5] || ' ' || ws[idx + 6]
                         || ' ' || ws[idx + 7])) AS sh
    FROM words WHERE len(ws) >= 8
  ) t
),
pos AS (
  SELECT doc_id, sh, i.i AS i,
         (('0x' || substr(md5(sh), 1, 15))::BIGINT
          + i.i * ('0x' || substr(md5(sh), 16, 15))::BIGINT) % 1048576 AS p
  FROM ng CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i) i
),
evpos AS (SELECT DISTINCT p FROM pos WHERE doc_id < 20),
hitng AS (
  SELECT pos.doc_id, pos.sh
  FROM pos JOIN evpos ON evpos.p = pos.p
  GROUP BY pos.doc_id, pos.sh
  HAVING count(*) = 5
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM hitng GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) >= 1 THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


# Deletion propagation (operators/deletion.py): the store after erasing
# users with id % 7 == 3 must equal the rollup computed from raw events
# WITHOUT those users — derived mechanically from the rollup_quantiles
# oracle by filtering its series CTE.
assert ENGINE_ORACLES["rollup_quantiles"].count("FROM events") == 1
ENGINE_ORACLES["user_delete_docs"] = ENGINE_ORACLES[
    "rollup_quantiles"
].replace("FROM events", "FROM events WHERE user_id % 7 <> 3")


# --- PMI skip-gram co-occurrence (corpus statistics) ------------------------
# Token-pair association within a +-4 offset window over each user's
# series: c_xy ordered-pair counts via lead(), marginals, and the PMI
# RATIO c_xy * N / (c_x * c_y) — ln is monotone, so ranking by the
# rational ratio IS ranking by PMI while staying transcendental-free
# (one IEEE division, bit-stable across engines; ties broken by
# (x, y)). Top 50 pairs with support >= 5.
_PMI_BODY = """
pairs0 AS (
  SELECT tok AS x,
         lead(tok, 1) OVER (PARTITION BY user_id ORDER BY rn) AS y
  FROM series
  UNION ALL
  SELECT tok, lead(tok, 2) OVER (PARTITION BY user_id ORDER BY rn)
  FROM series
  UNION ALL
  SELECT tok, lead(tok, 3) OVER (PARTITION BY user_id ORDER BY rn)
  FROM series
  UNION ALL
  SELECT tok, lead(tok, 4) OVER (PARTITION BY user_id ORDER BY rn)
  FROM series
),
p AS (SELECT x, y FROM pairs0 WHERE y IS NOT NULL),
cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY x, y),
cx AS (SELECT x, CAST(count(*) AS BIGINT) AS cl FROM p GROUP BY x),
cy AS (SELECT y, CAST(count(*) AS BIGINT) AS cr FROM p GROUP BY y),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM p)
SELECT cxy.x, cxy.y, cxy.c,
       round(CAST(cxy.c * tot.t AS DOUBLE)
             / CAST(cx.cl * cy.cr AS DOUBLE), 6) AS pmi_ratio
FROM cxy
JOIN cx ON cx.x = cxy.x
JOIN cy ON cy.y = cxy.y
CROSS JOIN tot
WHERE cxy.c >= 5
ORDER BY pmi_ratio DESC, cxy.x, cxy.y
LIMIT 50
"""

QUERIES["user_pmi_pairs"] = _q2(
    """
WITH series AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         CAST(round(value) AS INT) AS tok
  FROM events
),""" + _PMI_BODY,
    """
WITH series AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),""" + _PMI_BODY,
)


# Distributed-PCA sufficient statistics (operators/pca.py): the d x d
# covariance assembled from one Arrow pass of (sum, Gram, count)
# partials. Both engines compute sum(xi*xj)/n - (sum(xi)/n)*(sum(xj)/n)
# in the same operation order; summation-order noise (~1e-13 relative)
# is absorbed by the shared round(,6). The eigendecomposition itself is
# NOT SQL-expressible — it is pytest-verified through algebraic
# invariants (tests/test_pca.py) instead of driver-oracled.
ENGINE_ORACLES["emb_covariance"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
idx AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (SELECT e.vec_id, i.i, v[i.i] AS xi FROM e CROSS JOIN idx i),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
m AS (SELECT i, sum(xi) AS s FROM x GROUP BY i),
g AS (
  SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS s
  FROM x a JOIN x b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
)
SELECT g.i - 1 AS i, g.j - 1 AS j,
       round(g.s / nn.n - (ma.s / nn.n) * (mb.s / nn.n), 6) AS cov
FROM g
JOIN m ma ON ma.i = g.i
JOIN m mb ON mb.i = g.j
CROSS JOIN nn
"""


# HLL resolution router: 64-token buckets (engine: window=8 store,
# tier-1 = 32-token registers, residual 2-way merge) recomputed from raw
# events; the engine serves them from stored tier-1 (64-token) register
# state with a residual 2-way max merge — exactness of the merge means
# the two must agree bit-for-bit. tier column = the SERVING tier (1).
ENGINE_ORACLES["rollup_hll_resolution_8"] = f"""
WITH {_HLL_SERIES},
{_sm64_chain_sql('series', 'doc_id, source, rn')},
w AS (
  SELECT doc_id, source,
         CAST(floor(rn / 64) AS BIGINT) AS window_idx, bucket, rho
  FROM hll_br
),
regs AS (
  SELECT doc_id, source, window_idx, bucket,
         max(rho) AS r, CAST(count(*) AS BIGINT) AS cnt
  FROM w GROUP BY ALL
),
tot AS (
  SELECT doc_id, source, window_idx,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM regs GROUP BY doc_id, source, window_idx
  HAVING sum(cnt) = 64
)
SELECT doc_id, source, CAST(1 AS INTEGER) AS tier, window_idx, n,
       hll_zeros, hll_denom, {_HLL_EST} AS est_distinct
FROM tot
"""


# Fused rollup oracle (operators/fused_rollup.py): ONE SQL query
# recomputes all three aggregate families per window — ALG moments
# (integer-token sums are exact in float64, same finalize op order as
# the flagship oracle), exact order statistics (integer threshold
# arithmetic), and the HLL register summary (shared splitmix chain).
# ac1_td is excluded here (pytest asserts fused == rollup_tiers
# bit-exact for it); everything else is value-compared.
ENGINE_ORACLES["rollup_fused"] = f"""
WITH {_HLL_SERIES},
{_sm64_chain_sql('series', 'doc_id, source, rn')},
tiers AS (
  SELECT CAST(0 AS INTEGER) AS tier, 16 AS wlen
  UNION ALL SELECT CAST(1 AS INTEGER), 64
),
w AS (
  SELECT s.doc_id, s.source, t.tier, t.wlen,
         CAST(floor(s.rn / t.wlen) AS BIGINT) AS window_idx, s.tok
  FROM series s CROSS JOIN tiers t
),
alg AS (
  SELECT doc_id, source, tier, wlen, window_idx,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(tok) AS DOUBLE) AS s1,
         CAST(sum(tok * tok) AS DOUBLE) AS s2,
         CAST(count(*) AS DOUBLE) AS nd
  FROM w GROUP BY doc_id, source, tier, wlen, window_idx
  HAVING count(*) = wlen
),
a1 AS (SELECT *, s1 / nd AS mean FROM alg),
a2 AS (
  SELECT *, greatest((s2 - nd * (mean * mean)) / (nd - 1.0), 0.0) AS var
  FROM a1
),
a3 AS (
  SELECT *, sqrt(var) AS std,
         sqrt(var) / nullif(mean, 0.0) AS r
  FROM a2
),
vc AS (
  SELECT doc_id, tier, window_idx, tok, CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY doc_id, tier, window_idx, tok
),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY doc_id, tier, window_idx
                         ORDER BY tok) AS cumc
  FROM vc
),
hstat AS (
  SELECT doc_id, tier, window_idx,
         CAST(sum(c) AS BIGINT) AS hn,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS maxc
  FROM vc GROUP BY doc_id, tier, window_idx
),
hist AS (
  SELECT h.doc_id, h.tier, h.window_idx, h.n_distinct,
         CAST(min(c.tok) FILTER (WHERE c.c = h.maxc) AS INTEGER)
           AS mode_tok,
         CAST(min(c.tok) FILTER (WHERE 100 * c.cumc >= 50 * h.hn)
              AS INTEGER) AS p50
  FROM hstat h
  JOIN cum c ON c.doc_id = h.doc_id AND c.tier = h.tier
            AND c.window_idx = h.window_idx
  GROUP BY h.doc_id, h.tier, h.window_idx, h.n_distinct
),
hw AS (
  SELECT b.doc_id, t.tier, t.wlen,
         CAST(floor(b.rn / t.wlen) AS BIGINT) AS window_idx,
         b.bucket, b.rho
  FROM hll_br b CROSS JOIN tiers t
),
hregs AS (
  SELECT doc_id, tier, window_idx, bucket, max(rho) AS r
  FROM hw GROUP BY ALL
),
hll AS (
  SELECT doc_id, tier, window_idx,
         CAST(256 - count(*) AS INTEGER) AS hll_zeros,
         CAST(sum(CAST(1 AS BIGINT) << (48 - least(r, 48)))
              + (256 - count(*)) * CAST(281474976710656 AS BIGINT)
              AS BIGINT) AS hll_denom
  FROM hregs GROUP BY doc_id, tier, window_idx
)
SELECT a.doc_id, a.source, a.tier, a.window_idx, a.n,
       round(a.mean, 6) AS mean_v,
       round(a.var, 6) AS var_v,
       round(a.std, 6) AS std_v,
       round((a.r - 1.0) / (a.r + 1.0), 6) AS burst_b,
       round((sqrt(a.nd + 1.0) * a.r - sqrt(a.nd - 1.0))
             / nullif((sqrt(a.nd + 1.0) - 2.0) * a.r
                      + sqrt(a.nd - 1.0), 0.0), 6) AS burst_b_kim,
       h.n_distinct, h.mode_tok, h.p50,
       l.hll_zeros, l.hll_denom, {_HLL_EST.replace('hll_denom', 'l.hll_denom').replace('hll_zeros', 'l.hll_zeros')} AS est_distinct
FROM a3 a
JOIN hist h ON h.doc_id = a.doc_id AND h.tier = a.tier
           AND h.window_idx = a.window_idx
JOIN hll l ON l.doc_id = a.doc_id AND l.tier = a.tier
          AND l.window_idx = a.window_idx
"""


# Temperature mixing (curation.temperature_mix, tau=0.5): sources are
# grouped src-number mod 7 (the uniform synthetic corpus needs derived
# skew: groups of 3 sources vs 2), rate = sqrt(n_min/n_g), keep iff the
# md5-uniform < rate. sqrt is correctly rounded in every engine, so the
# comparison is bit-stable.
ENGINE_ORACLES["doc_temperature_mix"] = f"""
WITH d AS (
  SELECT doc_id, source,
         'g' || CAST(CAST(substr(source, 4) AS INT) % 7 AS VARCHAR)
           AS sgroup
  FROM documents
),
c AS (SELECT sgroup, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY sgroup),
mn AS (SELECT min(n) AS nmin FROM c),
r AS (
  SELECT sgroup, sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
  FROM c CROSS JOIN mn
)
SELECT d.doc_id, d.source, d.sgroup, round(r.rate, 6) AS rate
FROM d JOIN r ON r.sgroup = d.sgroup
WHERE {_duck_md5_u32('doc_id', 'tmix:')} / 4294967296.0 < r.rate
"""


# Token PageRank oracle (operators/token_graph.py): the 4 fixed power
# iterations UNROLLED as SQL layers (a float convergence test would be
# engine-dependent; a recursive CTE cannot aggregate per step). Same
# operation order as the numpy iteration — (1-d)/n + d*(contrib +
# dangling/n), edge contribution w * (r/out_w) — with summation-order
# noise absorbed by the shared round(,6).

def _pagerank_sql(iters: int = 4) -> str:
    d = "CAST('0.85' AS DOUBLE)"
    head = f"""
WITH series AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         CAST(round(value) AS BIGINT) AS tok
  FROM events
),
p AS (
  SELECT tok AS x, lead(tok, 1) OVER (PARTITION BY user_id ORDER BY rn) AS y FROM series
  UNION ALL
  SELECT tok, lead(tok, 2) OVER (PARTITION BY user_id ORDER BY rn) FROM series
  UNION ALL
  SELECT tok, lead(tok, 3) OVER (PARTITION BY user_id ORDER BY rn) FROM series
  UNION ALL
  SELECT tok, lead(tok, 4) OVER (PARTITION BY user_id ORDER BY rn) FROM series
),
e AS (
  SELECT x, y, CAST(count(*) AS DOUBLE) AS w
  FROM p WHERE y IS NOT NULL GROUP BY x, y
),
nodes AS (
  SELECT DISTINCT t FROM (
    SELECT x AS t FROM e UNION ALL SELECT y FROM e
  ) u
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ow AS (SELECT x, sum(w) AS ow FROM e GROUP BY x),
r0 AS (
  SELECT t, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn
)"""
    layers = []
    for k in range(1, iters + 1):
        prev = f"r{k - 1}"
        layers.append(f""",
c{k} AS (
  SELECT e.y AS t, sum(e.w * ({prev}.r / ow.ow)) AS c
  FROM e JOIN {prev} ON {prev}.t = e.x JOIN ow ON ow.x = e.x
  GROUP BY e.y
),
d{k} AS (
  SELECT coalesce(sum({prev}.r), CAST(0 AS DOUBLE)) AS dang
  FROM {prev} LEFT JOIN ow ON ow.x = {prev}.t
  WHERE ow.x IS NULL
),
r{k} AS (
  SELECT nodes.t,
         (CAST(1 AS DOUBLE) - {d}) / nn.n
         + {d} * (coalesce(c{k}.c, CAST(0 AS DOUBLE)) + d{k}.dang / nn.n)
           AS r
  FROM nodes CROSS JOIN nn CROSS JOIN d{k}
  LEFT JOIN c{k} ON c{k}.t = nodes.t
)""")
    tail = f"""
SELECT t AS token, round(r, 6) AS rank FROM r{iters}
"""
    return head + "".join(layers) + tail


ENGINE_ORACLES["user_token_pagerank"] = _pagerank_sql(4)


# --- corpus vocabulary diagnostics ------------------------------------------
# Head coverage (Zipf diagnostic): fraction of a source's token mass
# carried by its 10 most frequent tokens (count desc, token asc ties).
# Integer counts + one final division.
QUERIES["user_head_mass"] = _q2(
    """
WITH series AS (
  SELECT concat('evt', CAST(pmod(user_id, 4) AS STRING)) AS source,
         CAST(round(value) AS INT) AS tok
  FROM events
),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM series GROUP BY source, tok),
r AS (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY cnt DESC, tok) AS rn
      FROM c),
t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total,
             CAST(sum(CASE WHEN rn <= 10 THEN cnt ELSE 0 END) AS BIGINT)
               AS head
      FROM r GROUP BY source)
SELECT source, total, head,
       round(CAST(head AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS head_mass
FROM t
""",
    """
WITH series AS (
  SELECT 'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM series GROUP BY source, tok),
r AS (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY cnt DESC, tok) AS rn
      FROM c),
t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total,
             CAST(sum(CASE WHEN rn <= 10 THEN cnt ELSE 0 END) AS BIGINT)
               AS head
      FROM r GROUP BY source)
SELECT source, total, head,
       round(CAST(head AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS head_mass
FROM t
""",
)

# Embedding hygiene per label: count, zero-norm count, and the norm
# range (the gate a pipeline applies before ANN indexing — zero-norm
# vectors cosine as NULL everywhere). Norms via the same
# sum-of-squares + sqrt on both sides; round absorbs fold-order noise.
QUERIES["emb_norm_stats"] = _q2(
    """
WITH n AS (
  SELECT label,
         sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
                        (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM n GROUP BY label
""",
    """
WITH n AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM n GROUP BY label
""",
)


# Deterministic fixed-size per-source sample (eval-slice carving): the
# 3 docs per source with the smallest md5(doc_id) — a uniform sample
# that is reproducible across runs, engines and cluster sizes, and
# insertion-stable in expectation (a new doc displaces at most one).
QUERIES["doc_sample_per_source"] = _q2(
    """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
           AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS INT) AS rn FROM r WHERE rn <= 3
""",
    """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 3
""",
)


# Cross-source distribution drift (Jensen-Shannon divergence, bits):
# the standard monitor a training pipeline runs when a new crawl slice
# lands — how far has each source's token distribution moved from the
# others? JSD = (KL(P||M) + KL(Q||M)) / 2 with M = (P+Q)/2 over the
# UNION vocabulary (tokens absent from one side contribute their full
# 0.5*p*log2(2) mass, so partial-overlap vocabularies are handled
# exactly — no smoothing needed since JSD is finite at q=0).
# Plan shape at scale: one shuffle to (source, tok) counts, then the
# tiny source-pair table (s*(s-1)/2 rows) broadcast against the count
# table and re-grouped — vocabulary is never collected, and nothing is
# quadratic in tokens. Integer counts divide into probabilities only
# once, so both engines see identical IEEE inputs; the final sum is
# rounded in-query on both sides.
QUERIES["source_drift_jsd"] = _q2(
    """
WITH series AS (
  SELECT concat('evt', CAST(pmod(user_id, 4) AS STRING)) AS source,
         CAST(round(value) AS INT) AS tok
  FROM events
),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM series GROUP BY source, tok),
t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
      FROM c GROUP BY source),
probs AS (
  SELECT c.source, c.tok,
         CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS pr
  FROM c JOIN t ON c.source = t.source
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM c) a
  JOIN (SELECT DISTINCT source FROM c) b ON a.source < b.source
),
u AS (
  SELECT pr.sa, pr.sb, x.tok,
         sum(CASE WHEN x.source = pr.sa THEN x.pr
                  ELSE CAST(0 AS DOUBLE) END) AS p,
         sum(CASE WHEN x.source = pr.sb THEN x.pr
                  ELSE CAST(0 AS DOUBLE) END) AS q
  FROM pairs pr JOIN probs x ON x.source IN (pr.sa, pr.sb)
  GROUP BY pr.sa, pr.sb, x.tok
)
SELECT sa, sb,
       CAST(count(*) AS BIGINT) AS union_tokens,
       CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_tokens,
       round(sum(
           CASE WHEN p > 0
                THEN 0.5 * p * ln(CAST(2 AS DOUBLE) * p / (p + q))
                ELSE CAST(0 AS DOUBLE) END
         + CASE WHEN q > 0
                THEN 0.5 * q * ln(CAST(2 AS DOUBLE) * q / (p + q))
                ELSE CAST(0 AS DOUBLE) END
       ) / ln(CAST(2 AS DOUBLE)), 6) AS jsd_bits
FROM u
GROUP BY sa, sb
""",
    """
WITH series AS (
  SELECT 'evt' || CAST(user_id % 4 AS VARCHAR) AS source,
         CAST(round(value) AS INTEGER) AS tok
  FROM events
),
c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM series GROUP BY source, tok),
t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
      FROM c GROUP BY source),
probs AS (
  SELECT c.source, c.tok,
         CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS pr
  FROM c JOIN t ON c.source = t.source
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM c) a
  JOIN (SELECT DISTINCT source FROM c) b ON a.source < b.source
),
u AS (
  SELECT pr.sa, pr.sb, x.tok,
         sum(CASE WHEN x.source = pr.sa THEN x.pr
                  ELSE CAST(0 AS DOUBLE) END) AS p,
         sum(CASE WHEN x.source = pr.sb THEN x.pr
                  ELSE CAST(0 AS DOUBLE) END) AS q
  FROM pairs pr JOIN probs x ON x.source IN (pr.sa, pr.sb)
  GROUP BY pr.sa, pr.sb, x.tok
)
SELECT sa, sb,
       CAST(count(*) AS BIGINT) AS union_tokens,
       CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_tokens,
       round(sum(
           CASE WHEN p > 0
                THEN 0.5 * p * ln(CAST(2 AS DOUBLE) * p / (p + q))
                ELSE CAST(0 AS DOUBLE) END
         + CASE WHEN q > 0
                THEN 0.5 * q * ln(CAST(2 AS DOUBLE) * q / (p + q))
                ELSE CAST(0 AS DOUBLE) END
       ) / ln(CAST(2 AS DOUBLE)), 6) AS jsd_bits
FROM u
GROUP BY sa, sb
""",
)

# ---------------------------------------------------------------------------
# Full-text relevance search (operators/search.py): BM25 top-k retrieval and
# TF-IDF keyword extraction. Engine side is the operator (explode -> partial
# aggregates, broadcast df_t/corpus stats, TakeOrderedAndProject /
# WindowGroupLimit top-k); the oracle replays the exact scoring formula in
# SQL. Scores rounded to 6 IN-QUERY on both sides; ordering uses the rounded
# score with a deterministic tiebreak so libm ULPs cannot flip a boundary.

ENGINE_ORACLES["doc_bm25_topk"] = """
WITH bl AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bl),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(sum(
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (t.tf + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
           ), 6) AS score6,
         count(*) AS n_terms_hit
  FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT rank, doc_id, score6, n_terms_hit FROM (
  SELECT row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank,
         doc_id, score6, n_terms_hit
  FROM scored
) q WHERE rank <= 10
"""

ENGINE_ORACLES["doc_tfidf_keywords"] = """
WITH bl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
stats AS (SELECT count(*) AS n_docs FROM bl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM bl) t
  GROUP BY doc_id, term
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
sc AS (
  SELECT t.doc_id, t.term,
         round(t.tf * ln(CAST(s.n_docs AS DOUBLE) / d.df_t), 6) AS tfidf6
  FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
)
SELECT doc_id, kw_rank, term, tfidf6 FROM (
  SELECT doc_id, term, tfidf6,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf6 DESC, term
         ) AS kw_rank
  FROM sc
) q WHERE kw_rank <= 3
"""

# The persistent inverted index (operators/search_index.py) must score
# IDENTICALLY to the ad-hoc corpus-scan scorer — so its oracle IS the
# ad-hoc oracle, even though the Spark side runs build -> delta append
# -> partition-pruned probe against the materialized postings.
ENGINE_ORACLES["doc_bm25_index_topk"] = ENGINE_ORACLES["doc_bm25_topk"]

# Hybrid retrieval (search.hybrid_rrf_topk): reciprocal-rank fusion of
# the BM25 top-50 (same scoring CTEs as doc_bm25_topk) with the cosine
# top-50 around the doc-0 embedding. Both rank lists order by rounded
# scores with id tiebreaks, and rrf = 1/(60+rank) on integer ranks is a
# correctly-rounded IEEE division — bit-identical across engines.
ENGINE_ORACLES["doc_hybrid_rrf"] = """
WITH bl AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bl),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
bm_scored AS (
  SELECT t.doc_id,
         round(sum(
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (t.tf + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
           ), 6) AS score6
  FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
  GROUP BY t.doc_id
),
bm AS (
  SELECT doc_id, r_bm25 FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score6 DESC, doc_id) AS r_bm25
    FROM bm_scored
  ) q WHERE r_bm25 <= 50
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
cosed AS (
  SELECT c.vec_id AS doc_id,
         round(list_dot_product(c.e, q.qe)
               / nullif(sqrt(list_dot_product(c.e, c.e))
                        * sqrt(list_dot_product(q.qe, q.qe)),
                        CAST(0.0 AS DOUBLE)), 6) AS cos6
  FROM v c CROSS JOIN qv q
  WHERE c.vec_id <> 0
),
cs AS (
  SELECT doc_id, r_cos FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos6 DESC, doc_id) AS r_cos
    FROM cosed WHERE cos6 IS NOT NULL
  ) q WHERE r_cos <= 50
),
fused AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id, b.r_bm25, c.r_cos,
         round(
           coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + b.r_bm25),
                    CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + c.r_cos),
                      CAST(0.0 AS DOUBLE)), 6) AS fused6
  FROM bm b FULL OUTER JOIN cs c ON b.doc_id = c.doc_id
)
SELECT rank, doc_id, fused6, r_bm25, r_cos FROM (
  SELECT row_number() OVER (ORDER BY fused6 DESC, doc_id) AS rank,
         doc_id, fused6, r_bm25, r_cos
  FROM fused
) q WHERE rank <= 10
"""

# The index-served hybrid (search.hybrid_rrf_indexed) must value-match
# the scan-based hybrid at full probe — indexed BM25 is bit-equal to
# the ad-hoc scorer by its own gate, and full-probe IVF is exact — so
# its oracle IS the scan hybrid's SQL (appended below its definition).
ENGINE_ORACLES["doc_hybrid_rrf_indexed"] = ENGINE_ORACLES["doc_hybrid_rrf"]

# RM3 pseudo-relevance feedback (search.bm25_rm3_topk): pass-1 BM25
# top-10 feedback docs -> normalized (tf/dl)*score6 expansion weights
# (round-6, top-10 by weight/term) -> interpolated second pass
# 0.5*s0 + 0.5*sum(w6*contrib) over the full corpus. Every ordering
# boundary is on rounded values, so the replay is ordering-exact.
ENGINE_ORACLES["doc_bm25_rm3"] = """
WITH bl AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bl),
tf1 AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dft1 AS (SELECT term, count(*) AS df_t FROM tf1 GROUP BY term),
s1 AS (
  SELECT t.doc_id,
         round(sum(
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (t.tf + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
           ), 6) AS score6
  FROM tf1 t JOIN dft1 d USING (term) CROSS JOIN stats s
  GROUP BY t.doc_id
),
fb AS (
  SELECT doc_id, score6 FROM (
    SELECT doc_id, score6,
           row_number() OVER (ORDER BY score6 DESC, doc_id) AS rn
    FROM s1
  ) q WHERE rn <= 10
),
fbtf AS (
  SELECT w.doc_id, w.dl, f.score6, w.term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) w
  JOIN fb f USING (doc_id)
  GROUP BY w.doc_id, w.dl, f.score6, w.term
),
ew AS (
  SELECT term,
         sum(tf / CAST(dl AS DOUBLE) * score6) AS w
  FROM fbtf
  WHERE term NOT IN ('dup', 'spark', 'hash', 'join')
  GROUP BY term
),
tot AS (SELECT sum(w) AS wtot FROM ew),
exp AS (
  SELECT term, w6 FROM (
    SELECT e.term,
           round(e.w / nullif(t.wtot, CAST(0.0 AS DOUBLE)), 6) AS w6
    FROM ew e CROSS JOIN tot t
  ) q WHERE w6 IS NOT NULL
  ORDER BY w6 DESC, term ASC LIMIT 10
),
tf2 AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
     OR term IN (SELECT term FROM exp)
  GROUP BY doc_id, dl, term
),
dft2 AS (SELECT term, count(*) AS df_t FROM tf2 GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(
           CAST(0.5 AS DOUBLE) * sum(CASE
             WHEN t.term IN ('dup', 'spark', 'hash', 'join') THEN
               ln(CAST(1.0 AS DOUBLE)
                  + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
             ELSE CAST(0.0 AS DOUBLE) END)
           + CAST(0.5 AS DOUBLE) * sum(CASE
             WHEN t.term NOT IN ('dup', 'spark', 'hash', 'join') THEN
               coalesce(e.w6, CAST(0.0 AS DOUBLE))
               * ln(CAST(1.0 AS DOUBLE)
                    + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
             ELSE CAST(0.0 AS DOUBLE) END), 6) AS score6,
         CAST(sum(CASE WHEN t.term NOT IN ('dup', 'spark', 'hash', 'join')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_exp_hit
  FROM tf2 t JOIN dft2 d USING (term) CROSS JOIN stats s
  LEFT JOIN exp e ON e.term = t.term
  GROUP BY t.doc_id
)
SELECT rank, doc_id, score6, n_exp_hit FROM (
  SELECT row_number() OVER (ORDER BY score6 DESC, doc_id) AS rank,
         doc_id, score6, n_exp_hit
  FROM scored WHERE score6 > 0
) q WHERE rank <= 10
"""


# MMR diversified re-rank (search.mmr_topk): greedy k=5 selection from
# the BM25 top-20 pool, obj = 0.7*rel - 0.3*max-cos-to-selected, every
# boundary on round-6 values. The greedy recurrence is unrolled to 5
# chained argmax stages (aggregates are not allowed in a recursive
# term, and k is a fixed literal here).
ENGINE_ORACLES["doc_mmr_rerank"] = """
WITH bl AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bl),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(sum(
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (t.tf + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
           ), 6) AS score6
  FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
  GROUP BY t.doc_id
),
cand AS (
  SELECT doc_id, score6 FROM (
    SELECT doc_id, score6,
           row_number() OVER (ORDER BY score6 DESC, doc_id) AS rn
    FROM scored
  ) q WHERE rn <= 20
),
mx AS (SELECT max(score6) AS relmax FROM cand),
c AS (
  SELECT doc_id,
         round(score6 / nullif(m.relmax, CAST(0.0 AS DOUBLE)), 6) AS rel
  FROM cand CROSS JOIN mx m
  WHERE score6 / nullif(m.relmax, CAST(0.0 AS DOUBLE)) IS NOT NULL
),
v AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS e FROM embeddings),
ce AS (SELECT c.doc_id, v.e FROM c JOIN v USING (doc_id)),
sim AS (
  SELECT da, db, cs FROM (
    SELECT a.doc_id AS da, b.doc_id AS db,
           round(list_dot_product(a.e, b.e)
                 / nullif(sqrt(list_dot_product(a.e, a.e))
                          * sqrt(list_dot_product(b.e, b.e)),
                          CAST(0.0 AS DOUBLE)), 6) AS cs
    FROM ce a JOIN ce b ON a.doc_id <> b.doc_id
  ) q WHERE cs IS NOT NULL
),
p1 AS (
  SELECT doc_id, obj FROM (
    SELECT doc_id, round(CAST(0.7 AS DOUBLE) * rel, 6) AS obj FROM c
  ) q ORDER BY obj DESC, doc_id LIMIT 1
),
sel2 AS (SELECT doc_id FROM p1),
o2 AS (
  SELECT c.doc_id,
         round(CAST(0.7 AS DOUBLE) * c.rel
               - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                 * coalesce(m.ms, CAST(0.0 AS DOUBLE)), 6) AS obj
  FROM c LEFT JOIN (
    SELECT da, max(cs) AS ms FROM sim
    WHERE db IN (SELECT doc_id FROM sel2) GROUP BY da
  ) m ON m.da = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel2)
),
p2 AS (SELECT doc_id, obj FROM o2 ORDER BY obj DESC, doc_id LIMIT 1),
sel3 AS (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2),
o3 AS (
  SELECT c.doc_id,
         round(CAST(0.7 AS DOUBLE) * c.rel
               - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                 * coalesce(m.ms, CAST(0.0 AS DOUBLE)), 6) AS obj
  FROM c LEFT JOIN (
    SELECT da, max(cs) AS ms FROM sim
    WHERE db IN (SELECT doc_id FROM sel3) GROUP BY da
  ) m ON m.da = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel3)
),
p3 AS (SELECT doc_id, obj FROM o3 ORDER BY obj DESC, doc_id LIMIT 1),
sel4 AS (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2 UNION ALL SELECT doc_id FROM p3),
o4 AS (
  SELECT c.doc_id,
         round(CAST(0.7 AS DOUBLE) * c.rel
               - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                 * coalesce(m.ms, CAST(0.0 AS DOUBLE)), 6) AS obj
  FROM c LEFT JOIN (
    SELECT da, max(cs) AS ms FROM sim
    WHERE db IN (SELECT doc_id FROM sel4) GROUP BY da
  ) m ON m.da = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel4)
),
p4 AS (SELECT doc_id, obj FROM o4 ORDER BY obj DESC, doc_id LIMIT 1),
sel5 AS (SELECT doc_id FROM p1 UNION ALL SELECT doc_id FROM p2 UNION ALL SELECT doc_id FROM p3 UNION ALL SELECT doc_id FROM p4),
o5 AS (
  SELECT c.doc_id,
         round(CAST(0.7 AS DOUBLE) * c.rel
               - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                 * coalesce(m.ms, CAST(0.0 AS DOUBLE)), 6) AS obj
  FROM c LEFT JOIN (
    SELECT da, max(cs) AS ms FROM sim
    WHERE db IN (SELECT doc_id FROM sel5) GROUP BY da
  ) m ON m.da = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel5)
),
p5 AS (SELECT doc_id, obj FROM o5 ORDER BY obj DESC, doc_id LIMIT 1)
SELECT CAST(1 AS BIGINT) AS rank, doc_id, obj AS obj6 FROM p1
UNION ALL SELECT CAST(2 AS BIGINT) AS rank, doc_id, obj AS obj6 FROM p2
UNION ALL SELECT CAST(3 AS BIGINT) AS rank, doc_id, obj AS obj6 FROM p3
UNION ALL SELECT CAST(4 AS BIGINT) AS rank, doc_id, obj AS obj6 FROM p4
UNION ALL SELECT CAST(5 AS BIGINT) AS rank, doc_id, obj AS obj6 FROM p5
"""


# Corpus snapshot diff (curation.corpus_diff): per-doc status between
# documents and a deterministically mutated copy, by md5 fingerprint.
ENGINE_ORACLES["doc_corpus_diff"] = """
WITH o AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents
),
n0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' x' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
),
n AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(length(text) AS BIGINT) AS nc
  FROM n0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.nc AS n_chars_old, n.nc AS n_chars_new
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


# Hard-negative mining (similarity.hard_negatives): per-query top-3 by
# round-6 cosine below the 0.95 near-dup band, nid tiebreak.
ENGINE_ORACLES["emb_hard_negatives"] = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         round(list_dot_product(q.e, c.e)
               / nullif(sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(c.e, c.e)),
                        CAST(0.0 AS DOUBLE)), 6) AS cos6
  FROM v q JOIN v c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT qid, neg_rank, nid, cos6 FROM (
  SELECT qid, nid, cos6,
         row_number() OVER (
           PARTITION BY qid ORDER BY cos6 DESC, nid ASC
         ) AS neg_rank
  FROM pairs
  WHERE cos6 IS NOT NULL AND cos6 < CAST(0.95 AS DOUBLE)
) t WHERE neg_rank <= 3
"""


# Tower rank agreement (search.tower_rank_correlation): Spearman rho +
# Kendall tau over the docs both towers rank in their top-50; integer
# arithmetic until the final round-6 divisions.
ENGINE_ORACLES["search_tower_rankcorr"] = """
WITH bl AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bl),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bl) t
  WHERE term IN ('dup', 'spark', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
bm_scored AS (
  SELECT t.doc_id,
         round(sum(
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
             * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             / (t.tf + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * t.dl / nullif(s.avgdl, 0.0)))
           ), 6) AS score6
  FROM tf t JOIN dft d USING (term) CROSS JOIN stats s
  GROUP BY t.doc_id
),
bm AS (
  SELECT doc_id, r_bm25 FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score6 DESC, doc_id) AS r_bm25
    FROM bm_scored
  ) q WHERE r_bm25 <= 50
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
cosed AS (
  SELECT c.vec_id AS doc_id,
         round(list_dot_product(c.e, q.qe)
               / nullif(sqrt(list_dot_product(c.e, c.e))
                        * sqrt(list_dot_product(q.qe, q.qe)),
                        CAST(0.0 AS DOUBLE)), 6) AS cos6
  FROM v c CROSS JOIN qv q
  WHERE c.vec_id <> 0
),
cs AS (
  SELECT doc_id, r_cos FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos6 DESC, doc_id) AS r_cos
    FROM cosed WHERE cos6 IS NOT NULL
  ) q WHERE r_cos <= 50
),
shared AS (SELECT b.doc_id, b.r_bm25, c.r_cos FROM bm b JOIN cs c USING (doc_id)),
rr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY r_bm25 ASC) AS ra,
         row_number() OVER (ORDER BY r_cos ASC) AS rb
  FROM shared
),
sp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shared,
         sum((ra - rb) * (ra - rb)) AS sd2
  FROM rr
),
cd AS (
  SELECT sum(CASE WHEN a.rb < b.rb THEN 1 ELSE -1 END) AS cd
  FROM rr a JOIN rr b ON a.ra < b.ra
)
SELECT n_shared,
       round(CAST(1.0 AS DOUBLE)
             - CAST(6.0 AS DOUBLE) * CAST(sd2 AS DOUBLE)
               / nullif(CAST(n_shared * (n_shared * n_shared - 1) AS DOUBLE),
                        CAST(0.0 AS DOUBLE)), 6) AS spearman6,
       round(CAST(coalesce(cd.cd, 0) AS DOUBLE)
             / nullif(CAST(n_shared * (n_shared - 1) AS DOUBLE)
                      / CAST(2.0 AS DOUBLE),
                      CAST(0.0 AS DOUBLE)), 6) AS kendall6
FROM sp CROSS JOIN cd
"""


# Positive-pair mining (similarity.positive_pairs): unordered pairs at
# round-6 cosine >= 0.4 whose texts are not byte-identical.
ENGINE_ORACLES["emb_positive_pairs"] = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.e, b.e)
               / nullif(sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e)),
                        CAST(0.0 AS DOUBLE)), 6) AS cos6
  FROM v a JOIN v b ON a.vec_id < b.vec_id
),
fp AS (SELECT doc_id, md5(text) AS fp FROM documents)
SELECT p.id_a, p.id_b, p.cos6
FROM pairs p
JOIN fp fa ON fa.doc_id = p.id_a
JOIN fp fb ON fb.doc_id = p.id_b
WHERE p.cos6 IS NOT NULL AND p.cos6 >= CAST(0.4 AS DOUBLE)
  AND fa.fp IS DISTINCT FROM fb.fp
"""


# --- STL-lite seasonal decomposition (hourly) --------------------------------
# Classic TSDB decomposition over the events stream, per event_type:
# hourly means -> trend as a centered 25-point moving average (edge
# frames shrink identically in both engines' ROWS BETWEEN semantics)
# -> seasonal as the hour-of-day mean of the detrended series ->
# residual. Intermediates stay unrounded (round-6 on output absorbs
# summation-order ULPs, the house convention); all keys are integer.
_STL_BODY = """
h AS (
  SELECT event_type, CAST(floor(tus / 3600000000) AS BIGINT) AS hidx,
         avg(v) AS hv
  FROM e GROUP BY event_type, CAST(floor(tus / 3600000000) AS BIGINT)
),
t AS (
  SELECT event_type, hidx, hv,
         avg(hv) OVER (PARTITION BY event_type ORDER BY hidx
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tr
  FROM h
),
s AS (
  SELECT event_type, hidx % 24 AS hour_of_day,
         avg(hv - tr) AS seas
  FROM t GROUP BY event_type, hidx % 24
)
SELECT t.event_type, t.hidx,
       CAST(t.hidx % 24 AS BIGINT) AS hour_of_day,
       round(t.hv, 6) AS hourly_mean6,
       round(t.tr, 6) AS trend6,
       round(s.seas, 6) AS seasonal6,
       round(t.hv - t.tr - s.seas, 6) AS resid6
FROM t JOIN s ON s.event_type = t.event_type
            AND s.hour_of_day = t.hidx % 24
"""
QUERIES["user_stl_hourly"] = _q2(
    "WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
    + _STL_BODY,
    "WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n" + _STL_BODY,
)


# Seasonality/trend strength (Hyndman's variance-ratio features) on the
# STL-lite decomposition: F_seasonal = max(0, 1 - var(resid)/var(hv -
# trend)), F_trend = max(0, 1 - var(resid)/var(hv - seasonal)), one row
# per event_type. var_samp has identical semantics in both engines;
# round-6 absorbs summation-order ULPs.
_STL_STRENGTH_TAIL = """
, d AS (
  SELECT t.event_type, t.hv, t.tr, s.seas,
         t.hv - t.tr - s.seas AS resid
  FROM t JOIN s ON s.event_type = t.event_type
              AND s.hour_of_day = t.hidx % 24
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       round(greatest(CAST(0.0 AS DOUBLE),
         CAST(1.0 AS DOUBLE)
         - var_samp(resid) / nullif(var_samp(hv - tr),
                                    CAST(0.0 AS DOUBLE))), 6)
         AS f_seasonal6,
       round(greatest(CAST(0.0 AS DOUBLE),
         CAST(1.0 AS DOUBLE)
         - var_samp(resid) / nullif(var_samp(hv - seas),
                                    CAST(0.0 AS DOUBLE))), 6)
         AS f_trend6
FROM d GROUP BY event_type
"""
_STL_PREFIX_SPARK = (
    "WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,"
    " unix_micros(CAST(ts AS TIMESTAMP)) AS tus FROM events),\n"
)
_STL_PREFIX_DUCK = (
    "WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,"
    " epoch_us(ts) AS tus FROM events),\n"
)
_STL_CORE = _STL_BODY.split("SELECT t.event_type,")[0].rstrip()
QUERIES["user_stl_strength"] = _q2(
    _STL_PREFIX_SPARK + _STL_CORE + _STL_STRENGTH_TAIL,
    _STL_PREFIX_DUCK + _STL_CORE + _STL_STRENGTH_TAIL,
)

# Seasonally-adjusted anomaly hours: hours whose STL residual exceeds
# 3 per-type residual standard deviations (population stddev of the
# residual series; deterministic given the decomposition).
_STL_ANOM_TAIL = """
, d AS (
  SELECT t.event_type, t.hidx, t.hv, t.tr, s.seas,
         t.hv - t.tr - s.seas AS resid
  FROM t JOIN s ON s.event_type = t.event_type
              AND s.hour_of_day = t.hidx % 24
),
st AS (
  SELECT event_type, stddev_pop(resid) AS sd FROM d GROUP BY event_type
)
SELECT d.event_type, d.hidx,
       round(d.resid, 6) AS resid6,
       round(d.resid / nullif(st.sd, CAST(0.0 AS DOUBLE)), 6) AS z6
FROM d JOIN st ON st.event_type = d.event_type
WHERE abs(d.resid / nullif(st.sd, CAST(0.0 AS DOUBLE)))
      > CAST(3.0 AS DOUBLE)
"""
QUERIES["user_stl_anomaly"] = _q2(
    _STL_PREFIX_SPARK + _STL_CORE + _STL_ANOM_TAIL,
    _STL_PREFIX_DUCK + _STL_CORE + _STL_ANOM_TAIL,
)
