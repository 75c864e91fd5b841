"""Driver-contract gate: every queries() entry vs its DuckDB oracle at
sf0.001 (fast tier; scripts/check_oracle.py runs the same at sf0.01)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_oracle_all_queries_match(spark, monkeypatch):
    monkeypatch.setenv("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    import importlib

    import scripts.check_oracle as co

    importlib.reload(co)
    assert co.main() == 0


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    assert "mean" in df.columns and "tier" in df.columns


def test_query_scratch_dirs_removed_at_exit(tmp_path):
    """A driver query's store or index directory (``_scratch_dir``)
    outlives the query, whose DataFrame is lazy, and is removed when the
    interpreter exits."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, sys; sys.path.insert(0, sys.argv[1]); "
        "import __spark_entry__ as em; "
        "d = em._scratch_dir('store_'); "
        "os.makedirs(os.path.join(d, 'idx', 'part')); "
        "print(d, os.path.isdir(d))"
    )
    run = subprocess.run(
        [sys.executable, "-c", code, repo], capture_output=True, text=True,
        timeout=120, env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert run.returncode == 0, run.stderr[-500:]
    d, alive = run.stdout.split()
    assert alive == "True"
    assert os.path.dirname(d) == str(tmp_path)
    assert not os.path.exists(d)


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as em

    q = em.queries()
    o = em.oracle_sql()
    # every driver query has a value-level oracle (round 3: the last
    # rows-only entry, rollup_full_events, gained a hazen-IQR oracle)
    assert set(o) == set(q)


def test_new_user_queries_mirror_kernels():
    """The 9 round-2 catalog queries must compute the same values as the
    numpy kernels they represent (SQL is the driver-checked spec; the
    kernel is the engine's extract path)."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}
    scalar_checks = {
        "user_cv1": lambda y: K.cv(y, 1),
        "user_moment3": lambda y: K.moments(y, 3),
        "user_skew_pearson": lambda y: K.custom_skewness(y, "pearson"),
        "user_trimmed_mean10": lambda y: K.trimmed_mean(y, 10.0),
        "user_rad2": lambda y: K.rad(y, 2),
        "user_nlac_012": lambda y: K.nonlinear_autocorr(y, [0, 1, 2]),
        "user_nlac_12_abs": lambda y: K.nonlinear_autocorr(y, [1, 2]),
        "user_stdnthder2": lambda y: K.std_nth_der(y, 2),
        "user_permen3": lambda y: K.perm_entropy(y, 3, 1),
        "user_distent10": lambda y: K.distribution_entropy_hist(y, 10),
    }
    for name, fn in scalar_checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            want = round(fn(y), 6)
            got = df.loc[u].iloc[0] if u in df.index else float("nan")
            assert np.isclose(got, want, atol=2e-6, equal_nan=True), (name, u)
    from pyhctsa_spark.functions.entropy import sample_entropy
    from pyhctsa_spark.functions.info import auto_mutual_info, histogram_ami

    df_ha = con.execute(QUERIES["user_histami_even10"]["duck"]).fetchdf().set_index("user_id")
    for u, y in ys.items():
        assert np.isclose(
            df_ha.loc[u].iloc[0], round(histogram_ami(y, 1, "even", 10), 6),
            atol=2e-6, equal_nan=True,
        ), u

    df_ami = con.execute(QUERIES["user_ami_gaussian"]["duck"]).fetchdf().set_index("user_id")
    for u, y in ys.items():
        want = auto_mutual_info(y, [1, 2], "gaussian")
        for col in ("ami1", "ami2"):
            assert np.isclose(
                df_ami.loc[u][col], round(want[col], 6), atol=2e-6, equal_nan=True
            ), (u, col)

    df_se = con.execute(QUERIES["user_sampen"]["duck"]).fetchdf().set_index("user_id")
    for u, y in ys.items():
        out = sample_entropy(y, 2)
        for col in ("sampen1", "sampen2"):
            want, got = out[col], df_se.loc[u][col]
            if not np.isfinite(want):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(want, 6), atol=2e-6), (u, col)
    dict_checks = {
        "user_local_global_l50": (
            lambda y: K.local_global(y, "l", 50),
            [("lg_absmean", "absmean"), ("lg_std", "std"), ("lg_median", "median")],
        ),
        "user_drift_mean20": (
            lambda y: K.drifting_mean(y, "fix", 20),
            [("drift_max", "max"), ("drift_min", "min"),
             ("drift_mean", "mean"), ("drift_meanmaxmin", "meanmaxmin"),
             ("drift_meanabsmaxmin", "meanabsmaxmin")],
        ),
    }
    for name, (fn, pairs) in dict_checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            want = fn(y)
            for sqlc, kk in pairs:
                w = want[kk]
                if u not in df.index:
                    assert np.isnan(w), (name, u)
                    continue
                assert np.isclose(
                    df.loc[u][sqlc], round(w, 6), atol=2e-6, equal_nan=True
                ), (name, u, sqlc)


def test_r2b_user_queries_mirror_kernels():
    """Round-2 continuation batch 1: ACF-derived + model-fit catalog
    queries vs the numpy kernels they represent."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.functions import model as M
    from pyhctsa_spark.functions.distribution_extra import fit_mle
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    def arcov(y):
        o = M.ar_cov(y, 1)
        return {"a2": o["a2"], "e_var": o["e"], "res_mu": o["res_mu"],
                "res_std": o["res_std"], "res_ac1": o["res_AC1"],
                "res_ac2": o["res_AC2"]}

    checks = {
        "user_timerev1": lambda y: {"timerev1": K.timerev_kaplan(y, 1)},
        "user_fitmle_gauss": lambda y: {
            "gauss_mean": fit_mle(y, "gaussian")["mean"],
            "gauss_std": fit_mle(y, "gaussian")["std"]},
        "user_fitpoly1": lambda y: {"fitpoly1_mse": K.fit_polynomial(y, 1)},
        "user_firstcross_ac": lambda y: {
            "ac_firstcross": K.first_crossing_ac(y)["firstCrossing"],
            "ac_crosspoint": K.first_crossing_ac(y)["pointOfCrossing"]},
        "user_firstmin_ac": lambda y: {"ac_firstmin": K.first_min_ac(y)},
        "user_pacf3": lambda y: {
            f"pac_{k}": M.partial_autocorr(y, 3)[f"pac_{k}"] for k in (1, 2, 3)},
        "user_vrt2": lambda y: {
            "vrt2_ratio": M.variance_ratio_test(y, 2, True)["ratio"],
            "vrt2_stat": M.variance_ratio_test(y, 2, True)["stat"]},
        "user_kpss_l0": lambda y: {
            "kpss_stat": M.kpss_test(y, 0)["stat"],
            "kpss_p": M.kpss_test(y, 0)["pValue"]},
        "user_arcov1": arcov,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            want = fn(y)
            for col, w in want.items():
                got = df.loc[u][col] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2c_user_queries_mirror_kernels():
    """Round-2 continuation batch 2: hazen-quantile, ApEn, MS-shannon,
    LocalExtrema catalog queries vs the numpy kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.functions.distribution_extra import outlier_test, pleft
    from pyhctsa_spark.functions.entropy import (
        approximate_entropy,
        shannon_entropy_ms,
    )
    from pyhctsa_spark.functions.stationarity_extra import local_extrema
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    checks = {
        "user_spread_robust": lambda y: {
            "spread_iqr": K.spread_iqr(y), "spread_mad": K.spread_mad(y),
            "spread_mead": K.spread_mead(y)},
        "user_pleft": lambda y: {"pleft": pleft(y, 0.1)},
        "user_outliertest2": lambda y: {
            "ot2_mean": outlier_test(y, 2.0)["mean"],
            "ot2_std": outlier_test(y, 2.0)["std"]},
        "user_apen1": lambda y: {"apen1": approximate_entropy(y, 1, 0.2)},
        "user_msshannon_2_3": lambda y: {
            "msshannon_2_3": shannon_entropy_ms(y, 2, 3)},
        "user_localext20": lambda y: local_extrema(y, "l", 20),
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2d_dfa_spectral_mirror_kernels():
    """Round-2 continuation batch 3: DFA-1 exponent and SP_Summaries
    'fft' subset vs the numpy kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.physics import fast_dfa
    from pyhctsa_spark.functions.spectral import spectral_summaries
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    def spec(y):
        o = spectral_summaries(y, "fft")
        return {"maxS": o["maxS"], "maxw": o["maxw"], "spec_mean": o["mean"],
                "spec_median": o["median"], "spec_std": o["std"],
                "centroid": o["centroid"], "wmax_10": o["wmax_10"],
                "wmax_90": o["wmax_90"],
                "spect_shann_ent": o["spect_shann_ent"], "sfm": o["sfm"],
                "area_2_1": o["area_2_1"], "ncross_f05": o["ncross_f05"]}

    checks = {
        "user_dfa": lambda y: {"dfa_alpha": fast_dfa(y)},
        "user_spec_fft": spec,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2e_symbolic_embedding_mirror_kernels():
    """Round-2 continuation batch 4: MotifThree, TransitionMatrix,
    TranslateShape, Embed2, AMI-stats catalog queries vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.embedding import embed2, translate_shape
    from pyhctsa_spark.functions.info import ami_stats
    from pyhctsa_spark.functions.symbolic import motif_three, transition_matrix
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    def ts(y):
        o = translate_shape(y, "circle", 2, "pts")
        ren = {"cnt_max": "max", "cnt_std": "std", "cnt_mean": "mean",
               "npatmode": "npatmode", "cnt_mode": "mode"}
        out = {k: o[v] for k, v in ren.items()}
        for k in ("ones", "twos", "threes", "fours", "fives", "statav2_m",
                  "statav2_s", "statav3_m", "statav3_s", "statav4_m",
                  "statav4_s"):
            out[k] = o[k]
        return out

    checks = {
        "user_motif3": lambda y: {
            k: motif_three(y)[k] for k in ("a", "b", "c", "h", "hh", "hhh", "hhhh")},
        "user_transmat2": lambda y: {
            k: transition_matrix(y, "quantile", 2, 1)[k] for k in
            ("T1", "T2", "T3", "T4", "ondiag", "stddiag", "symdiff",
             "symsumdiff", "stdeig", "maxeig", "mineig", "maximeig",
             "sumdiagcov", "stdeigcov", "maxeigcov")},
        "user_translate_circle2": ts,
        "user_embed2": lambda y: {
            k: embed2(y)[k] for k in
            ("theta_mean", "theta_std", "hist10std", "histent", "mean_eucdm",
             "std_eucdm", "mean_eucds", "std_eucds", "meanspana", "stdspana",
             "areas_all", "areas_50", "arearat")},
        "user_amistats_g10": lambda y: {
            k: ami_stats(y, 10, "gaussian")[k] for k in
            ("ami1", "ami2", "ami3", "ami4", "ami5", "ami6", "ami7", "ami8",
             "ami9", "ami10", "mami", "stdami", "pextrema", "fmmi",
             "pcrossmean", "amiac1")},
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2f_sweep_queries_mirror_kernels():
    """Round-2 continuation batch 5: fzcglscf, LoopLocalSimple sweep, and
    proportional-walker catalog queries vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.functions.physics import walker
    from pyhctsa_spark.plans.oracle_queries import QUERIES
    from pyhctsa_spark.plans.yaml_config import _loop_local_simple

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    def wk(y):
        o = walker(y, "prop", 0.5)
        return {k: o[k] for k in
                ("w_mean", "w_median", "w_std", "w_ac1", "w_ac2", "w_min",
                 "w_max", "w_propzcross", "sw_meanabsdiff", "sw_stdrat",
                 "sw_minrat", "sw_maxrat", "sw_propcross", "sw_ac1rat",
                 "res_ac1", "res_swss5_1")}

    checks = {
        "user_fzcglscf11": lambda y: {"fzcglscf11": K.fzcglscf(y, 1, 1)},
        "user_llsimple_mean": lambda y: _loop_local_simple(y, "mean"),
        "user_walker_prop": wk,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf().set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2g_movthresh_recursive_oracle(spark):
    """EX_MovingThreshold: engine applyInPandas kernel vs the DuckDB
    recursive-CTE oracle at sf0.001."""
    import duckdb
    import numpy as np

    import __spark_entry__ as em

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    d = con.execute(em.oracle_sql()["user_movthresh"]).fetchdf()
    s = em.queries()["user_movthresh"](spark, "/root/testdata/sf0.001").toPandas()

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if np.issubdtype(df[c].dtype, np.floating):
                df[c] = df[c].round(9)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    cs, cd = canon(s), canon(d)
    assert cs.shape == cd.shape
    assert list(cs.dtypes.astype(str)) == list(cd.dtypes.astype(str))
    for c in cs.columns:
        assert (cs[c].isna() == cd[c].isna()).all(), c
        if np.issubdtype(cs[c].dtype, np.number):
            assert np.allclose(cs[c].dropna(), cd[c].dropna(), atol=1e-9), c


def test_r2h_acshape_rangeevolve_hrv_mirror_kernels():
    """Round-2 continuation batch 7: AutoCorrShape, RangeEvolve (complete)
    and hrv_classic (complete, incl. binpicker edges + Hann periodogram)
    vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.embedding import autocorr_shape
    from pyhctsa_spark.functions.kernels import range_evolve
    from pyhctsa_spark.functions.medical import hrv_classic
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    checks = {
        "user_acshape": lambda y: {
            "nac": autocorr_shape(y)["Nac"],
            "sumacf": autocorr_shape(y)["sumacf"],
            "meanacf": autocorr_shape(y)["meanacf"],
            "nminima": autocorr_shape(y)["nminima"]},
        "user_rangeevolve": range_evolve,
        "user_hrv_classic": hrv_classic,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col.lower()] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2i_mse_rpde_rawhrv_mirror_kernels():
    """Round-2 continuation batch 8: multiscale SampEn (scales 1-2),
    recurrence-period density entropy, and rawHRVmeas vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.entropy import multiscale_entropy, rpde
    from pyhctsa_spark.functions.medical import raw_hrv_meas
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    checks = {
        "user_mse12": lambda y: multiscale_entropy(y, [1, 2]),
        "user_rpde": lambda y: rpde(y),
        "user_raw_hrv": raw_hrv_meas,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col.lower()] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2j_meantypes_fitmle_outlierinc_mirror_kernels():
    """Round-2 continuation batch 9: DN_Mean (7 measures), remaining
    Fit_mle branches, and the full DN_OutlierInclude sweep (inc=1.0)."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.distribution_extra import (
        fit_mle,
        mean_types,
        outlier_include,
    )
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    checks = {
        "user_mean_types": lambda y: {
            "m_arith": mean_types(y, "arithmetic"),
            "m_median": mean_types(y, "median"),
            "m_geom": mean_types(y, "geom"),
            "m_harm": mean_types(y, "harm"),
            "m_rms": mean_types(y, "rms"),
            "m_iqm": mean_types(y, "iqm"),
            "m_midhinge": mean_types(y, "midhinge")},
        "user_fitmle_rest": lambda y: {
            "unif_a": fit_mle(y, "uniform")["a"],
            "unif_b": fit_mle(y, "uniform")["b"],
            "geom_p": fit_mle(y, "geometric")},
        "user_outlierinc_abs": lambda y: outlier_include(y, "abs", 1.0),
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col.lower()] if u in df.index else float("nan")
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2k_ppcompare_mirror_kernel():
    """PP_Compare 'medianf4': complete 20-output ratio surface vs the
    kernel. The outlier-test thresholds are computed window-style inside
    ONE pipeline instance — a join would re-instantiate the z-score CTE
    and ulp-shift the plateau ties at the strict quantile boundary."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.stationarity_extra import preproc_compare
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_ppc_medianf3"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = preproc_compare(np.array(v, dtype=np.float64), "medianf3")
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2l_dynwin_mirror_kernel():
    """SY_DynWin: full 10-output stationarity sweep vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.stationarity_extra import dyn_win
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_dynwin"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = dyn_win(np.array(v, dtype=np.float64))
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2m_embed2dist_histamiq_removepoints_mirror_kernels():
    """Round-2 continuation batch 10: Embed2_Dist (complete),
    quantile-binned HistogramAMI, and DN_RemovePoints vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.distribution_extra import remove_points
    from pyhctsa_spark.functions.embedding import embed2_dist
    from pyhctsa_spark.functions.info import histogram_ami
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    ys = {u: np.array(v, dtype=np.float64) for u, v in series}

    def rp(y):
        o = remove_points(y, "absfar", 0.1, "remove")
        out = {"rp_mean": o["mean"], "rp_median": o["median"],
               "rp_std": o["std"]}
        for k in ("ac1rat", "ac1diff", "ac2rat", "ac2diff", "ac3rat",
                  "ac3diff", "sumabsacfdiff", "kurtosisrat"):
            out[k] = o[k]
        return out

    checks = {
        "user_embed2_dist": embed2_dist,
        "user_histami_quantile5": lambda y: {
            "histami_q5": histogram_ami(y, 1, "quantiles", 5)},
        "user_remove_points": rp,
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, y in ys.items():
            for col, w in fn(y).items():
                got = df.loc[u][col.lower()]
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2n_visibility_graph_mirror_kernel():
    """NW_VisibilityGraph 'horiz': complete 21-output degree-distribution
    surface vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.physics import visibility_graph
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_vg_horiz"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = visibility_graph(np.array(v, dtype=np.float64), "horiz")
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2o_localdists_mirror_kernel():
    """SY_LocalDistributions 'par': Scott-rule KDE L1 divergences vs the
    kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.stationarity_extra import local_distributions
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_localdists"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = local_distributions(np.array(v, dtype=np.float64), 5, "par", 200)
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2p_arfit_mirror_kernel():
    """MF_ARfit (pmin=1, pmax=2): 22 SQL-expressible outputs vs the
    kernel (res_siglev needs chi2_sf and stays engine-side)."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.model import ar_fit_select
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_arfit12"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    cols = ["A1", "A2", "maxA", "minA", "meanA", "stdA", "sumA", "rmsA",
            "sumsqA", "C", "sbc_1", "sbc_2", "fpe_1", "fpe_2", "minsbc",
            "popt_sbc", "minfpe", "popt_fpe", "pcorr_res", "aerr_min",
            "aerr_max", "aerr_mean"]
    for u, v in series:
        o = ar_fit_select(np.array(v, dtype=np.float64), 1, 2, "sbc")
        for col in cols:
            w = o[col]
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=5e-6), (u, col, got, w)


def test_r2q_binarystats_stretch_mirror_kernels():
    """SB_BinaryStats 'diff' (complete) and SB_BinaryStretch vs the
    kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.kernels import binary_stats
    from pyhctsa_spark.functions.symbolic import binary_stretch
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()

    checks = {
        "user_binarystats_diff": lambda y: binary_stats(y, "diff"),
        "user_binarystretch": lambda y: {
            "stretch1": binary_stretch(y, "lseq1"),
            "stretch0": binary_stretch(y, "lseq0")},
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, v in series:
            for col, w in fn(np.array(v, dtype=np.float64)).items():
                got = df.loc[u][col.lower()]
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2r_compare_minami_mirror_kernel():
    """CO_CompareMinAMI 'even' bins 2-10: first-minimum sweep statistics
    vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.info import compare_min_ami
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_compare_minami"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    ren = {"ami_min": "min", "ami_max": "max", "ami_range": "range",
           "ami_median": "median", "ami_mean": "mean", "ami_std": "std",
           "nunique": "nunique", "mode": "mode", "modef": "modef",
           "conv4": "conv4", "nlocmax": "nlocmax"}
    for u, v in series:
        o = compare_min_ami(np.array(v, dtype=np.float64), "even",
                            list(range(2, 11)))
        for col, k in ren.items():
            w = o[k]
            got = df.loc[u][col]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2s_ksentropy_signtest_mirror_kernels():
    """EN_DistributionEntropy 'ks' (Scott KDE differential entropy) and
    HT_HypothesisTest signtest on the diff series vs the kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.entropy import distribution_entropy
    from pyhctsa_spark.functions.model import hypothesis_test
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    checks = {
        "user_distent_ks": lambda y: {
            "distent_ks": distribution_entropy(y, "ks", 0)},
        "user_signtest_diff": lambda y: {
            "signtest_p": hypothesis_test(np.diff(y), "signtest")},
    }
    for name, fn in checks.items():
        df = con.execute(QUERIES[name]["duck"]).fetchdf()
        df.columns = [c.lower() for c in df.columns]
        df = df.set_index("user_id")
        for u, v in series:
            for col, w in fn(np.array(v, dtype=np.float64)).items():
                got = df.loc[u][col.lower()]
                if not np.isfinite(w):
                    assert got is None or np.isnan(got), (name, u, col)
                else:
                    assert np.isclose(got, round(w, 6), atol=2e-6), (
                        name, u, col, got, w)


def test_r2t_rm_information_mirror_kernel():
    """rm_information tau=1: Moddemeijer histogram MI with the automatic
    descriptor and unbiased correction vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.info import rm_information
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_rm_info1"]["duck"]).fetchdf().set_index(
        "user_id"
    )
    for u, v in series:
        w = round(rm_information(np.array(v, dtype=np.float64), 1), 6)
        assert np.isclose(df.loc[u]["rm_info1"], w, atol=2e-6), (u,)


def test_r2u_stickangles_mirror_kernel():
    """CO_StickAngles on the centered series: the full 65-output surface
    vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.embedding import stick_angles
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_stickangles"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        y = np.array(v, dtype=np.float64)
        o = stick_angles(y - y.mean())
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2v_wl_haar_mirror_kernel():
    """WL_coeffs 'db1' level 1: Haar detail decay statistics vs the
    kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.wavelet import wl_coeffs
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_wl_haar1"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = wl_coeffs(np.array(v, dtype=np.float64), "db1", 1)
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2w_surprise_mirror_kernel():
    """FC_Surprise 'dist': the seeded scan positions depend only on N
    (precomputed lookup); everything else recomputed from data."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.symbolic import surprise
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_surprise"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = surprise(np.array(v, dtype=np.float64))
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2x_periodicity_wang_mirror_kernel():
    """PD_PeriodicityWang: spline detrend via the per-N hat-matrix
    lookup; all seven threshold outputs vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.embedding import periodicity_wang
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_periodicity_wang"]["duck"]).fetchdf()
    df = df.set_index("user_id")
    for u, v in series:
        o = periodicity_wang(np.array(v, dtype=np.float64))
        for col, w in o.items():
            assert np.isclose(df.loc[u][col], round(w, 6), atol=2e-6), (
                u, col)


def test_r2y_wl_detailcoeffs_mirror_kernel():
    """WL_DetailCoeffs 'db3': per-(N, level) linear detail operators from
    the golden lookup; the full 16-output surface vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.wavelet import detail_coeffs
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_wl_detailcoeffs"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = detail_coeffs(np.array(v, dtype=np.float64))
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r2z_cwt_features_mirror_kernel():
    """WL_cwt 'db3': per-scale convolution filters from the golden
    lookup; the full 33-output surface vs the kernel."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.wavelet import cwt_features
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_cwt_features"]["duck"]).fetchdf()
    df.columns = [c.lower() for c in df.columns]
    df = df.set_index("user_id")
    for u, v in series:
        o = cwt_features(np.array(v, dtype=np.float64))
        for col, w in o.items():
            got = df.loc[u][col.lower()]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6, rtol=1e-6), (
                    u, col, got, w)


def test_r3_embed2_angletau_shapes_mirror_kernels():
    """Round-3 catalog queries: CO_Embed2_AngleTau (angle-ACF vs tau)
    and CO_Embed2_Shapes (circle-neighbor counts, tau=1 r=1 on the
    z-scored series) vs their numpy kernels."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.embedding import (
        embed2_angle_tau,
        embed2_shapes,
    )
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    at = con.execute(
        QUERIES["user_embed2_angletau"]["duck"]
    ).fetchdf().set_index("user_id")
    sh = con.execute(
        QUERIES["user_embed2_shapes"]["duck"]
    ).fetchdf().set_index("user_id")
    for u, v in series:
        y = np.array(v, dtype=np.float64)
        oa = embed2_angle_tau(y)
        for col, w in oa.items():
            got = at.loc[u][col]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)
        z = (y - y.mean()) / y.std(ddof=1)
        os_ = embed2_shapes(z, tau=1, r=1.0)
        for col, w in os_.items():
            got = sh.loc[u][col]
            if not np.isfinite(w):
                assert got is None or np.isnan(got), (u, col)
            else:
                assert np.isclose(got, round(w, 6), atol=2e-6), (u, col, got, w)


def test_r3_ami_ksg1_mirror_kernel():
    """user_ami_ksg1 (KSG-1 lag-1 AMI, k=3) vs the numpy estimator."""
    import duckdb
    import numpy as np

    from pyhctsa_spark.functions.info import mutual_info
    from pyhctsa_spark.plans.oracle_queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    series = con.execute(
        "SELECT user_id, list(value ORDER BY event_id) FROM events "
        "GROUP BY user_id ORDER BY user_id"
    ).fetchall()
    df = con.execute(QUERIES["user_ami_ksg1"]["duck"]).fetchdf().set_index(
        "user_id"
    )
    for u, v in series:
        y = np.array(v, dtype=np.float64)
        want = mutual_info(y[:-1], y[1:], "kraskov1")
        assert np.isclose(
            df.loc[u]["ami_ksg1"], round(want, 6), atol=2e-6, equal_nan=True
        ), u
