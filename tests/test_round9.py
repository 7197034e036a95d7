"""Round-9 hardening tests (VERDICT r08 asks + ADVICE r08).

Covers the reworked bench calibration contract (#3), the unified
audit-switch twin builders (#4), and the code-review regression pins
that followed.
"""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmod():
    spec = importlib.util.spec_from_file_location(
        "benchmod_r9", os.path.join(REPO, "bench.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


_PREV = {
    "sf": 0.1,
    "value": 200.0,
    "queries": {"a": 1.0, "b": 2.0},
    "calibration": {"spark_hash_agg_sec": 1.0, "numpy_gemm_sec": 2.0},
}


def test_bench_normalize_uses_spark_probe_only():
    """VERDICT r08 #3: the normalizer is the spark probe ratio, never
    the mean of the two probes (which over-corrects when they
    disagree — the observed r08 driver window)."""
    m = _benchmod()
    cal = {"spark_hash_agg_sec": 1.2, "numpy_gemm_sec": 2.0}
    n = m._normalize(cal, _PREV, {"a": 1.5, "b": 2.5, "c": 9.0},
                     13.0, 0.1)
    assert n["normalizer"] == "spark_probe"
    assert n["speed_ratio_vs_ref"] == 1.2
    assert n["speed_ratio_spark_probe"] == 1.2
    assert n["speed_ratio_numpy_probe"] == 1.0
    assert n["normalized_wall"] == round(13.0 / 1.2, 3)
    assert not n["probes_divergent"]
    assert "normalized_wall_unreliable" not in n
    # shared-query accounting unchanged
    assert n["shared_n"] == 2
    assert n["shared_wall_ref"] == 3.0
    assert n["shared_wall_now"] == 4.0


def test_bench_normalize_flags_divergent_probes():
    """ADVICE r08: when the per-probe ratios diverge >1.5x the
    normalized wall is explicitly marked unreliable instead of being
    printed as a trustworthy correction."""
    m = _benchmod()
    cal = {"spark_hash_agg_sec": 1.6, "numpy_gemm_sec": 2.0}
    n = m._normalize(cal, _PREV, {"a": 1.0}, 10.0, 0.1)
    assert n["probes_divergent"] is True
    assert n["normalized_wall_unreliable"] is True
    # still normalized by the spark probe — the number exists, with
    # the honesty marker attached
    assert n["speed_ratio_vs_ref"] == 1.6
    # borderline (exactly 1.5x apart) is NOT divergent
    cal2 = {"spark_hash_agg_sec": 1.5, "numpy_gemm_sec": 2.0}
    n2 = m._normalize(cal2, _PREV, {"a": 1.0}, 10.0, 0.1)
    assert n2["probes_divergent"] is False


def test_bench_normalize_guards():
    """Same-SF guard and missing-calibration guard return None (no
    apples-to-oranges normalization in the output). The record itself
    names its rep methodology, so min-of-2 walls are never compared
    with single-rep ones unawares."""
    m = _benchmod()
    cal = {"spark_hash_agg_sec": 1.0, "numpy_gemm_sec": 2.0}
    assert m._normalize(cal, _PREV, {"a": 1.0}, 10.0, 0.01) is None
    assert m._normalize({}, _PREV, {"a": 1.0}, 10.0, 0.1) is None
    prev_nocal = dict(_PREV, calibration={})
    assert m._normalize(cal, prev_nocal, {"a": 1.0}, 10.0, 0.1) is None
    rec = m._record(10.0, {"a": 1.0}, 0.1, 7)
    assert rec["reps"] == "min2_slow" and rec["order_seed"] == 7


# ---------------------------------------------------------------------------
# VERDICT r08 #4: one builder per sketch twin with an audit switch —
# registered = audit=True (exact audit columns + containment booleans),
# audit=False = the 100 TB `_detail` product shape. The two tiers must
# come from the same plan prefix so they cannot drift apart.
# ---------------------------------------------------------------------------

def _twin_pairs():
    from parking_bigdata_spark.queries import (a_scale_twins as T,
                                               a_stats2 as S2,
                                               a_stats_ext as SE)
    return [
        (T, "mad_approx_price_by_flag"),
        (T, "trimmed_mean_approx_price"),
        (T, "winsorized_approx_price_stats"),
        (T, "outlier_fences_approx"),
        (T, "quantile_summary_approx"),
        (T, "rfm_bounds_approx"),
        (T, "funnel_latency_approx_quantiles"),
        (SE, "median_ci_approx_order_value"),
        (S2, "catalog_profile_approx"),
    ]


def test_audit_switch_false_is_the_detail_form(spark, sf_dir):
    """`fn(audit=False)` must be the `_detail` product: identical
    schema AND identical rows (both paths are deterministic)."""
    for mod, name in _twin_pairs():
        fn = getattr(mod, name)
        det = getattr(mod, name + "_detail")
        a = fn(spark, sf_dir, audit=False)
        b = det(spark, sf_dir)
        assert a.schema == b.schema, name
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb, name


def test_audit_switch_true_consumes_the_detail_plan(spark, sf_dir,
                                                    monkeypatch):
    """Structural prefix proof: the registered (audit=True) form must
    BUILD ON the same detail builder — monkeypatching the detail
    function and watching it fire during the audit build proves the
    sketch plan is the shared prefix, not a parallel reimplementation.
    catalog_profile_approx shares `_catalog_pool_rows` +
    `_CATALOG_COLUMNS` instead (its audit fuses exact+sketch into one
    aggregate), so there the scaffolding is the patched choke point."""
    calls = {}
    for mod, name in _twin_pairs():
        if name == "catalog_profile_approx":
            target, key = "_catalog_pool_rows", name
        else:
            target, key = name + "_detail", name
        orig = getattr(mod, target)
        calls[key] = 0

        def wrapper(*a, _orig=orig, _key=key, **kw):
            calls[_key] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(mod, target, wrapper)
        df = getattr(mod, name)(spark, sf_dir)  # audit=True default
        assert calls[key] >= 1, name
        # and the audit shape is a real DataFrame with rows at sf0.001
        assert df.count() >= 1, name


def test_audit_switch_registry_unchanged():
    """The registry keys keep the (spark, sf_dir) callable contract —
    the audit kwarg is keyword-only with default True, so the driver
    sees the bound-as-oracle shape unchanged."""
    import inspect
    from parking_bigdata_spark import queries as Q
    reg = Q.queries()
    for mod, name in _twin_pairs():
        sig = inspect.signature(getattr(mod, name))
        p = sig.parameters["audit"]
        assert p.kind is inspect.Parameter.KEYWORD_ONLY, name
        assert p.default is True, name
        assert name in reg, name


# ---------------------------------------------------------------------------
# Code-review r09 findings — regression pins.
# ---------------------------------------------------------------------------

def _null_orders_frame(d: str, prices):
    import pandas as pd
    n = len(prices)
    pd.DataFrame({
        "o_orderkey": range(1, n + 1),
        "o_custkey": [1] * n,
        "o_orderstatus": ["F"] * n,
        "o_orderpriority": ["1-URGENT"] * n,
        "o_totalprice": pd.array(prices, dtype="float64"),
        "o_orderdate": pd.to_datetime(["2024-01-01"] * n),
    }).to_parquet(d + "/orders.parquet", index=False)


def test_median_ci_all_null_prices_both_engines(spark, tmp_path):
    """Code-review r09: an orders table whose rows ALL have NULL
    o_totalprice must take the hardened n=0 NULL-row path in BOTH
    engines for the exact key AND the twin — the SQL previously
    grouped the NULL values (n=k, constant-TRUE booleans)."""
    import duckdb
    import pandas as pd
    from parking_bigdata_spark import queries as Q
    d = str(tmp_path)
    _null_orders_frame(d, [None, None, None])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{d}/orders.parquet'")
    osql = Q.oracle_sql()
    ex = Q.queries()["median_ci_order_value"](spark, d).collect()[0]
    assert ex["n"] == 0 and ex["median"] is None
    assert ex["rank_lo"] is None
    oex = con.execute(osql["median_ci_order_value"]).df().iloc[0]
    assert oex["n"] == 0 and pd.isna(oex["median"])
    assert pd.isna(oex["rank_lo"])
    tw = Q.queries()["median_ci_approx_order_value"](
        spark, d).collect()[0]
    assert tw["n"] == 0 and tw["approx_median_in_ci"] is None
    otw = con.execute(osql["median_ci_approx_order_value"]).df().iloc[0]
    assert otw["n"] == 0 and pd.isna(otw["approx_median_in_ci"])


def test_median_ci_partial_null_prices_both_engines(spark, tmp_path):
    """NULL values carry no rank: n and every order statistic must
    come from the non-NULL values only, identically in both engines."""
    import duckdb
    from parking_bigdata_spark import queries as Q
    d = str(tmp_path)
    _null_orders_frame(d, [100.0, None, 300.0, 200.0, None])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{d}/orders.parquet'")
    ex = Q.queries()["median_ci_order_value"](spark, d).collect()[0]
    assert ex["n"] == 3 and ex["median"] == 200.0
    oex = con.execute(
        Q.oracle_sql()["median_ci_order_value"]).df().iloc[0]
    assert oex["n"] == 3 and oex["median"] == 200.0
    assert (ex["rank_lo"], ex["rank_hi"]) == \
        (int(oex["rank_lo"]), int(oex["rank_hi"]))
    assert (ex["ci_lo"], ex["ci_hi"]) == \
        (oex["ci_lo"], oex["ci_hi"])
    tw = Q.queries()["median_ci_approx_order_value"](
        spark, d).collect()[0]
    assert tw["n"] == 3 and tw["median_exact"] == 200.0
    assert tw["approx_median_in_ci"] is True


def test_audit_acc_is_the_stats_constant():
    """Code-review r09: one constant governs the exact machinery's
    accuracy — the audit alias must BE stats.EXACT_QUANTILE_ACC, and
    it must never leak into emitted accuracy columns (those carry the
    detail forms' pinned sketch accuracy)."""
    from parking_bigdata_spark.operators import stats as S
    from parking_bigdata_spark.queries import a_scale_twins as T
    assert T._AUDIT_ACC is S.EXACT_QUANTILE_ACC
    assert T._GK_ACC == 10000  # sketch accuracy stays pinned


# ---------------------------------------------------------------------------
# Second code-review pass r09 — regression pins.
# ---------------------------------------------------------------------------

def test_bench_normalize_without_numpy_probe():
    """The spark probe is the sole normalizer: a run (or reference)
    missing the numpy GEMM must still produce the normalized block,
    with the numpy ratio absent and no divergence verdict."""
    m = _benchmod()
    cal = {"spark_hash_agg_sec": 1.2}
    n = m._normalize(cal, _PREV, {"a": 1.0}, 10.0, 0.1)
    assert n is not None and n["speed_ratio_vs_ref"] == 1.2
    assert n["speed_ratio_numpy_probe"] is None
    assert n["probes_divergent"] is False
    prev_nonp = dict(_PREV, calibration={"spark_hash_agg_sec": 1.0})
    n2 = m._normalize({"spark_hash_agg_sec": 1.2, "numpy_gemm_sec": 9.0},
                      prev_nonp, {"a": 1.0}, 10.0, 0.1)
    assert n2 is not None and n2["speed_ratio_numpy_probe"] is None


def test_bench_normalize_flags_high_probe_spread():
    """A >1.5x intra-run probe spread (host speed changed MID-bench)
    marks the normalized wall unreliable even when the two probes
    agree — the min is a single least-contended moment."""
    m = _benchmod()
    cal = {"spark_hash_agg_sec": 1.0, "numpy_gemm_sec": 2.0,
           "spark_probe_spread": 2.9}
    n = m._normalize(cal, _PREV, {"a": 1.0}, 10.0, 0.1)
    assert n["probe_spread_high"] is True
    assert n["normalized_wall_unreliable"] is True
    assert n["probes_divergent"] is False
    # the reference's spread counts too
    prev_sp = dict(_PREV, calibration=dict(_PREV["calibration"],
                                           spark_probe_spread=2.0))
    n2 = m._normalize({"spark_hash_agg_sec": 1.0,
                       "numpy_gemm_sec": 2.0,
                       "spark_probe_spread": 1.1},
                      prev_sp, {"a": 1.0}, 10.0, 0.1)
    assert n2["probe_spread_high"] is True


def test_exact_quantile_acc_knob_is_defensive():
    """A malformed or non-positive SPARK_GRAFT_EXACT_QUANTILE_ACC must
    degrade to the default, never crash the package import or later
    divide by zero."""
    from parking_bigdata_spark.operators.stats import _parse_acc
    assert _parse_acc(None) == 2000
    assert _parse_acc("500") == 500
    assert _parse_acc("2e3") == 2000
    assert _parse_acc("0") == 2000
    assert _parse_acc("-5") == 2000
    assert _parse_acc("garbage") == 2000
