"""Property tests for the python-literal constant devices that keep
erf/exp/nested-ln out of gated columns: if one of these drifts, the two
query faces diverge silently, so the invariants are locked here."""

import math

from pgsf_spark.analytics.events import OBF_K, OBF_Z_FINAL, _obf_boundaries
from pgsf_spark.analytics.profiling import (
    BH_ALPHA,
    BH_M,
    GUMBEL_RL_FACTOR,
    GUMBEL_RL_T,
    HURST_WINDOWS,
    _bh_thresholds,
    _hurst_weights,
)


class TestBhThresholds:
    def test_monotone_decreasing_to_final_bound(self):
        t = _bh_thresholds()
        assert len(t) == BH_M
        assert all(a > b for a, b in zip(t, t[1:]))
        # rank m threshold is the plain two-sided bound
        assert abs(t[-1] - 1.959964) < 1e-5

    def test_matches_erf_inverse(self):
        # t_i solves 2(1 - Phi(t_i)) = alpha * i / m
        for i, t in enumerate(_bh_thresholds(), start=1):
            p = 2 * (1 - 0.5 * (1 + math.erf(t / math.sqrt(2))))
            assert abs(p - BH_ALPHA * i / BH_M) < 1e-5


class TestObfBoundaries:
    def test_shape(self):
        b = _obf_boundaries()
        assert len(b) == OBF_K
        assert all(x > y for x, y in zip(b, b[1:]))
        assert abs(b[-1] - OBF_Z_FINAL) < 1e-9
        for k, x in enumerate(b, start=1):
            assert abs(x - round(OBF_Z_FINAL * math.sqrt(OBF_K / k), 6)) < 1e-12


class TestHurstWeights:
    def test_ols_weight_identities(self):
        w = _hurst_weights()
        assert set(w) == set(HURST_WINDOWS)
        # weights sum to zero (centered) and recover slope 1 on y = ln w
        assert abs(sum(w.values())) < 1e-9
        slope = sum(w[k] * math.log(k) for k in HURST_WINDOWS)
        assert abs(slope - 1.0) < 1e-9


class TestGumbelFactor:
    def test_return_level_factor(self):
        assert abs(GUMBEL_RL_FACTOR - (-math.log(-math.log(1 - 1 / GUMBEL_RL_T)))) < 1e-12


class TestLjungBoxCritical:
    def test_chi2_even_df_closed_form(self):
        from pgsf_spark.analytics.profiling import LB_CRIT, LB_LAGS

        # even df=2m: P(X <= x) = 1 - exp(-x/2) * sum_{k<m} (x/2)^k / k!
        assert LB_LAGS % 2 == 0
        m = LB_LAGS // 2
        h = LB_CRIT / 2.0
        term, s = 1.0, 0.0
        for k in range(m):
            if k:
                term *= h / k
            s += term
        p = 1.0 - math.exp(-h) * s
        assert abs(p - 0.95) < 1e-6


class TestJarqueBeraCritical:
    def test_chi2_df2_closed_form(self):
        from pgsf_spark.analytics.profiling import JB_CRIT

        # df=2: P(X <= x) = 1 - exp(-x/2)
        assert abs((1.0 - math.exp(-JB_CRIT / 2.0)) - 0.95) < 1e-6


class TestRboWeights:
    def test_geometric_identity(self):
        from pgsf_spark.analytics.advanced import RBO_K, RBO_P, _rbo_weights

        w = _rbo_weights()
        assert len(w) == RBO_K
        # truncated geometric mass: sum = 1 - p^K
        assert abs(sum(w) - (1 - RBO_P**RBO_K)) < 1e-12
        assert all(a > b for a, b in zip(w, w[1:]))


class TestNoModuleConstantRedefinition:
    def test_each_top_level_constant_assigned_once(self):
        """A module constant assigned twice silently changes every earlier
        operator that reads it at call time (the NOVELTY_N incident) --
        ban duplicate top-level CONSTANT bindings per analytics module."""
        import ast as _ast
        import glob

        for path in sorted(glob.glob("pgsf_spark/analytics/*.py")):
            tree = _ast.parse(open(path).read())
            seen = {}
            for node in tree.body:
                if isinstance(node, _ast.Assign):
                    for t in node.targets:
                        if isinstance(t, _ast.Name) and t.id.isupper():
                            assert t.id not in seen, (
                                f"{path}: constant {t.id} assigned twice "
                                f"(lines {seen[t.id]} and {node.lineno})"
                            )
                            seen[t.id] = node.lineno


class TestNoDuplicateTestClasses:
    def test_test_modules_have_unique_class_names(self):
        """A later class with the same name silently REPLACES the earlier
        one at module scope -- pytest then never collects the shadowed
        tests (the TestBurstiness near-miss). Lock uniqueness."""
        import ast as _ast
        import glob

        for path in sorted(glob.glob("tests/test_*.py")):
            tree = _ast.parse(open(path).read())
            seen = {}
            for node in tree.body:
                if isinstance(node, _ast.ClassDef):
                    assert node.name not in seen, (
                        f"{path}: class {node.name} defined twice "
                        f"(lines {seen[node.name]} and {node.lineno})"
                    )
                    seen[node.name] = node.lineno


class TestNormalQuantileLiterals:
    def test_erf_identities(self):
        from pgsf_spark.analytics.events import (
            Z_ONE_SIDED_95,
            Z_POWER_80,
            Z_TWO_SIDED_95,
        )

        phi = lambda z: 0.5 * (1 + math.erf(z / math.sqrt(2)))
        assert abs(phi(Z_TWO_SIDED_95) - 0.975) < 1e-6
        assert abs(phi(Z_ONE_SIDED_95) - 0.95) < 1e-6
        assert abs(phi(Z_POWER_80) - 0.8) < 1e-6


class TestRegistryImportOrder:
    def test_staged_registry_importable_first(self):
        """Every module that defines registered query functions must
        import cleanly before the registry does (an import cycle through
        the registry would fail on its partly initialised module)."""
        from tests.registration_batches import (
            BATCHES,
            assert_importable_before_registry,
        )

        assert_importable_before_registry(*BATCHES)
