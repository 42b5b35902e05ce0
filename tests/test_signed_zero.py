"""Signed-zero replay contract for the closure gate queries (r8).

The driver's value hash distinguishes -0.0 from +0.0 while `==`
comparison does not, which is exactly how the r7 closure_sums_tri /
closure_classmap reds shipped. Three properties pin the fix:

1. closure_sums folds each loop's closure in the ORACLE's operand
   association — (sum of +edges) - (sum of -edges), for a triangle
   ``(d(a,b) + d(b,c)) - d(a,c)`` — so the double is bit-identical to
   the DuckDB SQL's, not merely within an ulp.
2. The gate projection replicates DuckDB's round(x, 5) exactly:
   half away from zero on x*1e5, preserving the sign of a zero result.
3. scripts/check_oracles.compare flags a planted -0.0 vs +0.0 so this
   artifact class can never again pass locally and fail at the driver.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


class TestClosureFoldOrder:
    def test_triangle_fold_matches_oracle_association(self, spark):
        # operands chosen so the two associations differ exactly:
        #   oracle (ab + bc) - ac = (1e16 + 1) - 1e16 = 0.0  (1 absorbed)
        #   old    (ab - ac) + bc = 0 + 1 = 1.0
        t = [dt.datetime(2024, 1, 1) + dt.timedelta(days=k)
             for k in range(3)]
        ab, bc, ac = 1e16, 1.0, 1e16
        rows = [("u", t[0], t[1], ab, 0.0, 0.0),
                ("u", t[1], t[2], bc, 0.0, 0.0),
                ("u", t[0], t[2], ac, 0.0, 0.0)]
        pairs = spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
                  "delta_value double, time_span double, "
                  "nan_fraction double")
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.corrections import closure_sums
        cfg = EngineConfig(max_loop_length=3,
                           max_loop_redundancy=10 ** 6, salt_buckets=4)
        out = closure_sums(pairs, cfg).toPandas()
        assert len(out) == 1
        assert out["closure"].iloc[0] == (ab + bc) - ac  # == 0.0, not 1.0

    def test_tiny_negative_closure_sign_survives_gate_round(self, spark):
        # closure = (1.0 + 1e-9) - (1.0 + 2e-9) < 0 but rounds to zero
        # at 5 dp; the gate projection must emit -0.0 like DuckDB.
        t = [dt.datetime(2024, 1, 1) + dt.timedelta(days=k)
             for k in range(3)]
        rows = [("u", t[0], t[1], 1.0 + 1e-9, 0.0, 0.0),
                ("u", t[1], t[2], 0.0, 0.0, 0.0),
                ("u", t[0], t[2], 1.0 + 2e-9, 0.0, 0.0)]
        pairs = spark.createDataFrame(
            rows, "url string, ts_first timestamp, ts_second timestamp, "
                  "delta_value double, time_span double, "
                  "nan_fraction double")
        from pyrate_spark.config import EngineConfig
        from pyrate_spark.operators.corrections import closure_sums
        import __spark_entry__ as entrymod
        cfg = EngineConfig(max_loop_length=3,
                           max_loop_redundancy=10 ** 6, salt_buckets=4)
        s = closure_sums(pairs, cfg).select(
            entrymod._duck_round5("closure").alias("closure"))
        v = s.toPandas()["closure"].to_numpy()
        assert len(v) == 1
        assert v[0] == 0.0 and np.signbit(v[0])        # -0.0 exactly

    def test_duck_round5_matches_duckdb_bitwise(self, spark):
        duckdb = pytest.importorskip("duckdb")
        import __spark_entry__ as entrymod
        rng = np.random.default_rng(11)
        xs = np.concatenate([
            rng.normal(0, 1e-5, 4000),
            rng.normal(0, 10, 4000),
            (rng.integers(-10 ** 6, 10 ** 6, 4000) + 0.5) / 1e5,
            np.array([0.0, -0.0, 1e-9, -1e-9, 1.5e-5, -1.5e-5]),
            # x * 1e5 = 0.49999999999999994: adding 0.5 rounds up to
            # 1.0, so floor(|y| + 0.5) needs the carry correction;
            # DuckDB gives 0.0
            np.array([4.9999999999999994e-06, -4.9999999999999994e-06]),
        ])
        sdf = spark.createDataFrame(pd.DataFrame({"x": xs}))
        got = (sdf.select(entrymod._duck_round5("x").alias("r"))
               .toPandas()["r"].to_numpy())
        con = duckdb.connect()
        df = pd.DataFrame({"x": xs})
        con.execute("CREATE TABLE t AS SELECT * FROM df")
        exp = con.sql("SELECT round(x, 5) r FROM t").df()["r"].to_numpy()
        assert np.array_equal(got.view(np.uint64), exp.view(np.uint64))


class TestCheckOraclesSignedZero:
    def test_compare_flags_planted_negative_zero(self):
        from scripts.check_oracles import compare
        got = pd.DataFrame({"k": ["a", "b"], "v": [0.0, 1.5]})
        exp = pd.DataFrame({"k": ["a", "b"], "v": [-0.0, 1.5]})
        problems = compare("planted", got, exp)
        assert problems and "signed-zero" in "".join(problems)
        # and identical frames (including matching -0.0) stay clean
        ok = pd.DataFrame({"k": ["a"], "v": [np.float64(-0.0)]})
        assert compare("same", ok, ok.copy()) == []
