"""Overflow-bound proofs for the DECIMAL(38,0) DIV rework (r4 VERDICT
#6): q13 and q147 claim exactness "at ANY scale factor" because every
high-scale quantity leaves the query as an exact (units, micros) pair or
a DECIMAL(38,0) integral divide — never through a BIGINT intermediate
that overflows (single-column charge micros dies at sf≈9000 ≈ 9.2e18
micros; q147's old BIGINT cast died at abs(num) > 9.2e12). These tests
pin the claim with synthetic frames at BEYOND-sf-9000 magnitudes, checked
against exact Python-integer arithmetic — no big data needed, just big
values.

The query functions are exercised as registered (monkeypatching the
``_t`` table loader), so the test covers the exact expression chain the
driver runs, not a copy of it.
"""

from __future__ import annotations

import datetime
from decimal import ROUND_HALF_UP, Decimal

import pytest

from polars_pipe_spark.registry import statistics, tpch

INT64_MAX = 2**63 - 1


def _patched_table(monkeypatch, family, name, df):
    # the query looks `_t` up in its family module's globals
    real = family._t

    def fake(spark, sf, table):
        return df if table == name else real(spark, sf, table)

    monkeypatch.setattr(family, "_t", fake)


class TestQ13OverflowBounds:
    """sum_charge at these magnitudes exceeds int64 micros — the
    (units, micros) pair must still be exact."""

    PRICE = Decimal("9999999999.99")  # decimal(12,2) max
    DISC = Decimal("0.1234")
    TAX = Decimal("0.0456")
    QTY = Decimal("50.00")
    N_ROWS = 2000

    def frame(self, spark):
        rows = [
            (
                "A",
                "F",
                datetime.date(1995, 1, 1),
                self.QTY,
                self.PRICE,
                self.DISC,
                self.TAX,
            )
        ] * self.N_ROWS
        return spark.createDataFrame(
            rows,
            "l_returnflag string, l_linestatus string, l_shipdate date, "
            "l_quantity decimal(18,2), l_extendedprice decimal(18,2), "
            "l_discount decimal(18,4), l_tax decimal(18,4)",
        )

    def test_units_micros_pair_exact_past_int64(self, spark, monkeypatch):
        _patched_table(monkeypatch, tpch, "lineitem", self.frame(spark))
        out = tpch._q13_tpch_q1(spark, "ignored").collect()
        assert len(out) == 1
        r = out[0]

        disc_price = self.PRICE * (1 - self.DISC)  # exact scale 6
        charge = disc_price * (1 + self.TAX)  # exact scale 10
        # CAST(scale-10 × 1e6 AS DECIMAL(38,0)) rounds HALF_UP on the
        # residual 4 digits — mirror that, don't truncate
        total_charge_micros = int(
            (charge * self.N_ROWS * 1_000_000).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        # the point of the test: single-column micros would overflow here
        assert total_charge_micros > INT64_MAX

        assert int(r.sum_charge_units) == total_charge_micros // 10**6
        assert int(r.sum_charge_micros) == total_charge_micros % 10**6

        total_disc_micros = int(disc_price * self.N_ROWS * 1_000_000)
        assert total_disc_micros > INT64_MAX
        assert int(r.sum_disc_price_units) == total_disc_micros // 10**6
        assert int(r.sum_disc_price_micros) == total_disc_micros % 10**6

        # cents columns stay within their documented int64 bound (sf 4e5)
        assert int(r.sum_base_price_cents) == int(
            self.PRICE * 100
        ) * self.N_ROWS
        assert int(r.avg_price_micros) == int(self.PRICE * 1_000_000)
        assert r.count_order == self.N_ROWS

    def test_null_free_no_silent_nulls(self, spark, monkeypatch):
        """Spark's non-ANSI overflow path nulls silently — the whole point
        of the DECIMAL(38,0) route is that no cell comes back null."""
        _patched_table(monkeypatch, tpch, "lineitem", self.frame(spark))
        r = tpch._q13_tpch_q1(spark, "ignored").collect()[0]
        assert all(v is not None for v in r.asDict().values())


class TestQ147OverflowBounds:
    """abs(num) here is far past 9.2e12 (the old BIGINT-cast cliff) —
    slope_micros must match exact integer arithmetic."""

    def frame(self, spark):
        # 3 days of events, one per day, values at decimal(18,2) scale max
        base = datetime.datetime(2026, 1, 1)
        # ~1e15 per day: comfortably inside decimal(18,2) after the
        # double→decimal cast, yet abs(num) lands ~1e19 — six orders past
        # the 9.2e12 BIGINT-cast cliff
        vals = [
            Decimal("123456789.25"),
            Decimal("499999999999999.50"),
            Decimal("999999999999999.75"),
        ]
        rows = [
            ("burst", base + datetime.timedelta(days=i), float(v))
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )
        return df, vals, base

    def test_slope_exact_past_bigint_cliff(self, spark, monkeypatch):
        df, vals, base = self.frame(spark)
        _patched_table(monkeypatch, statistics, "events", df)
        out = {r.event_type: r for r in statistics._q147_group_trend(spark, "x").collect()}
        r = out["burst"]

        epoch = datetime.date(1970, 1, 1)
        xs = [
            (base.date() + datetime.timedelta(days=i) - epoch).days
            for i in range(3)
        ]
        # the query casts the DOUBLE to decimal(18,2). Spark's cast goes
        # through Java's BigDecimal.valueOf(double) = Double.toString =
        # the SHORTEST decimal repr of the double, NOT its exact binary
        # expansion (999999999999999.75 → "9.999999999999998E14" → .80).
        # Python's repr() is the same shortest-repr algorithm — mirror it.
        ys = [
            int(
                Decimal(repr(float(v))).quantize(
                    Decimal("0.01"), rounding=ROUND_HALF_UP
                )
                * 100
            )
            for v in vals
        ]
        n = 3
        sx, sxx = sum(xs), sum(x * x for x in xs)
        sy, sxy = sum(ys), sum(x * y for x, y in zip(xs, ys))
        num_cents = n * sxy - sx * sy
        den = n * sxx - sx * sx
        assert abs(num_cents) > 9_200_000_000_000 * 100  # past the cliff

        # num is scale-2 units; M = |num|·1e6 exactly = |num_cents|·1e4
        m_abs = abs(num_cents) * 10**4
        total_micros = m_abs // den
        # the point of the test: a single micros BIGINT would wrap here
        assert total_micros > INT64_MAX
        exp_units = m_abs // (den * 10**6)
        exp_rem = (m_abs % (den * 10**6)) // den
        assert exp_units * 10**6 + exp_rem == total_micros  # radix identity
        sign = -1 if num_cents < 0 else 1
        assert int(r.slope_units) == sign * exp_units
        assert int(r.slope_micros_rem) == sign * exp_rem

    def test_negative_num_sign_split(self, spark, monkeypatch):
        """DIV truncates toward zero in Spark but // floors in DuckDB —
        the sign-split keeps both engines on |num| DIV den. A decreasing
        trend must come back negative and exact."""
        base = datetime.datetime(2026, 1, 1)
        vals = [Decimal("500.00"), Decimal("300.00"), Decimal("100.01")]
        rows = [
            ("down", base + datetime.timedelta(days=i), float(v))
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )
        _patched_table(monkeypatch, statistics, "events", df)
        r = statistics._q147_group_trend(spark, "x").collect()[0]
        epoch = datetime.date(1970, 1, 1)
        xs = [
            (base.date() + datetime.timedelta(days=i) - epoch).days
            for i in range(3)
        ]
        ys = [int(v * 100) for v in vals]
        num_cents = 3 * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        den = 3 * sum(x * x for x in xs) - sum(xs) ** 2
        assert num_cents < 0
        m_abs = abs(num_cents) * 10**4
        assert int(r.slope_units) == -(m_abs // (den * 10**6))
        assert int(r.slope_micros_rem) == -((m_abs % (den * 10**6)) // den)


class TestMannWhitneyModel:
    """q255's exact tie-corrected U against a pure-Python midrank model
    (no scipy in this environment — the model IS the textbook formula)."""

    def model(self, a, b):
        vals = sorted(set(a + b))
        rank = {}
        pos = 0
        for v in vals:
            t = (a + b).count(v)
            rank[v] = pos + (t + 1) / 2  # average rank, 1-based
            pos += t
        r1 = sum(rank[v] for v in a)
        u = r1 - len(a) * (len(a) + 1) / 2
        return u

    def test_u_matches_model(self, spark, monkeypatch):
        import datetime

        a = [10.0, 12.0, 12.0, 15.0, 20.0]
        b = [11.0, 12.0, 13.0, 30.0]
        rows = [
            ("purchase", datetime.datetime(2026, 1, 1), v) for v in a
        ] + [("click", datetime.datetime(2026, 1, 1), v) for v in b]
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )
        real = statistics._t_par

        def fake(spark_, sf_, table):
            return df if table == "events" else real(spark_, sf_, table)

        monkeypatch.setattr(statistics, "_t_par", fake)
        r = statistics._q255_mann_whitney(spark, "x").collect()[0]
        assert r.n_a == 5 and r.n_b == 4
        assert float(r.u_stat) == self.model(a, b)
