"""Goldens for the A8/A9 interval aggregations, mirroring the reference's own
unit tests case for case (/root/reference/src/tests/test_units.py:
test_aggregate_purity_no_conflict, test_aggregate_purity_conflict,
test_aggregate_size, test_aggregate_prices, test_aggregate_energy_efficiency,
test_aggregate_production_capacity) — same inputs, same expected
key/min/max tuples, including the reference's str(float) formatting
("400000000.0", not "4.0E8").  Each case runs through
``consolidate_products`` as ONE mergeable group, so the goldens pin the
path that ships."""

from pyspark.sql import functions as F

from deduplication_challenge_spark.operators.product_merge import consolidate_products
from deduplication_challenge_spark.sources.products import INTERVAL_FIELDS, PRODUCTS_SCHEMA


def _merged(spark, field, rows):
    """rows: one entry list (or None) per product; product i gets id i + 1.
    All products share one identifier; a one-product case gets a second
    member whose field is null, which contributes no entries."""
    if len(rows) < 2:
        rows = rows + [None]
    base = {f.name: None for f in PRODUCTS_SCHEMA.fields}
    data = [
        tuple({**base, "id": i + 1, "product_identifier": "GOLDEN", field: entries}[f.name]
              for f in PRODUCTS_SCHEMA.fields)
        for i, entries in enumerate(rows)
    ]
    out = consolidate_products(spark.createDataFrame(data, PRODUCTS_SCHEMA)).collect()
    assert len(out) == 1 and out[0]["group_size"] == len(rows)
    return out[0][field] or []


def _run_interval(spark, field, rows):
    keys, _vcol = INTERVAL_FIELDS[field]
    return {tuple(e[k] for k in keys) + (e["min"], e["max"]) for e in _merged(spark, field, rows)}


def _run_energy(spark, rows):
    return {
        (e["qualitative"], e["standard_label"], e["min"], e["max"])
        for e in _merged(spark, "energy_efficiency", rows)
    }


def test_aggregate_purity_no_conflict(spark):
    rows = [
        [(False, "exact", None, "99.998")],
        [],
        [(False, "exact", None, "90.998"),
         (True, "exact", None, "high"),
         (False, "exact", None, "89.998")],
    ]
    assert _run_interval(spark, "purity", rows) == {
        (True, None, "high", "high"),
        (False, None, "89.998", "99.998"),
    }


def test_aggregate_purity_conflict(spark):
    # literal 'high' shares a key with numerics -> literal dropped
    rows = [
        [(False, "exact", None, "99.998")],
        [],
        [(False, "exact", None, "90.998"),
         (False, "exact", None, "high"),
         (False, "exact", None, "89.998")],
    ]
    assert _run_interval(spark, "purity", rows) == {
        (False, None, "89.998", "99.998"),
    }


def test_aggregate_size(spark):
    rows = [
        [("Height", False, "exact", "in", "20.7"),
         ("Width", False, "exact", "in", "16.9"),
         ("Weight", False, "exact", "lbs", "190")],
        [("Height", False, "exact", "in", "30.7"),
         ("Weight", False, "exact", "lbs", "120")],
        [("Height", False, "exact", "cm", "209")],
    ]
    assert _run_interval(spark, "size", rows) == {
        ("Weight", "lbs", "120.0", "190.0"),
        ("Height", "in", "20.7", "30.7"),
        ("Height", "cm", "209.0", "209.0"),
        ("Width", "in", "16.9", "16.9"),
    }


def test_aggregate_prices(spark):
    rows = [
        [(1796.280029296875, "AUD", "exact")],
        [(1796.280029296875, "AUD", "min"), (1975.9100341796875, "AUD", "max")],
        [],
        [(140.0, "EUR", "exact")],
        [(123.0, "EUR", "min"), (1975.9100341796875, "AUD", "max")],
    ]
    assert _run_interval(spark, "price", rows) == {
        ("EUR", "123.0", "140.0"),
        ("AUD", "1796.280029296875", "1975.9100341796875"),
    }


def test_aggregate_production_capacity(spark):
    # pins the str(float) formatting: 400000000 -> '400000000.0', not '4.0E8'
    rows = [
        [(400000000, "Year", "exact", "Units")],
        [(60000, "Month", "exact", "Units")],
        [(1000, "Day", "exact", "Kilograms")],
        [(60, "Year", "min", "Tons"), (70, "Year", "max", "Tons")],
    ]
    assert _run_interval(spark, "production_capacity", rows) == {
        ("Month", "Units", "60000.0", "60000.0"),
        ("Day", "Kilograms", "1000.0", "1000.0"),
        ("Year", "Tons", "60.0", "70.0"),
        ("Year", "Units", "400000000.0", "400000000.0"),
    }


def test_aggregate_energy_efficiency(spark):
    rows = [
        None,
        [(None, None, None, "high", None)],
        [(40.0, None, None, None, None)],
    ]
    assert _run_energy(spark, rows) == {
        (None, None, "40.0", "40.0"),
        ("high", None, "-1.0", "-1.0"),
    }


def test_energy_all_null_entry_drags_min(spark):
    # reference combine rule: an all-null entry contributes min=-1.0 even
    # when another entry of the same key has numerics
    rows = [
        [(None, None, None, "high", "A")],
        [(55.0, None, None, "high", "A")],
    ]
    assert _run_energy(spark, rows) == {("high", "A", "-1.0", "55.0")}


def test_energy_negative_values_participate(spark):
    rows = [[(-5.0, None, None, "low", "B")]]
    assert _run_energy(spark, rows) == {("low", "B", "-5.0", "-1.0")}


def test_pystr_double_matches_python_str(spark):
    """_pystr_double must reproduce Python str(float) across the magnitude
    range product data occupies (the reference stringifies bounds with
    str(float); Java's Double.toString would diverge at >= 1e7)."""
    import numpy as np

    from deduplication_challenge_spark.operators.product_merge import _pystr_double

    rng = np.random.Generator(np.random.PCG64(99))
    vals = []
    # integers at growing magnitudes (incl. the 4.0E8-style Java trap)
    for exp in range(16):
        vals.append(float(10 ** exp))
        vals.append(float(4 * 10 ** exp))
    # round decimals, float32-noise decimals, negatives
    vals += [round(float(x), rng.integers(0, 6)) for x in rng.uniform(-1e6, 1e6, 200)]
    vals += [float(np.float32(x)) for x in rng.uniform(-1e4, 1e4, 200)]
    vals += [-1.0, 0.0, 0.5, 123.0, 1796.280029296875, 1975.9100341796875]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {r["i"]: r["s"] for r in df.select("i", _pystr_double(F.col("v")).alias("s")).collect()}
    bad = [(v, got[i], str(v)) for i, v in enumerate(vals) if got[i] != str(v)]
    assert not bad, bad[:10]


def test_pystr_double_out_of_regime_is_visible(spark):
    """Outside |v| in [1e-4, 1e16) the decimal route diverges from
    str(float) — Python itself goes scientific below 1e-4 ('5e-05' vs the
    decimal route's '0.00005'), and large values NULL (overflow) or
    truncate; the guard must fall back to the plain double->string cast so
    the value stays visible and round-trips (ADVICE r2 + review r3)."""
    from deduplication_challenge_spark.operators.product_merge import _pystr_double

    vals = [1e21, -1e21, 1e-17, -1e-17, 5e22, 1e300,
            5e-05, -5e-05, 1e-10, 1.2345678901234567e-10]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {r["i"]: r["s"] for r in df.select("i", _pystr_double(F.col("v")).alias("s")).collect()}
    for i, v in enumerate(vals):
        assert got[i] is not None, v          # never silently nulled
        assert got[i] not in ("0.0", "-0.0"), v  # never collapsed to zero
        assert float(got[i]) == v, (v, got[i])   # round-trips to the value
