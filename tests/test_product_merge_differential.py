"""Differential test of the declarative product-merge engine: an
INDEPENDENT pure-pandas implementation of the policy spec (SURVEY.md §2.4 —
written from the semantics, not from the Spark code) run against
consolidate_products on a seeded random corpus. The reference's own test
strategy (golden integration corpus) extended with randomization."""

import json
from collections import Counter, defaultdict

import numpy as np
import pytest

from deduplication_challenge_spark.operators.product_merge import consolidate_products
from deduplication_challenge_spark.sources.products import (
    INTERVAL_FIELDS,
    MERGE_BY_COMPLETING_ARRAYS,
    MERGE_BY_LEAST_FREQUENT,
    MERGE_BY_LENGTHIEST_VALUE,
    MERGE_BY_MOST_FREQUENT,
    PRODUCTS_SCHEMA,
)

N_ROWS = 240
SEED = 123


# ---------------------------------------------------------------------------
# seeded random corpus
# ---------------------------------------------------------------------------

def make_corpus():
    rng = np.random.Generator(np.random.PCG64(SEED))
    ids = list(range(1, N_ROWS + 1))
    identifiers = [f"CAS-{i:03d}" for i in range(40)] + ["", "SKU: Not Available"]
    vocab = [f"v{i}" for i in range(30)]
    rows = []
    for rid in ids:
        def pick(pool):
            return pool[int(rng.integers(len(pool)))]

        def maybe(x, p=0.85):
            return x if rng.random() < p else None

        row = {f.name: None for f in PRODUCTS_SCHEMA.fields}
        row.update(
            id=rid,
            product_identifier=pick(identifiers),
            unspsc=maybe(pick(vocab[:6])),
            root_domain=maybe(pick([f"d{i}.com" for i in range(8)])),
            brand=maybe(pick(vocab[6:12])),
            product_name=maybe(pick(vocab[12:18])),
            product_title=maybe(pick(vocab[18:24])),
            description=maybe("x" * int(rng.integers(0, 40))),
            product_summary=maybe("s" * int(rng.integers(0, 30))),
            page_url=f"https://{pick([f'd{i}.com' for i in range(8)])}/p/{rid}",
            intended_industries=maybe(sorted({pick(vocab) for _ in range(int(rng.integers(0, 4)))})),
            materials=maybe(sorted({pick(vocab) for _ in range(int(rng.integers(0, 3)))})),
            eco_friendly=maybe(bool(rng.integers(2)), 0.5),
            manufacturing_year=maybe(int(rng.integers(2015, 2024)), 0.6) or -1,
            price=maybe(
                [
                    {"amount": maybe(round(float(rng.uniform(1, 500)), 2), 0.8),
                     "currency": pick(["USD", "EUR", "GBP"]),
                     "type": "exact"}
                    for _ in range(int(rng.integers(0, 3)))
                ],
                0.7,
            ),
            size=maybe(
                [
                    {"dimension": pick(["h", "w"]), "qualitative": False,
                     "type": "exact", "unit": pick(["cm", "m"]),
                     "value": pick(["10", "20.5", "tall", "tiny"])}
                    for _ in range(int(rng.integers(0, 3)))
                ],
                0.7,
            ),
            color=maybe(
                [
                    {"original": pick(["Ruby", "Sky", "Leaf"]),
                     "simple": pick(["Red", "Blue", "Green"])}
                    for _ in range(int(rng.integers(0, 3)))
                ],
                0.6,
            ),
            energy_efficiency=maybe(
                [
                    {"exact_percentage": float(pick([-1.0, 55.0, 80.0])),
                     "max_percentage": float(pick([-1.0, 90.0])),
                     "min_percentage": float(pick([-1.0, 40.0])),
                     "qualitative": pick(["high", "low"]),
                     "standard_label": pick(["A", "B"])}
                    for _ in range(int(rng.integers(0, 2)))
                ],
                0.5,
            ),
        )
        rows.append(row)
    return rows


# ---------------------------------------------------------------------------
# independent pandas oracle of the policy spec
# ---------------------------------------------------------------------------

def _valid_groups(rows):
    groups = defaultdict(list)
    for r in rows:
        pid = r["product_identifier"]
        if pid and pid != "SKU: Not Available":
            groups[pid].append(r)
    return groups


def oracle_nested(members):
    """A8/A9/A10 over ``members`` (sorted by id): the standardized interval
    fields, color and energy_efficiency, as sorted tuples.  A passthrough
    row is the one-member case."""
    out = {}
    # intervals (A8, reference controller.py:404-450): per key, numeric
    # min/max stringified; literal fallback only when no numeric for that
    # key, keeping ONE literal per key (last write in id/position order)
    for f, (keys, vcol) in INTERVAL_FIELDS.items():
        per_key = defaultdict(lambda: {"nums": [], "lit": None})
        for r in members:  # members already sorted by id
            for e in r[f] or []:
                k = tuple(e.get(c) for c in keys)
                v = e.get(vcol)
                if v is None:
                    continue
                try:
                    per_key[k]["nums"].append(float(v))
                except (TypeError, ValueError):
                    per_key[k]["lit"] = str(v)
        items = []
        for k, d in per_key.items():
            if d["nums"]:
                items.append((*k, str(min(d["nums"])), str(max(d["nums"]))))
            elif d["lit"] is not None:
                items.append((*k, d["lit"], d["lit"]))
        out[f] = sorted(items, key=lambda t: tuple((x is not None, x) for x in t))
    # color rollup (A10)
    per_orig = defaultdict(set)
    for r in members:
        for e in r["color"] or []:
            per_orig[e["original"]].add(e["simple"])
    out["color"] = sorted((o, ", ".join(sorted(s))) for o, s in per_orig.items())
    # energy (A9, reference controller.py:355-402): per entry
    # min=least(values) or -1.0, max=greatest(-1.0, values); negatives
    # participate; an all-null entry drags the key's min to -1.0
    per_el = {}
    for r in members:
        for e in r["energy_efficiency"] or []:
            vals = [v for v in (e["exact_percentage"], e["max_percentage"], e["min_percentage"])
                    if v is not None]
            emin = min(vals) if vals else -1.0
            emax = max([-1.0] + vals)
            key = (e["qualitative"], e["standard_label"])
            if key in per_el:
                per_el[key] = (min(per_el[key][0], emin), max(per_el[key][1], emax))
            else:
                per_el[key] = (emin, emax)
    out["energy_efficiency"] = sorted(
        (q, l, str(mn), str(mx)) for (q, l), (mn, mx) in per_el.items()
    )
    return out


def pandas_oracle(rows):
    freqs = {
        f: Counter(r[f] for r in rows)
        for f in MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT
    }
    out = {}
    for pid, members in _valid_groups(rows).items():
        if len(members) < 2:
            continue
        members = sorted(members, key=lambda r: r["id"])
        rec = {"product_identifier": pid, "id": members[0]["id"], "group_size": len(members)}
        # pinned null rule (mirrors product_merge): nulls never win an
        # election unless every member is null
        for f in MERGE_BY_MOST_FREQUENT:
            cands = [r for r in members if r[f] is not None]
            rec[f] = (
                min(cands, key=lambda r: (-freqs[f][r[f]], r["id"]))[f] if cands else None
            )
        for f in MERGE_BY_LEAST_FREQUENT:
            cands = [r for r in members if r[f] is not None]
            rec[f] = (
                min(cands, key=lambda r: (freqs[f][r[f]], r["id"]))[f] if cands else None
            )
        for f in MERGE_BY_LENGTHIEST_VALUE:
            rec[f] = min(members, key=lambda r: (-len(r[f] or ""), r["id"]))[f]
        for f in MERGE_BY_COMPLETING_ARRAYS:
            rec[f] = sorted({v for r in members for v in (r[f] or [])})
        rec["eco_friendly"] = sorted({r["eco_friendly"] for r in members if r["eco_friendly"] is not None})
        rec["manufacturing_year"] = sorted({r["manufacturing_year"] for r in members if r["manufacturing_year"] is not None})
        rec["source_urls"] = sorted({r["page_url"] for r in members})
        rd = rec.get("root_domain") or ""
        rec["page_url"] = next((r["page_url"] for r in members if rd in r["page_url"]), None)
        rec.update(oracle_nested(members))
        # details (A11), scalar elections only (nested stringification is
        # engine-formatting; structure checked via the golden test instead);
        # lengthiest-value fields are never recorded (reference
        # test_integration.py:64-79)
        details = defaultdict(lambda: defaultdict(set))
        for r in members:
            for f in MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT:
                if r[f] is not None:
                    details[f][str(r[f])].add(r["page_url"])
        rec["details_scalar"] = {
            f: {v: sorted(urls) for v, urls in vm.items()} for f, vm in details.items()
        }
        out[rec["id"]] = rec
    return out


@pytest.fixture(scope="module")
def diff(spark):
    rows = make_corpus()
    vals = [tuple(r[f.name] for f in PRODUCTS_SCHEMA.fields) for r in rows]
    df = spark.createDataFrame(vals, PRODUCTS_SCHEMA)
    got = {r["id"]: r for r in consolidate_products(df).collect() if r["group_size"] >= 2}
    want = pandas_oracle(rows)
    return got, want


def test_same_groups(diff):
    got, want = diff
    assert set(got) == set(want)


def test_scalar_elections_match(diff):
    got, want = diff
    for rid, w in want.items():
        g = got[rid]
        for f in (MERGE_BY_MOST_FREQUENT + MERGE_BY_LEAST_FREQUENT
                  + MERGE_BY_LENGTHIEST_VALUE + ["product_identifier", "page_url"]):
            assert g[f] == w[f], (rid, f, g[f], w[f])


def test_completing_match(diff):
    got, want = diff
    for rid, w in want.items():
        g = got[rid]
        for f in MERGE_BY_COMPLETING_ARRAYS:
            assert list(g[f] or []) == w[f], (rid, f)
        assert list(g["eco_friendly"]) == w["eco_friendly"], rid
        assert list(g["manufacturing_year"]) == w["manufacturing_year"], rid
        assert list(g["source_urls"]) == w["source_urls"], rid


def _assert_nested_match(rid, g, w):
    for f, (keys, _vcol) in INTERVAL_FIELDS.items():
        g_items = sorted(
            [(*[e[k] for k in keys], e["min"], e["max"]) for e in (g[f] or [])],
            key=lambda t: tuple((x is not None, x) for x in t),
        )
        assert g_items == w[f], (rid, f, g_items, w[f])
    g_color = sorted((e["original"], e["simple"]) for e in (g["color"] or []))
    assert g_color == w["color"], rid
    g_energy = sorted(
        (e["qualitative"], e["standard_label"], e["min"], e["max"])
        for e in (g["energy_efficiency"] or [])
    )
    assert g_energy == w["energy_efficiency"], rid


def test_intervals_match(diff):
    got, want = diff
    for rid, w in want.items():
        _assert_nested_match(rid, got[rid], w)


@pytest.mark.parametrize("singletons", [False, True], ids=["corpus", "singletons"])
def test_passthrough_nested_match(spark, singletons):
    """Passthrough rows (a valid identifier with one row, or an invalid
    identifier) are standardized like a one-member group.  ``singletons``
    gives every valid row its own identifier, so all 240 rows pass
    through."""
    rows = make_corpus()
    if singletons:
        for r in rows:
            if r["product_identifier"] not in ("", "SKU: Not Available"):
                r["product_identifier"] = f"ONLY-{r['id']}"
    vals = [tuple(r[f.name] for f in PRODUCTS_SCHEMA.fields) for r in rows]
    df = spark.createDataFrame(vals, PRODUCTS_SCHEMA)
    got = {r["id"]: r for r in consolidate_products(df).collect() if r["group_size"] == 1}
    merged_ids = {m["id"] for ms in _valid_groups(rows).values() if len(ms) > 1 for m in ms}
    want = {r["id"]: oracle_nested([r]) for r in rows if r["id"] not in merged_ids}
    assert set(got) == set(want)
    assert len(want) == (240 if singletons else 6)
    for rid, w in want.items():
        _assert_nested_match(rid, got[rid], w)


def test_details_scalar_match(diff):
    got, want = diff
    for rid, w in want.items():
        d = json.loads(got[rid]["details"])
        for f, vm in w["details_scalar"].items():
            assert d.get(f) == vm, (rid, f, d.get(f), vm)
        for f in MERGE_BY_LENGTHIEST_VALUE:
            assert f not in d, (rid, f)


def test_passthrough_plan_has_no_exchanges(spark):
    """The passthrough standardization path must add ZERO exchanges — the
    per-row expressions keep it embarrassingly parallel (VERDICT r2: the old
    explode->groupBy->join path was 16 wide exchanges of per-row work)."""
    import io
    from contextlib import redirect_stdout

    from deduplication_challenge_spark.operators.product_merge import (
        _row_color_expr,
        _row_energy_expr,
        _row_interval_expr,
    )
    from deduplication_challenge_spark.sources.products import (
        COLOR_FIELD,
        ENERGY_FIELD,
    )

    rows = make_corpus()
    vals = [tuple(r[f.name] for f in PRODUCTS_SCHEMA.fields) for r in rows]
    df = spark.createDataFrame(vals, PRODUCTS_SCHEMA)
    pt = df
    for f, (keys, vcol) in INTERVAL_FIELDS.items():
        pt = pt.withColumn(f, _row_interval_expr(f, keys, vcol, df.schema[f].dataType))
    pt = pt.withColumn(COLOR_FIELD, _row_color_expr(df.schema[COLOR_FIELD].dataType))
    pt = pt.withColumn(ENERGY_FIELD, _row_energy_expr(df.schema[ENERGY_FIELD].dataType))
    buf = io.StringIO()
    with redirect_stdout(buf):
        pt.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan[:2000]
