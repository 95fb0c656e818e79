"""Merge-policy goldens for the products consolidation engine — semantic
port of the reference's per-policy integration tests
(/root/reference/src/tests/test_integration.py layers), on an original
hand-built fixture (ids 10/20/30 share identifier 'CAS-0001')."""

import json
import re

import pytest
from pyspark.sql import functions as F

from deduplication_challenge_spark.operators.product_merge import consolidate_products
from deduplication_challenge_spark.sources.products import PRODUCTS_SCHEMA


def _row(**kw):
    base = {f.name: None for f in PRODUCTS_SCHEMA.fields}
    base.update(kw)
    return tuple(base[f.name] for f in PRODUCTS_SCHEMA.fields)


FIXTURE = [
    _row(
        id=10, unspsc="chemicals", root_domain="alpha.com",
        page_url="https://alpha.com/p/10", product_title="Widget Pro",
        product_summary="short summary", product_name="widget",
        product_identifier="CAS-0001", brand="BrandA",
        description="a medium description here",
        intended_industries=["farming"], materials=["steel", "rubber"],
        eco_friendly=True, manufacturing_year=2020,
        price=[{"amount": 10.0, "currency": "USD", "type": "exact"},
               {"amount": 12.5, "currency": "USD", "type": "exact"}],
        size=[{"dimension": "height", "qualitative": False, "type": "exact",
               "unit": "cm", "value": "30"}],
        color=[{"original": "Ruby", "simple": "Red"}],
        energy_efficiency=[{"exact_percentage": 80.0, "max_percentage": None,
                            "min_percentage": None, "qualitative": "high",
                            "standard_label": "A+"}],
    ),
    _row(
        id=20, unspsc="chemicals", root_domain="beta.org",
        page_url="https://beta.org/p/20", product_title="Widget",
        product_summary="a much longer product summary than the others",
        product_name="widget", product_identifier="CAS-0001", brand="BrandB",
        description="tiny", intended_industries=["construction", "farming"],
        materials=["steel"], eco_friendly=False, manufacturing_year=-1,
        price=[{"amount": 8.0, "currency": "USD", "type": "exact"},
               {"amount": 99.0, "currency": "EUR", "type": "exact"}],
        size=[{"dimension": "height", "qualitative": False, "type": "exact",
               "unit": "cm", "value": "tall"}],
        color=[{"original": "Ruby", "simple": "Crimson"},
               {"original": "Sky", "simple": "Blue"}],
        energy_efficiency=[{"exact_percentage": None, "max_percentage": 92.0,
                            "min_percentage": 75.0, "qualitative": "high",
                            "standard_label": "A+"}],
    ),
    _row(
        id=30, unspsc="gardening", root_domain="alpha.com",
        page_url="https://alpha.com/p/30", product_title="Widget Pro Max",
        product_summary="mid", product_name="super widget",
        product_identifier="CAS-0001", brand="BrandA",
        description="the longest description of them all, clearly",
        intended_industries=[], materials=None, eco_friendly=None,
        manufacturing_year=2021,
        price=None,
        size=[{"dimension": "width", "qualitative": False, "type": "exact",
               "unit": "cm", "value": "narrow"}],
        color=None, energy_efficiency=None,
    ),
    _row(
        id=40, unspsc="tools", root_domain="gamma.net",
        page_url="https://gamma.net/p/40", product_title="Solo",
        product_summary="solo summary", product_name="solo",
        product_identifier="EAN-42", brand="BrandA",
        description="solo description",
        price=[{"amount": 5.0, "currency": "GBP", "type": "exact"}],
        size=[{"dimension": "height", "qualitative": False, "type": "exact",
               "unit": "m", "value": "2"}],
    ),
    _row(
        id=50, unspsc="misc", root_domain="delta.io",
        page_url="https://delta.io/p/50", product_title="NoId",
        product_summary="no id summary", product_name="noid",
        product_identifier="SKU: Not Available", brand="BrandB",
        description="invalid identifier row",
    ),
]


@pytest.fixture(scope="module")
def result(spark):
    df = spark.createDataFrame(FIXTURE, PRODUCTS_SCHEMA)
    out = consolidate_products(df)
    return {r["id"]: r for r in out.collect()}


class TestGrouping:
    def test_cardinality_and_survivors(self, result):
        # 3 rows merged into one survivor (min id), 2 passthrough
        assert set(result) == {10, 40, 50}
        assert result[10]["group_size"] == 3
        assert result[40]["group_size"] == 1
        assert result[50]["group_size"] == 1

    def test_identifier_survives_verbatim(self, result):
        assert result[10]["product_identifier"] == "CAS-0001"
        assert result[50]["product_identifier"] == "SKU: Not Available"


class TestElections:
    def test_most_frequent(self, result):
        # global freq: alpha.com=2(in group), BrandA=3 (incl row 40)
        assert result[10]["root_domain"] == "alpha.com"
        assert result[10]["brand"] == "BrandA"
        # unspsc: chemicals=2 vs gardening=1
        assert result[10]["unspsc"] == "chemicals"

    def test_least_frequent(self, result):
        # product_name: 'super widget' appears once globally, 'widget' twice
        assert result[10]["product_name"] == "super widget"
        # product_title: all three appear once -> tie -> smallest id (10)
        assert result[10]["product_title"] == "Widget Pro"

    def test_lengthiest(self, result):
        assert result[10]["description"] == "the longest description of them all, clearly"
        assert result[10]["product_summary"] == "a much longer product summary than the others"

    def test_page_url_contains_elected_root_domain(self, result):
        # elected root_domain alpha.com -> first (by id) url containing it
        assert result[10]["page_url"] == "https://alpha.com/p/10"


class TestCompleting:
    def test_array_union_sorted(self, result):
        assert result[10]["intended_industries"] == ["construction", "farming"]
        assert result[10]["materials"] == ["rubber", "steel"]

    def test_scalar_union(self, result):
        assert result[10]["eco_friendly"] == [False, True]
        assert result[10]["manufacturing_year"] == [-1, 2020, 2021]


class TestIntervals:
    def test_price_keyed_min_max(self, result):
        price = sorted((p["currency"], p["min"], p["max"]) for p in result[10]["price"])
        assert price == [("EUR", "99.0", "99.0"), ("USD", "8.0", "12.5")]

    def test_size_literal_fallback(self, result):
        size = {(s["dimension"], s["unit"]): (s["min"], s["max"]) for s in result[10]["size"]}
        # height/cm has numeric 30 -> literal 'tall' dropped
        assert size[("height", "cm")] == ("30.0", "30.0")
        # width/cm has only literal 'narrow' -> kept as min=max literal
        assert size[("width", "cm")] == ("narrow", "narrow")

    def test_energy_efficiency_min_max(self, result):
        ee = result[10]["energy_efficiency"]
        assert len(ee) == 1
        assert ee[0]["qualitative"] == "high" and ee[0]["standard_label"] == "A+"
        assert ee[0]["min"] == "75.0" and ee[0]["max"] == "92.0"

    def test_color_rollup(self, result):
        colors = {c["original"]: c["simple"] for c in result[10]["color"]}
        assert colors == {"Ruby": "Crimson, Red", "Sky": "Blue"}


class TestDetailsProvenance:
    def test_details_maps_values_to_urls(self, result):
        d = json.loads(result[10]["details"])
        assert d["brand"]["BrandA"] == ["https://alpha.com/p/10", "https://alpha.com/p/30"]
        assert d["brand"]["BrandB"] == ["https://beta.org/p/20"]
        assert d["root_domain"]["alpha.com"] == [
            "https://alpha.com/p/10", "https://alpha.com/p/30"
        ]

    def test_details_excludes_lengthiest_fields(self, result):
        # the reference never records lengthiest-value fields in details
        # (/root/reference/src/tests/test_integration.py:64-79)
        d = json.loads(result[10]["details"])
        assert "description" not in d
        assert "product_summary" not in d

    def test_details_per_element_and_nested(self, result):
        # collection cells are keyed per element, nested entries via to_json
        d = json.loads(result[10]["details"])
        assert d["intended_industries"]["farming"] == [
            "https://alpha.com/p/10", "https://beta.org/p/20"
        ]
        assert d["intended_industries"]["construction"] == ["https://beta.org/p/20"]
        assert d["color"]['{"original":"Ruby","simple":"Red"}'] == ["https://alpha.com/p/10"]
        assert d["eco_friendly"]["True"] == ["https://alpha.com/p/10"]

    def test_source_urls(self, result):
        assert result[10]["source_urls"] == [
            "https://alpha.com/p/10", "https://alpha.com/p/30", "https://beta.org/p/20",
        ]


class TestPassthrough:
    def test_singleton_values_unchanged(self, result):
        r = result[40]
        assert r["product_title"] == "Solo"
        assert r["brand"] == "BrandA"
        assert r["eco_friendly"] == []
        assert r["source_urls"] == ["https://gamma.net/p/40"]

    def test_singleton_nested_standardized(self, result):
        price = result[40]["price"]
        assert [(p["currency"], p["min"], p["max"]) for p in price] == [("GBP", "5.0", "5.0")]
        size = result[40]["size"]
        assert [(s["dimension"], s["min"], s["max"]) for s in size] == [("height", "2.0", "2.0")]

    def test_invalid_identifier_never_merges(self, result):
        assert result[50]["product_title"] == "NoId"

    def test_passthrough_details_empty_json(self, result):
        # reference serializes empty provenance as json.dumps({}) on every
        # non-merged row (/root/reference/src/controller.py:652-655)
        assert result[40]["details"] == "{}"
        assert result[50]["details"] == "{}"


class TestDeterminism:
    def test_repartitioned_input_same_output(self, spark, result):
        df = spark.createDataFrame(FIXTURE, PRODUCTS_SCHEMA).repartition(7)
        again = {r["id"]: r for r in consolidate_products(df).collect()}
        for rid, row in result.items():
            assert row.asDict(True) == again[rid].asDict(True), rid


class TestPlanShape:
    def test_merged_side_is_one_aggregate(self, spark):
        """The merged side standardizes nested fields with the same per-row
        expressions as the passthrough side: no per-field aggregate joined
        back on the identifier, and no per-field explode.  The one join left
        attaches the details aggregate, whose explode is the one Generate."""
        df = consolidate_products(spark.createDataFrame(FIXTURE, PRODUCTS_SCHEMA))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        ops = [re.sub(r"^[\s:+\-|]*", "", line).split(" ")[0] for line in plan.splitlines()]
        assert ops.count("Join") <= 1, plan
        assert ops.count("Generate") <= 1, plan


class TestProbes:
    def test_same_url_groups(self, spark):
        from deduplication_challenge_spark.operators.probes import same_url_groups

        df = spark.createDataFrame(
            [(1, "u1"), (2, "u1"), (3, "u2"), (4, "u3"), (5, "u3"), (6, "u3")],
            "id long, page_url string",
        )
        got = {(r["page_url"], r["n_rows"], r["min_id"])
               for r in same_url_groups(df).collect()}
        assert got == {("u1", 2, 1), ("u3", 3, 4)}

    def test_identifier_group_sizes(self, spark):
        from deduplication_challenge_spark.operators.probes import identifier_group_sizes

        df = spark.createDataFrame(
            [(1, "CAS-1"), (2, "CAS-1"), (3, ""), (4, ""), (5, "SKU: Not Available"),
             (6, "SKU: Not Available"), (7, "CAS-2"), (8, None)],
            "id long, product_identifier string",
        )
        got = {(r["product_identifier"], r["n_rows"])
               for r in identifier_group_sizes(df).collect()}
        assert got == {("CAS-1", 2)}


class TestReviewRegressions:
    def test_all_null_details_group_gets_empty_json(self, spark):
        """Review finding: a mergeable group with no detail-eligible values
        must get details='{}' (the reference initializes details on every
        row), not NULL."""
        from deduplication_challenge_spark.operators.product_merge import (
            consolidate_products,
        )
        from deduplication_challenge_spark.sources.products import PRODUCTS_SCHEMA

        base = {f.name: None for f in PRODUCTS_SCHEMA.fields}
        rows = []
        for i in (1, 2):
            r = dict(base)
            r["id"] = i
            r["product_identifier"] = "GROUP-X"
            rows.append(tuple(r[f.name] for f in PRODUCTS_SCHEMA.fields))
        df = spark.createDataFrame(rows, PRODUCTS_SCHEMA)
        out = consolidate_products(df).collect()
        assert len(out) == 1
        assert out[0]["details"] == "{}"


class TestProbeNullUrls:
    def test_same_url_groups_ignores_null_and_empty(self, spark):
        """Review finding: N missing urls are N missing urls, not one N-row
        'duplicate group' (the reference's pandas groupby drops NaN keys)."""
        from deduplication_challenge_spark.operators.probes import same_url_groups

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, ""), (4, ""), (5, "https://p/x"), (6, "https://p/x")],
            "id long, page_url string",
        )
        out = same_url_groups(df).collect()
        assert len(out) == 1 and out[0]["page_url"] == "https://p/x"
        # and the id column is parameterized (works on doc_id tables)
        df2 = spark.createDataFrame(
            [(1, "https://p/y"), (2, "https://p/y")], "doc_id long, url string"
        )
        out2 = same_url_groups(df2, url_col="url", id_col="doc_id").collect()
        assert out2[0]["min_id"] == 1
