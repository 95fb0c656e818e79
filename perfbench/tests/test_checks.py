"""Toy-size tests of the benchmark's checkers and input generator.

Each checker must accept correct output and reject a planted corruption.
Run with ``python3 -m pytest perfbench/tests -q``; no Spark is started.
"""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

PAGES = [
    {"url": "u1", "text": "alpha beta", "warc_ts": 30, "lang": "en"},
    {"url": "u2", "text": "alpha beta", "warc_ts": 10, "lang": "de"},
    {"url": "u3", "text": "alpha beta gamma", "warc_ts": 20, "lang": "en"},
    {"url": "u4", "text": "solo", "warc_ts": 5, "lang": "fr"},
]
GOLDEN = [
    {"url": "u1", "cluster": 0}, {"url": "u2", "cluster": 0},
    {"url": "u3", "cluster": 0}, {"url": "u4", "cluster": 1},
    {"url": "b1", "cluster": 0}, {"url": "b2", "cluster": 2},
]
RECORDS = [
    {"cluster_id": 7, "url": "u3", "text": "alpha beta gamma", "warc_ts": 10,
     "langs": ["de", "en"], "member_urls": ["u1", "u2", "u3"]},
    {"cluster_id": 9, "url": "u4", "text": "solo", "warc_ts": 5,
     "langs": ["fr"], "member_urls": ["u4"]},
]


def test_crawl_full_accepts_correct_output():
    assert checks.check_crawl_full(PAGES, GOLDEN, RECORDS) == []


def test_crawl_full_rejects_dropped_member_url():
    bad = copy.deepcopy(RECORDS)
    bad[0]["member_urls"].remove("u1")
    assert any("exactly one record" in p for p in checks.check_crawl_full(PAGES, GOLDEN, bad))


def test_crawl_full_rejects_split_exact_duplicates():
    bad = copy.deepcopy(RECORDS)
    bad[0]["member_urls"] = ["u1", "u3"]
    bad.append({"cluster_id": 8, "url": "u2", "text": "alpha beta", "warc_ts": 10,
                "langs": ["de"], "member_urls": ["u2"]})
    problems = checks.check_crawl_full(PAGES, GOLDEN, bad)
    assert any("byte-identical texts split" in p for p in problems)
    assert any("recall" in p for p in problems)


def test_crawl_full_rejects_wrong_election():
    bad = copy.deepcopy(RECORDS)
    bad[0].update(url="u1", text="alpha beta", warc_ts=30, langs=["en"])
    problems = checks.check_crawl_full(PAGES, GOLDEN, bad)
    assert any("longest member text" in p for p in problems)
    assert any("earliest" in p for p in problems)
    assert any("langs" in p for p in problems)


def _attach_args(tmp_path):
    index = tmp_path / "index"
    index.mkdir()
    (index / "part-0.parquet").write_bytes(b"table")
    return dict(
        index_urls={"u1", "u2", "u3", "u4"},
        batch_pages=[{"url": "b1"}, {"url": "b2"}],
        golden=GOLDEN,
        index_cluster_ids={7, 9},
        assignments=[{"doc_id": 101, "cluster_id": 7, "attached": True},
                     {"doc_id": 102, "cluster_id": 102, "attached": False}],
        updates=[{"member_urls": ["u1", "u2", "u3", "b1"]}, {"member_urls": ["b2"]}],
        index_before=checks.fingerprint(str(index)),
        index_after=checks.fingerprint(str(index)),
    ), index


def test_crawl_attach_accepts_correct_output(tmp_path):
    args, _ = _attach_args(tmp_path)
    assert checks.check_crawl_attach(**args) == []


def test_crawl_attach_rejects_rewritten_index_table(tmp_path):
    args, index = _attach_args(tmp_path)
    (index / "part-0.parquet").write_bytes(b"rewritten")
    args["index_after"] = checks.fingerprint(str(index))
    assert any("index file changed" in p for p in checks.check_crawl_attach(**args))


def test_crawl_attach_rejects_unattached_sibling_and_unknown_cluster(tmp_path):
    args, _ = _attach_args(tmp_path)
    args["updates"] = [{"member_urls": ["b1"]}, {"member_urls": ["b2"]}]
    args["assignments"][0]["cluster_id"] = 12345
    problems = checks.check_crawl_attach(**args)
    assert any("not attached" in p for p in problems)
    assert any("cluster id the index does not have" in p for p in problems)


def test_crawl_attach_rejects_batch_url_covered_twice(tmp_path):
    args, _ = _attach_args(tmp_path)
    args["updates"].append({"member_urls": ["b2"]})
    assert any("exactly once" in p for p in checks.check_crawl_attach(**args))


COLS = ["product_identifier", "brand", "group_size"]
ROWS = [("CAS-1", "en-1", 3), ("UNIQ-5", None, 1)]


def test_products_accepts_matching_rows_in_any_order():
    cols = list(reversed(COLS))
    rows = [tuple(reversed(r)) for r in reversed(ROWS)]
    assert checks.check_products(ROWS, COLS, rows, cols) == []


def test_products_rejects_wrong_election():
    bad = [("CAS-1", "de-2", 3), ROWS[1]]
    assert checks.check_products(bad, COLS, ROWS, COLS) == ["value hash differs from the oracle"]


def test_generator_is_deterministic_and_text_matches_markup():
    a, ga = gen.crawl_corpus(5, 60)
    b, gb = gen.crawl_corpus(5, 60)
    assert a == b and ga == gb
    assert gen.crawl_corpus(6, 60)[0] != a
    kinds = {g["kind"] for g in ga}
    assert {"exact", "near", "substring", "single"} <= kinds
    page = a[0]
    assert page["text"].split("\n\n")[0] in page["html"].decode()
