"""In-repo mirror of the driver's correctness gate: every oracled queries()
entry must match its DuckDB oracle_sql() on sf0.001 (row count + sorted
columns + order-insensitive value hash)."""

import datetime as dt
import hashlib

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    return str(v)


def _value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted("|".join(_fmt(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


ORACLED = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_duckdb(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry_mod.oracle_sql()[name])
    drows = res.fetchall()
    dcols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(dcols), "column names must match"
    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    assert _value_hash(srows, sdf.columns) == _value_hash(drows, dcols)


def test_every_query_runs(spark):
    """Non-oracled (rows-only) queries must at least execute and return a
    stable schema."""
    for name, fn in entry_mod.queries().items():
        if name in entry_mod.oracle_sql() or name == "canonical_records":
            continue
        df = fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_tokenizer_class_parity_on_vertical_tab(spark, tmp_path_factory):
    """Review finding: Java's \\s includes \\x0B but RE2's does not — the
    tokenizing queries use an explicit class on BOTH sides so a text
    containing a vertical tab still token-splits identically."""
    import duckdb as _duck
    import os

    d = str(tmp_path_factory.mktemp("vtab"))
    spark.createDataFrame(
        [(0, "alpha\x0bbeta gamma", "en", "s0", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    q = entry_mod.queries()["token_stats"]
    got = q(spark, d).first()
    assert got["n_tokens"] == 3  # vertical tab splits
    con = _duck.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = con.execute(entry_mod.oracle_sql()["token_stats"]).fetchone()
    assert got["n_tokens"] == want[1]  # (doc_id, n_tokens, ...) parity


def test_doc_fingerprints_counts_match_winnowing_kernel(spark, tmp_path_factory):
    """doc_fingerprints counts the default config's winnowed shingle hashes
    per doc, the same values as hashing.winnow_fingerprints in Python."""
    import os

    from deduplication_challenge_spark.config import DEFAULT_CONFIG as cfg
    from deduplication_challenge_spark.functions import hashing as H
    from deduplication_challenge_spark.functions.textnorm import shingles

    texts = {
        0: "one two three four five six seven eight nine ten eleven twelve " * 3,
        1: "short text only",
        2: "",
        3: None,
        4: "Alpha, beta! GAMMA delta; epsilon zeta eta theta iota kappa lambda",
    }
    d = str(tmp_path_factory.mktemp("fp"))
    spark.createDataFrame(
        [(k, v, "en", "s0", len(v or "")) for k, v in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r["doc_id"]: r["n_fingerprints"]
        for r in entry_mod.queries()["doc_fingerprints"](spark, d).collect()
    }
    want = {
        k: len(H.winnow_fingerprints(H.hash64_batch(shingles(v or "", cfg.shingle_k), seed=cfg.seed)))
        for k, v in texts.items()
    }
    assert got == want
    assert got[0] > 1 and got[2] == 0
