"""Seeded input generator for the benchmark.

The program under test only ever sees the parquet files written here.

``crawl_full``: a Common-Crawl-style pages corpus ``(url, warc_ts, html, text,
lang)`` with planted exact, near and substring duplicate groups, plus one
boilerplate paragraph shared by a quarter of all pages (a hot LSH bucket).
The rows are permuted with the seed and split into an ``index`` corpus
(deduplicated by the full pipeline) and a small ``batch`` (attached to that
index incrementally in traced runs), so some batch pages have planted siblings in the index.
``golden.parquet`` records the planted cluster of every url.

``product_merge``: a documents-shaped table ``(doc_id, text, lang, source,
n_chars)`` that ``products_from_documents`` turns into one product record per
row; doc ids are drawn with the seed, so identifier group sizes vary with it.

``text`` is written independently of the program's extractor, as the
extraction policy defines it for this markup (block tags become blank-line
separators), so the crawl checker can test the program's extraction too.

Run ``python3 perfbench/gen.py --workload crawl_full --seed 1`` to (re)generate
one input set; ``run.py`` calls this in a subprocess when the cached set is
missing.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: small enough that a run stays within the time budget on a 4-core
# machine (set-up alone costs ~25 s there), large enough that every planted
# duplicate kind occurs dozens of times.
CRAWL_INDEX_DOCS = 1000
CRAWL_BATCH_DOCS = 100
DUP_FRACTION = 0.30          # share of pages in planted duplicate groups
BOILERPLATE_FRACTION = 0.25  # share of pages carrying the shared paragraph
NEAR_EDIT_RATE = 0.03        # token edits per token in near duplicates
PRODUCT_RECORDS = 22_000     # the reference's consolidation size

LANGS = ["en", "de", "fr", "ro", "es"]
EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"

VERSION = "1"  # bump when the recipe changes, so cached inputs are rebuilt


CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_root() -> str:
    """Where inputs, workdirs and traces go: ``$CARGO_TARGET_DIR`` (relative
    paths resolve against the checkout root), else ``.bench_build``."""
    base = os.path.join(CHECKOUT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return os.path.join(base, "perfbench")


def input_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, "inputs", f"v{VERSION}", workload, f"seed-{seed}")


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words.add("".join(_CONS[rng.integers(16)] + _VOWS[rng.integers(5)] for _ in range(n)))
    return sorted(words)


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def _page(title: str, paragraphs: list[str]) -> tuple[bytes, str]:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    html = (
        f"<html><head><title>{title}</title><script>var s={{}};</script>"
        f"<style>p{{margin:0}}</style></head><body><div class=\"c\">{body}</div>"
        f"<!-- generated --></body></html>"
    )
    return html.encode("utf-8"), "\n\n".join([title, *paragraphs])


def _edit(rng: np.random.Generator, words: list[str], vocab: list[str]) -> list[str]:
    out: list[str] = []
    for w in words:
        r = rng.random()
        if r < NEAR_EDIT_RATE / 3:
            out.append(vocab[rng.integers(len(vocab))])
        elif r < 2 * NEAR_EDIT_RATE / 3:
            continue
        elif r < NEAR_EDIT_RATE:
            out += [w, vocab[rng.integers(len(vocab))]]
        else:
            out.append(w)
    return out or words


def crawl_corpus(seed: int, n_docs: int) -> tuple[list[dict], list[dict]]:
    """-> (pages rows, golden rows) in generation order."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    boiler = " ".join(_words(rng, vocab, 40))
    pages: list[dict] = []
    golden: list[dict] = []

    def base() -> tuple[str, list[list[str]]]:
        title = " ".join(_words(rng, vocab, int(rng.integers(2, 5))))
        paras = [_words(rng, vocab, int(rng.integers(25, 70))) for _ in range(int(rng.integers(3, 8)))]
        return title, paras

    def emit(title: str, paras: list[list[str]], cluster: int, kind: str) -> None:
        texts = [" ".join(p) for p in paras]
        if rng.random() < BOILERPLATE_FRACTION:
            texts.append(boiler)
        html, text = _page(title, texts)
        i = len(pages)
        pages.append({
            "url": f"https://site{int(rng.integers(0, 40)):02d}.example/s{seed}/p{i:06d}",
            "warc_ts": EPOCH + dt.timedelta(seconds=int(rng.integers(0, 30_000_000))),
            "html": html,
            "text": text,
            "lang": LANGS[int(rng.integers(len(LANGS)))],
        })
        golden.append({"url": pages[-1]["url"], "cluster": cluster, "kind": kind})

    cluster = 0
    kinds = ("exact", "near", "substring")
    while len(pages) < int(n_docs * DUP_FRACTION):
        size = int(rng.integers(2, 5))
        kind = kinds[cluster % 3]
        title, paras = base()
        emit(title, paras, cluster, kind)
        for _ in range(size - 1):
            if kind == "exact":
                emit(title, paras, cluster, kind)
            elif kind == "near":
                emit(title, [_edit(rng, p, vocab) for p in paras], cluster, kind)
            else:  # the whole page embedded in a longer one
                extra = [_words(rng, vocab, 30)]
                emit(title, extra + paras + extra, cluster, kind)
        cluster += 1
    while len(pages) < n_docs:
        title, paras = base()
        emit(title, paras, cluster, "single")
        cluster += 1
    return pages, golden


_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def write_crawl(out: str, seed: int) -> None:
    pages, golden = crawl_corpus(seed, CRAWL_INDEX_DOCS + CRAWL_BATCH_DOCS)
    order = np.random.default_rng(seed + 1).permutation(len(pages))
    index = [pages[i] for i in order[:CRAWL_INDEX_DOCS]]
    batch = [pages[i] for i in order[CRAWL_INDEX_DOCS:]]
    pq.write_table(pa.Table.from_pylist(index, _PAGES_SCHEMA), os.path.join(out, "index.parquet"))
    pq.write_table(pa.Table.from_pylist(batch, _PAGES_SCHEMA), os.path.join(out, "batch.parquet"))
    pq.write_table(pa.Table.from_pylist(golden), os.path.join(out, "golden.parquet"))


def write_products(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 2000)
    n = PRODUCT_RECORDS
    doc_ids = np.sort(rng.choice(50 * n, size=n, replace=False)).astype(np.int64)
    texts = [" ".join(_words(rng, vocab, int(k))) for k in rng.integers(1, 60, n)]
    table = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"shop{i:02d}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))


WRITERS = {"crawl_full": write_crawl, "product_merge": write_products}


def generate(root: str, workload: str, seed: int) -> str:
    """Write one input set atomically (temp dir + rename); -> its directory."""
    out = input_dir(root, workload, seed)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    WRITERS[workload](tmp, seed)
    os.rename(tmp, out)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", default=None, help="cache root (default: %(prog)s's own)")
    ap.add_argument("--force", action="store_true", help="regenerate even if cached")
    a = ap.parse_args(argv)
    root = a.root or cache_root()
    if a.force:
        shutil.rmtree(input_dir(root, a.workload, a.seed), ignore_errors=True)
    print(generate(root, a.workload, a.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
