"""WARC source: record-level roundtrips, malformed-tail tolerance, and an
end-to-end equivalence — the pipeline over a .warc.gz produces exactly the
clusters it produces over the same pages as parquet rows."""

from __future__ import annotations

import datetime as dt

import pytest

from deduplication_challenge_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    warc_bytes_to_pages,
    write_warc,
)

ROWS = [
    {"url": "https://w/1", "warc_ts": dt.datetime(2025, 1, 1, 0, 0, 0),
     "html": b"<html><body><p>alpha beta</p></body></html>"},
    {"url": "https://w/2", "warc_ts": dt.datetime(2025, 1, 1, 0, 1, 0),
     "html": b"<html><body><p>gamma delta</p></body></html>"},
]


class TestWarcCodec:
    @pytest.mark.parametrize("gz", [True, False])
    def test_roundtrip(self, gz):
        data = write_warc(ROWS, gzip_members=gz)
        pages = warc_bytes_to_pages(data)
        assert [p["url"] for p in pages] == ["https://w/1", "https://w/2"]
        assert pages[0]["html"] == ROWS[0]["html"]  # HTTP headers stripped
        assert pages[0]["warc_ts"] == ROWS[0]["warc_ts"]

    def test_non_response_records_skipped(self):
        req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
               b"WARC-Target-URI: https://w/9\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
        data = req + write_warc(ROWS[:1], gzip_members=False)
        assert [p["url"] for p in warc_bytes_to_pages(data)] == ["https://w/1"]

    def test_truncated_tail_yields_complete_prefix(self):
        data = write_warc(ROWS, gzip_members=False)
        cut = data[: len(data) - 20]  # tear the second record's body
        assert [h.get("warc-target-uri") for h, _ in iter_warc_records(cut)] == [
            "https://w/1"
        ]

    def test_garbage_is_empty_not_raising(self):
        assert warc_bytes_to_pages(b"not a warc at all") == []
        assert warc_bytes_to_pages(b"") == []


class TestWarcPipelineEquivalence:
    def test_warc_and_parquet_paths_agree(self, spark, micro_corpus, tmp_path_factory):
        """Flagship: DedupPipeline over read_warc(.warc.gz of the synth
        corpus) == DedupPipeline over the same rows as a DataFrame — same
        canonical count and cluster membership."""
        from deduplication_challenge_spark.config import DedupConfig
        from deduplication_challenge_spark.plans.pipeline import DedupPipeline
        from tests.test_spark_pipeline import corpus_to_spark

        warc_path = tmp_path_factory.mktemp("warc_in")
        rows = [
            {"url": p["url"], "warc_ts": p["warc_ts"], "html": p["html"]}
            for p in micro_corpus.rows
        ]
        # shard across two archives to exercise per-file parallelism
        (warc_path / "part-0.warc.gz").write_bytes(write_warc(rows[::2]))
        (warc_path / "part-1.warc.gz").write_bytes(write_warc(rows[1::2]))

        pages_warc = read_warc(spark, str(warc_path))
        assert pages_warc.count() == len(rows)

        wd1 = str(tmp_path_factory.mktemp("wd_warc"))
        can_warc, _ = DedupPipeline(
            spark, DedupConfig(), wd1, include_substring=True
        ).run(pages_warc, input_desc="warc")

        pages_df, _ = corpus_to_spark(spark, micro_corpus)
        wd2 = str(tmp_path_factory.mktemp("wd_df"))
        can_df, _ = DedupPipeline(
            spark, DedupConfig(), wd2, include_substring=True
        ).run(pages_df, input_desc="df")

        got = {tuple(sorted(r["member_urls"])) for r in can_warc.collect()}
        want = {tuple(sorted(r["member_urls"])) for r in can_df.collect()}
        assert got == want


class TestCharsetRoundtrip:
    def test_http_charset_reaches_extraction(self, spark, tmp_path_factory):
        """Fixture WARC with latin-1 (HTTP-header-declared), windows-1252
        (meta-declared), and utf-16 (BOM) bodies round-trips to CORRECT
        text through read_warc -> extract_pages — the transport charset
        rides the pages' charset column into the extraction precedence."""
        from deduplication_challenge_spark.operators.ingest import extract_pages

        rows = [
            {"url": "https://cs/latin1",
             "html": "<p>café exposé</p>".encode("latin-1"),
             "charset": "ISO-8859-1"},
            {"url": "https://cs/w1252",
             "html": "<meta charset=windows-1252><p>“smart” – quotes</p>".encode("cp1252")},
            {"url": "https://cs/utf16",
             "html": "<p>日本語のページ</p>".encode("utf-16")},
            {"url": "https://cs/plain",
             "html": "<p>plain utf-8 é</p>".encode()},
        ]
        path = tmp_path_factory.mktemp("warc_cs")
        (path / "cs.warc.gz").write_bytes(write_warc(rows))
        pages = read_warc(spark, str(path))
        assert "charset" in pages.columns
        got = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
        assert got["https://cs/latin1"] == "café exposé"
        assert got["https://cs/w1252"] == "“smart” – quotes"
        assert got["https://cs/utf16"] == "日本語のページ"
        assert got["https://cs/plain"] == "plain utf-8 é"

    def test_quoted_header_charset_parsed(self):
        """Review finding: quoted parameter values are legal HTTP
        (charset="shift_jis") — the regex must not drop them."""
        body = "<p>日本語テスト</p>".encode("shift-jis")
        http = (b"HTTP/1.1 200 OK\r\n"
                b'Content-Type: text/html; charset="shift_jis"\r\n\r\n' + body)
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://cs/q\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + f"Content-Length: {len(http)}\r\n".encode()
               + b"\r\n" + http + b"\r\n\r\n")
        pages = warc_bytes_to_pages(rec)
        assert pages[0]["charset"] == "shift_jis"
        from deduplication_challenge_spark.functions.textnorm import extract_text

        assert extract_text(pages[0]["html"], pages[0]["charset"]) == "日本語テスト"

    def test_write_warc_survives_mojibake_charset(self):
        """Review finding: read_warc can surface U+FFFD in a malformed
        header's charset token; round-tripping such a row must not abort."""
        rows = [{"url": "https://cs/m", "html": b"<p>x</p>", "charset": "ut�8"}]
        out = warc_bytes_to_pages(write_warc(rows))
        assert out[0]["url"] == "https://cs/m"  # wrote + parsed back fine

    def test_extraction_invariant_covers_charset_branch(self):
        """pages-level invariant: text == extract_text(html, charset) for
        every record the reader emits, charset column included."""
        from deduplication_challenge_spark.functions.textnorm import extract_text

        rows = [
            {"url": "https://cs/a", "html": "<p>naïve</p>".encode("latin-1"),
             "charset": "latin-1"},
            {"url": "https://cs/b", "html": b"<p>plain</p>"},
        ]
        for p in warc_bytes_to_pages(write_warc(rows)):
            text = extract_text(p["html"], p["charset"])
            assert text  # non-degenerate
            if p["url"].endswith("/a"):
                assert text == "naïve"


class TestWetAndCorruption:
    def test_wet_conversion_records(self, spark, tmp_path_factory):
        """Common Crawl WET: 'conversion' records carry extracted text; the
        reader ships it in the text column with html null (pruned plan)."""
        text = "already extracted text\n\nsecond paragraph"
        body = text.encode()
        rec = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
               b"WARC-Target-URI: https://w/wet\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + f"Content-Length: {len(body)}\r\n".encode()
               + b"\r\n" + body + b"\r\n\r\n")
        path = tmp_path_factory.mktemp("wet")
        (path / "f.warc.gz").write_bytes(__import__("gzip").compress(rec))
        out = read_warc(spark, str(path), record_type="conversion").collect()
        assert len(out) == 1
        assert out[0]["text"] == text and out[0]["html"] is None
        # response-mode read of the same file yields nothing (type filter)
        assert read_warc(spark, str(path)).count() == 0
        with pytest.raises(ValueError, match="record_type"):
            read_warc(spark, str(path), record_type="metadata")

    def test_corrupt_gzip_member_yields_prefix(self):
        """A truncated/corrupt gzip member costs its own records only."""
        import gzip as _gzip

        good = write_warc(ROWS[:1])
        bad = _gzip.compress(b"x" * 50)[:20]  # torn member
        pages = warc_bytes_to_pages(good + bad)
        assert [p["url"] for p in pages] == ["https://w/1"]


class TestHttpBodyCodings:
    """Real-archive HTTP bodies: Transfer-Encoding chunked framing and
    Content-Encoding gzip/deflate compression are decoded before the
    charset-aware extraction; every failure mode is total and counted."""

    def _mk(self, **kw):
        row = {"url": "https://c/1", "warc_ts": dt.datetime(2025, 1, 1),
               "html": b"<html><body><p>chunky alpha beta gamma</p></body></html>"}
        row.update(kw)
        return row

    def test_chunked_body_dechunked(self):
        data = write_warc([self._mk(transfer_chunked=7)], gzip_members=False)
        stats = {}
        pages = warc_bytes_to_pages(data, stats=stats)
        assert pages[0]["html"] == self._mk()["html"]
        assert stats["bodies_dechunked"] == 1
        assert "dechunk_failures" not in stats

    @pytest.mark.parametrize("enc", ["gzip", "deflate"])
    def test_compressed_body_decompressed(self, enc):
        data = write_warc([self._mk(content_encoding=enc)], gzip_members=False)
        stats = {}
        pages = warc_bytes_to_pages(data, stats=stats)
        assert pages[0]["html"] == self._mk()["html"]
        assert stats["bodies_decompressed"] == 1

    def test_chunked_plus_gzip(self):
        """Sender applies Content-Encoding first, then chunked framing —
        the reader undoes both in reverse."""
        data = write_warc(
            [self._mk(content_encoding="gzip", transfer_chunked=5)],
            gzip_members=False,
        )
        stats = {}
        pages = warc_bytes_to_pages(data, stats=stats)
        assert pages[0]["html"] == self._mk()["html"]
        assert stats["bodies_dechunked"] == 1
        assert stats["bodies_decompressed"] == 1

    def test_raw_deflate_quirk(self):
        """Broken servers ship raw-deflate under 'deflate'; the reader
        falls back to wbits=-15 after the RFC's zlib-wrapped attempt."""
        import zlib

        body = self._mk()["html"]
        raw = zlib.compressobj(wbits=-15)
        compressed = raw.compress(body) + raw.flush()
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: deflate\r\n\r\n" + compressed)
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://c/raw\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
        stats = {}
        pages = warc_bytes_to_pages(rec, stats=stats)
        assert pages[0]["html"] == body
        assert stats["bodies_decompressed"] == 1

    def test_malformed_chunk_framing_counted_not_raising(self):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Transfer-Encoding: chunked\r\n\r\nZZZ\r\nnot chunked at all")
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://c/bad\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
        stats = {}
        pages = warc_bytes_to_pages(rec, stats=stats)
        assert pages[0]["html"] == b"ZZZ\r\nnot chunked at all"  # raw kept
        assert stats["dechunk_failures"] == 1

    def test_corrupt_gzip_body_counted_not_raising(self):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: gzip\r\n\r\n\x1f\x8bgarbage-not-gzip")
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://c/badgz\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
        stats = {}
        pages = warc_bytes_to_pages(rec, stats=stats)
        assert pages[0]["html"] == b"\x1f\x8bgarbage-not-gzip"
        assert stats["decompress_failures"] == 1

    def test_unknown_coding_kept_opaque_and_counted(self):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: br\r\n\r\nBROTLI-OPAQUE-BYTES")
        rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://c/br\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
        stats = {}
        pages = warc_bytes_to_pages(rec, stats=stats)
        assert pages[0]["html"] == b"BROTLI-OPAQUE-BYTES"
        assert stats["decompress_failures"] == 1

    def test_gzipped_charset_body_reaches_extraction(self, spark, tmp_path_factory):
        """Full chain: gzipped shift_jis body + header charset -> read_warc
        -> extract_pages decodes the right characters."""
        from deduplication_challenge_spark.operators.ingest import extract_pages
        from deduplication_challenge_spark.sources.warc import read_warc

        text = "日本語のページ"
        html = f"<html><body><p>{text}</p></body></html>".encode("shift_jis")
        data = write_warc(
            [{"url": "https://c/sj", "warc_ts": dt.datetime(2025, 1, 1),
              "html": html, "charset": "shift_jis", "content_encoding": "gzip",
              "transfer_chunked": 16}],
            gzip_members=True,
        )
        d = tmp_path_factory.mktemp("warc_gz_sj")
        (d / "a.warc.gz").write_bytes(data)
        docs = extract_pages(read_warc(spark, str(d / "a.warc.gz"))).collect()
        assert len(docs) == 1
        assert text in docs[0]["text"]


class TestMalformedRecordSkip:
    def _rec(self, url, body=b"hello", length=None):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        n = length if length is not None else len(http)
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url.encode() + b"\r\n"
                b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
                + b"Content-Length: %s\r\n\r\n" % str(n).encode() + http + b"\r\n\r\n")

    def test_corrupt_middle_record_skipped_and_counted(self):
        """A record with an unparseable Content-Length no longer drops the
        archive's tail: the reader re-syncs to the next record magic and
        counts the skip."""
        bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://m/bad\r\n"
               b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
               b"Content-Length: NOT-A-NUMBER\r\n\r\ngarbage body")
        data = self._rec("https://m/1") + bad + b"\r\n\r\n" + self._rec("https://m/2")
        stats = {}
        pages = warc_bytes_to_pages(data, stats=stats)
        assert [p["url"] for p in pages] == ["https://m/1", "https://m/2"]
        assert stats["records_skipped"] == 1

    def test_read_warc_stats_dataframe(self, spark, tmp_path_factory):
        """Driver-visible audit: per-archive damage counters as a DataFrame."""
        from deduplication_challenge_spark.sources.warc import read_warc_stats

        bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://m/bad\r\n"
               b"Content-Length: NOT-A-NUMBER\r\n\r\ngarbage")
        data = self._rec("https://m/1") + bad + b"\r\n\r\n" + self._rec("https://m/2")
        d = tmp_path_factory.mktemp("warc_stats")
        (d / "a.warc").write_bytes(data)
        row = read_warc_stats(spark, str(d / "a.warc")).collect()[0]
        assert row["records_yielded"] == 2
        assert row["records_skipped"] == 1
        assert row["records_truncated"] == 0
