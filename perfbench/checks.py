"""Output checkers, computed apart from the program.

Every checker takes plain Python rows (lists of dicts, timestamps as integer
microseconds) and returns a list of problems; an empty list means the output
is correct.  None of them import the program, so a fault in it cannot hide
in the check.
"""

from __future__ import annotations

import hashlib
import itertools
import os
from collections import Counter, defaultdict

MIN_PLANTED_RECALL = 0.99
_MAX_LISTED = 5  # problems of one kind listed before the rest are summarised


def _cap(kind: str, items: list) -> list[str]:
    out = [f"{kind}: {x}" for x in items[:_MAX_LISTED]]
    if len(items) > _MAX_LISTED:
        out.append(f"{kind}: ... {len(items) - _MAX_LISTED} more")
    return out


def check_crawl_full(pages: list[dict], golden: list[dict], records: list[dict]) -> list[str]:
    """Canonical records of a full pipeline run over ``pages``.

    pages:   url, text, warc_ts, lang  (the input)
    golden:  url, cluster              (planted clusters; may cover more urls)
    records: url, text, warc_ts, langs, member_urls  (the program's output)
    """
    problems: list[str] = []
    page = {p["url"]: p for p in pages}
    seen = Counter(u for r in records for u in r["member_urls"])
    problems += _cap("url not in exactly one record",
                     sorted(u for u in page if seen[u] != 1))
    problems += _cap("unknown member url", sorted(u for u in seen if u not in page))
    record_of = {u: i for i, r in enumerate(records) for u in r["member_urls"]}

    # planted-pair recall; exact equality with the planted clusters is not
    # required, the shared boilerplate paragraph merges clusters by design
    planted: dict[int, list[str]] = defaultdict(list)
    for g in golden:
        if g["url"] in page:
            planted[g["cluster"]].append(g["url"])
    pairs = [p for urls in planted.values() for p in itertools.combinations(sorted(urls), 2)]
    if pairs:
        hit = sum(1 for a, b in pairs if a in record_of and record_of.get(a) == record_of.get(b))
        recall = hit / len(pairs)
        if recall < MIN_PLANTED_RECALL:
            problems.append(f"planted-pair recall {recall:.4f} < {MIN_PLANTED_RECALL} "
                            f"({hit}/{len(pairs)})")

    by_text: dict[str, list[str]] = defaultdict(list)
    for p in pages:
        by_text[p["text"]].append(p["url"])
    split = [sorted(urls)[:2] for urls in by_text.values()
             if len({record_of.get(u) for u in urls}) > 1]
    problems += _cap("byte-identical texts split", split)

    bad: list[str] = []
    for r in records:
        members = [page[u] for u in r["member_urls"] if u in page]
        if not members:
            continue
        winner = page.get(r["url"])
        longest = max(len(m["text"]) for m in members)
        if winner is None or r["url"] not in r["member_urls"]:
            bad.append(f"{r['url']}: winner url is not a member")
        elif r["text"] != winner["text"] or len(r["text"]) != longest:
            bad.append(f"{r['url']}: text is not the longest member text")
        if r["warc_ts"] != min(m["warc_ts"] for m in members):
            bad.append(f"{r['url']}: warc_ts is not the earliest member's")
        if list(r["langs"]) != sorted({m["lang"] for m in members}):
            bad.append(f"{r['url']}: langs {r['langs']} are not the sorted member langs")
    problems += _cap("record", bad)
    return problems


def check_crawl_attach(
    index_urls: set[str],
    batch_pages: list[dict],
    golden: list[dict],
    index_cluster_ids: set[int],
    assignments: list[dict],
    updates: list[dict],
    index_before: dict[str, str],
    index_after: dict[str, str],
) -> list[str]:
    """Incremental attach of ``batch_pages`` to an index.

    assignments: doc_id, cluster_id, attached  (one row per batch doc)
    updates:     member_urls                   (re-consolidated records)
    index_before/after: fingerprints of the index files (see ``fingerprint``)
    """
    problems: list[str] = []
    batch_urls = {p["url"] for p in batch_pages}

    seen = Counter(u for r in updates for u in r["member_urls"] if u in batch_urls)
    problems += _cap("batch url not covered exactly once by the updates",
                     sorted(u for u in batch_urls if seen[u] != 1))

    # an attached batch page is re-consolidated together with old members of
    # the index cluster it joined; the cluster it joins may legitimately
    # differ from its sibling's (minimum-cluster bridge rule), so only
    # attachment itself is required
    has_index_member = {
        u for r in updates if any(m in index_urls for m in r["member_urls"])
        for u in r["member_urls"]
    }
    cluster_of = {g["url"]: g["cluster"] for g in golden}
    index_clusters = {cluster_of[u] for u in index_urls if u in cluster_of}
    missed = sorted(u for u in batch_urls
                    if cluster_of.get(u) in index_clusters and u not in has_index_member)
    problems += _cap("batch page with a planted index sibling not attached", missed)

    problems += _cap("attached to a cluster id the index does not have",
                     sorted({a["cluster_id"] for a in assignments
                             if a["attached"] and a["cluster_id"] not in index_cluster_ids}))
    if len(assignments) != len(batch_urls):
        problems.append(f"{len(assignments)} assignments for {len(batch_urls)} batch pages")

    changed = sorted(k for k in index_before.keys() | index_after.keys()
                     if index_before.get(k) != index_after.get(k))
    problems += _cap("index file changed by attach", changed)
    return problems


def fingerprint(root: str) -> dict[str, str]:
    """{relative path: sha256} of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive hash of a result set, columns taken by name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("|".join(_fmt(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    return str(v)


def check_products(got: list[tuple], got_cols: list[str],
                   want: list[tuple], want_cols: list[str]) -> list[str]:
    """Consolidated products against the independent SQL oracle's rows."""
    problems: list[str] = []
    if sorted(got_cols) != sorted(want_cols):
        problems.append(f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}")
        return problems
    if len(got) != len(want):
        problems.append(f"{len(got)} rows != oracle {len(want)}")
    if value_hash(got, got_cols) != value_hash(want, want_cols):
        problems.append("value hash differs from the oracle")
    return problems
