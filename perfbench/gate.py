"""Correctness gate applied on every run.

Extraction workloads: every input url has exactly one output row, and
every doc that carries generator truth (the corpus ``text`` column) has
an ``extracted_text`` byte-identical to it. The pipeline additionally
has lineage ``n_docs`` summing to the input count and a resume call that
runs no bucket. Query workloads: each query's rows equal its DuckDB
oracle's rows.

Each violating doc (or query execution, or pipeline invariant) counts as
one failed operation.
"""

from __future__ import annotations

import hashlib
from collections import Counter


def digest(text: str | None) -> str | None:
    """sha256 hex of the UTF-8 bytes; the same value Spark's
    ``sha2(col, 256)`` gives for a string column."""
    if text is None:
        return None
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Expected:
    """Input urls and the digest of each url's generator truth."""

    def __init__(self, urls: list[str], texts: list[str | None]):
        self.truth = {u: digest(t) for u, t in zip(urls, texts)}
        if len(self.truth) != len(urls):
            raise ValueError("input urls are not unique")

    def __len__(self) -> int:
        return len(self.truth)


def check_extraction(expected: Expected, rows) -> dict:
    """rows: iterable of (url, digest of extracted_text, error_count).

    Returns counts plus ``bad``: the urls that violate the gate (missing,
    duplicated, unknown, or text not byte-identical to the truth)."""
    seen: Counter = Counter()
    got: dict = {}
    errors = 0
    n_rows = 0
    for url, dig, error_count in rows:
        n_rows += 1
        seen[url] += 1
        got[url] = dig
        if error_count:
            errors += 1
    bad = set()
    one_row = 0
    n_truth = 0
    parity_ok = 0
    for url, want in expected.truth.items():
        n = seen.get(url, 0)
        if n == 1:
            one_row += 1
        else:
            bad.add(url)
        if want is not None:
            n_truth += 1
            if n >= 1 and got[url] == want:
                parity_ok += 1
            else:
                bad.add(url)
    bad.update(u for u in seen if u not in expected.truth)
    return {"inputs": len(expected), "rows": n_rows, "one_row": one_row,
            "truth": n_truth, "parity_ok": parity_ok, "error_docs": errors,
            "bad": sorted(bad)}


def normalize(rows, cols) -> list[str]:
    """Order-insensitive, column-order-insensitive row rendering, the
    comparison tools/check_oracles.py applies (floats to 6 places)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def check_query(got: list[str], want: list[str]) -> dict:
    """Compare normalized query rows to normalized oracle rows."""
    common = sum((Counter(got) & Counter(want)).values())
    return {"rows": len(got), "oracle_rows": len(want),
            "rows_ok": common, "rows_max": max(len(got), len(want)),
            "match": got == want}


def self_test() -> bool:
    """Feed the gate one altered row and one dropped row and check that
    it flags exactly those two urls (and nothing on the clean copy)."""
    urls = [f"u{i}" for i in range(6)]
    texts = ["alpha", "beta", None, "gamma", "delta", "épsilon"]
    exp = Expected(urls, texts)
    clean = [(u, digest(t if t is not None else "anything"), 0)
             for u, t in zip(urls, texts)]
    ok = check_extraction(exp, clean)["bad"] == []
    damaged = list(clean)
    damaged[1] = ("u1", digest("beta "), 0)     # altered text
    del damaged[4]                              # dropped row
    ok &= check_extraction(exp, damaged)["bad"] == ["u1", "u4"]
    dup = clean + [clean[0]]
    ok &= check_extraction(exp, dup)["bad"] == ["u0"]
    want = normalize([(1, "x"), (2, "y")], ["id", "v"])
    ok &= check_query(want, want)["match"]
    altered = normalize([(1, "x"), (2, "z")], ["id", "v"])
    ok &= not check_query(altered, want)["match"]
    dropped = normalize([(1, "x")], ["id", "v"])
    res = check_query(dropped, want)
    ok &= not res["match"] and res["rows_ok"] == 1
    return bool(ok)
