"""Independent answers the benchmark checks the program's outputs
against.  Nothing here runs inside a timed section.

Search responses are checked against ``tests/oracle_bm25.py``'s
``OracleEngine`` (the repo's pinned pure-Python BM25, f32 arithmetic),
built from the generator's token lists rather than by re-analyzing the
text; facet counts are recomputed with DuckDB.  Pipeline outputs are
checked by what they must satisfy, with set arithmetic over the same
token lists: every planted near-duplicate pair is found and every pair
reported clears the Jaccard threshold, recomputed here.
"""

from __future__ import annotations

import os
import sys

import numpy as np

_TESTS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests")
if _TESTS not in sys.path:
    sys.path.insert(0, _TESTS)

from oracle_bm25 import OracleEngine, OracleIndex  # noqa: E402

SCORE_RTOL = 5e-7  # engine rounds f64 to f32; the oracle is f32 throughout


class TokenIndex(OracleIndex):
    """``OracleIndex`` fed token lists (position = list index)."""

    def __init__(self, token_lists: dict[int, list[str]]):
        self.doclens, self.postings = {}, {}
        for doc_id, toks in token_lists.items():
            self.doclens[doc_id] = len(toks)
            for pos, term in enumerate(toks):
                self.postings.setdefault(term, {}).setdefault(
                    doc_id, []).append(pos)
        self.n = len(token_lists)
        self.avgdl = (sum(self.doclens.values()) / self.n
                      if self.n else 0.0)


class SearchOracle:
    def __init__(self, docs: list[dict]):
        self.engine = OracleEngine.__new__(OracleEngine)
        self.engine.ix = TokenIndex({d["id"]: d["toks"] for d in docs})
        self.engine.numeric = {d["id"]: d["rank"] for d in docs}
        self.rank = self.engine.numeric
        import duckdb

        self.db = duckdb.connect()
        self.db.execute("CREATE TABLE docs (id BIGINT, cat VARCHAR)")
        self.db.executemany("INSERT INTO docs VALUES (?, ?)",
                            [(d["id"], d["cat"]) for d in docs])

    def expected(self, body: dict) -> dict:
        """(doc ids, scores, facets) the engine must return."""
        scores = self.engine._scores(body["query"])
        k = body.get("limit", 100)
        if body.get("sort_by"):
            ranked = sorted(scores, key=lambda d: (-self.rank[d], d))[:k]
            hits = [(d, float(self.rank[d])) for d in ranked]
        else:
            hits = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        facets = []
        if body.get("facets"):
            ((_field, paths),) = body["facets"].items()
            facets = self.facet_counts(sorted(scores), paths[0])
        return {"hits": hits, "facets": facets}

    def facet_counts(self, matched: list[int], prefix: str) -> list[dict]:
        prefix = prefix.rstrip("/")
        depth = len([p for p in prefix.split("/") if p]) + 1
        self.db.execute("CREATE OR REPLACE TEMP TABLE m (id BIGINT)")
        if matched:
            self.db.executemany("INSERT INTO m VALUES (?)",
                                [(d,) for d in matched])
        rows = self.db.execute(
            """SELECT '/' || array_to_string(
                      string_split(cat, '/')[2:?], '/') AS child,
                      count(*) AS n
               FROM docs JOIN m USING (id)
               WHERE starts_with(cat, ? || '/')
               GROUP BY child ORDER BY child""",
            [depth + 1, prefix]).fetchall()
        return [{"field": c, "value": n} for c, n in rows]

    def check(self, body: dict, status: int, resp) -> str | None:
        """None when the response is right, else why it is not."""
        if status != 200:
            return f"status {status}: {resp}"
        want = self.expected(body)
        got_ids = [d["doc"]["id"] for d in resp["docs"]]
        want_ids = [d for d, _ in want["hits"]]
        if got_ids != want_ids:
            return f"doc ids {got_ids} != {want_ids}"
        if want_ids:
            got_s = np.array([d["score"] for d in resp["docs"]], np.float32)
            want_s = np.array([s for _, s in want["hits"]], np.float32)
            if not np.allclose(got_s, want_s, rtol=SCORE_RTOL, atol=0):
                return f"scores {got_s.tolist()} != {want_s.tolist()}"
        if resp["facets"] != want["facets"]:
            return f"facets {resp['facets']} != {want['facets']}"
        return None


# ----------------------------------------------------------- pipeline

def shingles(toks: list[str], k: int = 3) -> set[tuple]:
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: list[str], b: list[str], k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def contaminated_ids(docs: list[dict], passages: list[list[str]],
                     n: int = 8) -> list[int]:
    grams = {tuple(p[i:i + n]) for p in passages
             for i in range(len(p) - n + 1)}
    return sorted(d["doc_id"] for d in docs
                  if any(tuple(d["toks"][i:i + n]) in grams
                         for i in range(len(d["toks"]) - n + 1)))


def minhash_signature(toks: list[str], n_hashes: int = 8,
                      k: int = 3) -> list[int]:
    """The MinHash ``pipeline.dedup.add_minhash_cols`` specifies,
    recomputed in Python: per token two 28-bit ints from its md5 hex
    (characters 0-6 and 8-14); per k-window the base-131 / base-137
    polynomials h1, h2 (h2 forced odd); hash i is min over windows of
    h1 + i * h2.  Used only to count the LSH's candidate pairs for the
    traced run, never to check an output."""
    import hashlib

    a, b = [], []
    for t in toks:
        hx = hashlib.md5(t.encode("utf-8")).hexdigest()
        a.append(int(hx[0:7], 16))
        b.append(int(hx[8:15], 16))

    def poly(arr, mult, j):
        acc = 0
        for i in range(k):
            acc = acc * mult + (arr[j + i] if j + i < len(arr) else 0)
        return acc

    windows = range(max(len(toks) - k, 0) + 1)
    h1 = [poly(a, 131, j) for j in windows]
    h2 = [poly(b, 137, j) | 1 for j in windows]
    return [min(x + i * y for x, y in zip(h1, h2)) for i in range(n_hashes)]


def lsh_candidate_count(toks: dict[int, list[str]], n_hashes: int = 8,
                        n_bands: int = 4, k: int = 3,
                        max_bucket: int = 1000) -> int:
    """How many pairs ``minhash_dedup``'s banding sends to the Jaccard
    verify: docs sharing any band's bucket (buckets above
    ``max_bucket`` docs dropped)."""
    rows = n_hashes // n_bands
    buckets: dict[tuple, list[int]] = {}
    for d, t in toks.items():
        if not t:
            continue
        sig = minhash_signature(t, n_hashes, k)
        for band in range(n_bands):
            key = (band, tuple(sig[band * rows:(band + 1) * rows]))
            buckets.setdefault(key, []).append(d)
    return len({(x, y) for ds in buckets.values() if len(ds) <= max_bucket
                for x in ds for y in ds if x < y})


def check_pass(slice_: dict, passages, pairs, contaminated, packed,
               threshold: float = 0.5) -> list[str]:
    """Problems with one pipeline pass's outputs (empty when right).

    ``pairs`` are the verified (a, b, jaccard) rows, ``contaminated``
    the flagged doc ids, ``packed`` the (doc_id, n_tokens, tok_offset)
    rows of the kept docs.  Every planted near-duplicate pair must be
    among the verified pairs, and every verified pair must carry its
    k-shingle Jaccard, recomputed here, at or above ``threshold``; the
    flagged docs must be exactly the docs holding an eval-set n-gram;
    the packed offsets must be the running token count."""
    toks = {d["doc_id"]: d["toks"] for d in slice_["docs"]}
    bad = []
    got_pairs = {(a, b): j for a, b, j in pairs}
    for ab, j in sorted(got_pairs.items()):
        want = jaccard(toks[ab[0]], toks[ab[1]])
        if want < threshold:
            bad.append(f"pair {ab} reported, jaccard {want:.4f} is below "
                       f"{threshold}")
        elif abs(want - j) > 1e-4:
            bad.append(f"pair {ab} jaccard {j} != {want:.4f}")
    missed = [tuple(p) for p in slice_["pairs"] if tuple(p) not in got_pairs]
    if missed:
        bad.append(f"planted near-duplicate pairs not found: {missed}")
    want_c = contaminated_ids(slice_["docs"], passages)
    if not set(slice_["contaminated"]) <= set(want_c):
        bad.append("generator planted a passage the oracle misses")
    if sorted(contaminated) != want_c:
        bad.append(f"contaminated {sorted(contaminated)} != {want_c}")
    offset = 0
    for doc_id, n_tokens, tok_offset in sorted(packed):
        if n_tokens != len(toks[doc_id]) or tok_offset != offset:
            bad.append(f"pack row {doc_id}: ({n_tokens}, {tok_offset})")
            break
        offset += n_tokens
    return bad
