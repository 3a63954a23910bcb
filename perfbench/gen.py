"""Seeded input generator for the benchmark.

Everything the workloads feed the program comes from here, so a change
to the program cannot change its own inputs.  The same seed gives the
same corpus, query streams, NDJSON batches and pipeline slices.

Documents are generated as token lists first; the text a document
carries is those tokens joined by spaces (plus punctuation in pipeline
slices).  The oracles in ``oracle.py`` are built from the token lists,
never by re-tokenizing the text with the program's analyzer.
"""

from __future__ import annotations

import json
import random
import string

# the pipeline's quality gate counts these (pipeline.textstats); they
# head the Zipf vocabulary the way stopwords head real text
STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "it", "that", "for"]

VOCAB_SIZE = 6000
ZIPF_S = 1.05
# (min, max) token counts and their weights: short, medium, long docs
DOC_LENGTHS = [((6, 20), 5), ((40, 90), 4), ((200, 380), 1)]
N_CATS, N_SUBCATS = 6, 4
RANK_MAX = 100_000

# the search query stream: terms come from three document-frequency
# bands of the search corpus, cut by df rank
HEAD_TERMS, MID_TERMS = 60, 1200
# the search stream is made of cycles: a cycle of CYCLE_ROUNDS rounds
# asks every top-k shape (the bands its terms come from) and every
# structured kind once, so a run of whole cycles asks the same mix
# whatever the program's speed; only the terms change
TOPK_SHAPES = [("head",), ("mid", "tail"), ("mid",), ("head", "mid", "tail"),
               ("tail",), ("head", "mid", "mid", "tail"), ("head", "tail")]
READER_SHAPE = ("mid", "tail")
STRUCTURED_KINDS = ["phrase", "bool", "fuzzy", "regex", "range", "facets",
                    "sort_by"]
CYCLE_ROUNDS = len(STRUCTURED_KINDS)
assert len(TOPK_SHAPES) == CYCLE_ROUNDS


def make_vocab(rng: random.Random, size: int = VOCAB_SIZE) -> list[str]:
    """Stopwords first, then distinct pseudo-words of 3-10 letters."""
    consonants = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    seen = set(STOPWORDS)
    words = list(STOPWORDS)
    while len(words) < size:
        n_syl = rng.choice((2, 2, 3, 3, 4))
        w = "".join(rng.choice(consonants) + rng.choice(vowels)
                    for _ in range(n_syl))
        if rng.random() < 0.3:
            w += rng.choice(consonants)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Draws vocabulary ranks with P(r) proportional to 1 / r^s."""

    def __init__(self, n: int, s: float):
        acc, total = [], 0.0
        for r in range(1, n + 1):
            total += 1.0 / r ** s
            acc.append(total)
        self.cum = [a / total for a in acc]

    def draw(self, rng: random.Random) -> int:
        import bisect

        return min(bisect.bisect_left(self.cum, rng.random()),
                   len(self.cum) - 1)


class Generator:
    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = make_vocab(random.Random(f"vocab-{seed}"))
        self.zipf = Zipf(len(self.vocab), ZIPF_S)

    def rng(self, *label) -> random.Random:
        return random.Random("-".join(map(str, (self.seed,) + label)))

    # ---------------------------------------------------------- corpus

    def tokens(self, rng: random.Random, lengths=DOC_LENGTHS) -> list[str]:
        (lo, hi), = rng.choices([b for b, _ in lengths],
                                [w for _, w in lengths])
        return [self.vocab[self.zipf.draw(rng)]
                for _ in range(rng.randint(lo, hi))]

    def doc(self, rng: random.Random, doc_no: int,
            extra: list[str] = (), toks: list[str] | None = None) -> dict:
        """One index document: ``toks`` is the oracle's view, ``json``
        the NDJSON body the API receives."""
        if toks is None:
            toks = self.tokens(rng)
        toks = toks + list(extra)
        d = {
            "body": " ".join(toks),
            "id": doc_no,
            "rank": rng.randrange(RANK_MAX),
            "cat": f"/c{rng.randrange(N_CATS)}/s{rng.randrange(N_SUBCATS)}",
        }
        return {"id": doc_no, "toks": toks, "rank": d["rank"],
                "cat": d["cat"], "json": json.dumps(d)}

    def search_corpus(self, n_docs: int) -> list[dict]:
        rng = self.rng("search-corpus")
        return [self.doc(rng, i) for i in range(n_docs)]

    # ------------------------------------------------------ query stream

    @staticmethod
    def df_bands(docs: list[dict]) -> dict[str, list[str]]:
        df: dict[str, int] = {}
        for d in docs:
            for t in set(d["toks"]):
                df[t] = df.get(t, 0) + 1
        ranked = sorted(df, key=lambda t: (-df[t], t))
        return {
            "head": ranked[:HEAD_TERMS],
            "mid": ranked[HEAD_TERMS:HEAD_TERMS + MID_TERMS],
            "tail": ranked[HEAD_TERMS + MID_TERMS:],
        }

    def topk_query(self, rng: random.Random, bands,
                   shape: tuple[str, ...]) -> tuple[dict, list]:
        """A BM25 top-k query with one term drawn from each band named
        in ``shape``: a single ``term`` query, else a ``should`` bool."""
        picked = [(band, rng.choice(bands[band])) for band in shape]
        n_terms = len(picked)
        if n_terms == 1:
            q = {"term": {"body": picked[0][1]}}
        else:
            q = {"bool": {"should": [{"term": {"body": t}}
                                     for _, t in picked]}}
        return {"query": q, "limit": 10}, [b for b, _ in picked]

    def structured_query(self, rng: random.Random, kind: str, bands,
                         docs: list[dict]) -> tuple[dict, list]:
        def term(band):
            return rng.choice(bands[band])

        if kind == "phrase":
            toks = rng.choice([d for d in docs[:500]
                               if len(d["toks"]) >= 3])["toks"]
            i = rng.randrange(len(toks) - 1)
            return ({"query": {"phrase": {"body": {
                "terms": toks[i:i + 2]}}}, "limit": 10}, [])
        if kind == "bool":
            a, b, c = term("head"), term("mid"), term("mid")
            return ({"query": {"bool": {
                "must": [{"term": {"body": a}}],
                "should": [{"term": {"body": b}}],
                "must_not": [{"term": {"body": c}}]}}, "limit": 10},
                ["head", "mid", "mid"])
        if kind == "fuzzy":
            t = term("mid")
            i = rng.randrange(len(t))
            typo = t[:i] + rng.choice(string.ascii_lowercase) + t[i + 1:]
            return ({"query": {"fuzzy": {"body": {
                "value": typo, "distance": 1, "transposition": False}}},
                "limit": 10}, ["mid"])
        if kind == "regex":
            t = term("mid")
            return ({"query": {"regex": {"body": t[:3] + "[a-z]*"}},
                     "limit": 10}, ["mid"])
        if kind == "range":
            lo = rng.randrange(RANK_MAX - 2000)
            return ({"query": {"range": {"rank": {
                "gte": lo, "lt": lo + 2000}}}, "limit": 10}, [])
        if kind == "facets":
            return ({"query": {"term": {"body": term("head")}},
                     "facets": {"cat": [f"/c{rng.randrange(N_CATS)}"]},
                     "limit": 10}, ["head"])
        if kind == "sort_by":
            return ({"query": {"term": {"body": term("mid")}},
                     "sort_by": "rank", "limit": 10}, ["mid"])
        raise ValueError(kind)

    def search_cycle(self, cycle_no: int, docs: list[dict], bands):
        """Cycle ``cycle_no`` of the two search clients' requests: a
        list of ``CYCLE_ROUNDS`` rounds, each a pair (client 0's
        ``topk`` request, client 1's ``structured`` request).  Round
        ``r`` asks top-k shape ``r`` and structured kind ``r``.
        Requests are (class, kind, body, df bands of its terms)."""
        rng = self.rng("search-cycle", cycle_no)
        rounds = []
        for shape, kind in zip(TOPK_SHAPES, STRUCTURED_KINDS):
            body, used = self.topk_query(rng, bands, shape)
            sbody, sused = self.structured_query(rng, kind, bands, docs)
            rounds.append([("topk", "-".join(shape), body, used),
                           ("structured", kind, sbody, sused)])
        return rounds

    def reader_stream(self, docs: list[dict], bands):
        """The ingest workload's concurrent reader: top-k queries of one
        shape (a run holds only a few reads, so a mix of shapes would
        make their median depend on how many fit in the window)."""
        rng = self.rng("reader-stream")
        while True:
            body, used = self.topk_query(rng, bands, READER_SHAPE)
            yield "topk", "-".join(READER_SHAPE), body, used

    # --------------------------------------------------- ingest batches

    def ingest_batch(self, batch_no: int, first_id: int, n_docs: int,
                     n_marked: int = 5) -> dict:
        """One ``_bulk`` body.  Every doc carries the batch's marker
        term (visibility check); the first ``n_marked`` also carry the
        batch's delete marker, which a later ``DELETE`` removes."""
        rng = self.rng("ingest-batch", batch_no)
        docs = []
        for j in range(n_docs):
            extra = [f"batchmark{batch_no}"]
            if j < n_marked:
                extra.append(f"delmark{batch_no}")
            docs.append(self.doc(rng, first_id + j, extra))
        return {"batch_no": batch_no, "docs": docs,
                "ndjson": "\n".join(d["json"] for d in docs)}

    # --------------------------------------------------- pipeline slices

    def eval_passages(self, n: int = 12) -> list[list[str]]:
        """Held-out eval-set passages (contamination sources)."""
        rng = self.rng("eval-set")
        return [[self.vocab[60 + self.zipf.draw(rng) % 3000]
                 for _ in range(rng.randint(12, 20))] for _ in range(n)]

    def pipeline_slice(self, pass_no: int, n_docs: int,
                       n_dups: int = 6, n_contam: int = 6) -> dict:
        """A fresh corpus slice with planted near-duplicate pairs and
        planted eval-set passages.  Returns the docs, the planted pairs
        (a, b) and the planted contaminated doc ids."""
        rng = self.rng("pipeline-slice", pass_no)
        base = pass_no * 1_000_000
        long_only = [((120, 260), 1)]
        toks = [self.tokens(rng, long_only) for _ in range(n_docs)]
        pairs = []
        # near-duplicates: a copy of an earlier doc with one token
        # substituted (3-shingle Jaccard above 0.9)
        for k in range(n_dups):
            src = rng.randrange(n_docs // 2)
            dst = n_docs // 2 + k
            copy = list(toks[src])
            copy[rng.randrange(len(copy))] = self.vocab[
                rng.randrange(100, len(self.vocab))]
            toks[dst] = copy
            pairs.append((base + src, base + dst))
        passages = self.eval_passages()
        contaminated = []
        planted_dups = {b - base for _, b in pairs} | {a - base
                                                       for a, _ in pairs}
        free = [i for i in range(n_docs) if i not in planted_dups]
        for i in rng.sample(free, n_contam):
            p = rng.choice(passages)
            at = rng.randrange(len(toks[i]))
            toks[i] = toks[i][:at] + p + toks[i][at:]
            contaminated.append(base + i)
        docs = []
        for i, t in enumerate(toks):
            # punctuation the pipeline's tokenizer splits away
            words = [w + "," if j % 11 == 10 else w for j, w in enumerate(t)]
            docs.append({"doc_id": base + i, "toks": t,
                         "text": " ".join(words) + "."})
        return {"docs": docs, "pairs": sorted(pairs),
                "contaminated": sorted(contaminated)}
