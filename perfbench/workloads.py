"""The benchmark's workloads, driven through the entry points users
call: ``ToshiApi.handle`` for search and ingest, and the
``toshi_spark.pipeline`` functions for the batch chain.

Each workload is a set of closed loops in one process (at most as many
threads as cores).  A run has three phases:

* set-up: one cold start (Spark start, index create, initial ``_bulk``
  + ``_flush``, warm-up), timed as ``cold_setup_s``, and then three
  server re-starts over the durable index (a fresh ``IndexCatalog`` and
  ``ToshiApi`` on the index directory, plus a warm-up search) whose
  median is ``setup_s``.  The Spark session is kept across re-starts:
  restarting it would make the first operations of every run pay the
  Python-worker start-up again;
* the timed loops, for ``--seconds`` rounded up to whole units of
  work (search cycles, commits);
* the correctness checks against ``oracle.py``, outside any timing.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import traceback
from contextlib import nullcontext

from gen import CYCLE_ROUNDS, STRUCTURED_KINDS, TOPK_SHAPES, Generator
from oracle import SearchOracle, check_pass, lsh_candidate_count

INDEX = "bench"
SCHEMA = [
    {"name": "body", "ftype": "text"},
    {"name": "id", "ftype": "u64"},
    {"name": "rank", "ftype": "u64", "fast": True},
    {"name": "cat", "ftype": "facet"},
]
N_SEARCH_DOCS = 2000
N_REOPENS = 3
SEARCH_CLIENTS = 2
BATCH_DOCS = 150
# bodies above this take the distributed (Spark job) parse: the base
# load (about 190 KiB) goes over it and every run batch (about 70 KiB)
# stays under it, so both `_bulk` parse paths run in each run while the
# timed commits stay alike
BULK_DISTRIBUTED_BYTES = 96 << 10
# the reference log merge policy with the trigger lowered from 8
# segments to 2: every commit then merges its new segment into the base
# (all segments sit in the lowest level), so the two or three commits a
# run makes are alike and each completes a merge cycle
MERGE_POLICY = {"kind": "log", "min_merge_size": 2}
DELETE_EVERY = 3
MARKED_DOCS = 5  # docs per batch carrying the batch's delete marker
BASE_SLICE_DOCS = 300
N_BASE_DOCS = 400


def now() -> float:
    return time.perf_counter()


def med(values) -> float:
    values = list(values)
    if not values:
        raise RuntimeError("an operation class completed no request; "
                           "the run is too short (raise --seconds)")
    return float(statistics.median(values))


class Ops:
    """Records every timed operation; opens its tracing request and
    Spark job group when the run is traced."""

    def __init__(self, bench):
        self.bench = bench
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._wait = threading.local()

    def locked(self, lock, fn):
        """``fn`` under ``lock`` (the lock stands in for the isolation
        the catalog lacks, see README).  The wait for the lock is part
        of the operation's latency, as a client of the server sees it;
        it is also recorded on its own and traced as a span."""
        tracer = self.bench.tracer

        def call():
            t = now()
            with tracer.span("lock.wait") if tracer else nullcontext():
                lock.acquire()
            self._wait.s += now() - t
            try:
                return fn()
            finally:
                lock.release()
        return call

    def run(self, spark, rid: str, op: str, traced: bool, fn, **attrs):
        tracing = self.bench.tracer is not None
        if tracing:
            sc = spark.sparkContext
            outer = sc.getLocalProperty("spark.jobGroup.id") or "idle"
            sc.setJobGroup(rid, op)
        rec = {"rid": rid, "op": op, "traced": tracing and traced,
               "start": time.time(), **attrs}
        self._wait.s = 0.0
        t = now()
        try:
            if tracing:
                with self.bench.tracer.request(rid, op, rec["traced"]):
                    out = fn()
            else:
                out = fn()
            rec["error"] = None
        except Exception as e:  # counted as a failed operation
            out = None
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            rec["traceback"] = traceback.format_exc()[-3000:]
        rec["lock_wait_s"] = self._wait.s
        rec["latency_s"] = now() - t
        rec["end"] = time.time()
        if tracing:
            sc.setJobGroup(outer, outer)
        with self._lock:
            self.records.append(rec)
        return rec, out


class FifoLock:
    """A lock granted in the order it was asked for.  (A thread that
    releases a ``threading.Lock`` and asks again usually gets it back,
    so a reader and a writer would not take turns.)"""

    def __init__(self):
        self._cv = threading.Condition()
        self._asked = 0
        self._served = 0

    def acquire(self) -> None:
        with self._cv:
            ticket = self._asked
            self._asked += 1
            while ticket != self._served:
                self._cv.wait()

    def release(self) -> None:
        with self._cv:
            self._served += 1
            self._cv.notify_all()


def _expect(resp, status: int, what: str):
    if resp[0] != status:
        raise RuntimeError(f"{what}: {resp}")
    return resp[1]


class Server:
    """Spark session + ``ToshiApi`` over the run's index directory."""

    def __init__(self, bench, api_kwargs=None):
        self.bench = bench
        self.api_kwargs = api_kwargs or {}
        self.spark = None
        self.api = None

    def start(self) -> float:
        """Start Spark and open the API; returns the Spark start time."""
        t = now()
        self.spark = self.bench.start_spark()
        session_s = now() - t
        self.reopen()
        return session_s

    def reopen(self) -> None:
        from toshi_spark.api import ToshiApi
        from toshi_spark.index.catalog import IndexCatalog

        self.api = ToshiApi(IndexCatalog(self.spark, self.bench.index_dir),
                            **self.api_kwargs)

    def search(self, body):
        return self.api.handle("POST", f"/{INDEX}", body)


def _setup(bench, server: Server, load, warmup) -> dict:
    """Cold start, then ``N_REOPENS`` timed re-starts."""
    bench.phase("inputs")
    t = now()
    session_s = server.start()
    bench.phase("session")
    if bench.tracer is not None:
        server.spark.sparkContext.setJobGroup("setup", "setup")
    _expect(server.api.handle("PUT", f"/{INDEX}/_create", SCHEMA), 201,
            "create")
    load(server)
    bench.phase("load")
    warmup(server)
    cold = now() - t
    bench.phase("cold_setup")
    reopens = []
    for _ in range(N_REOPENS):
        t = now()
        server.reopen()
        warmup(server)
        reopens.append(now() - t)
    bench.phase("reopens")
    return {"cold_setup_s": cold, "setup_s": med(reopens),
            "reopen_setups_s": reopens, "session_start_s": session_s}


def _run_threads(targets) -> None:
    """Run each target in its own thread; re-raise the first error a
    thread hit outside an operation (a benchmark bug, not a failed
    operation)."""
    errors = []

    def guard(target):
        try:
            target()
        except BaseException as e:
            errors.append(e)
            raise

    threads = [threading.Thread(target=guard, args=(t,)) for t in targets]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]


# ------------------------------------------------------------- search

def run_search(bench) -> dict:
    g = Generator(bench.seed)
    docs = g.search_corpus(N_SEARCH_DOCS)
    bands = g.df_bands(docs)
    oracle = SearchOracle(docs)
    ndjson = "\n".join(d["json"] for d in docs)
    server = Server(bench)
    warm_body = g.topk_query(g.rng("warm-up"), bands, ("mid",))[0]

    def load(s):
        _expect(s.api.handle("POST", f"/{INDEX}/_bulk", ndjson), 201, "bulk")
        _expect(s.api.handle("GET", f"/{INDEX}/_flush"), 200, "flush")

    def warmup(s):
        _expect(s.search(warm_body), 200, "warm-up search")

    setup = _setup(bench, server, load, warmup)
    ops = Ops(bench)
    responses = []
    deadline = now() + bench.seconds
    t_run = now()

    # the clients issue their requests in lock-step rounds: in round r
    # of a cycle client 0 asks top-k shape r and client 1 structured
    # kind r, so each request always overlaps the same request class
    # (random pairings of cheap and costly kinds would dominate the
    # run-to-run spread).  The deadline is looked at only between
    # cycles: a run is whole cycles, so every run asks the same mix of
    # shapes and kinds however fast the program is
    state = {"round": -1, "go": True, "cycle": None}
    # a traced run asks each kind traced in one cycle and untraced in
    # the next, for the tracing overhead
    min_cycles = 2 if bench.tracer is not None else 1

    def next_round():  # runs once per round, so both clients agree
        state["round"] += 1
        r = state["round"]
        if r % CYCLE_ROUNDS == 0:
            state["go"] = (r < min_cycles * CYCLE_ROUNDS
                           or now() < deadline)
            if state["go"]:
                state["cycle"] = g.search_cycle(r // CYCLE_ROUNDS, docs,
                                                bands)

    rounds = threading.Barrier(SEARCH_CLIENTS, action=next_round)

    def client(c):
        try:
            while True:
                rounds.wait()
                if not state["go"]:
                    break
                r = state["round"]
                cls, kind, body, used = state["cycle"][r % CYCLE_ROUNDS][c]
                # traced and untraced requests interleave (the tracing
                # overhead), and each kind is traced in every other cycle
                traced = (r + c + r // CYCLE_ROUNDS) % 2 == 0
                rec, resp = ops.run(server.spark, f"{cls}.{c}.{r}", cls,
                                    traced,
                                    lambda body=body: server.search(body),
                                    kind=kind, used_bands=used)
                responses.append((rec, body, resp))
        except BaseException:
            rounds.abort()  # release the other client
            raise

    _run_threads([lambda c=c: client(c) for c in range(SEARCH_CLIENTS)])
    run_wall = now() - t_run
    bench.phase("run")

    failures = []
    for rec, body, resp in responses:
        why = rec["error"] or (oracle.check(body, *resp))
        if why:
            failures.append({"rid": rec["rid"], "body": body, "why": why,
                             "traceback": rec.get("traceback")})
        elif resp is not None:
            rec["hits"] = resp[1]["hits"]
    asked = {rec["kind"] for rec, _, _ in responses}
    for kind in ["-".join(sh) for sh in TOPK_SHAPES] + STRUCTURED_KINDS:
        if kind not in asked:
            failures.append({"rid": "search.mix",
                             "why": f"no {kind} request ran"})
    topk = [r["latency_s"] for r in ops.records if r["op"] == "topk"]
    structured = [r["latency_s"] for r in ops.records
                  if r["op"] == "structured"]
    lat = sorted(topk + structured)
    info = {
        "structured_p50_ms": (med(structured) * 1000, "ms"),
        "search_qps": (len(lat) / run_wall, "1/s"),
        "searches": (len(lat), "count"),
        "cycles": (len(lat) // (SEARCH_CLIENTS * CYCLE_ROUNDS), "count"),
    }
    if len(lat) >= 100:
        info["search_p90_ms"] = (lat[int(0.9 * len(lat))] * 1000, "ms")
    bench.inputs = _stream_stats(responses, bands)
    bench.phase("checks")
    return {
        "server": server,
        "ops": ops.records,
        "failures": failures,
        "attempted": len(responses),
        "metrics": {
            "setup_s": setup["setup_s"],
            "cold_setup_s": setup["cold_setup_s"],
            "topk_p50_ms": med(topk) * 1000,
            "op_p50_ms": med(structured) * 1000,
            "throughput_per_s": len(lat) / run_wall,
        },
        "info": info,
        "setup": setup,
    }


def _stream_stats(responses, bands) -> dict:
    """Share of requests repeating an earlier one, and of query terms
    per document-frequency band."""
    seen, repeats, band_n = set(), 0, {"head": 0, "mid": 0, "tail": 0}
    for rec, body, _ in responses:
        key = json.dumps(body, sort_keys=True)
        repeats += key in seen
        seen.add(key)
        for b in rec.get("used_bands", []):
            band_n[b] += 1
    total = sum(band_n.values()) or 1
    return {
        "requests": len(responses),
        "repeat_share": round(repeats / max(len(responses), 1), 4),
        "term_band_share": {b: round(n / total, 4)
                            for b, n in band_n.items()},
        "band_sizes": {b: len(ts) for b, ts in bands.items()},
    }


# -------------------------------------------------------- ingest_mixed

def pipeline_pass(spark, sl: dict, d: str, eval_df, stage) -> None:
    """One pass of the staged chain over a slice; every stage's output
    is materialized as parquet under ``d``.  ``stage(name, fn)`` runs
    (and times) one stage."""
    from pyspark.sql import functions as F
    from toshi_spark.pipeline.corpus import with_tokens
    from toshi_spark.pipeline.dedup import minhash_dedup
    from toshi_spark.pipeline.textstats import gopher_filter, text_profile
    from toshi_spark.pipeline.training import contamination, pack_sequences

    spark.createDataFrame([(x["doc_id"], x["text"]) for x in sl["docs"]],
                          "doc_id long, text string").write.parquet(
        f"{d}/src")
    raw = spark.read.parquet(f"{d}/src")
    stage("tokens", lambda: with_tokens(raw).write.parquet(f"{d}/toks"))
    toks = spark.read.parquet(f"{d}/toks")
    stage("profile", lambda: text_profile(
        toks, toks_col="toks").write.parquet(f"{d}/profile"))
    stage("dedup", lambda: minhash_dedup(
        toks, tokens=toks.select("doc_id", F.col("toks").alias("_toks"))
    ).write.parquet(f"{d}/pairs"))
    stage("contamination", lambda: contamination(
        toks, eval_df, n=8, toks_col="toks").write.parquet(
        f"{d}/contamination"))
    stage("gopher", lambda: gopher_filter(
        toks, toks_col="toks").write.parquet(f"{d}/gopher"))

    def pack():
        pairs = spark.read.parquet(f"{d}/pairs")
        cont = spark.read.parquet(f"{d}/contamination")
        keep = spark.read.parquet(f"{d}/gopher")
        kept = (toks
                .join(pairs.select(F.col("b").alias("doc_id")), "doc_id",
                      "left_anti")
                .join(cont.filter("contaminated").select("doc_id"),
                      "doc_id", "left_anti")
                .join(keep.filter("keep").select("doc_id"), "doc_id",
                      "left_semi"))
        pack_sequences(kept, toks_col="toks").write.parquet(f"{d}/pack")

    stage("pack", pack)


def run_ingest_mixed(bench) -> dict:
    g = Generator(bench.seed)
    passages = g.eval_passages()
    eval_rows = [(" ".join(p[i:i + 8]),) for p in passages
                 for i in range(len(p) - 7)]
    stage_root = os.path.join(bench.work, "stages")
    base_slice = g.pipeline_slice(0, BASE_SLICE_DOCS)
    base = g.search_corpus(N_BASE_DOCS)
    base_ndjson = "\n".join(d["json"] for d in base)
    bands = g.df_bands(base)
    reader_q = g.reader_stream(base, bands)
    warm_body = next(reader_q)[2]
    server = Server(bench, {"bulk_distributed_bytes": BULK_DISTRIBUTED_BYTES,
                            "merge_policy": MERGE_POLICY})
    ops = Ops(bench)
    state = {}

    def load(s):
        """Run the pipeline pass over its corpus slice, then load the
        base index."""
        eval_df = s.spark.createDataFrame(eval_rows, "gram string").persist()
        eval_df.count()
        d = os.path.join(stage_root, "base")
        stage_s = {}

        def stage(name, fn):
            rec, _ = ops.run(s.spark, f"stage.{name}", "stage", True, fn,
                             stage=name)
            if rec["error"]:
                raise RuntimeError(f"pipeline stage {name}: {rec['error']}")
            stage_s[name] = rec["latency_s"]

        pipeline_pass(s.spark, base_slice, d, eval_df, stage)
        _expect(s.api.handle("POST", f"/{INDEX}/_bulk", base_ndjson),
                201, "bulk")
        _expect(s.api.handle("GET", f"/{INDEX}/_flush"), 200, "flush")
        state["pass"] = {"slice": base_slice, "dir": d, "stage_s": stage_s}

    def warmup(s):
        _expect(s.search(warm_body), 200, "warm-up search")

    setup = _setup(bench, server, load, warmup)
    spark = server.spark

    # every API call of the writer and the reader takes this lock, so
    # they take turns: each read waits for the writer call in progress
    # (a _bulk, a _flush with its merge, a DELETE), and each writer
    # call for the read in progress
    api_lock = FifoLock()
    writer_started, writer_done = threading.Event(), threading.Event()
    deadline = now() + bench.seconds
    acked, deleted = [], []
    input_bytes = [len(base_ndjson.encode())]
    reads = []

    def locked(fn):
        return ops.locked(api_lock, fn)

    def writer():
        try:
            write()
        finally:
            writer_done.set()
            writer_started.set()  # a writer that failed at once

    def write():
        k, next_id = 0, len(base)
        last_commit_s = 0.0
        # a commit (with its merge) takes most of a run, so the writer
        # starts one only if the last one's wall time still fits before
        # the deadline: no commit runs far past the window
        while now() + last_commit_s < deadline:
            n = BATCH_DOCS
            body = g.ingest_batch(k, next_id, n,
                                  n_marked=MARKED_DOCS)["ndjson"]

            def bulk():
                # under the lock: the reader starts, and queues, now
                writer_started.set()
                return server.api.handle("POST", f"/{INDEX}/_bulk", body)

            def commit():
                r1 = locked(bulk)()
                r2 = locked(lambda: server.api.handle(
                    "GET", f"/{INDEX}/_flush"))()
                return r1, r2

            t_commit = now()
            rec, out = ops.run(spark, f"commit.{k}", "commit", True, commit,
                               input_bytes=len(body.encode()), docs=n)
            last_commit_s = now() - t_commit
            if out is None or out[0] != (201, {"docs": n}) or \
                    out[1][0] != 200:
                rec["error"] = rec["error"] or f"commit: {out}"
                break
            acked.append((k, next_id, n))
            input_bytes.append(len(body.encode()))
            next_id += n
            if k % DELETE_EVERY == 0:
                body_d = {"terms": {"body": f"delmark{k}"},
                          "options": {"commit": True}}
                rec, out = ops.run(spark, f"delete.{k}", "delete", True,
                                   locked(lambda: server.api.handle(
                                       "DELETE", f"/{INDEX}", body_d)))
                if out != (200, {"docs_affected": MARKED_DOCS}):
                    rec["error"] = rec["error"] or f"delete: {out}"
                    break
                deleted.append(k)
            k += 1

    def reader():
        writer_started.wait()
        i = 0
        while not writer_done.is_set():
            _cls, kind, body, used = next(reader_q)
            rec, out = ops.run(spark, f"topk.r.{i}", "topk", i % 2 == 0,
                               locked(lambda: server.search(body)),
                               kind=kind, used_bands=used)
            if out is not None and out[0] != 200:
                rec["error"] = f"status {out}"
            elif out is not None:
                rec["hits"] = out[1]["hits"]
            reads.append((rec, body, out))
            i += 1

    _run_threads([writer, reader])
    bench.phase("run")

    failures = [{"rid": r["rid"], "why": r["error"],
                 "traceback": r.get("traceback")}
                for r in ops.records if r["error"]]
    failures += _check_ingest(server, acked, deleted)
    pipe = state["pass"]
    failures += _check_pipeline(pipe, passages)
    bench.lsh_pairs = {"verified": pipe["verified"],
                       "candidates": pipe["candidates"]}
    commits = [r["latency_s"] for r in ops.records if r["op"] == "commit"
               and not r["error"]]
    topk = [r["latency_s"] for r in ops.records if r["op"] == "topk"]
    docs_in = sum(n for _, _, n in acked)
    # the writer's wall time: its commits (merges included) and
    # deletes, with the waits for the reader's turns
    writer_s = sum(r["latency_s"] for r in ops.records
                   if r["op"] in ("commit", "delete"))
    docs_per_s = docs_in / writer_s if writer_s else 0.0
    index_bytes = _dir_bytes(os.path.join(bench.index_dir, INDEX))
    bench.inputs = _stream_stats(reads, bands)
    bench.phase("checks")
    return {
        "server": server,
        "ops": ops.records,
        "failures": failures,
        "attempted": len(ops.records),
        "metrics": {
            "setup_s": setup["setup_s"],
            "cold_setup_s": setup["cold_setup_s"],
            "topk_p50_ms": med(topk) * 1000,
            "op_p50_ms": med(commits) * 1000,
            "throughput_per_s": docs_per_s,
        },
        "info": {
            "commit_p50_ms": (med(commits) * 1000, "ms"),
            "ingest_docs_per_s": (docs_per_s, "docs/s"),
            "index_bytes_per_input_byte": (
                index_bytes / sum(input_bytes), "ratio"),
            "pipeline_docs_per_s": (
                BASE_SLICE_DOCS / sum(pipe["stage_s"].values()), "docs/s"),
            "commits": (len(commits), "count"),
            "deletes": (len(deleted), "count"),
            "reads": (len(topk), "count"),
        },
        "setup": setup,
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _visible(api, acked, deleted) -> list[str]:
    """Every acknowledged batch is searchable with its deletes applied:
    the docs a delete removed carry their batch's marker too, so one
    search over all batch markers checks both."""
    if not acked:
        return []
    body = {"query": {"bool": {"should": [
        {"term": {"body": f"batchmark{k}"}} for k, _, _ in acked]}},
        "limit": 1_000_000}
    status, resp = api.handle("POST", f"/{INDEX}", body)
    if status != 200:
        return [f"visibility search: {status} {resp}"]
    got = sorted(d["doc"]["id"] for d in resp["docs"])
    want = sorted(i for k, first, n in acked for i in range(first, first + n)
                  if not (k in deleted and i < first + MARKED_DOCS))
    if got != want:
        gone = sorted(set(want) - set(got))[:10]
        back = sorted(set(got) - set(want))[:10]
        return [f"visible ids differ: missing {gone}, unexpected {back}"]
    return []


def _check_ingest(server, acked, deleted) -> list[dict]:
    from toshi_spark.api import ToshiApi
    from toshi_spark.index.catalog import IndexCatalog

    bad = _visible(server.api, acked, deleted)
    # re-open on the same directory: the durability check
    fresh = ToshiApi(IndexCatalog(server.spark, server.bench.index_dir))
    bad += [f"after re-open: {b}" for b in _visible(fresh, acked, deleted)]
    return [{"rid": "ingest.check", "why": b} for b in bad]


def _check_pipeline(p: dict, passages) -> list[dict]:
    """Check one pipeline pass's staged outputs, read back with pyarrow
    (not Spark).  Records the verified and candidate pair counts in
    ``p``."""
    import pyarrow.parquet as pq

    d = p["dir"]
    pairs = pq.read_table(f"{d}/pairs").to_pylist()
    cont = pq.read_table(f"{d}/contamination").to_pylist()
    keep = pq.read_table(f"{d}/gopher").to_pylist()
    packed = pq.read_table(f"{d}/pack").to_pylist()
    p["verified"] = len(pairs)
    flagged = [r["doc_id"] for r in cont if r["contaminated"]]
    p["candidates"] = lsh_candidate_count(
        {x["doc_id"]: x["toks"] for x in p["slice"]["docs"]})
    why = check_pass(
        p["slice"], passages,
        [(r["a"], r["b"], r["jaccard"]) for r in pairs], flagged,
        [(r["doc_id"], r["n_tokens"], r["tok_offset"]) for r in packed])
    dropped = {r["b"] for r in pairs} | set(flagged) | {
        r["doc_id"] for r in keep if not r["keep"]}
    want_kept = sorted(x["doc_id"] for x in p["slice"]["docs"]
                       if x["doc_id"] not in dropped)
    if sorted(r["doc_id"] for r in packed) != want_kept:
        why.append("packed docs are not the surviving docs")
    shutil.rmtree(d, ignore_errors=True)
    return [{"rid": "pipeline", "why": w} for w in why]


WORKLOADS = {"search": run_search, "ingest_mixed": run_ingest_mixed}
