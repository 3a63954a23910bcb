"""The benchmark's own tests: generator determinism per seed, oracle
sanity, and the trace arithmetic.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

from gen import (CYCLE_ROUNDS, STRUCTURED_KINDS,  # noqa: E402
                 TOPK_SHAPES, Generator)
from oracle import (SearchOracle, TokenIndex, check_pass,  # noqa: E402
                    contaminated_ids, jaccard, lsh_candidate_count)
from spans import (Tracer, read_event_logs, self_times,  # noqa: E402
                   union_length)
import layers  # noqa: E402
import workloads  # noqa: E402


def _stream(gen, n_cycles, docs, bands):
    return [json.dumps(req[2], sort_keys=True)
            for c in range(n_cycles)
            for rnd in gen.search_cycle(c, docs, bands) for req in rnd]


@pytest.mark.parametrize("seed", [1, 7])
def test_generator_is_deterministic_per_seed(seed):
    a, b = Generator(seed), Generator(seed)
    da, db = a.search_corpus(300), b.search_corpus(300)
    assert [d["json"] for d in da] == [d["json"] for d in db]
    bands = a.df_bands(da)
    assert _stream(a, 3, da, bands) == _stream(b, 3, db, b.df_bands(db))
    assert a.ingest_batch(4, 500, 50)["ndjson"] == \
        b.ingest_batch(4, 500, 50)["ndjson"]
    sa, sb = a.pipeline_slice(3, 120), b.pipeline_slice(3, 120)
    assert sa == sb


def test_every_cycle_asks_every_shape_and_kind():
    g = Generator(4)
    docs = g.search_corpus(300)
    bands = g.df_bands(docs)
    for c in range(3):
        rounds = g.search_cycle(c, docs, bands)
        assert len(rounds) == CYCLE_ROUNDS
        assert [r[0][:2] for r in rounds] == [
            ("topk", "-".join(sh)) for sh in TOPK_SHAPES]
        assert [r[1][:2] for r in rounds] == [
            ("structured", k) for k in STRUCTURED_KINDS]


def test_seeds_differ():
    a, b = Generator(1), Generator(2)
    assert [d["json"] for d in a.search_corpus(50)] != \
        [d["json"] for d in b.search_corpus(50)]


@pytest.mark.parametrize("seed", range(1, 11))
def test_bodies_straddle_the_distributed_parse_threshold(seed):
    """Run batches take the driver-side parse, the base load the
    distributed one."""
    g = Generator(seed)
    for k in range(6):
        body = g.ingest_batch(k, 0, workloads.BATCH_DOCS)["ndjson"]
        assert len(body.encode()) < workloads.BULK_DISTRIBUTED_BYTES
    base = g.search_corpus(workloads.N_BASE_DOCS)
    body = "\n".join(d["json"] for d in base)
    assert len(body.encode()) > workloads.BULK_DISTRIBUTED_BYTES
    assert max(len(line) for line in body.splitlines()) < 10_000


@pytest.mark.parametrize("seed", range(1, 11))
def test_planted_pairs_and_contamination(seed):
    g = Generator(seed)
    sl = g.pipeline_slice(0, workloads.BASE_SLICE_DOCS)
    toks = {d["doc_id"]: d["toks"] for d in sl["docs"]}
    for a, b in sl["pairs"]:
        assert jaccard(toks[a], toks[b]) > 0.9
    assert set(sl["contaminated"]) <= set(
        contaminated_ids(sl["docs"], g.eval_passages()))


def test_token_index_matches_program_analysis():
    """The oracle's token lists are what the default analyzer makes of
    the generated text (so scoring from token lists is sound)."""
    from toshi_spark.analyzer import tokenize

    from oracle import OracleIndex

    docs = Generator(3).search_corpus(200)
    ti = TokenIndex({d["id"]: d["toks"] for d in docs})
    oi = OracleIndex({d["id"]: json.loads(d["json"])["body"] for d in docs})
    assert ti.doclens == oi.doclens and ti.postings == oi.postings
    assert tokenize("ab cd") == [("ab", 0), ("cd", 1)]


def _tiny():
    rows = [("the cat sat", 5, "/c0/s0"), ("the cat", 9, "/c0/s1"),
            ("dog sat down here", 1, "/c1/s0"), ("cat cat dog", 7, "/c0/s0")]
    return [{"id": i, "toks": t.split(), "rank": r, "cat": c}
            for i, (t, r, c) in enumerate(rows)]


def test_search_oracle_ranks_and_facets():
    o = SearchOracle(_tiny())
    got = o.expected({"query": {"term": {"body": "cat"}}, "limit": 10})
    # tf counts as 1: the shortest doc containing "cat" ranks first
    assert [d for d, _ in got["hits"]] == [1, 0, 3]
    assert got["hits"][0][1] > got["hits"][1][1]
    by_rank = o.expected({"query": {"term": {"body": "cat"}},
                          "sort_by": "rank", "limit": 2})
    assert by_rank["hits"] == [(1, 9.0), (3, 7.0)]
    facets = o.expected({"query": {"term": {"body": "cat"}},
                         "facets": {"cat": ["/c0"]}, "limit": 1})["facets"]
    assert facets == [{"field": "/c0/s0", "value": 2},
                      {"field": "/c0/s1", "value": 1}]


def test_search_oracle_rejects_wrong_answers():
    o = SearchOracle(_tiny())
    body = {"query": {"term": {"body": "dog"}}, "limit": 10}
    want = o.expected(body)["hits"]
    resp = {"hits": len(want), "facets": [],
            "docs": [{"score": s, "doc": {"id": d}} for d, s in want]}
    assert o.check(body, 200, resp) is None
    assert o.check(body, 500, resp) is not None
    swapped = dict(resp, docs=resp["docs"][::-1])
    assert "doc ids" in o.check(body, 200, swapped)
    off = dict(resp, docs=[dict(resp["docs"][0], score=want[0][1] * 1.001)]
               + resp["docs"][1:])
    assert "scores" in o.check(body, 200, off)


def test_check_pass_checks_behaviour():
    g = Generator(5)
    sl = g.pipeline_slice(1, 60, n_dups=2, n_contam=2)
    toks = {d["doc_id"]: d["toks"] for d in sl["docs"]}
    cont = contaminated_ids(sl["docs"], g.eval_passages())
    packed, off = [], 0
    for d in sorted(toks):
        packed.append((d, len(toks[d]), off))
        off += len(toks[d])
    found = [(a, b, round(jaccard(toks[a], toks[b]), 4))
             for a, b in sl["pairs"]]
    ev = g.eval_passages()
    assert check_pass(sl, ev, found, cont, packed) == []
    # a missed planted pair
    assert "not found" in check_pass(sl, ev, found[1:], cont, packed)[0]
    # an extra pair above the threshold is fine, one below it is not
    lo = sorted(toks)[:2]
    j = jaccard(toks[lo[0]], toks[lo[1]])
    assert j < 0.5
    assert "below" in check_pass(sl, ev, found + [(*lo, j)], cont,
                                 packed)[0]
    # a wrong Jaccard
    a, b, j = found[0]
    assert check_pass(sl, ev, [(a, b, j - 0.01)] + found[1:], cont, packed)
    bad = packed[:1] + [(packed[1][0], packed[1][1], packed[1][2] + 1)]
    assert check_pass(sl, ev, found, cont, bad)
    assert check_pass(sl, ev, found, cont[1:], packed)


def test_lsh_candidate_count():
    """Identical docs share every bucket; unrelated docs almost never
    share one."""
    g = Generator(6)
    sl = g.pipeline_slice(0, 40, n_dups=0, n_contam=0)
    toks = {d["doc_id"]: d["toks"] for d in sl["docs"]}
    assert lsh_candidate_count(toks) <= 2
    first = toks[min(toks)]
    assert lsh_candidate_count({1: first, 2: list(first), 3: list(first)}) \
        == 3


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [
        {"id": 1, "parent": None, "name": "request", "start": 0, "end": 10},
        {"id": 2, "parent": 1, "name": "a", "start": 1, "end": 4},
        {"id": 3, "parent": 1, "name": "b", "start": 3, "end": 6},
        {"id": 4, "parent": 2, "name": "c", "start": 2, "end": 3},
    ]
    st = self_times(spans)
    assert st == {1: 5, 2: 2, 3: 3, 4: 1}
    spans[3]["name"] = "action.collect"
    spans[0].update(op="topk", request="topk.0.0")
    for sp in spans[1:]:
        sp["request"] = "topk.0.0"
    assert dict(layers.self_time_by_layer(spans)) == {
        "request.topk": 5, "a": 3, "b": 3}


def test_tracer_records_only_traced_requests():
    t = Tracer()
    with t.request("r1", "topk", traced=False):
        with t.span("x"):
            pass
    assert t.spans == []
    with t.request("r2", "topk", traced=True):
        with t.span("x"):
            t.count("n", 3)
    assert [s["name"] for s in t.spans] == ["x", "request"]
    assert t.spans[0]["parent"] == t.spans[1]["id"]
    assert t.counts == [{"name": "n", "value": 3, "request": "r2"}]


def test_event_log_reader(tmp_path):
    plan = {"nodeName": "Scan parquet x", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 7,
         "metricType": "sum"}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1001}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1004, "Accumulables": [
             {"ID": 7, "Update": "42"}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 10},
                          "Memory Bytes Spilled": 1,
                          "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1010},
    ]
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    g = read_event_logs(str(tmp_path))["g"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["job_intervals"] == [(1000, 1010)]
    assert g["queue_wait_ms"] == 3 and g["executor_cpu_ms"] == 2.0
    assert (g["shuffle_bytes"], g["spill_bytes"], g["scan_rows"]) == \
        (10, 3, 42)
