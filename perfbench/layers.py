"""Per-layer metrics of a traced run: spans and counts from
``spans.Tracer`` joined with the Spark event log on the job group each
operation ran under.

Every metric is a median over the operations that exercise the layer
(per search, per commit, per pipeline stage), except the merge counts
and the pipeline pass's Python-node times, which are totals over the
run.  A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from spans import self_times, children_of, union_length

SPARK_OPS = ["topk", "structured", "commit", "stage"]
SPARK_FIELDS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("job_ms", "ms"), ("queue_wait_ms", "ms"), ("driver_gap_ms", "ms"),
    ("executor_cpu_ms", "ms"), ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]
PIPELINE_STAGES = ["tokens", "profile", "dedup", "contamination", "gopher",
                   "pack"]

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER = (
    [("session.start_s", "s"), ("api.bulk_ms", "ms"), ("dsl.parse_ms", "ms"),
     ("catalog.open_ms", "ms"), ("segments.open_ms", "ms"),
     ("segments.count", "count"), ("compiler.compile_ms", "ms"),
     ("engine.execute_ms", "ms"), ("engine.facet_ms", "ms"),
     ("engine.render_ms", "ms")]
    + [(f"spark.{f}.{op}", u) for op in SPARK_OPS for f, u in SPARK_FIELDS]
    + [("scan.rows_read", "count"), ("scan.rows_per_hit", "ratio"),
       ("analyzer.py_init_ms", "ms"), ("analyzer.py_run_ms", "ms"),
       ("catalog.flush_ms", "ms"), ("builder.build_ms", "ms"),
       ("segments.write_ms", "ms"), ("catalog.flush_self_ms", "ms"),
       ("storage.bytes_written_per_input_byte", "ratio"),
       ("merge.runs", "count"), ("merge.ms", "ms"),
       ("merge.bytes_rewritten", "bytes"), ("catalog.delete_ms", "ms")]
    + [(f"pipeline.{s}_ms", "ms") for s in PIPELINE_STAGES]
    + [("pipeline.py_init_ms", "ms"), ("pipeline.py_run_ms", "ms"),
       ("lsh.candidate_pairs", "count"), ("lsh.verified_pairs", "count"),
       ("lsh.useful_ratio", "ratio"), ("trace.overhead_pct", "%"),
       ("trace.uncovered_pct", "%")]
)


def med(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def _py(group: dict, node_prefix: str, key: str) -> float:
    return sum(v for k, v in group["py"].items()
               if k.startswith(node_prefix) and k.endswith(key))


def compute(ops: list[dict], tracer, groups: dict, extra: dict) -> dict:
    """``ops``: one record per timed operation (``rid``, ``op``,
    ``start``/``end`` epoch seconds, ``latency_s``, ``traced``,
    optional ``hits`` / ``input_bytes`` / ``stage``).  ``extra``
    carries values measured outside the ops (session start, the
    setup's job group, pipeline pair counts)."""
    spans = tracer.spans
    selfs = self_times(spans)
    kids = children_of(spans)
    by_req: dict[str, list[dict]] = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)
    counts: dict[tuple, list] = {}
    for c in tracer.counts:
        counts.setdefault((c["request"], c["name"]), []).append(c["value"])
    op_of = {o["rid"]: o for o in ops}
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = extra.get("session_start_s", 0.0)

    def per_req(names, ops_filter=None):
        """Per traced request: summed duration of spans named
        ``names`` (outermost only: recursive calls count once); returns
        the list over requests that had any."""
        vals = []
        for rid, ss in by_req.items():
            o = op_of.get(rid)
            if o is None or (ops_filter and o["op"] not in ops_filter):
                continue
            picked = [s for s in ss if s["name"] in names
                      and not _nested_in_same(s, ss, names)]
            if picked:
                vals.append(sum(s["end"] - s["start"] for s in picked))
        return vals

    searches = ("topk", "structured")
    ms = 1000.0
    out["api.bulk_ms"] = med(per_req({"api.bulk"})) * ms
    out["dsl.parse_ms"] = med(per_req({"dsl.parse"}, searches)) * ms
    out["catalog.open_ms"] = med(per_req({"catalog.open"}, searches)) * ms
    out["segments.open_ms"] = med(per_req({"segments.open"}, searches)) * ms
    out["segments.count"] = med(
        v for (rid, n), vs in counts.items() if n == "segments.count"
        and op_of.get(rid, {}).get("op") in searches for v in vs)
    out["compiler.compile_ms"] = med(
        per_req({"compiler.compile"}, searches)) * ms

    execute, render = [], []
    for rid, ss in by_req.items():
        if op_of.get(rid, {}).get("op") not in searches:
            continue
        for s in ss:
            if s["name"] != "engine.search":
                continue
            acts = [c for c in kids.get(s["id"], [])
                    if c["name"].startswith("action.")]
            plan = [c for c in kids.get(s["id"], [])
                    if c["name"] == "engine.plan"]
            execute.append(sum(c["end"] - c["start"] for c in acts + plan))
            render.append(selfs[s["id"]] + sum(
                x["end"] - x["start"] for x in ss
                if x["name"] == "engine.render"))
    out["engine.execute_ms"] = med(execute) * ms
    out["engine.render_ms"] = med(render) * ms
    out["engine.facet_ms"] = med(per_req({"engine.facet"}, searches)) * ms

    for op in SPARK_OPS:
        rows = [(o, groups[o["rid"]]) for o in ops
                if o["op"] == op and o["rid"] in groups]
        for f, _u in SPARK_FIELDS:
            vals = []
            for o, grp in rows:
                if f == "job_ms":
                    v = sum(e - s for s, e in grp["job_intervals"])
                elif f == "driver_gap_ms":
                    # lock waits are not driver work: no job of this
                    # operation runs while it waits
                    lo, hi = o["start"] * ms, o["end"] * ms
                    covered = union_length(
                        [(max(s, lo), min(e, hi))
                         for s, e in grp["job_intervals"] if e > lo
                         and s < hi])
                    v = (hi - lo) - covered - o.get("lock_wait_s", 0) * ms
                else:
                    v = grp[f]
                vals.append(v)
            out[f"spark.{f}.{op}"] = med(vals)

    topk = [(o, groups[o["rid"]]) for o in ops
            if o["op"] == "topk" and o["rid"] in groups]
    out["scan.rows_read"] = med(g["scan_rows"] for _, g in topk)
    out["scan.rows_per_hit"] = med(
        g["scan_rows"] / max(o.get("hits", 0), 1) for o, g in topk)

    commits = [(o, groups[o["rid"]]) for o in ops
               if o["op"] == "commit" and o["rid"] in groups]
    analyzer = [g for _, g in commits] or [
        groups[k] for k in extra.get("setup_groups", []) if k in groups]
    out["analyzer.py_init_ms"] = med(
        _py(g, "MapInArrow", "py_start") + _py(g, "MapInArrow", "py_init")
        for g in analyzer)
    out["analyzer.py_run_ms"] = med(
        _py(g, "MapInArrow", "py_run") for g in analyzer)
    out["storage.bytes_written_per_input_byte"] = med(
        g["bytes_written"] / o["input_bytes"] for o, g in commits
        if o.get("input_bytes"))

    commit_ops = ("commit",)
    out["catalog.flush_ms"] = med(per_req({"catalog.flush"}, commit_ops)) * ms
    out["builder.build_ms"] = med(per_req({"builder.build"}, commit_ops)) * ms
    out["segments.write_ms"] = med(
        per_req({"segments.write"}, commit_ops)) * ms
    out["catalog.flush_self_ms"] = med(
        selfs[s["id"]] for s in spans if s["name"] == "catalog.flush"
        and op_of.get(s["request"], {}).get("op") == "commit") * ms
    merges = [s for s in spans if s["name"] == "merge.run"
              and counts.get((s["request"], "merge.runs"))]
    out["merge.runs"] = float(sum(
        v for (_r, n), vs in counts.items() if n == "merge.runs"
        for v in vs))
    out["merge.ms"] = med(s["end"] - s["start"] for s in merges) * ms
    out["merge.bytes_rewritten"] = float(sum(
        v for (_r, n), vs in counts.items() if n == "merge.bytes_rewritten"
        for v in vs))
    out["catalog.delete_ms"] = med(per_req({"catalog.delete"})) * ms

    stages = [o for o in ops if o["op"] == "stage"]
    for st in PIPELINE_STAGES:
        out[f"pipeline.{st}_ms"] = med(
            o["latency_s"] for o in stages if o["stage"] == st) * ms
    # the run has one pass: its Python-node times summed over stages
    pass_groups = [groups[o["rid"]] for o in stages if o["rid"] in groups]
    out["pipeline.py_init_ms"] = sum(
        _py(g, "", "py_start") + _py(g, "", "py_init") for g in pass_groups)
    out["pipeline.py_run_ms"] = sum(_py(g, "", "py_run") for g in pass_groups)
    lsh = extra.get("lsh_pairs") or {}
    if lsh:
        out["lsh.candidate_pairs"] = float(lsh["candidates"])
        out["lsh.verified_pairs"] = float(lsh["verified"])
        out["lsh.useful_ratio"] = lsh["verified"] / max(lsh["candidates"], 1)

    # tracing overhead: traced against untraced requests of the same
    # classes, interleaved in one run; lock waits left out (they are
    # the other thread's work)
    def service(o):
        return o["latency_s"] - o.get("lock_wait_s", 0.0)

    on = [service(o) for o in ops if o["op"] in searches and o["traced"]]
    off = [service(o) for o in ops
           if o["op"] in searches and not o["traced"]]
    if on and off:
        out["trace.overhead_pct"] = 100.0 * (med(on) / med(off) - 1.0)
    uncovered = []
    for s in spans:
        if s["name"] == "request":
            d = s["end"] - s["start"]
            cov = union_length([(c["start"], c["end"])
                                for c in kids.get(s["id"], [])])
            uncovered.append(100.0 * (d - cov) / d if d > 0 else 0.0)
    out["trace.uncovered_pct"] = med(uncovered)
    return out


def _nested_in_same(span: dict, spans: list[dict], names) -> bool:
    """True when an ancestor of ``span`` carries one of ``names``
    (recursive calls such as ``Compiler.compile`` count once)."""
    by_id = {s["id"]: s for s in spans}
    p = by_id.get(span["parent"])
    while p is not None:
        if p["name"] in names:
            return True
        p = by_id.get(p["parent"])
    return False


def self_time_by_layer(spans: list[dict]) -> list[tuple[str, float]]:
    """Summed self time (s) per layer over the run, largest first.  An
    ``action.*`` span's time counts to the layer that ran the action;
    a pipeline stage's own time (its planning and its actions) counts
    to ``pipeline.<stage>``; ``request.<op>`` is what no span covers."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def layer(s):
        while s["name"].startswith("action.") and s["parent"] in by_id:
            s = by_id[s["parent"]]
        if s["name"] != "request":
            return s["name"]
        if s["op"] == "stage":
            return "pipeline." + s["request"].split(".", 1)[1]
        return f"request.{s['op']}"

    acc: dict[str, float] = {}
    for s in spans:
        name = layer(s)
        acc[name] = acc.get(name, 0.0) + selfs[s["id"]]
    return sorted(acc.items(), key=lambda kv: -kv[1])


def request_remainders(spans: list[dict]) -> list[dict]:
    """Per traced request: wall time and the part no child span
    covers."""
    kids = children_of(spans)
    out = []
    for s in spans:
        if s["name"] == "request":
            d = s["end"] - s["start"]
            cov = union_length([(c["start"], c["end"])
                                for c in kids.get(s["id"], [])])
            out.append({"request": s["request"], "op": s["op"],
                        "wall_ms": round(d * 1000, 3),
                        "uncovered_ms": round((d - cov) * 1000, 3)})
    return out
