"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout.  It builds nothing (the program is
pure Python), writes only under ``.perfbench_work/`` in the checkout,
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it name every metric with its unit, the host-noise
record, and the path of the run's artifact (JSON, with the spans'
self-time breakdown and each request's uncovered remainder).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = [("setup_s", "s"), ("cold_setup_s", "s"), ("topk_p50_ms", "ms"),
              ("op_p50_ms", "ms"), ("throughput_per_s", "1/s"),
              ("peak_rss_mb", "MB")]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.index_dir = os.path.join(work, "indexes")
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.inputs = {}
        self.lsh_pairs = {}
        self.event_dir = os.path.join(work, "eventlog")
        self.t0 = time.perf_counter()
        self.phases: list[tuple[str, float]] = []

    def phase(self, name: str) -> None:
        """Mark the end of a phase (seconds since the run began)."""
        self.phases.append((name, round(time.perf_counter() - self.t0, 3)))

    def start_spark(self):
        from toshi_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                # zstandard is not installed: plain, single-file logs
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark("perfbench", cores=self.cores, extra_conf=conf)


def _program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "toshi_spark"))
            and os.path.exists(os.path.join(ROOT, "tests", "oracle_bm25.py")))


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _program_present():
        print("perfbench: toshi_spark/ or tests/oracle_bm25.py not found "
              f"under {ROOT}; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-"
                                   f"{args.trace}-{os.getpid()}")
    try:
        return _run(args, workloads, work)
    finally:
        # index data, Spark scratch and event logs; the artifact stays
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, work: str) -> int:
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the program, the JVMs and the Python workers keep temp files here
    # (the JVM's perf-data files would go to /tmp, so they are off)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp

    from host import NoiseRecord, MemSampler
    from spans import Tracer

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        # spans are recorded only inside traced requests, so wrappers
        # installed before set-up record nothing there but its
        # pipeline stages
        tracer.install()
    bench = Bench(args, work, tracer)
    noise = NoiseRecord()
    mem = MemSampler().start()
    out = None
    try:
        out = workloads.WORKLOADS[args.workload](bench)
    finally:
        if tracer is not None:
            tracer.uninstall()
        peak_mb = mem.stop()
        if out is not None:
            _stop_jvm(out["server"].spark)
        else:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                _stop_jvm(active)
    bench.phase("stop")
    host = noise.finish()

    if tracer is None:
        metrics = {**out["metrics"], "peak_rss_mb": peak_mb}
        units = dict(END_TO_END)
        artifact = {}
    else:
        import layers
        from spans import read_event_logs

        groups = read_event_logs(bench.event_dir)
        extra = {"session_start_s": out["setup"]["session_start_s"],
                 "setup_groups": ["setup"],
                 "lsh_pairs": bench.lsh_pairs}
        metrics = layers.compute(out["ops"], tracer, groups, extra)
        units = dict(layers.PER_LAYER)
        artifact = {
            "self_time_by_layer_s": layers.self_time_by_layer(tracer.spans),
            "requests": layers.request_remainders(tracer.spans),
            "spans": len(tracer.spans),
        }

    failed = len(out["failures"])
    artifact.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": bench.cores,
        "metrics": {k: [v, units[k]] for k, v in metrics.items()},
        "workload_metrics": out["info"], "setup": out["setup"],
        "inputs": bench.inputs, "host_noise": host,
        "phases_s": bench.phases,
        "attempted": out["attempted"], "failed": failed,
        "failures": out["failures"][:20],
        "ops": [{"rid": o["rid"], "op": o["op"], "kind": o.get("kind"),
                 "ms": round(o["latency_s"] * 1000, 3),
                 "lock_wait_ms": round(o.get("lock_wait_s", 0) * 1000, 3)}
                for o in out["ops"]],
    })
    os.makedirs(os.path.join(WORK_ROOT, "artifacts"), exist_ok=True)
    path = os.path.join(
        WORK_ROOT, "artifacts",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-"
        f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for name, (value, unit) in sorted(out["info"].items()):
        print(f"info {name} = {value:.6g} {unit}")
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]}")
    for f in out["failures"][:5]:
        print(f"failed {f['rid']}: {f['why']}")
    print("host_noise " + json.dumps(host))
    print(f"artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
