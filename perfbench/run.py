"""KG-construction benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch-large --seed 1 --seconds 14 --trace 0

Run from the repository root.  The run generates its inputs from the seed
(cached under .perfbench/), starts one Spark driver on local[<cores>]
with a pinned heap, and drives the workload as a closed loop: each
operation starts after the previous one returned.  Every operation's
output is checked (see workloads.py); a raise, a nonzero QA count or a
mismatch against kg/oracle.py counts as a failed operation.

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced form
of the operation next to the plain one and prints the per-layer metrics
(spans and counts are also written to .perfbench/results/).  The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "1g"

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "build_s": "s", "triples_per_s": "triples/s",
    "ingest_turns_per_s": "turns/s", "peak_rss_mb": "MB",
}
# printed one per line; the JSON result carries the END_TO_END ones
PRINTED_UNITS = {**END_TO_END, "refresh_s": "s", "resume_s": "s", "error_rate": "ratio"}

LAYER_METRICS = [
    "extract.s", "extract.turns_in", "extract.triples_out", "extract.jobs",
    "extract.shuffle_write_mb", "extract.core_util",
    "link.s", "link.vocab_rows", "link.minted_share", "link.jobs",
    "link.shuffle_write_mb", "link.core_util",
    "canonicalize.cc_s", "canonicalize.apply_s", "canonicalize.alias_edges",
    "canonicalize.mapping_rows", "canonicalize.jobs", "canonicalize.shuffle_write_mb",
    "canonicalize.core_util",
    "materialize.edges_s", "materialize.nodes_s", "materialize.qa_s",
    "materialize.edges_out", "materialize.nodes_out", "materialize.jobs",
    "materialize.shuffle_write_mb", "materialize.core_util",
    "lineage.write_s", "lineage.checksum_s", "lineage.bytes_written_mb",
    "lineage.files_written",
    "streaming.refresh_s", "streaming.epochs", "streaming.delta_alias_edges",
    "streaming.state_edges", "streaming.state_mb",
    "trace.build_s", "trace.untraced_build_s", "trace.overhead_s",
    "trace.remainder_s",
]
# per-layer time metric -> the span it is read from
SPAN_METRICS = {
    "extract.s": "extract", "link.s": "link",
    "canonicalize.cc_s": "canonicalize.cc", "canonicalize.apply_s": "canonicalize.apply",
    "materialize.edges_s": "materialize.edges", "materialize.nodes_s": "materialize.nodes",
    "materialize.qa_s": "materialize.qa", "lineage.checksum_s": "lineage.checksum",
    "streaming.refresh_s": "streaming.refresh",
}


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_util", "share")):
        return "ratio"
    return "count"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """Fresh JVM, timed from session creation through a first trivial job."""
    from kg.session import get_spark
    from workloads import EXTRACT_GATE_TURNS

    t0 = time.monotonic()
    spark = get_spark(
        "perfbench",
        parallelism=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{WORK}/warehouse",
            "spark.kg.extract.autoThresholdTurns": str(EXTRACT_GATE_TURNS),
        },
    )
    spark.range(1).count()
    return spark, time.monotonic() - t0


def stop_session(spark) -> float:
    """Stop Spark and its JVM; return the JVM's peak RSS in MB (VmHWM)."""
    from pyspark import SparkContext

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm_kb / 1024.0


class Counter:
    """Operations attempted and failed, across the run."""

    def __init__(self, wl):
        self.wl, self.attempted, self.failed = wl, 0, 0
        self.last_ok = False

    def run(self, op, check):
        """One operation plus its check; its result, or None when it failed."""
        self.attempted += 1
        before = len(self.wl.failures)
        try:
            result = op()
            ok = check()
        except Exception as e:  # a raise is a failed operation, not a crash
            traceback.print_exc()
            self.wl.fail(f"{type(e).__name__}: {e}")
            ok = False
        self.last_ok = ok and len(self.wl.failures) == before
        if not self.last_ok:
            self.failed += 1
            return None
        return result

    def fail_last(self) -> None:
        """A later check found the last operation's output wrong."""
        if self.last_ok:
            self.failed += 1
            self.last_ok = False


def measure(wl, counter: Counter, seconds: float) -> dict:
    """Cold op, then warm ops for ``seconds``; returns the end-to-end values."""
    cold = counter.run(wl.op, wl.check)
    warm: list[float] = []
    deadline = time.monotonic() + seconds
    while True:
        w = counter.run(wl.op, wl.check)
        if w is not None:
            warm.append(w)
        if time.monotonic() >= deadline or not wl.can_continue():
            break
    out = {"cold_s": cold, "warm_s": warm}
    if warm:
        out["build_s"] = statistics.median(warm)
        out.update(wl.finish(counter, warm))
    return out


def measure_traced(wl, counter: Counter, seconds: float, spark) -> tuple[dict, object]:
    """Cold op, then plain and traced ops alternating for ``seconds``.

    Layer times are medians over the traced ops; counts come from the last
    traced op (they repeat exactly).  ``trace.remainder_s`` is the traced
    build's wall time not covered by its layer spans."""
    from spans import Tracer

    tracer = Tracer(spark)
    counter.run(wl.op, wl.check)
    plain: list[float] = []
    ops: list[tuple[int, dict]] = []  # (first span index, values)
    deadline = time.monotonic() + seconds
    while True:
        # plain first: its position after the cold op matches build_s's
        w = counter.run(wl.op, wl.check)
        if w is not None:
            plain.append(w)
        first = len(tracer.spans)
        values = counter.run(lambda: wl.traced_op(tracer), lambda: True)
        if values is not None:
            ops.append((first, values[1]))
        if time.monotonic() >= deadline or not wl.can_continue():
            break
    if plain:
        wl.finish(counter, plain)
    tracer.collect_counts()
    values = dict.fromkeys(LAYER_METRICS, 0.0)
    if not ops:
        return values, tracer
    walls: dict[str, list[float]] = {}
    builds, remainders = [], []
    for i, (first, _) in enumerate(ops):
        last = ops[i + 1][0] if i + 1 < len(ops) else len(tracer.spans)
        spans = tracer.spans[first:last]
        build = next(s for s in spans if s["name"] == "build")
        builds.append(build["end"] - build["start"])
        remainders.append(builds[-1] - sum(
            s["end"] - s["start"] for s in spans if s["parent"] == build["id"]))
        for s in spans:
            walls.setdefault(s["name"], []).append(s["end"] - s["start"])
    for metric, span in SPAN_METRICS.items():
        if span in walls:
            values[metric] = statistics.median(walls[span])
    spans = tracer.spans[ops[-1][0]:]
    for layer in ("extract", "link", "canonicalize", "materialize"):
        own = [s for s in spans if s["name"].split(".")[0] == layer]
        wall = sum(s["end"] - s["start"] for s in own)
        values[f"{layer}.jobs"] = sum(s["jobs"] for s in own)
        values[f"{layer}.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in own) / 2**20
        if wall:
            values[f"{layer}.core_util"] = (
                sum(s["task_run_s"] for s in own) / (wall * tracer.cores))
    values.update(ops[-1][1])
    values["trace.build_s"] = statistics.median(builds)
    values["trace.remainder_s"] = statistics.median(remainders)
    if plain:
        values["trace.untraced_build_s"] = statistics.median(plain)
        values["trace.overhead_s"] = values["trace.build_s"] - values["trace.untraced_build_s"]
    return values, tracer


def prepare_env() -> None:
    """Import paths, work directories, and an environment that keeps the
    JVM, its Python workers and temp files inside the checkout."""
    sys.path[:0] = [ROOT, HERE]
    for d in ("tmp", "spark-local", "inputs", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # every JVM spark-submit starts: no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kg", "pipeline.py")):
        print(f"kg package not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    wl = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), run_dir, args.seed)
    counter = Counter(wl)
    spark, setup_s = start_session()
    try:
        wl.open(spark)
        if args.trace:
            values, tracer = measure_traced(wl, counter, args.seconds, spark)
        else:
            values = measure(wl, counter, args.seconds)
    finally:
        peak_rss_mb = stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    context = {"workload": wl.name, "seed": args.seed, "inputs": wl.meta,
               "cores": cores(), "heap": HEAP, "spark.local.dir": os.path.join(WORK, "spark-local"),
               "attempted": counter.attempted, "failed": counter.failed,
               "failures": wl.failures[:5]}
    result_path = os.path.join(WORK, "results", f"{wl.name}-{args.seed}-trace{args.trace}.json")
    if args.trace:
        metrics = {k: {"value": values[k], "unit": layer_unit(k)} for k in LAYER_METRICS}
        tracer.dump(result_path.replace(".json", "-spans.json"))
    else:
        values.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb,
                      error_rate=counter.failed / counter.attempted)
        for k in PRINTED_UNITS:
            if k in values:
                print(f"{k:>20} = {values[k]!s:<22} {PRINTED_UNITS[k]}")
        metrics = {k: {"value": values.get(k), "unit": u} for k, u in END_TO_END.items()}
    with open(result_path, "w") as f:
        json.dump({**context, "values": values}, f, indent=1)
    print(json.dumps({k: v for k, v in context.items() if k not in ("attempted", "failed")}))
    correct = counter.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": counter.attempted,
                      "failed": counter.failed, "metrics": metrics}))
    return 0



if __name__ == "__main__":
    sys.exit(main())
