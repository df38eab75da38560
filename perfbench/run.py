"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,query} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it report the workload's named metrics with unit and
sample count.  ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer ones: that run turns on the Spark event log, records
spans, writes them to ``perfbench/out/`` and times a probe call with
tracing on and off to measure its own overhead.

Everything the run writes (Spark local dirs, indexes, event log) lives
in a temporary directory under ``perfbench/`` that is removed at exit.
See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start, for the wall-clock set-up time

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

PROBES = 2  # probe calls per phase for trace.overhead_frac
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E = {  # name: unit — reported on every workload with --trace 0
    "setup_s": "s",  # work CPU of the process tree up to the first timed call
    "cpu_ms_per_item": "ms",
    "call_cpu_geomean_ms": "ms",
}
PER_LAYER = {  # name: unit — reported on every workload with --trace 1
    "session.start_s": "s",
    "builder.termfreq_s": "s",
    "builder.dictionary_s": "s",
    "builder.postings_s": "s",
    "builder.docs_s": "s",
    "builder.docstats_s": "s",
    "builder.jobs": "count",
    "builder.tasks": "count",
    "builder.shuffle_write_bytes": "B",
    "builder.spill_bytes": "B",
    "builder.python_bytes": "B",
    "builder.busy_frac": "ratio",
    "builder.driver_only_frac": "ratio",
    "builder.postings_bytes_per_posting": "B",
    "codec.decode_postings_per_s": "1/s",
    "wand.load_s": "s",
    "wand.candidate_frac": "ratio",
    "serving.tokenize_us": "us",
    "serving.postings_per_query": "count",
    "reference.build_s": "s",
    "reference.query_ms": "ms",
    "calls.plan_s": "s",
    "calls.plan_jobs": "count",
    "calls.action_s": "s",
    "calls.action_jobs": "count",
    "calls.jobs": "count",
    "calls.tasks": "count",
    "calls.shuffle_bytes": "B",
    "calls.spill_bytes": "B",
    "calls.python_bytes": "B",
    "calls.busy_frac": "ratio",
    "calls.driver_only_frac": "ratio",
    "calls.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
}
# the workload metrics the report lines name, with unit and the workload
# that produces them
REPORT = {
    "setup_s": ("s", None),
    "setup_cpu_s": ("s", None),
    "build_docs_per_s": ("docs/s", "ingest"),
    "index_bytes_per_input_byte": ("ratio", "ingest"),
    "merge_append_s": ("s", "ingest"),
    "stream_append_s": ("s", "ingest"),
    "delete_s": ("s", "ingest"),
    "batch_qps": ("queries/s", "query"),
    "relational_qps": ("queries/s", "query"),
    "single_query_p50_s": ("s", "query"),
    "serve_p50_ms": ("ms", "query"),
    "serve_p99_ms": ("ms", "query"),
    "serve_load_s": ("s", "query"),
    "serve_rss_mib": ("MiB", "query"),
    "error_rate": ("fraction", None),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Python workers import the package from the checkout; Spark, the
    JVM and Python temp files stay inside ``work``."""
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def start_session(work: Path, cores: int, event_log: bool):
    from legal_text_retrieval_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def measure(ctx, wl, seconds: float, first_rep: int) -> None:
    """Timed cycles on fresh inputs until ``seconds`` of wall time have
    passed and the workload's minimum cycle count is reached."""
    t0 = time.perf_counter()
    rep = first_rep
    while rep - first_rep < wl.min_cycles or time.perf_counter() - t0 < seconds:
        n_calls = len(ctx.calls)
        with ctx.span("cycle", rep=rep):
            try:
                wl.cycle(ctx, rep)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                if all(c["ok"] for c in ctx.calls[n_calls:]):
                    ctx.calls.append({"kind": "error", "items": 0, "rep": rep,
                                      "ok": False, "seconds": 0.0})
        rep += 1


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(calls: list[dict], setup_cpu_s: float) -> dict:
    timed = [c for c in calls if c["kind"] != "error"]
    by_rep: dict = {}
    for c in timed:
        cpu, n = by_rep.get(c["rep"], (0.0, 0))
        by_rep[c["rep"]] = (cpu + c["cpu_s"], n + c["items"])
    by_kind: dict = {}
    for c in timed:
        by_kind.setdefault(c["kind"], []).append(c["cpu_s"])
    return {
        "setup_s": setup_cpu_s,
        "cpu_ms_per_item": median([cpu / n * 1e3 for cpu, n in by_rep.values() if n > 0]),
        "call_cpu_geomean_ms": math.exp(statistics.fmean(
            math.log(median(v) * 1e3) for v in by_kind.values())),
    }


def percentile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(math.ceil(q * len(xs))) - 1)]


def report(workload: str, calls: list[dict], extra: dict, setup_s: float,
           setup_cpu_s: float) -> dict:
    """The workload's named metrics: name → (value, unit, samples)."""
    secs: dict = {}
    items: dict = {}
    for c in calls:
        secs.setdefault(c["kind"], []).append(c["seconds"])
        items.setdefault(c["kind"], []).append(c["items"])
    out = {"setup_s": (setup_s, 1), "setup_cpu_s": (setup_cpu_s, 1)}

    def rate(kind):
        v = [n / s for n, s in zip(items.get(kind, []), secs.get(kind, []))]
        return (median(v), len(v))

    def med(kind, scale=1.0):
        v = secs.get(kind, [])
        return (median(v) * scale, len(v))

    if workload == "ingest":
        b = extra.get("builds", [])
        out.update({
            "build_docs_per_s": rate("builder"),
            "index_bytes_per_input_byte": (median([x["index_bytes_per_input_byte"] for x in b]), len(b)),
            "merge_append_s": med("merge"),
            "stream_append_s": med("incremental"),
            "delete_s": med("delete"),
        })
    else:
        q = secs.get("serving.query", [])
        out.update({
            "batch_qps": rate("wand.batch"),
            "relational_qps": rate("bm25"),
            "single_query_p50_s": med("wand.single"),
            "serve_p50_ms": (median(q) * 1e3, len(q)),
            "serve_p99_ms": (percentile(q, 0.99) * 1e3 if q else float("nan"), len(q)),
            "serve_load_s": med("serving.load"),
            "serve_rss_mib": (extra.get("serve_rss_mib", float("nan")), 1),
        })
    out["error_rate"] = (sum(not c["ok"] for c in calls) / max(1, len(calls)), len(calls))
    return out


def per_layer(trace, extra: dict, overhead: float) -> tuple[dict, dict]:
    """(the PER_LAYER metrics, every kind's breakdown for the trace file)."""
    from spans import duration

    spans = trace.spans

    def named(name):
        return [s for s in spans if s["name"] == name]

    def med_stats(groups):
        stats = [trace.span_stats(g) for g in groups]
        return {k: median([s[k] for s in stats]) for k in stats[0]} if stats else {}

    # every timed kind: whole-call stats, plus each child span's time/jobs
    detail: dict = {}
    kinds = sorted({s["name"] for s in spans if s.get("timed")} | {"builder"})
    for kind in kinds:
        groups = [[s["id"]] for s in named(kind)]
        for k, v in med_stats(groups).items():
            detail[f"{kind}.{k}"] = v
        children = sorted({s["name"] for s in spans if s["parent"] is not None
                           and trace.by_id[s["parent"]]["name"] == kind})
        for child in children:
            st = [trace.span_stats([c["id"] for c in spans if c["name"] == child
                                    and c["parent"] == g[0]]) for g in groups]
            detail[f"{child}_s"] = median([s["wall_s"] for s in st])
            detail[f"{child}_jobs"] = median([s["jobs"] for s in st])
    detail["builder.shuffle_write_bytes"] = detail.get("builder.shuffle_bytes")
    if "delete.output_bytes" in detail:
        detail["delete.bytes_rewritten"] = detail["delete.output_bytes"]
    builds = extra.get("builds", [])
    for stage in ("termfreq", "dictionary", "postings", "docs", "docstats"):
        detail[f"builder.{stage}_s"] = median([b["stages"][stage] for b in builds])
    detail["builder.postings_bytes_per_posting"] = median([b["bytes_per_posting"] for b in builds])

    # the workload's timed Spark calls, summed per cycle, median over cycles
    reps = sorted({s["rep"] for s in spans if s.get("timed")})
    per_rep = [[s["id"] for s in spans if s.get("timed") and s["rep"] == r] for r in reps]
    calls_all = med_stats(per_rep)
    split = [trace.plan_action(g) for g in per_rep]
    m = {
        "session.start_s": duration(named("session.start")[0]),
        **{k: detail[k] for k in PER_LAYER if k.startswith("builder.")},
        "codec.decode_postings_per_s": extra["codec.decode_postings_per_s"],
        "wand.load_s": median([duration(s) for s in named("wand.load")]),
        "wand.candidate_frac": extra["wand.candidate_frac"],
        "serving.tokenize_us": extra["serving.tokenize_us"],
        "serving.postings_per_query": extra["serving.postings_per_query"],
        "reference.build_s": extra["reference.build_s"],
        "reference.query_ms": extra["reference.query_ms"],
        **{f"calls.{k}": median([p[k] for p in split])
           for k in ("plan_s", "plan_jobs", "action_s", "action_jobs")},
        **{f"calls.{k}": calls_all[k] for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes",
                                                 "python_bytes", "busy_frac", "driver_only_frac",
                                                 "task_skew")},
        "spark.failed_tasks": sum(t["failed"] for t in trace.tasks),
        "trace.overhead_frac": overhead,
    }
    return m, detail


def phases(spans: list[dict]) -> list[tuple[str, float]]:
    """(name, wall seconds) of the spans outside any timed call, down to
    their children: where a run's time goes."""
    depth: dict[int, int] = {}
    out = []
    for s in spans:
        if s.get("timed") or (s["parent"] is not None and depth[s["parent"]] < 0):
            depth[s["id"]] = -1
            continue
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
        if depth[s["id"]] <= 1:
            out.append(("  " * depth[s["id"]] + s["name"], s["end"] - s["start"]))
    return out


def run(args, work: Path) -> dict:
    import inputs
    import workloads
    from spans import Trace, Tracer, read_event_log, work_cpu_s

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    with tracer.span("session.start"):
        spark = start_session(work, cores, event_log=bool(args.trace))
    ctx = workloads.Ctx(spark, tracer, inputs.QueryGen(args.seed), args.seed, work, cores,
                        trace=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    try:
        with tracer.span("setup"):
            wl.setup(ctx)
        setup_s, setup_cpu_s = time.time() - T_START, work_cpu_s()
        measure(ctx, wl, args.seconds, 0)
        wl.finish(ctx)
        calls = list(ctx.calls)
        stats = {"cores": cores, "inputs": ctx.extra.get("inputs")}
        result = {"calls": calls, "setup_s": setup_s, "setup_cpu_s": setup_cpu_s, "stats": stats,
                  "extra": ctx.extra, "phases": phases(tracer.spans)}
        if not args.trace:
            return result
        # overhead of tracing: the workload's probe call, PROBES times
        # traced, then PROBES times in a new Spark application with the
        # event log off (after one unmeasured probe to start its workers)
        traced = [wl.probe(ctx, i) for i in range(PROBES)]
        spark.stop()  # flushes the event log
        traced_spans = list(tracer.spans)
        log = next((work / "eventlog").iterdir())
        trace = Trace(traced_spans, *read_event_log(log), cores)
        ctx.spark = spark = start_session(work, cores, event_log=False)
        wl.reopen(ctx)
        untraced = [wl.probe(ctx, i) for i in range(PROBES, 2 * PROBES + 1)][1:]
        overhead = statistics.median(traced) / statistics.median(untraced) - 1.0
        layer, detail = per_layer(trace, ctx.extra, overhead)
        result.update(layer=layer, detail=detail, spans=traced_spans)
        return result
    finally:
        if spark is not None:
            stop_jvm(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "legal_text_retrieval_spark" / "__init__.py").is_file():
        print(f"perfbench: no legal_text_retrieval_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    work = Path(tempfile.mkdtemp(prefix=".work-", dir=HERE))
    try:
        prepare_environment(work)
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    calls = res["calls"]
    failed = sum(not c["ok"] for c in calls)
    for c in calls:
        if not c["ok"]:
            print(f"FAILED {c['kind']} rep={c['rep']}: {c.get('why', '')}", file=sys.stderr)
    rep = report(args.workload, calls, res.get("extra", {}), res["setup_s"], res["setup_cpu_s"])
    print(f"workload={args.workload} seed={args.seed} cores={res['stats']['cores']} "
          f"inputs={json.dumps(res['stats']['inputs'])}")
    for name, (unit, owner) in REPORT.items():
        if name in rep:
            value, n = rep[name]
            print(f"  {name} = {value:.6g} {unit} (n={n})")
        else:
            print(f"  {name} = n/a (measured by the {owner} workload)")
    kinds: dict = {}
    for c in calls:
        if c["kind"] != "error":
            kinds.setdefault(c["kind"], []).append(c)
    for kind, cs in kinds.items():
        print(f"  call {kind}: n={len(cs)} median wall {median([c['seconds'] for c in cs]):.4g} s, "
              f"cpu {median([c['cpu_s'] for c in cs]):.4g} s")
    for name, secs in res["phases"]:
        print(f"phase {name}: {secs:.3g} s wall", file=sys.stderr)
    if args.trace:
        from spans import self_times

        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in res["layer"].items()}
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{args.workload}-seed{args.seed}.json"
        own = self_times(res["spans"])
        spans = [{**s, "self_s": own[s["id"]]} for s in res["spans"]]
        path.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "inputs": res["stats"],
            "per_layer": res["layer"], "detail": res["detail"], "spans": spans,
        }, indent=1, default=str))
        print(f"spans and per-layer detail written to {path.relative_to(ROOT)}")
    else:
        e2e = end_to_end(calls, res["setup_cpu_s"])
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": failed == 0 and len(calls) > 0, "attempted": len(calls),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
