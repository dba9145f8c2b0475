"""kgspark benchmark: one workload per run, end to end or traced per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 1 --trace 0

Prints one summary line per phase and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also makes
traced ops after the timed window and reports the per-layer metrics. The
declared metric names live in ``BENCHMARK.json``; see ``perfbench/README.md``
for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

EXTRACTION = ("udfs.extract_mentions", "udfs.extract_triples",
              "udfs.embed_entities")
LINKING = ("linking.distinct_entities", "linking.candidate_pairs",
           "linking.score_pairs", "cc.connected_components_auto",
           "cc.resolve_pointers", "dedup.dedup_edges", "temporal.temporal_pass")
INDEX_MAINTENANCE = ("fulltext.update_fulltext_index",
                     "datapipe.update_ann_index", "datapipe.update_ivf_index")
STREAM = "streaming.incremental_ingest"
SEARCH_LEGS = ("fulltext.bm25_query_indexed", "search.similarity_search",
               "search.rrf", "datapipe.ann_query_indexed")
UNITS = {"wall_s": "s", "task_s": "s", "jvm_cpu_s": "CPU-s",
         "python_cpu_s": "CPU-s", "gc_s": "s", "tasks": "count",
         "jobs": "count", "shuffle_write_bytes": "bytes",
         "bytes_written": "bytes", "files_written": "count",
         "generation": "count", "rows_out": "rows", "parts_read": "count",
         "parts_total": "count"}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(span, field, unit) of every per-layer metric, in report order."""
    spec = []

    def add(spans, fields):
        spec.extend((s, f, UNITS[f]) for s in spans for f in fields)

    add(EXTRACTION, ("wall_s", "task_s", "jvm_cpu_s", "python_cpu_s", "gc_s",
                     "tasks", "jobs", "rows_out"))
    add(LINKING, ("wall_s", "task_s", "python_cpu_s", "shuffle_write_bytes",
                  "jobs"))
    add(("linking.candidate_pairs", "linking.score_pairs", "dedup.dedup_edges"),
        ("rows_out",))
    add(("pipeline.build_graph",), ("wall_s", "task_s", "jobs"))
    add(("io.write_tables",), ("wall_s", "task_s", "jobs", "bytes_written",
                               "files_written"))
    add(("io.run_resumable",), ("wall_s", "jobs"))
    add((STREAM,), ("wall_s", "task_s", "python_cpu_s", "jobs"))
    add(("datapipe.build_ivf_index",), ("wall_s", "jobs"))
    add(INDEX_MAINTENANCE, ("wall_s", "task_s", "jobs", "files_written",
                            "generation"))
    add(("udfs.embed_expr",), ("wall_s", "task_s", "python_cpu_s", "tasks",
                               "jobs", "rows_out"))
    add(SEARCH_LEGS, ("wall_s", "task_s", "jobs"))
    add(("fulltext.bm25_query_indexed", "datapipe.ann_query_indexed"),
        ("parts_read", "parts_total"))
    add(("session.get_spark",), ("wall_s",))
    return spec


DERIVED = (("linking.accept_ratio", "ratio"), ("dedup.merge_ratio", "ratio"),
           ("build.extraction_share", "ratio"),
           ("streaming.batch_s", "s"),
           ("trace.overhead_s", "s"), ("trace.valid", "count"))
END_TO_END = (("setup_s", "s"), ("cpu_s_per_op", "CPU-s"))


def per_layer_names() -> list[tuple[str, str]]:
    return ([(f"{s}.{f}", u) for s, f, u in per_layer_spec()] + list(DERIVED))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the workload's fixture and exit (see main)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def sources_digest() -> str:
    """A digest of the kgspark sources."""
    h = hashlib.sha1()
    for p in sorted((ROOT / "kgspark").glob("*.py")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def source_id() -> str:
    """The git commit when the checkout is a repository, else a digest of
    the kgspark sources."""
    if (ROOT / ".git").exists():
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, timeout=10,
                                  check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "src-sha1:" + sources_digest()


def prepare_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # SPARK_LOCAL_DIRS, when set, wins over the session's spark.local.dir
    os.environ["KGSPARK_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}")))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (
        str(ROOT), str(HERE), os.environ.get("PYTHONPATH"))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        (work / "eventlog").mkdir()
        os.environ["KGSPARK_EVENTLOG"] = str(work / "eventlog")
        conf.append("spark.eventLog.compress=false")
    else:
        os.environ.pop("KGSPARK_EVENTLOG", None)
    os.environ["KGSPARK_EXTRA_CONF"] = ";".join(filter(None, (
        os.environ.get("KGSPARK_EXTRA_CONF"), *conf)))
    import tempfile
    tempfile.tempdir = str(tmp)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process below this one to end."""
    import procstats
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while procstats.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstats.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def timed_loop(wl, seconds: float) -> tuple[list[dict], int, dict]:
    """Closed loop, one caller: start ops until ``seconds`` have passed."""
    import procstats
    host = procstats.HostWindow()
    host.start()
    t0 = time.perf_counter()
    records, failed = [], 0
    i = 0
    deadline = time.perf_counter() + seconds
    while True:
        cpu0 = procstats.tree_cpu_s()
        try:
            rec = wl.op(i)
            rec["cpu_s"] = procstats.tree_cpu_s() - cpu0
            records.append(rec)
        except Exception:
            failed += 1
            traceback.print_exc()
        i += 1
        if time.perf_counter() >= deadline:
            break
    host.stop()
    ctx = {"steal_pct": round(host.steal_pct, 3),
           "load_avg_1m": round(host.load_avg, 3)}
    return records, failed, {"host": ctx, "peak_rss_mb": host.peak_rss_mb,
                             "seconds": time.perf_counter() - t0}


def wrap_stream(tracer) -> None:
    from kgspark import datapipe, segments
    for fn in ("build_ivf_index", "update_ivf_index"):
        tracer.wrap(datapipe, fn, out_dir_arg="path",
                    gens=segments.committed_gen)
    # incremental_ingest embeds each batch's pages with udfs.embed_expr
    # and pins the vectors with localCheckpoint; that call runs the pass
    tracer.wrap_method(type(tracer.spark.range(0)), "localCheckpoint",
                       "udfs.embed_expr",
                       parent=STREAM, when=lambda df: "embedding" in df.columns)


def side_round(tracer, wrap, run, check) -> dict:
    """A traced round of layer calls that no op makes (see
    perfbench/README.md): ``run`` under the wrappers, then ``check`` on its
    result, untraced. Returns the check, whose ``ok`` is False if either
    raised."""
    try:
        wrap(tracer)
        try:
            out = run()
        finally:
            tracer.restore()
        return check(out)
    except Exception:
        traceback.print_exc()
        return {"ok": False}


def wrap_index_maintenance(tracer) -> None:
    from kgspark import datapipe, fulltext, segments
    tracer.wrap(fulltext, "update_fulltext_index", out_dir_arg="path",
                gens=segments.committed_gen)
    tracer.wrap(datapipe, "update_ann_index", out_dir_arg="path",
                gens=segments.committed_gen)


def wrap_build(tracer) -> None:
    from kgspark import cc, dedup, linking, pipeline, temporal, udfs
    from kgspark import io as kio
    tracer.wrap(kio, "run_resumable")
    tracer.wrap(pipeline, "build_graph", tables=kio.TABLES)
    for mod, fns in ((udfs, ("extract_mentions", "extract_triples",
                             "embed_entities")),
                     (linking, ("distinct_entities", "candidate_pairs",
                                "score_pairs")),
                     (cc, ("connected_components_auto", "resolve_pointers")),
                     (dedup, ("dedup_edges",)), (temporal, ("temporal_pass",))):
        for fn in fns:
            tracer.wrap(mod, fn)
    tracer.wrap(kio, "write_tables", out_dir_arg="base")


def wrap_search(tracer) -> None:
    from kgspark import datapipe, fulltext, search
    tracer.wrap(search, "hybrid_search")
    tracer.wrap(search, "hybrid_node_search")
    tracer.wrap(fulltext, "bm25_query_indexed", scans=True)
    tracer.wrap(search, "similarity_search")
    tracer.wrap(search, "rrf")
    tracer.wrap(datapipe, "ann_query_indexed", scans=True)


def traced_op(wl, tracer, records: list[dict]) -> tuple[dict, float]:
    """One traced op after the untraced ops, in the same state; returns it
    and the tracing overhead (traced wall minus the untraced median)."""
    (wrap_build if wl.name == "bulk_build" else wrap_search)(tracer)
    try:
        traced = wl.op(len(records))
    finally:
        tracer.restore()
    return traced, traced["latency_s"] - statistics.median(
        r["latency_s"] for r in records)


def layer_metrics(layers: dict, side: dict, overhead_s: float,
                  valid: bool) -> dict:
    out = {}
    for span, field, unit in per_layer_spec():
        agg = layers.get(span, {})
        value = agg.get("self_wall_s" if field == "wall_s" else field, 0)
        out[f"{span}.{field}"] = {"value": value, "unit": unit}

    def ratio(span_out, field_out, span_in, field_in):
        num = layers.get(span_out, {}).get(field_out, 0)
        den = layers.get(span_in, {}).get(field_in, 0)
        return num / den if den else 0.0

    out["linking.accept_ratio"] = {"value": ratio(
        "linking.score_pairs", "rows_out", "linking.candidate_pairs",
        "rows_out"), "unit": "ratio"}
    out["dedup.merge_ratio"] = {"value": ratio(
        "dedup.dedup_edges", "rows_out", "dedup.dedup_edges", "rows_in"),
        "unit": "ratio"}
    # share of the traced build's wall time spent in the extraction spans
    build = layers.get("pipeline.build_graph", {}).get("wall_s", 0)
    out["build.extraction_share"] = {"value": sum(
        layers.get(s, {}).get("self_wall_s", 0) for s in EXTRACTION) / build
        if build else 0.0, "unit": "ratio"}
    batch_s = side.get("batch_s", [])
    out["streaming.batch_s"] = {"value": batch_s[0] if batch_s else 0,
                                "unit": "s"}
    out["trace.overhead_s"] = {"value": overhead_s, "unit": "s"}
    out["trace.valid"] = {"value": int(valid), "unit": "count"}
    return out


def print_layer_table(layers: dict, valid: bool) -> None:
    log("per-layer table" + ("" if valid else " -- INVALID: the traced op "
                             "or the side round failed its check"))
    cols = ("calls", "self_wall_s", "jobs", "tasks", "task_s", "jvm_cpu_s",
            "python_cpu_s", "gc_s", "shuffle_write_bytes", "rows_in",
            "rows_out")
    print("  " + "span".ljust(34) + "".join(c[:12].rjust(13) for c in cols))
    for name in sorted(layers, key=lambda n: -layers[n]["self_wall_s"]):
        agg = layers[name]
        cells = []
        for c in cols:
            v = agg.get(c, 0)
            cells.append((f"{v:.3f}" if isinstance(v, float) else str(v)).rjust(13))
        print("  " + name.ljust(34) + "".join(cells))


def prepare(args, work: Path, fixture: Path) -> None:
    """Build the workload's fixture at ``fixture`` in a session of its own."""
    from workloads import WORKLOADS

    from kgspark import session
    t = time.perf_counter()
    spark = session.get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, fixture)
        verdict = wl.prepare(fixture)
    finally:
        stop_spark(spark)
    log(f"prepared {fixture.name} in {time.perf_counter() - t:.2f}s "
        + json.dumps(verdict))


def run(args, work: Path, fixture: Path | None) -> dict:
    import procstats
    from workloads import WORKLOADS

    from kgspark import session
    nproc = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark = session.get_spark(cpus=nproc)
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    try:
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            tracer.record("session.get_spark", t0, t1)
        wl = WORKLOADS[args.workload](spark, work, args.seed, fixture)
        t = time.perf_counter()
        wl.make_inputs()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup()
        prebuild_s = time.perf_counter() - t
        setup_s = (t1 - t0) + gen_s + prebuild_s
        log(f"setup: session {t1 - t0:.2f}s, inputs {gen_s:.2f}s, "
            f"prebuild {prebuild_s:.2f}s "
            + json.dumps({k: round(v, 2) for k, v in
                          getattr(wl, "setup_parts", {}).items()}))

        host_ms = procstats.host_speed_ms()
        side = None
        if tracer is not None and wl.name == "bulk_build":
            # the write side, before the ops: it also warms the JVM, so the
            # untraced and the traced build are both warm builds
            wl.stream_inputs()

            def stream_round():
                with tracer.span(STREAM):
                    batch_s = wl.stream_ingest()
                wl.stream_update()
                return batch_s
            side = side_round(tracer, wrap_stream, stream_round,
                              wl.stream_check)
        # in a traced run the untraced ops only give the overhead baseline
        records, failed, window = timed_loop(wl, args.seconds)
        traced = []
        if tracer is not None:
            op, overhead_s = traced_op(wl, tracer, records)
            traced.append(op)
        t = time.perf_counter()
        verdicts, detail = wl.check(records + traced)
        detail["check_s"] = round(time.perf_counter() - t, 2)
        if tracer is not None and wl.name == "search_mix":
            # after the ops it changes have been checked
            side = side_round(tracer, wrap_index_maintenance,
                              wl.maintenance_round, wl.maintenance_check)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    # a traced run's side round counts as one more op
    attempted = len(records) + failed + len(traced) + (side is not None)
    n_bad = (failed + verdicts.count(False)
             + (side is not None and not side["ok"]))
    lat = [r["latency_s"] for r in records]
    context = {"workload": wl.name, "seed": args.seed, "nproc": nproc,
               "source": source_id(), "sizes": wl.sizes(),
               "run_seconds": args.seconds, "ops": len(records),
               "host_speed_ms": round(host_ms, 2), **window["host"]}
    log("context " + json.dumps(context))
    log("check " + json.dumps({**detail, "side_round": side}, default=str))
    log(f"timed window {window['seconds']:.2f}s, stop {stop_s:.2f}s")
    if not lat:
        raise SystemExit(f"perfbench: none of {attempted} ops completed")
    p50 = statistics.median(lat)
    summary = {"setup_s": setup_s, "failed_frac": n_bad / attempted,
               "cpu_s_per_op": statistics.median(r["cpu_s"] for r in records),
               "peak_rss_mb": window["peak_rss_mb"], "ops": len(lat)}
    if wl.name == "bulk_build":
        summary["pages_per_s"] = wl.N_PAGES / p50
        summary["build_p50_s"] = p50
    else:
        summary["round_p50_ms"] = 1e3 * p50
        per_query = [x for r in records for x in r["kind_latency_s"].values()]
        q = statistics.quantiles(per_query, n=4, method="inclusive")
        summary["query_p50_ms"] = 1e3 * statistics.median(per_query)
        summary["query_p75_ms"] = 1e3 * q[2]
        summary["samples_beyond_p75"] = sum(x > q[2] for x in per_query)
        for kind in wl.KINDS:
            summary[f"{kind}_p50_ms"] = 1e3 * statistics.median(
                r["kind_latency_s"][kind] for r in records)
    log("summary " + json.dumps({k: round(v, 4) if isinstance(v, float) else v
                                 for k, v in summary.items()}))
    if tracer is None:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "cpu_s_per_op": {"value": summary["cpu_s_per_op"],
                                    "unit": "CPU-s"}}
        return {"correct": n_bad == 0, "attempted": attempted,
                "failed": n_bad, "metrics": metrics}

    # valid: the traced op and the side round passed their checks
    valid = all(verdicts[len(records):]) and side["ok"]
    events = tracer.read_event_log(str(work / "eventlog"), stream_span=STREAM)
    layers = tracer.layers(events)
    print_layer_table(layers, valid)
    log(f"tracing overhead {overhead_s:.3f}s (traced op minus the untraced "
        f"median)")
    out_dir = ROOT / ".perfbench"
    tracer.dump(out_dir / f"trace-{wl.name}-{args.seed}.json",
                {"context": context, "layers": layers, "side_round": side,
                 "overhead_s": overhead_s, "valid": valid})
    return {"correct": n_bad == 0, "attempted": attempted, "failed": n_bad,
            "metrics": layer_metrics(layers, side, overhead_s, valid)}


def check_declared(trace: bool) -> None:
    """The metric names this file reports must be the ones BENCHMARK.json
    declares."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return
    bench = json.loads(spec.read_text())
    declared = [(m["name"], m["unit"]) for m in
                bench["per_layer" if trace else "end_to_end"]]
    ours = per_layer_names() if trace else list(END_TO_END)
    if declared != ours:
        raise SystemExit("BENCHMARK.json metric list differs from run.py's")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kgspark" / "pipeline.py").is_file():
        print(f"perfbench: no kgspark sources at {ROOT}; run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    check_declared(bool(args.trace))
    env = dict(os.environ)
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare_env(work, bool(args.trace) and not args.prepare)
    sys.path.insert(0, str(ROOT))
    try:
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(WORKLOADS)}")
        cache = ROOT / ".perfbench" / "cache"
        cache.mkdir(exist_ok=True)
        fixture = WORKLOADS[args.workload].fixture(cache, sources_digest())
        if args.prepare:
            prepare(args, work, fixture)
            return 0
        if fixture is not None and not fixture.is_dir():
            # the first run in a checkout builds the fixture, in a process
            # of its own so that this run starts as every later one does
            subprocess.run([sys.executable, str(Path(__file__).resolve()),
                            "--workload", args.workload, "--seed",
                            str(args.seed), "--seconds", str(args.seconds),
                            "--prepare"], env=env, check=True)
        result = run(args, work, fixture)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
