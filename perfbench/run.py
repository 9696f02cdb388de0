"""Benchmark entry point.

    python3 perfbench/run.py --workload {bm25,dedup_ops} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It generates the workload's inputs from the
seed, starts one local Spark session sized to this machine, runs the
workload through the public API of ``similarities_spark`` with every result
checked against an oracle, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the Spark event log is on, spans become job groups, the
Spark-free layer probes run, and the metrics are the per-layer ones. Each
run also writes a result file (and, traced, a trace file) under
``perfbench/.out``; everything it writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import glob
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, ".out")


def _code_digest() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "similarities_spark", "**", "*.py"), recursive=True)
                   + glob.glob(os.path.join(HERE, "*.py")))
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + fh.read())
    return h.hexdigest()[:16]


def _declared() -> tuple:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    ctx = {"nproc": len(os.sched_getaffinity(0)), "mem_total_gb": round(mem_kb / 2**20, 1)}
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from calib import memcpy_gbps  # context only, never a normaliser
    except ImportError:
        return ctx
    ctx["memcpy_gbps"] = memcpy_gbps(size_mb=128)
    return ctx


def _session(work: str, cores: int, mem_gb: float, traced: bool):
    from pyspark.sql import SparkSession

    # Python workers need ~200 MB each next to the JVM, so the driver heap
    # takes at most a quarter of RAM (capped at 2 GB, ample for these
    # inputs). It is also fixed and touched up front: a heap left to grow
    # makes peak RSS swing by a gigabyte with GC timing from run to run,
    # while a fixed one leaves the Python side and off-heap use to move it.
    heap_gb = max(1, min(2, int(mem_gb // 4)))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if traced:
        os.makedirs(os.path.join(work, "events"))
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "events"))
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark, rss) -> None:
    """Stop the session, end the driver JVM and wait until it and the
    Python workers it started have exited."""
    gateway = spark.sparkContext._gateway
    started = rss.tree() - {os.getpid()}
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def _check_exact(key: str, exact: dict) -> list:
    """Compare exact counters with the last run of the same workload, seed,
    mode and code; -> names that differ. The first run records them."""
    path = os.path.join(OUT, "exact", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        return sorted(k for k in set(prev) | set(exact) if prev.get(k) != exact.get(k))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(exact, f, sort_keys=True)
    return []


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bm25", "dedup_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "similarities_spark", "__init__.py")):
        print("perfbench: run from the repository root (similarities_spark/ not found)", file=sys.stderr)
        return 2
    traced = bool(args.trace)

    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    import gen
    import spans as tracing
    import workloads

    try:
        machine = _machine()
        t0 = time.time()
        inputs = gen.WORKLOADS[args.workload](args.seed)
        gen_s = time.time() - t0
        with tracing.RssSampler() as rss:
            t_setup = time.time()
            spark = _session(work, machine["nproc"], machine["mem_total_gb"], traced)
            try:
                tr = tracing.Tracer(spark.sparkContext, traced, rss)
                run = workloads.Run(spark, tr, inputs, work, args.seconds, traced, machine["nproc"])
                with tr.span(args.workload) as root:
                    idx_dir, oracle = workloads.WORKLOADS[args.workload](run)
                setup_s = run.t_first_call - t_setup - run.stage_s
                layer = dict(run.layer)
                if traced:
                    layer.update(_probes(tr, spark, run, idx_dir, oracle))
            finally:
                _stop(spark, rss)
        result = {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            **run.metrics,
        }
        exact = dict(run.exact)
        if traced:
            exact["tokenize.corpus_tokens"] = layer["tokenize.corpus_tokens"]
            for k in ("query.scorer.candidate_blocks_per_query", "query.scorer.candidate_postings_per_hit"):
                exact[k] = layer[k]
        key = f"{args.workload}-{args.seed}-{int(traced)}-{_code_digest()}"
        for name in _check_exact(key, exact):
            run.check(False, f"exact counter {name} differs from a previous same-seed run")
        report = _report(args, run, tr, root, result, layer, exact, machine, gen_s, work, traced,
                         rss.peak_by_name)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e_units, layer_units = _declared()
    _print_human(args, inputs, run, result, report, e2e_units, layer_units)
    values, units = (report["per_layer"], layer_units) if traced else (result, e2e_units)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _probes(tr, spark, run, idx_dir, oracle) -> dict:
    import probes

    out = {}
    queries = run.inp.queries
    with tr.span("probes"):
        blocks = probes.index_blocks(idx_dir) if idx_dir else probes.oracle_blocks(oracle)
        with tr.span("codec_probe", "index.codec"):
            out.update(probes.codec_probe(blocks))
        with tr.span("scorer_probe", "query.scorer"):
            out.update(probes.scorer_probe(blocks, queries, oracle.n_docs, oracle.avgdl))
        with tr.span("tokenize_probe", "tokenize"):
            out.update(probes.tokenize_probe(queries))
        with tr.span("corpus_tokens", "tokenize"):
            out.update(probes.corpus_tokens(spark, run.corpus_df))
    return out


def _report(args, run, tr, root, result, layer, exact, machine, gen_s, work, traced,
            rss_by_name=None) -> dict:
    import spans as tracing

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": traced, "run_id": tr.run_id, "machine": machine,
        "input_gen_s": gen_s, "input_props": run.inp.props, "peak_rss_by_process_mb": rss_by_name,
        "digest": run.digest.hexdigest(), "end_to_end": result,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()},
        "exact": exact, "attempted": run.attempted, "failed": run.failed,
        "floored_idf_ulp_matches": run.floor_ulp, "layer": dict(run.layer),
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    base = f"{args.workload}-{args.seed}"
    if not traced:
        with open(os.path.join(OUT, "results", base + ".json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        return report

    events = tracing.read_event_log(os.path.join(work, "events"))
    spark_work = tracing.attribute_jobs(tr.spans, events, run.cores)
    self_s = tracing.self_times(tr.spans)
    for sp in tr.spans:
        sp["spark"] = spark_work.get(sp["id"], {})
    calls = [s for s in tr.spans if s["layer"] != "bench"]
    tot = {k: sum(w.get(k, 0.0) for w in spark_work.values())
           for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
                     "shuffle_read_bytes", "spill_bytes")}
    wall = root["end"] - root["start"]

    n_single = max(1, layer.get("query.single.n", 1))
    single = {k: sum(s["spark"].get(k, 0) for s in calls if s["name"].startswith("single.")) / n_single
              for k in ("jobs", "stages", "tasks")}
    untraced = None
    path = os.path.join(OUT, "results", base + ".json")
    if os.path.exists(path):
        with open(path) as f:
            untraced = json.load(f)["end_to_end"]
    layer.update({
        "self_s": self_s,
        "call_s": {s["name"]: s["end"] - s["start"] for s in calls},
        "tracing_overhead": ({k: result[k] - untraced[k] for k in result if k in untraced}
                             if untraced else "no untraced run of this workload and seed yet"),
        "spark": dict(tot, core_util=tot["task_s"] / (wall * run.cores)),
    })
    per_layer = {
        "spark.task_s": tot["task_s"],
        "spark.core_util": tot["task_s"] / (wall * run.cores),
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.gc_s": tot["gc_s"],
        "process.rss_mb": result["peak_rss_mb"],
        "query.single.p50_ms": result["query_p50_ms"],
        "query.single.jobs_per_call": single["jobs"],
        "query.single.stages_per_call": single["stages"],
        "query.single.tasks_per_call": single["tasks"],
        "self_s.bench": self_s.get("bench", 0.0),
        "self_s.package": sum(v for k, v in self_s.items() if k != "bench"),
    }
    per_layer.update({k: v for k, v in layer.items() if k.startswith(("tokenize.", "index.codec.", "query.scorer."))})
    report["per_layer"] = per_layer
    report["layer"] = layer
    report["spans"] = tr.spans
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    with open(os.path.join(OUT, "traces", f"{base}-{tr.run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
    return report


def _print_human(args, inputs, run, result, report, e2e_units, layer_units) -> None:
    print(f"workload {args.workload} seed {args.seed}: inputs {json.dumps(inputs.props)}")
    print(f"  digest {report['digest']}  attempted {run.attempted} failed {run.failed}"
          f"  floored-idf ulp matches {run.floor_ulp}")
    print(f"  layer {json.dumps(run.layer)}")
    print(f"  peak rss by process {json.dumps(report['peak_rss_by_process_mb'])}")
    print("  walls " + " ".join(f"{s['name']}={s['end'] - s['start']:.2f}" for s in run.tr.spans
                                if s["layer"] != "bench" or s["parent"] is not None))
    for k, u in e2e_units.items():
        print(f"  {k:<28} {result[k]:14.4f} {u}")
    for k, (v, u) in sorted(run.named.items()):
        print(f"  {args.workload}.{k:<30} {v:14.4f} {u}")
    if "per_layer" in report:
        for k, u in layer_units.items():
            print(f"  layer {k:<40} {report['per_layer'][k]:16.4f} {u}")
        for k, v in sorted(report["layer"]["self_s"].items()):
            print(f"  self_s {k:<39} {v:16.4f} s")
        print(f"  tracing overhead {json.dumps(report['layer']['tracing_overhead'])}")


if __name__ == "__main__":
    sys.exit(main())
