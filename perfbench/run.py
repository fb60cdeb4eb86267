#!/usr/bin/env python3
"""Benchmark of the ETL pipeline and the query catalog.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each is in the set):

* ``etl_batch``: repeated EP1 full reloads (``Pipeline.runFullBatch``) of
  one seeded reference-shaped dataset into fresh output dirs;
* ``etl_incremental``: EP2, one seeded daily log file per operation
  through ``Pipeline.runIncrementalQuarantined``; a fixed share of the
  files is poisoned and must be quarantined; once per pass over the
  files, one good file is drained through the streaming ingest
  (``StreamingPipeline.incrementalTables``) instead;
* ``catalog``: a fixed set of ``SparkEntry.queries`` on the sf0.01
  tables, in an order the seed permutes, repeated in whole passes.

One process (``graft.perfbench.Harness``) per run builds the session with
``GraftSession.builder`` on ``local[nproc]``, warms up, and runs the
workload as a closed loop with one client for ``--seconds`` of measured
operation time. This script then checks every output against an oracle
that does not use Spark (``etl_data.py``, ``catalog_check.py``) and prints
one JSON line: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. It exits 1 when any output is
wrong.
"""

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import etl_data  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
CATALOG_SF = os.path.join(HERE, "data", "sf0.01")
# Input sizes. Warm-up inputs use a fixed seed so set-up does the same
# work for every --seed.
BATCH = etl_data.Spec(songs=160, days=2, events_per_day=1500, users=100)
BATCH_WARM = etl_data.Spec(songs=40, days=2, events_per_day=200, users=30)
# One pass: 16 files through EP2 (2 of them poisoned), then one streaming
# drain of the first file. The drain is the slowest operation and 1 in 17
# of them, so p90 stays inside the EP2 operations. A pass is longer than
# the timed window, so a run is one pass.
INCREMENTAL = etl_data.Spec(songs=200, days=16, events_per_day=1000, users=100, poison_every=8)
STREAM = "stream:"
# Eight warm-up files: the per-file latency falls steeply for about as
# many files after the cold first one.
INCREMENTAL_WARM = etl_data.Spec(songs=50, days=8, events_per_day=1000, users=100, poison_every=4)
WARM_SEED = 0
# The catalog sample: one query for each layer the catalog drives, kept
# small enough that a cold pass and two warm passes fit in one run:
# windowed dedup (q17), text features with a pinned pair table (q21), the
# range-join rewrite (q40), a durable-state composition (q89) and in-query
# BPE training (q115). An odd count keeps the median inside one query's
# samples instead of at a gap between two.
CATALOG = [
    "q17_dedup_exact", "q21_ngram_jaccard", "q40_range_join",
    "q89_incremental_distinct", "q115_bpe_merges",
]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 150


def cores():
    return len(os.sched_getaffinity(0))


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare(workload, seed, work):
    """Inputs of one run: (data dir, warm-up dir, operation order, manifest)."""
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm_data")
    if workload == "etl_batch":
        manifest = etl_data.generate(data, seed, BATCH, "batch")
        etl_data.generate(warm, WARM_SEED, BATCH_WARM, "batch")
        return data, warm, [], manifest
    if workload == "etl_incremental":
        manifest = etl_data.generate(data, seed, INCREMENTAL, "incremental")
        etl_data.generate(warm, WARM_SEED, INCREMENTAL_WARM, "incremental")
        # Chronological, as a scheduler feeds uploads.
        files = [f["name"] for f in manifest["files"]]
        good = next(f["name"] for f in manifest["files"] if not f["poisoned"])
        return data, warm, files + [STREAM + good], manifest
    if workload == "catalog":
        if not os.path.isdir(CATALOG_SF):
            raise SystemExit(f"no catalog tables at {CATALOG_SF}")
        order = list(CATALOG)
        random.Random(seed).shuffle(order)
        return CATALOG_SF, CATALOG_SF, order, None
    raise SystemExit(f"unknown workload {workload}")


def run_harness(args, cp, work, data, warm, order, deadline):
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(work, "result.json")
    n = cores()
    # The heap is fixed and pre-touched, so VmHWM minus the heap is the
    # peak resident memory outside it (see peak_mem_mb). 2 GB is the low
    # end of the driver memory the repo's test setup picks by machine
    # size. Every scratch path points inside the checkout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData",
           *[o for p in JVM_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(tmp, 'hadoop')}",
           "-cp", cp, "graft.perfbench.Harness",
           "--workload", args.workload, "--data", data, "--warm", warm, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(n),
           "--order", ",".join(order) or ",", "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out")
    if rc != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(result) as f:
        return json.load(f), n


# ----------------------------------------------------------------- checks

def check_batch(rec, manifest):
    if not rec["ok"]:
        return rec["error"] or "reload failed"
    for table, want in manifest["expected"].items():
        why = etl_data.check_table(os.path.join(rec["extra"]["output"], f"{table}_table.parquet"),
                                   table, want)
        if why:
            return why
    return None


def input_file(manifest, name):
    return next(x for x in manifest["files"] if x["name"] == name.removeprefix(STREAM))


def check_incremental(rec, manifest):
    f = input_file(manifest, rec["name"])
    ex = rec["extra"]
    if rec["name"].startswith(STREAM):
        if not rec["ok"]:
            return f"stream of {f['name']} failed ({rec['error']})"
    elif f["poisoned"]:
        if rec["ok"] or rec["error"]:
            return f"poisoned {f['name']} not quarantined ({rec['error'] or 'reported success'})"
        if not ex["in_failed"] or ex["in_raw"]:
            return f"poisoned {f['name']} not moved to failed/"
        return None
    elif not rec["ok"]:
        return f"good {f['name']} quarantined ({rec['error']})"
    elif ex["in_failed"] or not ex["in_raw"]:
        return f"good {f['name']} moved out of raw/"
    for table, want in f["expected"].items():
        why = etl_data.check_table(os.path.join(ex["snapshot"], f"{table}_table.parquet"), table, want)
        if why:
            return f"{f['name']} {why}"
    return None


def check_catalog(records, info):
    import catalog_check
    oracle = catalog_check.Oracle(ROOT, CATALOG_SF, os.path.join(WORK, "oracle"))
    sql = info["oracle_sql"]
    reasons = []
    for rec in records:
        if not rec["ok"]:
            reasons.append(rec["error"] or "query failed")
        elif rec["name"] not in sql:
            reasons.append(f"{rec['name']}: no oracle SQL")
        else:
            reasons.append(oracle.check(rec["name"], sql[rec["name"]], rec["extra"]["output"]))
    return reasons


def check(workload, records, manifest, info):
    if workload == "catalog":
        return check_catalog(records, info)
    fn = check_batch if workload == "etl_batch" else check_incremental
    return [fn(r, manifest) for r in records]


# ---------------------------------------------------------------- metrics

def percentile(xs, q):
    """Linear-interpolated percentile of a sample."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def peak_mem_mb(res, records):
    """The largest live heap at an operation's end, plus the peak resident
    memory outside the heap. The heap is fixed and pre-touched, so the
    latter is VmHWM minus the committed heap."""
    heap = max(r["heap_live_kb"] for r in records)
    return (heap + res["peak_rss_kb"] - res["heap_committed_kb"]) / 1024.0


def end_to_end(res, records):
    lat = [r["seconds"] for r in records]
    return {
        "setup_s": res["setup"]["setup_s"],
        "op_p50_s": statistics.median(lat),
        "op_p90_s": percentile(lat, 0.9),
        "ops_per_s": len(lat) / sum(lat),
        "peak_mem_mb": peak_mem_mb(res, records),
    }


def per_layer(res, untraced, traced, cores, composition=None):
    """Per-layer metrics of a traced run. ``composition`` is the set of
    composition queries on the catalog, and None on the ETL workloads."""
    n = len(traced)
    lat = [r["seconds"] for r in traced]

    def mean(key, scale=1.0):
        return sum(r["counters"].get(key, 0.0) for r in traced) / n * scale

    def mean_record(key, scale=1.0):
        return sum(r[key] for r in traced) / n * scale

    catalog = composition is not None
    quarantined = [r for r in traced if not r["ok"]]
    plain = [r["seconds"] for r in traced if catalog and r["name"] not in composition]
    comp = [r["seconds"] for r in traced if catalog and r["name"] in composition]
    jobs = [r["counters"].get("jobs", 0.0) for r in traced]
    m = {
        "session.build_s": res["setup"]["build_s"],
        "session.warmup_s": res["setup"]["warmup_s"],
        "sources.files": mean("scan_files"),
        "sources.listing_s": mean("listing_ms", 1e-3),
        "sources.bytes_read": mean("bytes_read"),
        "sources.records_read": mean("records_read"),
        "sources.scan_stage_s": mean("stage_scan_ms", 1e-3),
        "plans.analysis_s": mean("analysis_ms", 1e-3),
        "plans.optimization_s": mean("optimization_ms", 1e-3),
        "plans.planning_s": mean("planning_ms", 1e-3),
        "pipeline.actions_per_op": mean("actions"),
        "pipeline.jobs_per_op": mean("jobs"),
        "pipeline.commit_s": mean("commit_ms", 1e-3),
        "pipeline.files_written": mean("files_written"),
        "pipeline.bytes_written": mean("bytes_written"),
        "pipeline.write_stage_s": mean("stage_write_ms", 1e-3),
        "pipeline.quarantined": len(quarantined) / n,
        "pipeline.quarantine_s": statistics.mean(r["seconds"] for r in quarantined) if quarantined else 0.0,
        "queries.plain_s": statistics.mean(plain) if plain else 0.0,
        "queries.composition_s": statistics.mean(comp) if comp else 0.0,
        "queries.jobs_per_query_p50": statistics.median(jobs) if catalog else 0.0,
        "queries.jobs_per_query_max": max(jobs) if catalog else 0.0,
        "operators.pins": mean_record("pins"),
        "operators.pinned_mb": mean_record("pinned_bytes", 1 / 2 ** 20),
        "operators.state_bytes_written": mean("state_bytes"),
        "streaming.batches": mean("stream_batches"),
        "streaming.batch_s": mean("stream_batch_ms", 1e-3),
        "streaming.rows": mean("stream_rows"),
        "exec.tasks": mean("tasks"),
        "exec.run_s": mean("run_ms", 1e-3),
        "exec.cpu_s": mean("cpu_ns", 1e-9),
        "exec.gc_s": mean("gc_ms", 1e-3),
        "exec.sched_delay_s": mean("sched_ms", 1e-3),
        "exec.core_busy_ratio": mean("run_ms", 1e-3) * n / (sum(lat) * cores),
        "exec.unattributed_tasks": res["global"].get("unattributed_tasks", 0.0) / n,
        "shuffle.write_bytes": mean("shuffle_write"),
        "shuffle.read_bytes": mean("shuffle_read"),
        "shuffle.fetch_wait_s": mean("fetch_wait_ms", 1e-3),
        "shuffle.spill_bytes": mean("spill"),
        "shuffle.stage_s": mean("stage_shuffle_ms", 1e-3),
        # Each traced operation is paired with an untraced run of itself.
        "trace.overhead_s": (sum(lat) - sum(r["seconds"] for r in untraced)) / n,
    }
    for t in etl_data.COLUMNS:
        m[f"transforms.{t}.exec_s"] = mean(f"transforms.{t}.s")
        m[f"transforms.{t}.rows"] = mean(f"transforms.{t}.rows")
    return m


def layer_shares(traced):
    """Shares of the traced operations' latency: listing jobs, and stage
    wall time by kind. ``rest`` is what is left: planning, job launch,
    commit and driver work between stages."""
    total = sum(r["seconds"] for r in traced)
    kinds = {"listing": "listing_ms", "scan": "stage_scan_ms", "shuffle": "stage_shuffle_ms",
             "write": "stage_write_ms", "other_stages": "stage_other_ms"}
    shares = {k: sum(r["counters"].get(c, 0.0) for r in traced) / 1e3 / total
              for k, c in kinds.items()}
    shares["rest"] = 1.0 - sum(shares.values())
    return shares


def metrics_json(spec, values):
    """The printed metrics: every metric of ``spec``, by name, with its unit."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = load_benchmark()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    cp = build.ensure()  # before the run's clock: the first run of a checkout builds
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        data, warm, order, manifest = prepare(args.workload, args.seed, work)
        t1 = time.monotonic()
        res, n_cores = run_harness(args, cp, work, data, warm, order, deadline)
        t2 = time.monotonic()
        records = res["records"]
        reasons = check(args.workload, records, manifest, res["info"])
        failures = [(r["tag"], why) for r, why in zip(records, reasons) if why]
        if args.trace:
            timed = [r for r in records if r["phase"] == "untraced"]
            traced = [r for r in records if r["phase"] == "traced"]
            composition = set(res["info"]["composition"]) if args.workload == "catalog" else None
            values = per_layer(res, timed, traced, n_cores, composition)
            wanted = bench["per_layer"]
        else:
            timed = records
            values = end_to_end(res, records)
            wanted = bench["end_to_end"]
        lat = [r["seconds"] for r in timed]
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": n_cores,
            "operations": len(timed), "measured_s": sum(lat),
            "op_p90_samples_beyond": sum(1 for x in lat if x > percentile(lat, 0.9)),
            "error_rate": len(failures) / len(records),
            "failures": failures[:10],
            "op_seconds": [[r["name"], round(r["seconds"], 4)] for r in timed],
            "setup": res["setup"],
            "memory_mb": {"heap_live_peak": max(r["heap_live_kb"] for r in timed) / 1024,
                          "outside_heap_peak": (res["peak_rss_kb"] - res["heap_committed_kb"]) / 1024,
                          "heap_committed": res["heap_committed_kb"] / 1024},
            "wall_s": {"prepare": t1 - t0, "harness": t2 - t1, "check": time.monotonic() - t2},
            "input": manifest["spec"] if manifest else {"sf": "0.01", "queries": order},
            "spark_conf": res["conf"],
        }
        if args.trace:
            info["layer_shares"] = layer_shares(traced)
        if manifest:
            events = sum(manifest["events"] if args.workload == "etl_batch"
                         else input_file(manifest, r["name"])["events"] for r in timed)
            info["events_per_s"] = events / sum(lat)
        print(json.dumps(info, sort_keys=True))
        if args.trace:
            spans = os.path.join(WORK, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(work, "out", "spans.jsonl"),
                        os.path.join(spans, f"{args.workload}-s{args.seed}.jsonl"))
        out = {
            "correct": not failures,
            "attempted": len(records),
            "failed": len(failures),
            "metrics": metrics_json(wanted, values),
        }
        print(json.dumps(out))
        return 0 if not failures else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
