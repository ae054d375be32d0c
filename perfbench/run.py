#!/usr/bin/env python3
"""graft benchmark: seeded workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from `src/main/scala` and the harness in
`perfbench/harness` with the Scala compiler that ships in Spark's jars,
runs one workload in fresh JVMs, checks every output, and prints as its
last stdout line one JSON object: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. Exits non-zero without a result when
it cannot build or run. `--selftest` checks the span arithmetic and the
call-site attribution; `--record <dir>` re-records `expected.json` (see
README.md). Why each workload exists is in README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
BUILD = ROOT / ".bench_build" / "perfbench"
RUNS = ROOT / ".bench_run"
# Spark's jars hold Spark and the Scala 2.13 compiler the build uses
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "SPARK_HOME-is-unset")) / "jars"
HEAP = "3g"
SETUP_SAMPLES = 2  # the measuring JVM plus a set-up-only JVM

# Two workloads that stress different layers; README.md says why each is in
# and why there are two.
WORKLOADS = {
    # the query path: build, Catalyst planning and execution, operator kernels
    "queries": dict(mode="queries", tables="region,nation,customer,supplier,part,orders,lineitem,events,documents,embeddings",
                    keys=["q03_dim_double_join", "e19_mmr_rerank", "d02_dedup_minhash"]),
    # the pipeline path: a scheduled ProductionRun of the curation DAG
    "curation": dict(mode="curation", tables="documents"),
}

OPERATOR_FILES = ["Similarity", "KMeans", "Opq", "Graph", "Dedup", "TextAnalysis", "DistributedRank"]
SITE = re.compile(r" at ([A-Za-z0-9_$]+)\.scala:\d+")
PER_LAYER = (["catalog.open_s", "queries.build_s", "queries.build_jobs", "queries.build_tasks_per_job",
              "queries.build_gap_s", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
              "exec.action_s", "exec.first_run_fixed_s", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
              "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb", "exec.slot_util"]
             + [f"operators.{f}.{m}" for f in OPERATOR_FILES for m in ("jobs", "job_s")]
             + ["pipeline.run_s", "pipeline.overlap", "pipeline.model_attempts", "pipeline.test_s",
                "pipeline.test_jobs", "pipeline.VersionedTable.jobs", "pipeline.VersionedTable.job_s",
                "pipeline.bytes_written_mb", "pipeline.files_written", "pipeline.write_amp",
                "host.calib_s", "bench.trace_overhead"])
# tables of a curation tick that do not depend on the seed: recorded once
SEED_FREE_TABLES = ["DOCS_FILTERED", "DOCS_SCORED", "DOCS_DEDUPED"]
MB = 1024 * 1024


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- build

def jars():
    js = sorted(SPARK_JARS.glob("*.jar"))
    if not js:
        fail(f"no Spark jars under {SPARK_JARS}: set SPARK_HOME")
    return js


def scalac(sources, out, classpath):
    out.mkdir(parents=True, exist_ok=True)
    compiler = [SPARK_JARS / f"scala-{p}-2.13.17.jar" for p in ("compiler", "library", "reflect")]
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(map(str, classpath)), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compile failed: {out.name}")


def build():
    """Compile the program and the harness once per source content, jar
    them, and dump the classes a JVM loads during set-up into a class-data
    sharing archive that every benchmark JVM then starts from."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        fail("no program sources under src/main/scala")
    spark = jars()
    harness = sorted((HERE / "harness").glob("*.scala"))
    h = hashlib.sha256()
    for p in program + harness:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / h.hexdigest()[:16]
    archive = out / "setup.jsa"
    classpath = ["-cp", os.pathsep.join(map(str, [out / "harness.jar", out / "program.jar", SPARK_JARS / "*"]))]
    if not (out / "ok").exists():
        shutil.rmtree(BUILD, ignore_errors=True)
        scalac(program, out / "classes", spark)
        scalac(harness, out / "harness", spark + [out / "classes"])
        for src, jar in (("classes", "program.jar"), ("harness", "harness.jar")):
            subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", str(out / jar), "-C", str(out / src), "."],
                           check=True)
        work = RUNS / f"archive-{os.getpid()}"
        try:
            jvm([f"-XX:ArchiveClassesAtExit={archive}"] + classpath, work, "setup", "documents", {},
                time.monotonic() + 300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        (out / "ok").write_text("ok\n")
    return ([f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []) + classpath


# --------------------------------------------------------------------- run

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(java_args, work, mode, tables, args, deadline):
    """One fresh JVM in private dirs, started with `java_args` (class path
    and archive from build()). Returns (set-up seconds, result dict)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out = work / f"{mode}-{time.monotonic_ns()}.json"
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *OPENS, *java_args,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "perfbench.GraftBench",
           "--mode", mode, "--work", str(work), "--data", str(DATA), "--tables", tables,
           "--out", str(out)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, GRAFT_MODEL_DIR=str(work / "models"), SPARK_LOCAL_DIRS=str(work / "local"))
    with open(work / "jvm.log", "a") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        killer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        killer.start()
        setup = None
        try:
            for line in p.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.perf_counter() - t0
            rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if mode == "setup" and setup is not None:
        return setup, None
    if rc != 0 or setup is None or not out.exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM ({mode}) exited with {rc}")
    return setup, json.loads(out.read_text())


def expected():
    return json.loads((HERE / "expected.json").read_text())


# ---------------------------------------------------------------- analysis

def union_len(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"])
            - union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
            for s in spans}


def site_file(site):
    m = SITE.search(site or "")
    return m.group(1) if m else ""


def med(xs):
    return statistics.median(xs) if xs else 0.0


def check_queries(res, want):
    """Every query execution is one operation; wrong output counts as failed."""
    attempted = failed = 0
    for p in res["passes"]:
        for op in p["ops"]:
            attempted += 1
            w = want["queries"].get(op["key"])
            if not (op["ok"] and w and op.get("rows") == w["rows"] and op.get("digest") == w["digest"]):
                failed += 1
                print(f"[perfbench] FAILED {op['key']} ({p['kind']}): {op.get('error') or 'wrong output'}",
                      file=sys.stderr)
    return attempted, failed


def check_curation(res, want):
    """Operations per refresh: each model, each data check and the
    contamination check; for a tick also each table's digest. Every tick
    must reproduce the first tick's tables, and the tables that do not
    depend on the seed must match a recorded full rebuild of the whole
    corpus (incremental == rebuild)."""
    attempted = failed = 0
    first_tick = None
    for p in res["passes"]:
        models, checks = p["models"], len(p["checks"]) or 4
        run_ok = any(ph["phase"] == "run prod" and ph["ok"] for ph in p["phases"])
        attempted += models + checks + 1
        failed += 0 if run_ok else models
        failed += sum(1 for c in p["checks"] if c["violations"] != 0) if p["checks"] else checks
        failed += 0 if p.get("contaminated_kept") == 0 else 1
        if p["kind"] == "incr":
            tables = p.get("tables") or {}
            first_tick = tables if first_tick is None else first_tick
            for t in sorted(set(first_tick) | set(SEED_FREE_TABLES)):
                attempted += 1
                good = t in tables and tables[t] == first_tick.get(t)
                if t in SEED_FREE_TABLES:
                    good = good and tables[t] == want["curation_full"].get(t)
                failed += 0 if good else 1
        if not p["ok"] or p.get("digest_error"):
            print(f"[perfbench] refresh {p['kind']} not ok: "
                  + "; ".join(f"{ph['phase']}: {ph['detail']}" for ph in p["phases"] if not ph["ok"])
                  + (p.get("digest_error") or ""), file=sys.stderr)
    return attempted, failed


def pass_secs(p):
    return sum(op["secs"] for op in p["ops"]) if "ops" in p else p["secs"]


def end_to_end(setups, res):
    passes = res["passes"]
    warm = [pass_secs(p) for p in passes[1:] if not p["traced"]]
    return {
        "setup_s": (med(setups), "s"),
        "cold_s": (pass_secs(passes[0]), "s"),
        "warm_s": (med(warm), "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }


def latency_summary(res):
    """Per-query warm latency: median and p90 with the sample count."""
    xs = sorted(op["secs"] for p in res["passes"][1:] if not p["traced"] for op in p.get("ops", []))
    if not xs:
        return ""
    return f"query_p50_s={med(xs):.4f} query_p90_s={xs[int(0.9 * (len(xs) - 1))]:.4f} samples={len(xs)} "


def per_layer(res, curation):
    """Per-layer metrics per traced warm pass (for curation, per traced
    incremental tick)."""
    spans, jobs, cores = res["spans"], res["jobs"], res["cores"]
    by_id = {s["id"]: s for s in spans}
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    n = max(1, len(traced))

    def ancestors(sid):
        while sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def under(job, pred):
        return any(pred(s) for s in ancestors(job["span"]))

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["catalog.open_s"] = res["catalog_s"]
    m["host.calib_s"] = statistics.fmean(res["calib_s"])
    untraced = [pass_secs(p) for p in passes[1:] if not p["traced"]]
    m["bench.trace_overhead"] = med([pass_secs(p) for p in traced]) / med(untraced)

    roots = [s for s in spans if s["parent"] == -1]
    wall_ms = sum(s["end"] - s["start"] for s in roots)
    run_ms = sum(j["run_ms"] for j in jobs)
    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = sum(j["stages"] for j in jobs) / n
    m["exec.tasks"] = sum(j["tasks"] for j in jobs) / n
    m["exec.task_run_s"] = run_ms / 1e3 / n
    m["exec.task_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9 / n
    m["exec.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3 / n
    m["exec.shuffle_write_mb"] = sum(j["shuffle_w"] for j in jobs) / MB / n
    m["exec.shuffle_read_mb"] = sum(j["shuffle_r"] for j in jobs) / MB / n
    m["exec.spill_mb"] = sum(j["spill"] for j in jobs) / MB / n
    m["exec.input_mb"] = sum(j["input"] for j in jobs) / MB / n
    m["exec.slot_util"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
    m["pipeline.bytes_written_mb"] = sum(j["output"] for j in jobs) / MB / n
    for f in OPERATOR_FILES + ["VersionedTable"]:
        mine = [j for j in jobs if site_file(j["site"]) == f]
        layer = "pipeline" if f == "VersionedTable" else "operators"
        m[f"{layer}.{f}.jobs"] = len(mine) / n
        m[f"{layer}.{f}.job_s"] = sum(j["end"] - j["start"] for j in mine) / 1e3 / n

    if not curation:
        builds = [s for s in spans if s["name"] == "build"]
        in_build = {s["id"]: [j for j in jobs if j["span"] == s["id"]] for s in builds}
        bjobs = [j for js in in_build.values() for j in js]
        m["queries.build_s"] = sum(s["end"] - s["start"] for s in builds) / 1e3 / n
        m["queries.build_jobs"] = len(bjobs) / n
        m["queries.build_tasks_per_job"] = sum(j["tasks"] for j in bjobs) / len(bjobs) if bjobs else 0.0
        m["queries.build_gap_s"] = sum(
            (s["end"] - s["start"]) - union_len([(j["start"], j["end"]) for j in in_build[s["id"]]],
                                                s["start"], s["end"]) for s in builds) / 1e3 / n
        ops = [op for p in traced for op in p["ops"]]
        for ph in ("analysis", "optimization", "planning"):
            m[f"plan.{ph}_s"] = sum(op["plan"].get(ph, 0.0) for op in ops) / n
        actions = [s for s in spans if s["name"] == "action"]
        m["exec.action_s"] = (sum(s["end"] - s["start"] for s in actions) / 1e3
                              - sum(sum(op["plan"].values()) for op in ops)) / n
        cold = {op["key"]: op["secs"] for op in passes[0]["ops"]}
        warm = {}
        for p in passes[1:]:
            for op in p["ops"]:
                warm.setdefault(op["key"], []).append(op["secs"])
        m["exec.first_run_fixed_s"] = sum(cold[k] - med(v) for k, v in warm.items() if k in cold)
    else:
        phase = lambda name: [s for s in spans if s["name"] == f"phase:{name}"]
        run_phases, test_phases = phase("run prod"), phase("test dev")
        run_ids = {s["id"] for s in run_phases}
        test_ids = {s["id"] for s in test_phases}
        job_end = {}
        for j in jobs:
            job_end[j["span"]] = max(job_end.get(j["span"], 0), j["end"])
        models = [s for s in spans if s["name"].startswith("model:") and s["parent"] in run_ids]
        busy = sum(max(s["end"], job_end.get(s["id"], 0)) - s["start"] for s in models)
        run_ms_total = sum(s["end"] - s["start"] for s in run_phases)
        m["pipeline.run_s"] = run_ms_total / 1e3 / n
        m["pipeline.overlap"] = busy / run_ms_total if run_ms_total else 0.0
        distinct = {(s["parent"], s["name"]) for s in models}
        m["pipeline.model_attempts"] = len(models) / len(distinct) if distinct else 0.0
        m["pipeline.test_s"] = sum(s["end"] - s["start"] for s in test_phases) / 1e3 / n
        m["pipeline.test_jobs"] = sum(1 for j in jobs if under(j, lambda s: s["id"] in test_ids)) / n
        ticks = [p for p in traced if p["kind"] == "incr" and "files" in p]
        if ticks:
            m["pipeline.files_written"] = statistics.fmean(p["files"] for p in ticks)
            m["pipeline.write_amp"] = statistics.fmean(p["bytes"] for p in ticks) / res["corpus_bytes"]
        # the models' build calls are the pipeline's query-building layer
        m["queries.build_s"] = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("model:")) / 1e3 / n
    return m


def write_trace(res, workload, seed, selfs):
    RUNS.mkdir(parents=True, exist_ok=True)
    path = RUNS / f"trace-{workload}-seed{seed}.json"
    spans = [dict(s, self_ms=selfs[s["id"]]) for s in res["spans"]]
    path.write_text(json.dumps({"workload": workload, "seed": seed, "spans": spans, "jobs": res["jobs"]}))
    return path


# -------------------------------------------------------------------- main

def run(args):
    wl = WORKLOADS[args.workload]
    java_args = build()
    deadline = time.monotonic() + 170
    curation = wl["mode"] == "curation"
    work = RUNS / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        extra = {"seconds": args.seconds, "trace": args.trace, "seed": args.seed}
        if not curation:
            keys = list(wl["keys"])
            random.Random(args.seed).shuffle(keys)  # no change can profit from which query runs first
            extra["keys"] = ",".join(keys)
        setup, res = jvm(java_args, work / "main", wl["mode"], wl["tables"], extra, deadline)
        setups = [setup] + [jvm(java_args, work / f"setup{i}", "setup", wl["tables"], {}, deadline)[0]
                            for i in range(1, SETUP_SAMPLES)]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = expected()
    attempted, failed = (check_curation if curation else check_queries)(res, want)
    e2e = end_to_end(setups, res)
    print(f"[perfbench] workload={args.workload} seed={args.seed} cores={res['cores']} "
          f"attempted={attempted} failed={failed} fail_ratio={failed / attempted:.4f} "
          f"{latency_summary(res)}setups={[round(s, 3) for s in setups]} "
          f"calib_s={[round(c, 3) for c in res['calib_s']]} peak_rss_mb={res['peak_rss_mb']:.1f}")
    if args.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(res, curation).items()}
        selfs = self_times(res["spans"])
        roots = [s for s in res["spans"] if s["parent"] == -1]
        covered = sum(selfs[s["id"]] for s in res["spans"])
        wall = sum(s["end"] - s["start"] for s in roots)
        path = write_trace(res, args.workload, args.seed, selfs)
        print(f"[perfbench] trace {path.relative_to(ROOT)}: {len(res['spans'])} spans, "
              f"{len(res['jobs'])} jobs, self-time sum {covered / 1e3:.3f} s over traced wall {wall / 1e3:.3f} s")
    else:
        metrics = e2e
    for k, (v, u) in metrics.items():
        print(f"[perfbench] {k} = {v:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.slot_util", "pipeline.overlap", "pipeline.write_amp", "bench.trace_overhead",
                "pipeline.model_attempts", "queries.build_tasks_per_job"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="DUMP_DIR")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its private dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        import selftest
        selftest.main(build, jvm, RUNS)
    elif args.record:
        import record
        record.main(build, jvm, RUNS, Path(args.record))
    elif args.workload:
        run(args)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
