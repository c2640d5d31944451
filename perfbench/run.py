#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload, one result line.

    python3 perfbench/run.py --workload config_tree --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It builds the engine from `src/main`
(and its own Scala under perfbench/scala) into `.bench_build`, starts one
JVM that runs the workload's pipelines in a closed loop, checks every
pipeline's output against DuckDB, and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and a span file plus a per-layer self-time table).

Every run leaves its raw records under `.bench_runs/<workload>-s<seed>-t<trace>/`.
See perfbench/README.md for the workloads, the metrics and the compare tool.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"
BUILD = ".bench_build"
RUNS = ".bench_runs"

# The battery mixes: fixed per workload; the seed only permutes each pass.
WORKLOADS = {
    "config_tree": None,
    "llm_curation": ["q24_text_stats", "q26_fingerprint", "q111_normalize_text",
                     "q166_c4_line_filter", "q221_line_dedup", "q81_pii_scrub",
                     "q25_lang_id", "q276_ann_ingest_lifecycle"],
}
# The set build.sbt passes to forked JVMs (Spark 4 on JDK 17).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
WARMUP_PASSES = 1    # after the cold pass, run but not measured
MIN_WARM_PASSES = 2
# Measured warm passes = --seconds / this nominal pass length (at least
# MIN_WARM_PASSES): the work measured follows --seconds but not the
# machine's speed, so every run measures the same passes.
NOMINAL_PASS_S = {"config_tree": 5.0, "llm_curation": 7.5}
JVM_TIMEOUT_S = 170  # a run must end within 180 s
# A fixed young generation: with G1's adaptive sizing, eden grows with run
# length and pause history, and the peak RSS followed it, not the engine.
YOUNG_GEN = "1g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def scalac(classpath, out, sources):
    jars = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
            for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode})")


def build():
    """Compile src/main and the benchmark's Scala; skipped when the
    sources hash to the last build's stamp. Returns the run classpath."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main_src:
        raise SystemExit("no src/main/scala sources here: run from the root of a checkout")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes, bench = os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench")
    cp = os.pathsep.join([bench, classes, os.path.join(SPARK_JARS, "*")])
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    t = time.time()
    for d in (classes, bench):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    scalac(os.path.join(SPARK_JARS, "*"), classes, main_src)
    scalac(os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]), bench, bench_src)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built {len(main_src)} + {len(bench_src)} sources in {time.time() - t:.1f} s")
    return cp


# ---- inputs ----------------------------------------------------------------

def passes_for(workload, seed, n):
    """The pipelines of `n` passes. config_tree draws fresh configs every
    pass; the battery workloads permute their fixed mix."""
    if WORKLOADS[workload] is None:
        return gen.generate(seed, n)
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        mix = list(WORKLOADS[workload])
        rng.shuffle(mix)
        out.append([{"id": q, "slot": q, "kind": "query", "name": q} for q in mix])
    return out


# ---- the JVM ------------------------------------------------------------------

def harness(cp, heap, run_dir, passes, **opts):
    """Run perfbench.Harness on `passes` in a fresh JVM; returns its result
    record. Everything it writes stays under `run_dir`."""
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"no sf0.1 tables at {SF_DIR} (set PERFBENCH_SF_DIR)")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    for d in (work, out, os.path.join(work, "tmp")):
        os.makedirs(d)
    job = {"sf_dir": SF_DIR, "cpus": len(os.sched_getaffinity(0)), "out_dir": out,
           "work_dir": work,
           "trace_file": os.path.join(run_dir, "spans.jsonl"),
           "passes": [[{k: p[k] for k in ("id", "kind", "name", "config") if k in p}
                       for p in row] for row in passes], **opts}
    job_file, res_file = os.path.join(run_dir, "job.json"), os.path.join(run_dir, "result.json")
    with open(job_file, "w") as fh:
        json.dump(job, fh)
    jvm = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{YOUNG_GEN}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Harness", job_file, res_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            rc = subprocess.run(jvm, stdout=logf, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            raise SystemExit(f"harness JVM ran over {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(res_file):
        raise SystemExit(f"harness JVM failed ({rc}); see {run_dir}/jvm.log")
    with open(res_file) as fh:
        res = json.load(fh)
    res["cpus"] = job["cpus"]
    return res


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    return {"value": xs[len(xs) - 11], "percentile": 100.0 * (len(xs) - 10) / len(xs),
            "samples": len(xs)}


def measured(recs):
    """The measured warm pipelines: after the cold pass and the warm-up."""
    return [r for r in recs if r["pass"] > WARMUP_PASSES]


def end_to_end(res, recs, by_id):
    """Throughput and CPU add up each slot's median over the measured
    passes (a slot is a config_tree stratum or a battery query), so one
    slow pipeline moves them no more than it moves the p50."""
    cold = [r for r in recs if r["pass"] == 0]
    warm = measured(recs)
    slots = {}
    for r in warm:
        slots.setdefault(by_id[r["id"]]["slot"], []).append(r)
    pass_s = sum(median([r["wall_s"] for r in rs]) for rs in slots.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (sum(r["wall_s"] for r in cold), "s"),
        "pipelines_per_min": (60.0 * len(slots) / pass_s if pass_s else 0.0, "1/min"),
        "pipeline_p50_s": (median([r["wall_s"] for r in warm]), "s"),
        "process_cpu_s": (sum(median([r["cpu_s"] for r in rs]) for rs in slots.values()), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="7g", help="fixed JVM heap (-Xms = -Xmx)")
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.abspath(os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}"))
    warm = max(MIN_WARM_PASSES, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    passes = passes_for(a.workload, a.seed, 1 + WARMUP_PASSES + warm)
    t_jvm = time.time()
    res = harness(cp, a.heap, run_dir, passes, trace=bool(a.trace),
                  kernels=a.workload == "llm_curation")
    cpus = res["cpus"]
    out = os.path.join(run_dir, "out")
    recs = res["pipelines"]
    by_id = {p["id"]: p for row in passes for p in row}

    # correctness, untimed: every config pipeline, every battery query
    t_check = time.time()
    bad = oracle.check(SF_DIR, out, recs, by_id, res["oracle_sql"])
    log(f"jvm {t_check - t_jvm:.1f} s, check {time.time() - t_check:.1f} s")
    failed = sum(1 for r in recs if not r["ok"]) + len(bad)
    for r in recs:
        if not r["ok"]:
            log(f"FAILED {r['id']}: {r['error']}")
    for pid, why in bad:
        log(f"WRONG {pid}: {why}")

    if a.trace:
        metrics = layers.per_layer(res, measured(recs), by_id, cpus)
        traced = {k: v for k, (v, _) in end_to_end(res, recs, by_id).items()}
        layers.report(run_dir, traced, a.workload, a.seed, WARMUP_PASSES)
    else:
        metrics = end_to_end(res, recs, by_id)
        t = tail([r["wall_s"] for r in measured(recs)])
        print(f"workload {a.workload} seed {a.seed}: {len(recs)} pipelines "
              f"({warm} measured warm passes), {failed} failed")
        for k, (v, u) in metrics.items():
            print(f"  {k:<20} {v:12.4f} {u}")
        print("  pipeline_tail_s      " + (
            f"{t['value']:12.4f} s (p{t['percentile']:.1f} of {t['samples']} warm pipelines)"
            if t else "         n/a (needs 11 measured pipelines)"))
        print(f"  failed_ratio         {failed / max(1, len(recs)):12.4f}")
    summary = {"correct": failed == 0, "attempted": len(recs), "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(run_dir, "metrics.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
