"""Per-layer numbers of a traced run (--trace 1).

`per_layer` turns the harness's per-pipeline listener totals into the
per-layer metrics of BENCHMARK.json. `report` reads the span file, computes
each layer's self time (a span's duration minus the part its child spans
cover), prints the table, and states the tracing overhead when an untraced
run of the same workload and seed is on disk.

Times and counts are per warm pass unless the name says otherwise; `_ms`
metrics of a phase (parse, validate, build, optimization, planning, exec)
are means per warm pipeline.
"""
import json
import os
import statistics

KERNELS = ["normalize_text", "portable_fingerprint", "whitespace_tokens",
           "whitespace_token_count", "window_fps8", "winnow", "compression_ratio",
           "hashed_buckets", "ngram_buckets", "html_extract"]
# span name prefix -> nesting rank; a span's parent is the innermost span of
# lower rank that contains it
RANK = {"pipeline": 0, "parse": 1, "validate": 1, "build": 1, "execute": 1,
        "batch": 2, "optimize": 3, "plan": 3, "job": 3, "stage": 4}
TOLERANCE_MS = 2.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(res, warm, by_id, cpus):
    """`warm`: the measured warm pipelines."""
    warm = [r for r in warm if r["ok"]]
    passes = max(1, len({r["pass"] for r in warm}))
    cfg = [r for r in warm if r["kind"] == "config"]
    qry = [r for r in warm if r["kind"] == "query"]

    def tot(key):
        return sum(r["trace"][key] for r in warm)

    jobs = tot("jobs")
    batches = tot("batches")
    wall_ms = sum(r["wall_s"] for r in warm) * 1000.0
    s = res["setup_layers"]
    m = {
        "setup.session_ms": (s["session_ms"], "ms"),
        "setup.views_ms": (s["views_ms"], "ms"),
        "setup.functions_ms": (s["functions_ms"], "ms"),
        "spec.parse_ms": (mean([r["parse_ms"] for r in cfg]), "ms"),
        "spec.nodes": (sum(by_id[r["id"]].get("nodes", 0) for r in cfg) / passes, "count"),
        "compile.validate_ms": (mean([r["validate_ms"] for r in cfg]), "ms"),
        "compile.build_ms": (mean([r["build_ms"] for r in cfg]), "ms"),
        "compile.warnings": (sum(r["warnings"] for r in cfg) / passes, "count"),
        "queries.build_ms": (mean([r["build_ms"] for r in qry]), "ms"),
        "plan.optimization_ms": (mean([r["trace"]["optimization_ms"] for r in warm]), "ms"),
        "plan.planning_ms": (mean([r["trace"]["planning_ms"] for r in warm]), "ms"),
        "exec.ms": (mean([r["exec_ms"] for r in warm]), "ms"),
        "exec.jobs": (jobs / passes, "count"),
        "exec.stages": (tot("stages") / passes, "count"),
        "exec.tasks": (tot("tasks") / passes, "count"),
        "exec.ms_per_job": (tot("job_ms") / jobs if jobs else 0.0, "ms"),
        "exec.task_cpu_s": (tot("task_cpu_ns") / 1e9 / passes, "s"),
        "exec.busy_ratio": (tot("task_ms") / (wall_ms * cpus) if wall_ms else 0.0, "ratio"),
        "exec.scheduler_delay_ms": (tot("scheduler_delay_ms") / passes, "ms"),
        "exec.gc_ms": (tot("gc_ms") / passes, "ms"),
        "exec.shuffle_write_mb": (tot("shuffle_write") / 1e6 / passes, "MB"),
        "exec.shuffle_read_mb": (tot("shuffle_read") / 1e6 / passes, "MB"),
        "exec.spill_mb": (tot("spill") / 1e6 / passes, "MB"),
        "exec.input_rows": (tot("input_rows") / passes, "count"),
        "exec.output_mb": (tot("output_bytes") / 1e6 / passes, "MB"),
        "exec.failed_tasks": (tot("failed_tasks") / passes, "count"),
        "streaming.batches": (batches / passes, "count"),
        "streaming.data_batch_ratio": (tot("data_batches") / batches if batches else 0.0,
                                       "ratio"),
        "streaming.trigger_ms": (tot("trigger_ms") / passes, "ms"),
        "streaming.add_batch_ms": (tot("add_batch_ms") / passes, "ms"),
        "streaming.wal_commit_ms": (tot("wal_commit_ms") / passes, "ms"),
        "streaming.input_rows": (tot("stream_rows") / passes, "count"),
    }
    kernels = {k["name"]: k["ns_per_op"] for k in res["kernels"]}
    for k in KERNELS:
        m[f"functions.{k}.ns_per_op"] = (kernels.get(k, 0.0), "ns")
    return m


def self_times(spans):
    """{layer: self ms} over the given spans of one pipeline."""
    def rank(s):
        return RANK[s["name"].split(" ")[0]]
    spans = sorted(spans, key=lambda s: (rank(s), s["start_ms"], -s["end_ms"]))
    kids = {id(s): [] for s in spans}
    for s in spans:
        best = None
        for p in spans:
            if (rank(p) < rank(s) and p["start_ms"] - TOLERANCE_MS <= s["start_ms"]
                    and s["end_ms"] <= p["end_ms"] + TOLERANCE_MS
                    and (best is None or p["end_ms"] - p["start_ms"]
                         < best["end_ms"] - best["start_ms"])):
                best = p
        if best is not None:
            kids[id(best)].append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered, at = 0.0, a
        for c in sorted(kids[id(s)], key=lambda c: c["start_ms"]):
            lo, hi = max(at, c["start_ms"]), min(b, c["end_ms"])
            if hi > lo:
                covered += hi - lo
                at = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, b - a - covered)
    return out


def report(run_dir, e2e_traced, workload, seed, warmup):
    """Print and save the per-layer self-time table (over the measured warm
    passes, those after pass 0 and `warmup` more) and the overhead."""
    by_pipe = {}
    with open(os.path.join(run_dir, "spans.jsonl")) as fh:
        for line in fh:
            s = json.loads(line)
            if s["pass"] > warmup:
                by_pipe.setdefault((s["pass"], s["pipeline"]), []).append(s)
    passes = max(1, len({p for p, _ in by_pipe}))
    total = {}
    for spans in by_pipe.values():
        for layer, ms in self_times(spans).items():
            total[layer] = total.get(layer, 0.0) + ms / passes
    wall = sum(total.values()) or 1.0
    print(f"per-layer self time, ms per warm pass ({workload}, seed {seed}):")
    for layer, ms in sorted(total.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<10} {ms:10.1f}  {100.0 * ms / wall:5.1f}%")
    out = {"self_ms_per_pass": total, "traced_end_to_end": e2e_traced}
    untraced = os.path.join(os.path.dirname(run_dir), f"{workload}-s{seed}-t0", "metrics.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["metrics"]
        over = {k: v - base[k]["value"] for k, v in e2e_traced.items() if k in base}
        out["tracing_overhead"] = over
        print("tracing overhead (traced minus untraced, same seed):")
        for k, v in over.items():
            print(f"  {k:<20} {v:+12.4f} ({100.0 * v / (base[k]['value'] or 1):+.1f}%)")
    else:
        print("tracing overhead: run --trace 0 with the same seed first to measure it")
    with open(os.path.join(run_dir, "layers.json"), "w") as fh:
        json.dump(out, fh, indent=1)
