#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload changelog_stream --seed 1 \
        --seconds 10 --trace 0

Builds the program and the harness from source (build.py), generates the
workload's inputs from the seed (gen.py; changelog rows are generated in
the JVM), runs the benchmark JVM (perfbench/src), checks every output
against an independent reference (check.py), prints a report and, as the
last line of stdout, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics (E2E); with
--trace 1 they are the per-layer metrics (PER_LAYER) of a separate traced
run, with the tracing overhead against an untraced run of the same seed
and the same build made earlier in the same checkout. A per-layer metric
of a layer the workload never calls, or an overhead with no such untraced
run to compare, reads 0.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ("changelog_stream", "query_pipeline")
QUERY_FRACTION = 0.05    # query_mix phase: share of sf0.1 fact-table rows
WARM_DOCS = 300          # llm_pipeline phase: warm-up corpus size
HEAP = "2g"
RUN_LIMIT_S = 170        # the whole run, build excepted

E2E = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
       ("throughput_per_s", "1/s"), ("live_heap_mb", "MB")]

QUERY_KEYS = [
    "q_hash_agg", "q_inner_join", "q_broadcast_join", "q_tpch_q3",
    "q_tpch_q5", "q_tpch_q10", "q_tpch_q18", "q_window_running_sum",
    "q_asof_join", "q_session_gap", "collapsing_net_state",
    "replacing_latest", "dedup_exact", "dedup_minhash_pairs",
    "similarity_topk", "similarity_self_join_dedup", "term_tfidf",
    "lang_id", "quality_score", "token_count", "ann_ivf_topk",
    "q_sort_limit"]
STAGES = ["ingest", "bench_split", "quality_gate", "dedup_exact",
          "dedup_fuzzy", "decontam", "token_budget", "pack", "index_write"]
SPAN_LAYERS = ["generator", "streaming", "plans", "dsv2", "scan", "queries",
               "operators", "pipeline", "setup", "check"]

PER_LAYER = (
    [("gen.lag_ms_max", "ms", "lower"),
     ("stream.epochs", "count", "lower"),
     ("stream.epoch_ms_p50", "ms", "lower"),
     ("stream.add_batch_ms_p50", "ms", "lower"),
     ("stream.planning_ms_p50", "ms", "lower"),
     ("stream.commit_ms_p50", "ms", "lower"),
     ("stream.backlog_rows_max", "rows", "lower"),
     ("stream.drain_rows_per_s_local1", "rows/s", "higher"),
     ("sink.rows_landed", "rows", "higher"),
     ("sink.flushes", "count", "lower"),
     ("sink.rows_per_flush", "rows", "higher"),
     ("dsv2.convert_ns_per_row", "ns", "lower"),
     ("scan.plan_ms_p50", "ms", "lower"),
     ("scan.exec_ms_p50", "ms", "lower"),
     ("scan.rows_out_ratio", "ratio", "lower")]
    + [(f"query.{k}_s", "s", "lower") for k in QUERY_KEYS]
    + [("plan.ms_p50", "ms", "lower"),
       ("exec.ms_p50", "ms", "lower"),
       ("spark.jobs_per_query", "count", "lower"),
       ("spark.tasks_per_query", "count", "lower")]
    + [(f"pipeline.{s}_s", "s", "lower") for s in STAGES]
    + [("pipeline.docs_out", "docs", "higher"),
       ("pipeline.dedup_exact_dropped", "docs", "higher"),
       ("pipeline.dedup_fuzzy_dropped", "docs", "higher"),
       ("pipeline.decontam_dropped", "docs", "higher"),
       ("spark.shuffle_mb", "MB", "lower"),
       ("spark.spill_mb", "MB", "lower"),
       ("spark.task_busy_share", "ratio", "higher"),
       ("spark.tasks", "count", "lower"),
       ("spark.cached_mb_peak", "MB", "lower"),
       ("jvm.gc_s", "s", "lower"),
       ("jvm.jit_s", "s", "lower")]
    + [(f"self.{layer}_s", "s", "lower") for layer in SPAN_LAYERS]
    + [(f"overhead.{name}", "ratio", "lower") for name, _ in E2E])

# The headline metrics of each workload, printed by name in the report.
NAMED = {
    "changelog_stream": ["sink_rows_per_s", "freshness_p50_ms",
                         "freshness_tail_ms", "readback_p50_ms",
                         "readback_tail_ms"],
    "query_pipeline": ["query_p50_s", "query_tail_s", "mix_qpm",
                       "pipeline_docs_per_s"],
}
NAMED_UNITS = {"sink_rows_per_s": "rows/s", "freshness_p50_ms": "ms",
               "freshness_tail_ms": "ms", "readback_p50_ms": "ms",
               "readback_tail_ms": "ms", "query_p50_s": "s",
               "query_tail_s": "s", "mix_qpm": "queries/min",
               "pipeline_docs_per_s": "docs/s"}

JAVA_OPTIONS = [  # build.sbt's javaOptions, heap sized for this benchmark
    *[x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:PerMethodRecompilationCutoff=-1",
    "-XX:PerBytecodeRecompilationCutoff=-1",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]


def cpus():
    """Task slots: one core fewer than the machine has (at most 4), so
    the Spark driver, the changelog generator and the JIT keep a core."""
    return max(1, min(4, (os.cpu_count() or 1) - 1))


def prepare_inputs(workload, seed, data, tiny):
    import gen
    if workload == "query_pipeline":
        gen.tables(data, seed, QUERY_FRACTION / 10 if tiny else QUERY_FRACTION)
        docs = gen.CORPUS_DOCS // 2 if tiny else gen.CORPUS_DOCS
        gen.corpus(os.path.join(data, "corpus"), seed, docs)
        gen.corpus(os.path.join(data, "warm"), seed, WARM_DOCS, stream=3)


def run_jvm(classpath, a, trace, work, data, deadline):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"] + JAVA_OPTIONS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.driver.host=localhost",
        "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", os.pathsep.join(classpath), "graftbench.Main",
        a.workload, str(a.seed), str(a.seconds), str(trace), work, data,
        str(cpus())] + (["tiny"] if a.tiny else [])
        + ([a.inject] if a.inject == "flip_sign" else []))
    # the program's own tuning knobs stay at their defaults, and Spark's
    # scratch space inside the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()),
                               cwd=work, env=env)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: the JVM ran past the run limit; see {log.name}")
    res = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: the JVM failed (exit {p.returncode})")
    with open(res) as f:
        return json.load(f)


def check_outputs(a, work, data, res):
    """Run the checks the JVM left to us; returns {check: message}."""
    import check
    failed = {}
    if a.workload == "query_pipeline":
        dump = os.path.join(work, "dump")
        if a.inject == "drop_dump_row":
            check.drop_dump_row(dump, QUERY_KEYS[0])
        for key, msg in check.query_oracle(data, dump).items():
            failed[f"oracle:{key}"] = msg
        corpus = os.path.join(data, "corpus")
        out = os.path.join(work, "pipeline_out")
        if a.inject == "resurrect_doc":
            check.resurrect_doc(corpus, out)
        errs = check.pipeline(corpus, out)
        if errs:
            failed["pipeline_outputs"] = "; ".join(errs)
    return failed


def one_run(a, trace, classpath, deadline):
    """Generate, run and check one pass; returns the result."""
    work = os.path.join(WORK, f"{a.workload}-trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    prepare_inputs(a.workload, a.seed, data, a.tiny)
    res = run_jvm(classpath, a, trace, work, data, deadline)
    failed = check_outputs(a, work, data, res)
    for name, msg in failed.items():
        # a check the JVM did not declare (check_oracle itself) fails one op
        n = int(res["checked"].get(name, 1))
        res["failed"] += n
        res["failures"].append({"op": name, "count": n, "error": msg})
    res["work"] = work
    return res


def self_times(work):
    """Per-span-name (count, total s, self s) and per-layer self s."""
    by_name, by_layer = {}, {layer: 0.0 for layer in SPAN_LAYERS}
    with open(os.path.join(work, "spans.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            c, tot, slf = by_name.get(s["name"], (0, 0.0, 0.0))
            by_name[s["name"]] = (c + 1, tot + (s["end_ns"] - s["start_ns"]) / 1e9,
                                  slf + s["self_ns"] / 1e9)
            layer = s["name"].split(".")[0]
            if layer in by_layer:
                by_layer[layer] += s["self_ns"] / 1e9
    return by_name, by_layer


def report(a, trace, res, untraced):
    out = [f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
           f"trace={trace}"]
    out += [f"  note: {n}" for n in res["notes"]]
    out.append("end-to-end (gated):")
    for name, unit in E2E:
        out.append(f"  {name:<22} {res['e2e'][name]:>14.4f} {unit}")
    out.append("workload metrics:")
    for name, m in res["named"].items():
        out.append(f"  {name:<22} {m['value']:>14.4f} {m['unit']}")
    att, fail = res["attempted"], res["failed"]
    out.append(f"  {'error_rate':<22} {fail / max(att, 1):>14.4f} ratio "
               f"({fail} of {att} operations)")
    for w, names in NAMED.items():
        for n in names:
            if w != a.workload:
                out.append(f"  {n:<22} {'n/a':>14} {NAMED_UNITS[n]} "
                           f"(measured by {w})")
    for f in res["failures"]:
        out.append(f"  FAILED {f['op']} x{f['count']}: {f['error']}")
    if trace:
        by_name, _ = self_times(res["work"])
        out.append("self time by span (traced run):")
        out.append(f"  {'span':<28} {'count':>6} {'total s':>10} {'self s':>10}")
        for name, (c, tot, slf) in sorted(by_name.items(),
                                          key=lambda kv: -kv[1][2]):
            out.append(f"  {name:<28} {c:>6} {tot:>10.3f} {slf:>10.3f}")
        out.append("tracing overhead (traced / untraced):")
        if untraced is None:
            out.append("  no untraced run of this seed and build in this "
                       "checkout yet: overhead.* read 0")
        for name, unit in E2E if untraced else []:
            out.append(f"  {name:<22} traced {res['e2e'][name]:.4f} "
                       f"untraced {untraced[name]:.4f} {unit}")
    print("\n".join(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hooks: shrink the inputs; corrupt one output so a check must
    # catch it
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject", default="",
                    choices=("", "flip_sign", "drop_dump_row", "resurrect_doc"))
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            sys.exit(f"perfbench: {os.path.relpath(need, ROOT)} is missing; "
                     "run from a full checkout")
    import build
    classpath = build.build()
    deadline = time.time() + RUN_LIMIT_S

    # the tracing overhead is measured against an untraced run of the same
    # inputs and the same build (its content hash) made in this checkout
    stored = os.path.join(WORK, "untraced-{}-{}-{}-{}{}.json".format(
        os.path.basename(classpath[0]), a.workload, a.seed, a.seconds,
        "-tiny" if a.tiny else ""))
    untraced = None
    if a.trace and os.path.exists(stored):
        with open(stored) as f:
            untraced = json.load(f)
    res = one_run(a, a.trace, classpath, deadline)
    if not a.trace:
        with open(stored, "w") as f:
            json.dump(res["e2e"], f)
    report(a, a.trace, res, untraced)

    if a.trace:
        layer = dict(res["layer"])
        _, by_layer = self_times(res["work"])
        for name, secs in by_layer.items():
            layer[f"self.{name}_s"] = secs
        for name, _ in E2E if untraced else []:
            layer[f"overhead.{name}"] = res["e2e"][name] / untraced[name]
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in E2E}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
