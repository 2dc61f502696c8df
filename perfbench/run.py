#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest|viewer|operators \
      --seed N --seconds S --trace 0|1

It builds graft and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs the JVM harness (one process,
local[nproc], one client thread), checks every output outside the timed
region and prints one JSON line per named metric, then, as the last line,
{"correct", "attempted", "failed", "metrics"} with the metrics that
BENCHMARK.json declares: the end-to-end ones untraced, the per-layer ones
with --trace 1. See perfbench/METRICS.md for what each metric means.

Exit codes: 0 measured and correct; 1 an output check failed (the last
line still reports it); 2 an input or tool is missing, named on stderr.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

DEADLINE_S = 170
GEN_REPEATS = 3


# The operators workload: one SparkEntry query per ops.* family, among them
# every ROADMAP performance candidate (t22, s10, i19, d4, p9).
OPERATORS = [
    ("d4_ngram_jaccard", "ops.Dedup"),
    ("s10_hybrid_rrf", "ops.Similarity"),
    ("t22_bm25", "ops.TextOps"),
    ("p9_token_budget", "ops.Pack"),
    ("m1_multimodal_meta", "ops.Multimodal"),
    ("i19_wise_cidr", "ops.Wise"),
    ("i9_geo_enrich", "ops.Enrich"),
    ("e7_hierarchy", "ops.Endpoints"),
]


def jvm_options(work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]


def prepare(workload, seed, work):
    """Makes the workload's inputs; returns the median generation time of
    GEN_REPEATS repetitions, each checked byte-identical to the first."""
    import gen_capture
    import gen_tables
    import viewer_mix
    times, digests = [], []
    for rep in range(GEN_REPEATS):
        out = work if rep == 0 else os.path.join(work, f"rep{rep}")
        t0 = time.monotonic()
        if workload == "ingest":
            m = gen_capture.generate(seed, os.path.join(out, "capture"), mb=10.0)
            digest = json.dumps(m, sort_keys=True)
        elif workload == "viewer":
            m = gen_capture.generate(seed + 7919, os.path.join(out, "capture"), mb=4.0)
            digest = json.dumps(m, sort_keys=True)
            digest += viewer_mix.write(seed, out, m)
        else:
            digest = json.dumps(gen_tables.generate(seed, os.path.join(out, "sf")), sort_keys=True)
            with open(os.path.join(out, "operators.tsv"), "w") as f:
                f.writelines(f"{name}\t{family}\n" for name, family in OPERATORS)
        times.append(time.monotonic() - t0)
        digests.append(digest)
        if rep:
            shutil.rmtree(out)
    if len(set(digests)) != 1:
        raise RuntimeError("input generation is not deterministic for this seed")
    return stats.median(times)


def run_jvm(classpath, workload, work, seconds, trace, budget):
    cmd = (["java"] + jvm_options(work) +
           ["-cp", classpath, "perfbench.Harness",
            workload, work, str(seconds), str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness exceeded {budget:.0f} s")
    path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(path):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(path) as f:
        return json.load(f)


def finite(v):
    """JSON has no NaN: a value that could not be measured prints as null."""
    return None if isinstance(v, float) and not math.isfinite(v) else v


def emit(name, value, unit, workload):
    print(json.dumps({"metric": name, "value": finite(value), "unit": unit,
                      "workload": workload}))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "viewer", "operators"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        import build
        import duckdb  # noqa: F401  (the viewer and operators checks)
        import numpy  # noqa: F401  (gen_tables)
        import pyarrow  # noqa: F401  (gen_tables)
        classpath = build.classpath(build.build())
    except ImportError as e:
        print(f"missing tool: {e.name} (python module)", file=sys.stderr)
        return 2
    except FileNotFoundError as e:     # reported by name, never as a 0
        print(f"missing input: {e}", file=sys.stderr)
        return 2
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    t_start = time.monotonic()          # a first run's build has its own allowance
    work = os.path.join(build.ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s = prepare(a.workload, a.seed, work)
        budget = DEADLINE_S - (time.monotonic() - t_start)
        res = run_jvm(classpath, a.workload, work, a.seconds, a.trace, budget)
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1

    import checks
    verdict = checks.check(a.workload, work, res)
    for e in verdict.errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    if verdict.ok:                      # a failed run's inputs stay for inspection
        shutil.rmtree(work, ignore_errors=True)
    out = metrics(a.workload, a.trace, res, verdict, gen_s)
    for name, (value, unit) in out["named"].items():
        emit(name, value, unit, a.workload)
    print(json.dumps({"correct": verdict.ok, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["declared"]}))
    return 0 if verdict.ok else 1


def metrics(workload, trace, res, verdict, gen_s):
    """Named metrics of the workload (printed one per line) and the
    declared ones (the last line), from the harness's raw samples."""
    samples = res["samples"]
    attempted = len(samples)
    bad = lambda s: s["ms"] is None or s["name"] in verdict.bad_ops
    ok = [s for s in samples if not bad(s)]
    failed = attempted - len(ok)
    timed = [s for s in ok if s["kind"] != "prefix"]
    by_op = {}
    for s in timed:
        by_op.setdefault(s["name"], []).append(s["ms"])
    per_op = {k: stats.median(v) for k, v in by_op.items()}
    setup = res["setup"]
    setup_s = gen_s + sum(setup.values())
    named = {"setup_s": (setup_s, "s"),
             "failed_share": (failed / attempted if attempted else float("nan"), "ratio")}
    for k, v in setup.items():
        named[f"setup.{k}"] = (v, "s")
    named["setup.gen_s"] = (gen_s, "s")
    pass_s = sum(per_op.values()) / 1e3
    p50 = stats.median([s["ms"] for s in timed])
    geo = stats.geomean(list(per_op.values()))
    if workload == "ingest":
        named["ingest_mbps"] = (verdict.info["bytes"] / 1e6 / pass_s if pass_s else None, "MB/s")
    elif workload == "viewer":
        lat = [s["ms"] for s in timed]
        top = stats.highest_percentile(len(lat))
        named["viewer_p50_ms"] = (p50, "ms")
        # p90 only with ten samples beyond it (>= 100 queries, --seconds 60)
        named["viewer_p90_ms"] = (stats.percentile(lat, 90) if top and top >= 90 else None, "ms")
        named["viewer_queries"] = (len(lat), "count")
        named["viewer_tail_percentile"] = (top, "percentile")
    else:
        named["operators_total_s"] = (pass_s, "s")
        named["operators_geomean_ms"] = (geo, "ms")
    declared = {}
    if not trace:
        named["pass_s"] = (pass_s, "s")
        named["op_geomean_ms"] = (geo, "ms")
        rounds = max(1, res["rounds"])
        named["pass_cpu_s"] = (res["window_cpu_s"] / rounds, "s")
        named["pass_thread_cpu_s"] = (res["window_thread_cpu_s"] / rounds, "s")
        for k in END_TO_END:
            declared[k] = {"value": finite(named[k][0]), "unit": named[k][1]}
    else:
        layers = res["layers"]
        for k, v in layers.items():
            named[k] = (v, unit_of(k))
        spans = res["spans"]
        selfs = stats.self_times(spans)
        parents = {s["parent"] for s in spans}
        by_name = {}
        for s in spans:
            if s["parent"]:
                by_name.setdefault(s["name"], []).append(selfs[s["id"]] / 1e6)
        for name, v in sorted(by_name.items()):
            named[f"self.{name}_ms"] = (stats.median(v), "ms")
        # harness time inside an operation but outside its layer spans
        roots = [s for s in spans if s["parent"] == 0 and s["id"] in parents]
        named["trace.op_self_ms"] = (stats.median([selfs[s["id"]] / 1e6 for s in roots]), "ms")
        named["traced.pass_s"] = (pass_s, "s")
        for k in PER_LAYER:
            declared[k] = {"value": finite(named[k][0]), "unit": named[k][1]}
    return {"named": named, "declared": declared, "attempted": attempted, "failed": failed}


END_TO_END = ["setup_s", "pass_cpu_s"]
PER_LAYER = ["traced.pass_s", "trace.op_self_ms",
             "spark.jobs_per_op", "spark.tasks_per_op", "spark.executor_cpu_s_per_op",
             "spark.shuffle_bytes_per_op", "jvm.cpu_s", "jvm.gc_ms"]


def unit_of(name):
    """A layer metric's unit, from its name's last part."""
    last = name.rsplit(".", 1)[-1]
    if ".build_mbps." in name:
        return "MB/s"
    for suffix in ("_per_op", "_per_query", "_per_packet"):
        if last.endswith(suffix):
            stem = last[:-len(suffix)]
            return ("s" if stem.endswith("_s") else
                    "bytes" if stem.endswith("_bytes") or suffix == "_per_packet" else "count")
    for suffix, unit in (("_mbps", "MB/s"), ("_ms", "ms"), ("_us", "us"), ("_s", "s"),
                         ("_bytes", "bytes"), ("_ratio", "ratio"),
                         ("_per_input_byte", "ratio"), ("_skew", "ratio"),
                         ("_per_row_returned", "ratio")):
        if last.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
