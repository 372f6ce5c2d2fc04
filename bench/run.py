#!/usr/bin/env python3
"""Repository benchmark: ETL cold sync, ETL delta ticks, and the query suite.

Usage (from the repository root):
  python3 bench/run.py --workload etl_cold|etl_delta|query_suite \
      --seed N --seconds S --trace 0|1 [--scale full|tiny]

Builds the program and the JVM harness from source on first use (sbt,
offline), generates the inputs from the seed, runs one JVM at local[4],
checks every output, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Exits nonzero when any check fails.
See bench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import fixtures

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
SF_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "queries_sf0.001.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The query suite measured: one query from each of the seven query modules.
# q173 (IVF-PQ codes) and q43 (cluster labels) read session-staged
# artifacts that the cold pass builds. All 195 do not fit: one cold, warm
# and check pass of the whole suite takes about 7 minutes on a 4-core box,
# and a run is kept under three minutes (see README.md).
QUERY_SLICE = [
    "q03_region_revenue",      # Relational
    "q22_ngram_jaccard",       # TextAnalysis
    "q173_adc_union_serve",    # Similarity
    "q43_neardup_clusters",    # Dedup
    "q112_source_yield",       # Curation
    "q165_multimodal_pack",    # Multimodal
    "q83_funnel_stages",       # Events
]
# Input sizes. "full" is what the benchmark measures; "tiny" is the smoke
# test's (a handful of sheets, three queries).
SCALES = {
    "full": {"spreadsheets": 3, "max_rows": 4000, "queries": QUERY_SLICE},
    "tiny": {"spreadsheets": 4, "max_rows": 40, "queries": QUERY_SLICE[:3]},
}
GEN_REPEATS = 3
MAX_TICKS = 400
DELTA_SPREADSHEETS = 2  # changed per delta tick: one reload, one hash skip
BUDGET_S = 170
# The heap is fixed, so that the collector works with the same heap in
# every run. peak_live_mb does not read it: it is the memory in use after a
# full collection (LiveMemory in Main.scala).
HEAP = "2g"
# Metrics of layers that do not run in a workload: they read 0 there.
# Any other metric a run does not compute fails the run.
NOT_RUN = {
    "etl_cold": lambda name: name.startswith("queries."),
    "etl_delta": lambda name: name.startswith("queries."),
    "query_suite": lambda name: not name.startswith(("queries.", "trace.")),
}
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUILD_INPUTS = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "build.sbt"),
                os.path.join(REPO, "project", "build.properties"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]


def log(msg):
    print(f"# {msg}", flush=True)


def fail(msg, code=2):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def self_times(spans_path, top=8):
    """The span names with the most self time (duration minus the time of
    the span's children), summed over the run."""
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]] = children.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    total = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - children.get(s["id"], 0)
        total[s["name"]] = total.get(s["name"], 0) + own / 1e9
    return sorted(total.items(), key=lambda kv: -kv[1])[:top]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# --- build ----------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build; return the runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp = _fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt, offline)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


# --- the JVM --------------------------------------------------------------

def run_jvm(cp, spec, root, deadline):
    spec["root"] = root
    spec["out"] = os.path.join(root, "result.json")
    spec["spans"] = os.path.join(root, "spans.jsonl")
    spec_path = os.path.join(root, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f, ensure_ascii=False)
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    log_path = os.path.join(root, "jvm.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *OPENS, f"-Djava.io.tmpdir={root}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "bench.Main", spec_path]
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=root, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the JVM ran past the time budget and was stopped", 3)
    if p.returncode != 0 or not os.path.exists(spec["out"]):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the JVM exited with code {p.returncode}", 3)
    with open(spec["out"], encoding="utf-8") as f:
        res = json.load(f)
    log("memory after a full collection (heap + non-heap MiB): " +
        ", ".join(f"{h:.1f} + {n:.1f}" for h, n in res["memory_readings"]))
    return res


# --- workloads ------------------------------------------------------------

def generate_inputs(args, root):
    scale = SCALES[args.scale]
    times, gens = [], []
    for i in range(GEN_REPEATS):
        t0 = time.perf_counter()
        gens.append(fixtures.generate(args.seed, os.path.join(root, f"gen-{i}"),
                                      scale["spreadsheets"], scale["max_rows"]))
        times.append(time.perf_counter() - t0)
    gen = gens[0]
    for i in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(root, f"gen-{i}"))
    gen_s = median(times)
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace == 1,
            "fixtures": gen["fixtures"], "config": gen["config"],
            "load_time": 1767225600}
    log("input: " + " ".join(f"{k}={v}" for k, v in gen["size"].items()))
    return gen, spec, gen_s


def check_etl(warehouses, gen, hashes):
    problems, digests, jobs = [], set(), 0
    for wh in warehouses:
        ps, n, d = checks.check_warehouse(wh, gen["fixtures"], gen["config"], hashes)
        problems += [f"{os.path.basename(wh)}: {p}" for p in ps]
        digests.add(d)
        jobs += n
    if len(digests) > 1:
        problems.append(f"{len(digests)} different warehouse digests where all must agree")
    return problems, jobs


def etl_metrics(args, res, gen, setup_s, wh, plain_s, op_s, traced_s, layers):
    cells = checks.warehouse_cells(gen["fixtures"], gen["config"])
    if args.trace == 0:
        return {"setup_s": setup_s, "pass_s": median(plain_s), "op_p50_s": median(op_s),
                "bytes_per_cell": (du(f"{wh}/tables") + du(f"{wh}/meta")) / cells,
                "peak_live_mb": res["peak_live_mb"]}
    keys = sorted({k for m in layers for k in m})
    out = {k: median([m[k] for m in layers]) for k in keys}
    out["trace.overhead_ratio"] = median(traced_s) / median(plain_s) - 1
    return out


def etl_cold(args, root, cp, deadline):
    gen, spec, gen_s = generate_inputs(args, root)
    res = run_jvm(cp, spec, root, deadline)
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    problems, jobs = check_etl([p["warehouse"] for p in passes], gen, res["hashes"])
    problems += res["errors"]
    if traced and {p["jobs"] for p in passes} != {plain[0]["jobs"]}:
        problems.append("Spark job counts differ between traced and untraced passes: "
                        f"{[p['jobs'] for p in passes]}")
    log(f"samples: {len(plain)} untraced cold syncs {[round(p['sync_s'], 3) for p in plain]}, "
        f"no-op reruns {[round(r, 3) for p in plain for r in p['rerun_s']]}, {len(traced)} traced; "
        f"{plain[0]['jobs'] if plain else 0} Spark jobs per sync and rerun")
    setup_s = gen_s + res["session_s"] + res["warmup_s"]
    metrics = etl_metrics(args, res, gen, setup_s, plain[-1]["warehouse"] if plain else root,
                          [p["sync_s"] for p in plain], [r for p in plain for r in p["rerun_s"]],
                          [p["sync_s"] for p in traced], [p["layers"] for p in traced])
    return metrics, jobs + len(passes) + len(res["errors"]), problems


def etl_delta(args, root, cp, deadline):
    gen, spec, gen_s = generate_inputs(args, root)
    spec["ticks"], spec["delta_jobs"] = fixtures.delta_edits(
        args.seed, gen, MAX_TICKS, DELTA_SPREADSHEETS)
    res = run_jvm(cp, spec, root, deadline)
    ticks = res["ticks"]
    problems, jobs = check_etl(res["warehouses"], gen, res["hashes"])
    problems += res["errors"]

    def times(kind, traced):
        return [t["s"] for t in ticks if t["kind"] == kind and t["traced"] == traced]

    for kind in ("delta", "noop"):
        counts = {t["jobs"] for t in ticks if t["kind"] == kind}
        if spec["trace"] and len(counts) > 1:
            problems.append(f"Spark job counts of {kind} ticks differ: {sorted(counts)}")
    log(f"samples: {res['cycles']} tick cycles (a delta tick, two no-op ticks); delta ticks "
        f"{[round(x, 3) for x in times('delta', False)]}, no-op ticks "
        f"{[round(x, 3) for x in times('noop', False)]}; {spec['delta_jobs']} jobs per delta tick")
    setup_s = gen_s + res["session_s"] + res["cold_load_s"][0]
    metrics = etl_metrics(args, res, gen, setup_s, res["warehouses"][0],
                          times("delta", False), times("noop", False),
                          times("delta", True), res["layers"])
    attempted = jobs + len(ticks) + spec["delta_jobs"] * len(times("delta", False))
    return metrics, attempted + len(res["errors"]), problems


def query_suite(args, root, cp, deadline):
    scale = SCALES[args.scale]
    with open(EXPECTED) as f:
        expected = json.load(f)
    names = sorted(scale["queries"])
    random.Random(args.seed).shuffle(names)
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace == 1,
            "sf": SF_DIR, "queries": names,
            "check_dir": os.path.join(root, "check")}
    cells = checks.corpus_cells(SF_DIR, TABLES)
    log(f"input: sf={os.path.relpath(SF_DIR, REPO)} tables={len(TABLES)} cells={cells} "
        f"queries={len(names)} order=seeded")
    res = run_jvm(cp, spec, root, deadline)
    problems = [f"{n} failed in the {p['label']} pass: {e}"
                for p in [res["cold"], *res["warm"]] for n, e in p["errors"].items()]
    problems += [f"{n} failed in the check pass: {e}" for n, e in res["check_errors"].items()]
    got = checks.query_digests(spec["check_dir"], names)
    missing = set(expected) - set(res["modules"])
    extra = set(res["modules"]) - set(expected)
    if missing or extra:
        problems.append(f"suite differs from the recorded one: missing {sorted(missing)}, "
                        f"new {sorted(extra)}")
    problems += [f"{n}: result {got[n]} differs from the recorded {expected[n]}"
                 for n in names if got[n] != expected[n]]
    plain = [p for p in res["warm"] if not p["traced"]]
    traced = [p for p in res["warm"] if p["traced"]]

    def per_query(p):
        return {n: p["build_s"][n] + p["exec_s"][n] for n in names}

    warm_q = {n: median([per_query(p)[n] for p in plain]) for n in names}
    if traced and len({sum(p["jobs"].values()) for p in res["warm"]}) > 1:
        problems.append("Spark job counts differ between traced and untraced warm passes: "
                        f"{[sum(p['jobs'].values()) for p in res['warm']]}")
    log(f"samples: {len(plain)} untraced warm passes of {len(names)} queries "
        f"{[round(sum(per_query(p).values()), 3) for p in plain]}, "
        f"{len(traced)} traced; {sum(plain[0]['jobs'].values())} Spark jobs per pass")
    attempted = len(names) * (2 + len(res["warm"]))
    if args.trace == 0:
        return {"setup_s": res["session_s"] + res["cold"]["wall_s"],
                "pass_s": median([sum(per_query(p).values()) for p in plain]),
                "op_p50_s": median(list(warm_q.values())),
                "bytes_per_cell": res["warehouse_bytes"] / cells,
                "peak_live_mb": res["peak_live_mb"]}, attempted, problems
    mods = sorted(set(res["modules"].values()))

    def module_layers(p):
        out = {"queries.release_s": p["release_s"]}
        for m in mods:
            qs = [n for n in names if res["modules"][n] == m]
            out[f"queries.{m}.build_s"] = sum(p["build_s"][n] for n in qs)
            out[f"queries.{m}.exec_s"] = sum(p["exec_s"][n] for n in qs)
            out[f"queries.{m}.cold_s"] = sum(
                res["cold"]["build_s"][n] + res["cold"]["exec_s"][n] - warm_q[n] for n in qs)
            for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
                out[f"queries.{m}.{k}"] = sum(p[k][n] for n in qs)
        return out

    layers = [module_layers(p) for p in traced]
    out = {k: median([m[k] for m in layers]) for k in layers[0]}
    out["trace.overhead_ratio"] = (median([sum(per_query(p).values()) for p in traced]) /
                                   median([sum(per_query(p).values()) for p in plain]) - 1)
    return out, attempted, problems


WORKLOADS = {"etl_cold": etl_cold, "etl_delta": etl_delta, "query_suite": query_suite}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(REPO, "src", "main", "scala")) and
            os.path.isfile(os.path.join(REPO, "build.sbt"))):
        fail(f"no program sources next to the benchmark (looked in {REPO})")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    cp = build()
    deadline = time.monotonic() + BUDGET_S
    steal0, total0 = cpu_ticks()
    os.makedirs(os.path.join(TARGET, "runs"), exist_ok=True)
    root = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        metrics, attempted, problems = WORKLOADS[args.workload](args, root, cp, deadline)
        spans = os.path.join(root, "spans.jsonl")
        if args.trace == 1 and os.path.exists(spans):
            kept = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.move(spans, kept)
            log(f"spans: {os.path.relpath(kept, REPO)}; tracing overhead "
                f"{metrics['trace.overhead_ratio']:+.1%} of the untraced pass")
            log("self time by span: " + ", ".join(f"{n} {t:.2f} s" for n, t in self_times(kept)))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    log(f"cpu time stolen by the host during the run: "
        f"{(steal1 - steal0) / max(1, total1 - total0):.1%}")
    wanted = declared["per_layer" if args.trace else "end_to_end"]
    for m in wanted:
        if m["name"] not in metrics and not NOT_RUN[args.workload](m["name"]):
            problems.append(f"metric {m['name']} was not computed")
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in wanted}
    attempted = max(1, attempted)
    failed = min(len(problems), attempted)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
