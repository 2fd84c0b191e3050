#!/usr/bin/env python3
"""Layered benchmark of the crawl engine and its query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_durable_thin --seed 1 --seconds 6 --trace 0

The first run builds the measuring program (perfbench/build.sbt compiles the
engine's sources with the benchmark's own). Each run starts one fresh JVM
(perfbench.Main) that runs the workload and writes what it observed; this
script checks the outputs against the recorded expectations, writes the full
per-round / per-query detail to perfbench/out/<workload>/detail.json, prints a
few short summary lines and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (no listener, no spans);
--trace 1 registers the job listener, records spans and reports the
per-layer metrics instead. See perfbench/NOTES.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected")

WORKLOADS = ("crawl_durable_thin", "queries_sf0.01")
CRAWL_FILES = ("crawl.CrawlRound", "crawl.Crawler", "crawl.Seen", "crawl.Frontier",
               "store.SnapshotTable", "store.DurableCrawler")
# span recorded by the measuring process -> per-layer metric
CRAWL_SPANS = {
    "crawl.round": "crawl.round.wall_s",
    "store.DurableCrawler.runRounds": "store.DurableCrawler.runRounds_s",
}
QUERY_MODULES = ("Relational", "Stats", "TextOps", "VectorOps", "SeenOps")
HOT_QUERIES = ("dedup_ngram_jaccard", "text_repetition", "scalar_string",
               "window_rank_per_key", "dedup_embed_audit", "scalar_json",
               "link_pagerank", "dedup_paragraph")
LINEAGE_FIELDS = ("popped", "fetched", "extracted", "rawCandidates", "enqueued",
                  "dedupDropped", "evicted", "readmitted")

JVM_HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build --

def build_inputs():
    """Every file the measuring program is compiled from."""
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files.extend(os.path.join(base, n) for n in names)
    return files


def classpath():
    """Builds the measuring program when any input is newer than the last
    build, and returns its runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    stamp = os.path.getmtime(CLASSPATH_FILE) if os.path.exists(CLASSPATH_FILE) else -1
    if stamp < 0 or any(os.path.getmtime(f) > stamp for f in build_inputs()):
        log = os.path.join(TARGET, "build.log")
        os.makedirs(TARGET, exist_ok=True)
        with open(log, "w") as fh:
            # Offline: everything the build needs is in the local caches.
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, text=True,
                timeout=BUILD_TIMEOUT_S,
                env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
            fh.write(r.stdout)
        lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
        if r.returncode != 0 or not lines:
            fail(f"build failed (exit {r.returncode}); see {log}")
        with open(CLASSPATH_FILE, "w") as fh:
            fh.write(lines[-1])
    with open(CLASSPATH_FILE) as fh:
        return fh.read().strip()


# ------------------------------------------------------------------ run --

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, out, record_seeds=None):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The heap is capped but neither fixed nor pre-touched, so the resident
    # set (jvm.rss_peak_mb) shows the collector's sizing as it happens;
    # mem_peak_mb counts the live heap instead.
    cmd += [f"-Xmx{JVM_HEAP}",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores()),
            "--out", out, "--data", DATA]
    if record_seeds:
        cmd += ["--record-seeds", ",".join(str(s) for s in record_seeds)]
    log = os.path.join(out, "jvm.log")
    # Recording observes several crawls in one process: allow each its own
    # generous share of time.
    timeout = JVM_TIMEOUT_S + (120 * len(record_seeds) if record_seeds else 0)
    with open(log, "w") as fh:
        try:
            # SPARK_LOCAL_DIRS would override the spark.local.dir the
            # measuring process sets inside the checkout.
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            r = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=timeout, env=env)
        except subprocess.TimeoutExpired:
            fail(f"measuring JVM exceeded {timeout} s; see {log}")
    raw = os.path.join(out, "raw.json")
    if r.returncode != 0 or not os.path.exists(raw):
        fail(f"measuring JVM failed (exit {r.returncode}); see {log}")
    with open(raw) as fh:
        return json.load(fh)


def load_expected(workload):
    path = os.path.join(EXPECTED, workload + ".json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


# --------------------------------------------------------------- checks --

def check_crawl(raw, expected):
    """Marks each round ok or failed. A round fails when it threw, breaks a
    lineage identity, or differs from the lineage recorded for the seed.
    The last round also fails when the final seen set differs from the one
    recorded after that round, or when its size differs from the pages
    fetched OK."""
    rec = expected.get(str(raw["seed"]))
    notes = [] if rec else [f"seed {raw['seed']} has no recorded expectations; "
                            "only the crawl's own identities are checked"]
    rounds = raw["rounds"]
    for rd in rounds:
        why = rd["error"]
        if not why:
            l = dict(zip(LINEAGE_FIELDS, rd["lineage"]))
            if l["popped"] <= 0:
                why = "round popped nothing"
            elif not (l["fetched"] <= l["popped"] and l["extracted"] == l["fetched"]
                      and l["dedupDropped"] == l["rawCandidates"] - l["enqueued"]):
                why = f"lineage identities broken: {l}"
            elif rec and rd["round"] < len(rec["rounds"]) and rec["rounds"][rd["round"]] != rd["lineage"]:
                why = "lineage differs from the recorded one"
        rd["check"] = why
    fin, last = raw["final"], rounds[-1]
    if not last["check"]:
        n = len(rounds)
        fetched = sum(rd["lineage"][1] for rd in rounds)
        if rec and n <= len(rec["seen"]) and fin["seen"] != rec["seen"][n - 1]:
            last["check"] = "final seen set differs from the recorded one"
        elif not fin["seen_exact"][0] == fin["seen_size"] == fetched:
            last["check"] = "seen set size differs from the pages fetched OK"
    return len(rounds), sum(1 for rd in rounds if rd["check"]), notes


def check_queries(raw, expected):
    """A query execution, in any pass, fails when it threw or when its
    collected rows differ from the recorded row count and digest."""
    for q in raw["queries"]:
        exp = expected.get(q["name"])
        if q["error"]:
            q["check"] = q["error"]
        elif exp is None:
            q["check"] = "no recorded expectation"
        elif [q["rows"], q["digest"]] != exp:
            q["check"] = f"output differs: rows {q['rows']} digest {q['digest']}, expected {exp}"
        else:
            q["check"] = ""
    qs = raw["queries"]
    return len(qs), sum(1 for q in qs if q["check"]), []


# -------------------------------------------------------------- metrics --

# Samples are the steps of the timed window that completed; a step whose
# output check failed still took the time it took, and counts in `failed`.
def measured_rounds(raw):
    return [rd for rd in raw["rounds"] if rd["round"] >= 1 and not rd["error"]]


def measured_queries(raw):
    return [q for q in raw["queries"] if q["pass"] >= 1 and not q["error"]]


def step_s(raw):
    """Wall of one step (None when the window measured nothing). A crawl's
    step is a round: the median over measured rounds. The query workload's
    step is one query: per measured pass the geometric mean of its
    queries' walls, which weighs every query of the mix alike and, unlike a
    median of ten, does not jump when two queries swap ranks; then the
    median over passes."""
    if "rounds" in raw:
        walls = [rd["wall_s"] for rd in measured_rounds(raw)]
    else:
        qs = measured_queries(raw)
        walls = [statistics.geometric_mean([q["wall_s"] for q in qs if q["pass"] == p])
                 for p in sorted({q["pass"] for q in qs})]
    return benchlib.median(walls) if walls else None


def end_to_end(raw, attempted, failed):
    """name -> (value, unit), or None when the window measured nothing."""
    step = step_s(raw)
    if step is None:
        return None
    if "rounds" in raw:
        throughput = benchlib.median(
            [rd["lineage"][0] / rd["wall_s"] for rd in measured_rounds(raw)])
    else:
        throughput = benchlib.median([raw["mix_size"] / w for w in raw["pass_walls"]])
    return {
        "setup_s": (raw["session_s"] + raw["setup_s"], "s"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
        "mem_peak_mb": ((raw["heap_live_peak_bytes"] + raw["nonheap_peak_bytes"]) / 2**20, "MB"),
        "throughput_per_s": (throughput, "1/s"),
        "step_s": (step, "s"),
    }


def job_layer_metrics(jobs, windows):
    """Per-call-site sums over the jobs that started inside the windows,
    divided by the number of windows (per round)."""
    n = max(1, len(windows))
    inside = [j for j in jobs if any(lo <= j["start_ms"] <= hi for lo, hi in windows)]
    m = {}
    for f in CRAWL_FILES:
        js = [j for j in inside if benchlib.layer_of(j["call_site"]) == f]
        m[f + ".jobs"] = len(js) / n
        m[f + ".executor_cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9 / n
        m[f + ".gc_s"] = sum(j["gc_ms"] for j in js) / 1e3 / n
        m[f + ".shuffle_write_mb"] = sum(j["shuffle_write_bytes"] for j in js) / 2**20 / n
        m[f + ".spill_mb"] = sum(j["spill_bytes"] for j in js) / 2**20 / n
        m[f + ".task_wait_s"] = sum(j["wait_ms"] for j in js) / 1e3 / n
        if f == "store.SnapshotTable":
            m[f + ".output_mb"] = sum(j["output_bytes"] for j in js) / 2**20 / n
    return m


def per_layer(raw, untraced_step):
    """Per-layer metrics of a traced run, name -> value. Layers the
    workload does not run read 0."""
    m = {}
    spans = raw["spans"]
    jobs = [j for j in raw["jobs"] if j["end_ms"] >= 0]
    rounds = measured_rounds(raw) if "rounds" in raw else []
    windows = [(rd["start_ms"], rd["end_ms"]) for rd in rounds]

    # Spans: median per measured round of each span's duration (summed
    # when a span occurs more than once inside one round).
    for span, metric in CRAWL_SPANS.items():
        per_round = []
        for lo, hi in windows:
            ds = [s["end_ms"] - s["start_ms"] for s in spans
                  if s["name"] == span and lo <= s["start_ms"] <= hi]
            if ds:
                per_round.append(sum(ds) / 1e3)
        m[metric] = benchlib.median(per_round) if per_round else 0.0

    m.update(job_layer_metrics(jobs, windows))

    jobs_per_round, idle = [], []
    for lo, hi in windows:
        ivs = [(j["start_ms"], j["end_ms"]) for j in jobs if lo <= j["start_ms"] <= hi]
        jobs_per_round.append(len(ivs))
        idle.append((hi - lo - benchlib.covered_ms(ivs, lo, hi)) / 1e3)
    m["driver.jobs_per_round"] = benchlib.median(jobs_per_round) if windows else 0.0
    m["driver.idle_s_per_round"] = benchlib.median(idle) if windows else 0.0

    lin = [dict(zip(LINEAGE_FIELDS, rd["lineage"])) for rd in rounds]
    tot = {k: sum(l[k] for l in lin) for k in LINEAGE_FIELDS}
    m["crawl.popped_per_round"] = benchlib.median([l["popped"] for l in lin]) if lin else 0.0
    m["crawl.fetch_ok_ratio"] = tot["fetched"] / tot["popped"] if tot["popped"] else 0.0
    m["crawl.dedup_keep_ratio"] = (tot["enqueued"] / tot["rawCandidates"]
                                   if tot["rawCandidates"] else 0.0)
    m["crawl.evicted_per_round"] = tot["evicted"] / len(lin) if lin else 0.0
    m["crawl.readmitted_per_round"] = tot["readmitted"] / len(lin) if lin else 0.0

    fin = raw.get("final", {})
    filters = fin.get("filters", {})
    rebuilds = 0
    if "rounds" in raw:
        standing = raw["params"]["expected_keys_per_shard"]
        for rd in raw["rounds"]:
            k = rd["bloom_keys_per_shard"]
            if k > 0 and k != standing:
                rebuilds += 1
                standing = k
    m["filters.bloom_fill_max"] = filters.get("fill_max", 0.0)
    m["filters.bloom_fpp_est_max"] = filters.get("fpp_est_max", 0.0)
    m["filters.bloom_rebuilds"] = float(rebuilds)
    popped = sum(rd["lineage"][0] for rd in raw.get("rounds", []) if rd["lineage"])
    m["store.bytes_per_page"] = fin["store_bytes"] / popped if "store_bytes" in fin and popped else 0.0

    m.update(query_layer_metrics(raw, jobs))
    m["jvm.gc_s"] = raw["gc_s"]
    # Process CPU time over wall time of the measured steps: cores kept busy.
    steps = rounds or measured_queries(raw)
    wall = sum(x["wall_s"] for x in steps)
    m["jvm.cores_busy"] = sum(x["cpu_s"] for x in steps) / wall if wall else 0.0
    m["jvm.heap_live_peak_mb"] = raw["heap_live_peak_bytes"] / 2**20
    m["jvm.nonheap_peak_mb"] = raw["nonheap_peak_bytes"] / 2**20
    m["jvm.rss_peak_mb"] = benchlib.parse_vm_hwm_mb(raw["vm_hwm"])

    traced_step = step_s(raw) or 0.0
    m["trace.step_s"] = traced_step
    m["trace.overhead_pct"] = (100.0 * (traced_step / untraced_step - 1.0)
                               if untraced_step and traced_step else 0.0)
    return m


def query_layer_metrics(raw, jobs):
    m = {}
    qs = raw.get("queries", [])
    passes = sorted({q["pass"] for q in qs if q["pass"] >= 1})
    jobs_by = {}
    for j in jobs:
        key = (j["props"].get("perfbench.query"), j["props"].get("perfbench.pass"))
        jobs_by.setdefault(key, []).append(j)

    def per_pass(module, fn):
        vals = []
        for p in passes:
            vals.append(sum(fn(q) for q in qs if q["pass"] == p and q["module"] == module))
        return benchlib.median(vals) if vals else 0.0

    def job_sum(q, field, scale):
        return sum(j[field] for j in jobs_by.get((q["name"], str(q["pass"])), [])) / scale

    for mod in QUERY_MODULES:
        p = "queries." + mod
        m[p + ".wall_s"] = per_pass(mod, lambda q: q["wall_s"])
        m[p + ".first_pass_s"] = sum(q["wall_s"] for q in qs
                                     if q["pass"] == 0 and q["module"] == mod)
        m[p + ".executor_cpu_s"] = per_pass(mod, lambda q: job_sum(q, "cpu_ns", 1e9))
        m[p + ".gc_s"] = per_pass(mod, lambda q: job_sum(q, "gc_ms", 1e3))
        m[p + ".shuffle_mb"] = per_pass(mod, lambda q: job_sum(q, "shuffle_write_bytes", 2**20))
        m[p + ".spill_mb"] = per_pass(mod, lambda q: job_sum(q, "spill_bytes", 2**20))
        m[p + ".tasks"] = per_pass(mod, lambda q: job_sum(q, "tasks", 1))
        m[p + ".codegen_compiles"] = per_pass(mod, lambda q: q["codegen_compiles"])
    entries = raw.get("cache_entries", [])
    m["queries.SessionCache.entries"] = benchlib.median(entries) if entries else 0.0
    for name in HOT_QUERIES:
        ws = [q["wall_s"] for q in qs if q["pass"] >= 1 and q["name"] == name]
        m[f"queries.q.{name}_s"] = benchlib.median(ws) if ws else 0.0
    return m


# ----------------------------------------------------------------- main --

def history_path(workload):
    return os.path.join(OUT, f"untraced-{workload}.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-seeds", default="",
                    help="comma-separated seeds: observe one set-up per seed and "
                         "write the expectations table instead of measuring")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    cp = classpath()
    out = os.path.join(OUT, a.workload)
    started = time.time()

    if a.record_seeds:
        seeds = [int(s) for s in a.record_seeds.split(",")]
        raw = run_jvm(cp, a.workload, seeds[0], a.seconds, False, out, seeds)
        table = load_expected(a.workload)
        for r in raw["recorded"]:
            if "seed" in r:
                table[str(r["seed"])] = {"rounds": r["rounds"], "seen": r["seen"]}
            else:
                table[r["name"]] = [r["rows"], r["digest"]]
        os.makedirs(EXPECTED, exist_ok=True)
        with open(os.path.join(EXPECTED, a.workload + ".json"), "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded {len(raw['recorded'])} expectations for {a.workload}")
        return

    raw = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), out)
    expected = load_expected(a.workload)
    if "rounds" in raw:
        attempted, failed, notes = check_crawl(raw, expected)
    else:
        attempted, failed, notes = check_queries(raw, expected)

    e2e = end_to_end(raw, attempted, failed)
    if e2e is None:
        fail("no operation completed inside the timed window; see "
             + os.path.join(out, "jvm.log"))
    # Untraced step times of this build only: after a rebuild the overhead
    # must not compare new traced code with old untraced runs.
    build = os.path.getmtime(CLASSPATH_FILE)
    history = []
    if os.path.exists(history_path(a.workload)):
        with open(history_path(a.workload)) as fh:
            history = [h for h in json.load(fh) if h["build"] == build]
    if a.trace:
        steps = [h["step_s"] for h in history]
        untraced = benchlib.median(steps) if steps else 0.0
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(raw, untraced).items()}
        if not steps:
            notes.append("no untraced run of this workload with this build yet: "
                         "trace.overhead_pct is 0")
    else:
        metrics = e2e
        history = (history + [{"build": build, "step_s": e2e["step_s"][0]}])[-10:]
        with open(history_path(a.workload), "w") as fh:
            json.dump(history, fh)

    detail = os.path.join(out, "detail.json")
    with open(detail, "w") as fh:
        json.dump({"raw": raw, "attempted": attempted, "failed": failed, "notes": notes,
                   "metrics": {k: v[0] for k, v in metrics.items()}}, fh, indent=1)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={raw['cores']} "
          f"wall={time.time() - started:.1f}s attempted={attempted} failed={failed}")
    for note in notes:
        print("note: " + note)
    for k, (v, unit) in e2e.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(f"  detail: {os.path.relpath(detail, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_fill_max", "_fpp_est_max")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("bytes_per_page"):
        return "B"
    if name.endswith("cores_busy"):
        return "cores"
    return "count"


if __name__ == "__main__":
    main()
