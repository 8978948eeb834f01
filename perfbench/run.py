#!/usr/bin/env python3
"""graft's benchmark: one named workload of registry queries, closed loop,
one client, one local[4] session, over inputs generated from a seed.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds graft and the runner (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), measures set-up in a separate set-up-only
JVM, then runs the workload in one JVM: an untimed first pass whose outputs
are checked against the DuckDB oracle, WARMUP_PASSES untimed passes, then a
fixed number of timed passes, as many as the workload's typical pass
(pass_s in spec.json) fits into --seconds.
With --trace 1 the runner registers its listeners, keeps spans in memory
and writes them out at the end, and the per-layer metrics come from them.
The last stdout line is the JSON result. Workloads, metrics and the load
model are described in perfbench/spec.json."""
import argparse
import bisect
import glob
import hashlib
import importlib.util
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORK = os.path.join(ROOT, ".perfbench")
TABLES = list(SPEC["inputs"]["tables"])  # names, in generation order
# hard caps that keep a whole run under 180 s even when a query hangs
SETUP_TIMEOUT_S, RUN_TIMEOUT_S = 45, 110
# setup_s is the median of this many set-up-only JVMs plus the main JVM
SETUP_ONLY_LAUNCHES = 1
WARMUP_PASSES = 2
QUERY_TIMEOUT_S = 30
# A 1 GB committed heap from the start: with the default 256 MB, G1's heap
# growth made peak RSS swing by about 18% between runs; with 1 GB, by 4%.
HEAP_FLAGS = ["-Xms1g", "-Xmx3g"]
# C1 only, with compile thresholds lowered tenfold: with C2, passes kept
# getting faster through a whole run as it compiled, so the timed passes
# had a trend; this way compiling is nearly done by the end of the untimed
# passes. C1 alone defaults to a 48 MB code cache, which filled about
# 30 s into a run and set off a flush-and-recompile storm that slowed the
# passes then running by up to 50%; 240 MB is the tiered default.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
             "-XX:ReservedCodeCacheSize=240m"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(args, scratch, timeout_s):
    """Runs the runner JVM to completion; returns its launch epoch."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JIT_FLAGS + HEAP_FLAGS + [f"-Djava.io.tmpdir={scratch}/tmp",
            "-cp", build.classpath(), "perfbench.Runner",
            f"scratch={scratch}"] + [f"{k}={v}" for k, v in args.items()]
    launched = time.time()
    with open(os.path.join(scratch, "jvm.log"), "ab") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"runner JVM exceeded {timeout_s}s")
    if code != 0:
        raise SystemExit(f"runner JVM failed with code {code}; see {scratch}/jvm.log")
    return launched


def load_check_oracle():
    """The repository's oracle compare (scripts/check_oracle.py), reused
    for its row canonicalization so both gates agree on what 'equal' is."""
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def inputs_key(seed):
    """Names one generated input set: the seed, the scale and a hash of the
    generator's source, so that inputs and oracle answers cached by an
    earlier version of the generator are never reused."""
    h = hashlib.sha256(open(gen.__file__, "rb").read())
    h.update(f"{SPEC['inputs']['scale']!r}".encode())
    return f"seed-{seed}-{h.hexdigest()[:12]}"


def verify(result, data_dir, verify_dir, key):
    """Compares every verified output with its oracle answer. Oracle
    answers are cached per input set and SQL text. Returns {query: problem}."""
    import duckdb
    co = load_check_oracle()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cache = os.path.join(WORK, "oracle", key)
    os.makedirs(cache, exist_ok=True)
    problems = {}
    for name, v in result["verify"].items():
        if v["error"]:
            problems[name] = v["error"]
            continue
        files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
        got = co.canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        if not v["oracle"]:
            continue  # rows-only query: nothing to compare against
        key = hashlib.sha256(v["oracle"].encode()).hexdigest()[:24]
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                want = pickle.load(fh)
        else:
            df = con.execute(v["oracle"]).df()
            want = (sorted(df.columns), co.canon(df))
            with open(path, "wb") as fh:
                pickle.dump(want, fh)
        cols = sorted(con.execute(
            f"SELECT * FROM read_parquet({files!r}) LIMIT 0").df().columns)
        if cols != want[0]:
            problems[name] = f"schema mismatch {cols} vs {want[0]}"
        elif got != want[1]:
            problems[name] = f"value mismatch ({len(got)} vs {len(want[1])} rows)"
    return problems


def percentile(xs, p):
    """The p-th percentile of xs, linearly interpolated."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def tail(xs):
    """The highest whole percentile of xs that has at least ten samples
    beyond it, and its value; the median when no higher one has."""
    for p in range(99, 50, -1):
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= 10:
            return p, v
    return 50, percentile(xs, 50)


def end_to_end(result, setups, failed, attempted):
    passes = result["passes"]
    samples = [q["s"] for p in passes for q in p["queries"] if not q["error"]]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            if not q["error"]:
                per_query.setdefault(q["name"], []).append(q["s"])
    medians = [statistics.median(v) for v in per_query.values()]
    tail_p, tail_v = tail(samples)
    return {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail_v,
        "query_geomean_s": math.exp(sum(map(math.log, medians)) / len(medians)),
        "failed_frac": failed / attempted,
        "peak_rss_mb": result["peak_rss_mb"],
    }, {"samples": len(samples), "tail_percentile": tail_p,
        "beyond_tail": sum(1 for s in samples if s > tail_v),
        "warmup_walls_s": [p["wall_s"] for p in result["warmup"]],
        "pass_walls_s": [p["wall_s"] for p in passes]}


def covered_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_layer(result, spans_path):
    """Derives the per-layer metrics from the span file. Spark jobs belong
    to the build or exec span open when they started, tasks and stages to
    their job, and scan, stream-start and micro-batch events to the query
    span whose window holds their timestamp. Each metric is summed per
    query, then per timed pass; the reported value is the median over
    passes."""
    tr = json.load(open(spans_path))
    spans = tr["spans"]
    ev = {}
    for e in tr["events"]:
        ev.setdefault(e["kind"], []).append(e)
    by_id = {s["id"]: s for s in spans}
    passes = [s for s in spans if s["kind"] == "pass"]

    def finder(kinds):
        xs = sorted((s for s in spans if s["kind"] in kinds),
                    key=lambda s: s["start_ms"])
        starts = [s["start_ms"] for s in xs]

        def at(t):
            i = bisect.bisect_right(starts, t) - 1
            return xs[i] if i >= 0 and t <= xs[i]["end_ms"] else None
        return at

    phase_at, query_at = finder(("build", "exec")), finder(("query",))
    pass_at = finder(("pass",))
    acc = {s["id"]: {} for s in spans if s["kind"] == "query"}
    batch_ms = {q: [] for q in acc}

    def add(span, k, v):
        if span is not None:
            q = span if span["kind"] == "query" else by_id[span["parent"]]
            acc[q["id"]][k] = acc[q["id"]].get(k, 0.0) + v

    ends = {e["job"]: e["t"] for e in ev.get("job_end", [])}
    jobs, stage_job, unattributed = {}, {}, 0
    for j in ev.get("job_start", []):
        ph = phase_at(j["t"])
        # a job inside a timed pass but outside every build/exec span
        unattributed += ph is None and pass_at(j["t"]) is not None
        job = jobs[j["job"]] = {"phase": ph, "start": j["t"],
                                "end": ends.get(j["job"], j["t"])}
        cs = j.get("callsite") or ""
        add(ph, "scheduler.jobs", 1)
        if ph is not None:
            add(ph, f"operators.{ph['kind']}_jobs", 1)
        if "heckpoint at" in cs:
            add(ph, "fence.jobs", 1)
            add(ph, "fence.s", (job["end"] - job["start"]) / 1000.0)
        for st in j["stages"]:
            stage_job.setdefault(st, job)
    mb = 1048576.0
    for s in ev.get("stage", []):
        job = stage_job.get(s["stage"])
        if job:
            add(job["phase"], "scheduler.stages", 1)
    for t in ev.get("task", []):
        job = stage_job.get(t["stage"])
        if not job:
            continue
        ph = job["phase"]
        add(ph, "scheduler.tasks", 1)
        add(ph, "scheduler.task_failures", 0 if t["ok"] else 1)
        for k, key, scale in TASK_METRICS:
            add(ph, k, t.get(key, 0.0) / scale)
    for s in ev.get("scan", []):
        q = query_at(s["t"])
        add(q, "sources.scan_mb", s["bytes"] / mb)
        add(q, "sources.rows_scanned", s["rows"])
    for s in ev.get("stream_start", []):
        add(query_at(s["t"]), "streaming.queries", 1)
    for b in ev.get("batch", []):
        q = query_at(b["t"])
        add(q, "streaming.batches", 1)
        add(q, "streaming.state_commit_ms", b["commit_ms"])
        add(q, "streaming.state_rows", b["state_rows"])
        if q is not None:
            batch_ms[q["id"]].append(b["ms"])
    for ph in (s for s in spans if s["kind"] in ("build", "exec")):
        add(ph, f"operators.{ph['kind']}_s", (ph["end_ms"] - ph["start_ms"]) / 1000.0)
    for qid, a in acc.items():
        q = by_id[qid]
        iv = [(max(j["start"], q["start_ms"]), min(j["end"], q["end_ms"]))
              for j in jobs.values()
              if j["start"] <= q["end_ms"] and j["end"] >= q["start_ms"]]
        a["scheduler.driver_gap_s"] = \
            (q["end_ms"] - q["start_ms"] - covered_ms(iv)) / 1000.0
        a["wall_s"] = (q["end_ms"] - q["start_ms"]) / 1000.0

    per_pass = {}
    for i, p in enumerate(passes):
        qids = [q for q in acc if by_id[q]["parent"] == p["id"]]
        tot = {}
        for q in qids:
            for k, v in acc[q].items():
                tot[k] = tot.get(k, 0.0) + v
        wall = (p["end_ms"] - p["start_ms"]) / 1000.0
        ms = [m for q in qids for m in batch_ms[q]]
        n = tot.get("scheduler.tasks", 0.0)
        tot.update({
            "trace.wall_s": wall,
            "executor.parallelism": tot.get("executor.task_s", 0.0) / wall,
            "scheduler.task_success_ratio":
                (n - tot.get("scheduler.task_failures", 0.0)) / n if n else 1.0,
            "streaming.batch_ms_p50": statistics.median(ms) if ms else 0.0,
            "jvm.gc_s": result["passes"][i]["jvm.gc_s"],
            "jvm.heap_live_mb": result["passes"][i]["jvm.heap_live_mb"]})
        per_pass[p["name"]] = tot
    out = {}
    for m in BENCH["per_layer"]:
        vals = [pp.get(m["name"], 0.0) for pp in per_pass.values()]
        out[m["name"]] = statistics.median(vals)
    for k in ("session.start_s", "session.warmup_s", "session.cold_pass_s"):
        out[k] = result[k]
    for k, v in result["probes"].items():
        out[k] = statistics.median(v) if isinstance(v, list) else v
    per_query = {}
    for qid, a in acc.items():
        per_query.setdefault(by_id[qid]["name"], []).append(a)
    detail = {"unattributed_jobs": unattributed, "per_pass": per_pass,
              "per_query": per_query}
    return out, detail


# (metric, task field, divisor) summed over every task of a query's jobs
TASK_METRICS = [
    ("executor.task_s", "run_ms", 1000.0),
    ("executor.cpu_s", "cpu_ns", 1e9),
    ("executor.gc_s", "gc_ms", 1000.0),
    ("exchange.shuffle_write_mb", "shuffle_write_b", 1048576.0),
    ("exchange.shuffle_read_mb", "shuffle_read_b", 1048576.0),
    ("exchange.spill_mb", "spill_b", 1048576.0),
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = SPEC["workloads"].get(a.workload)
    if wl is None:
        raise SystemExit(f"unknown workload {a.workload}; "
                         f"known: {', '.join(SPEC['workloads'])}")
    t0 = time.time()
    build.build()
    log(f"build ready in {time.time() - t0:.1f}s")

    key = inputs_key(a.seed)
    data_dir = os.path.join(WORK, "data", key)
    info_path = os.path.join(data_dir, "inputs.json")
    if not os.path.exists(info_path):
        shutil.rmtree(data_dir, ignore_errors=True)
        info = gen.generate(data_dir, a.seed, SPEC["inputs"]["scale"])
        with open(info_path, "w") as fh:
            json.dump(info, fh)
    inputs = json.load(open(info_path))

    scratch = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    setups = []
    for i in range(SETUP_ONLY_LAUNCHES):
        out = os.path.join(scratch, f"setup{i}.json")
        launched = jvm({"mode": "setup", "data": data_dir, "out": out}, scratch,
                       SETUP_TIMEOUT_S)
        setups.append(json.load(open(out))["ready_epoch_ms"] / 1000.0 - launched)
    out = os.path.join(scratch, "result.json")
    spans = os.path.join(scratch, "spans.json")
    verify_dir = os.path.join(scratch, "verify")
    launched = jvm({"mode": "run", "data": data_dir, "out": out,
                    "queries": ",".join(wl["queries"]), "verify": verify_dir,
                    "warmup": WARMUP_PASSES,
                    "passes": max(3, round(a.seconds / wl["pass_s"])),
                    "trace": a.trace, "spans": spans,
                    "timeout": QUERY_TIMEOUT_S}, scratch,
                   RUN_TIMEOUT_S)
    result = json.load(open(out))
    setups.append(result["ready_epoch_ms"] / 1000.0 - launched)

    problems = verify(result, data_dir, verify_dir, key)
    for p in result["warmup"] + result["passes"]:
        for q in p["queries"]:
            if q["error"] and q["name"] not in problems:
                problems[q["name"]] = q["error"]
    attempted = len(wl["queries"])
    e2e, sampling = end_to_end(result, setups, len(problems), attempted)
    report = {"workload": a.workload, "seed": a.seed, "inputs": inputs,
              "setup_samples_s": setups, "timed_passes": len(result["passes"]),
              "sampling": sampling, "failures": problems, "end_to_end": e2e}
    if a.trace:
        layers, detail = per_layer(result, spans)
        report["per_layer"] = layers
        report["trace"] = detail
        report["trace"]["spans_file"] = os.path.relpath(spans, ROOT)
    with open(os.path.join(scratch, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for name, why in problems.items():
        log(f"FAILED {name}: {why}")
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    units["failed_frac"] = "ratio"
    shown = e2e if not a.trace else {**e2e, **report["per_layer"]}
    for k, v in shown.items():
        print(f"{k} = {v:.6g} {units.get(k, '')}")
    print(f"samples = {sampling['samples']} (tail is "
          f"p{sampling['tail_percentile']}, {sampling['beyond_tail']} beyond); "
          f"passes = {len(result['passes'])}; "
          f"report {os.path.relpath(scratch, ROOT)}/report.json")
    wanted = BENCH["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": (report["per_layer"] if a.trace else e2e)[m["name"]],
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))


if __name__ == "__main__":
    main()
