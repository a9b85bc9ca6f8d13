#!/usr/bin/env python3
"""Seeded workload benchmark for the graft library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the library from the enclosing checkout (perfbench/build.sbt), makes
the inputs from the seed (perfbench/gen.py), runs one workload of
perfbench/workloads.json in a JVM (perfbench.Main), checks every result, and
prints a report line followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the run's span tree is written
to perfbench/out/trace-<workload>-seed<seed>.jsonl.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
OUT = os.path.join(HERE, "out")
MB = float(1 << 20)
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 700    # the first run of a checkout builds; it has 900 s
MODULES = ["Dedup", "Graph", "Similarity", "TextAnalysis", "Curation", "Star",
           "Staging", "Snapshots", "Quality", "SparkEntry"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen  # noqa: E402
try:
    import check as gate  # the correctness gate's canon and norm
except ImportError:
    gate = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, n or 1)


# ---- build ---------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark unless the sources are unchanged
    since the last build of this checkout."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return 0.0
    os.makedirs(OUT, exist_ok=True)
    t0 = time.perf_counter()
    with open(os.path.join(OUT, "build.log"), "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "compile"], cwd=HERE, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(OUT, 'build.log')}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return time.perf_counter() - t0


def jvm(args, work, deadline):
    """Runs perfbench.Main; returns its exit code. Output goes to work/jvm.log."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(scratch, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap every JVM of the library's own build gets
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.artifact.isolation.enabled=false",
            "-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
            "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def log_tail(work, n=30):
    try:
        with open(os.path.join(work, "jvm.log")) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


# ---- result checks ---------------------------------------------------------

def compare(got, expected):
    """None when `got` holds exactly the oracle's result, else the reason.
    The rule is the correctness gate's (tools/check.py): columns and rows
    sorted, ints and floats widened, then an exact, dtype-checked compare."""
    import pandas as pd
    g, e = gate.canon(got), gate.canon(expected)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(gate.norm(g), gate.norm(e), check_dtype=True,
                                      check_exact=True)
    except AssertionError as ex:
        return f"values differ: {str(ex)[:300]}"
    return None


def corrupt(df):
    """A copy of `df` with one value changed (the checker must notice)."""
    bad = df.copy()
    c = sorted(bad.columns)[0]
    v = bad[c].iloc[0]
    if isinstance(v, str):
        bad.loc[bad.index[0], c] = v + "#"
    elif isinstance(v, (int, float)) or hasattr(v, "dtype"):
        try:
            bad.loc[bad.index[0], c] = v + 1
        except TypeError:
            bad = bad.iloc[1:]
    else:
        bad = bad.iloc[1:]
    return bad


def oracle_checks(report, work, in_dir):
    """Compares every oracle-backed op's warm-up result with its DuckDB
    oracle. Returns ({op: reason or None}, checker self-check passed)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    gen.duckdb_views(con, in_dir)
    verdicts, sensitive = {}, None
    for op, sql in sorted(report["oracle_sql"].items()):
        if report["reference"][op].get("error"):
            verdicts[op] = "op failed in warm-up"
            continue
        try:
            files = sorted(glob.glob(os.path.join(work, "out", "results", op, "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdicts[op] = f"check error: {e}"[:300]
            continue
        verdicts[op] = compare(got, exp)
        if sensitive is None and verdicts[op] is None and len(exp):
            sensitive = compare(corrupt(got), exp) is not None
    con.close()
    return verdicts, sensitive is not False


# ---- statistics ------------------------------------------------------------

def tail_percentile(n):
    """Highest whole percentile with at least 10 samples beyond it (p90 at
    100 samples); p50 when there are fewer than 20 samples."""
    return max(50, min(99, int(math.floor(100.0 * (1.0 - 10.0 / n))))) if n else 50


def percentile(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def union_ns(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
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
    """{span id: self ns}: a span's length minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            union_ns(kids.get(s["id"], []), s["start_ns"], s["end_ns"]) for s in spans}


def module_of(site):
    m = re.search(r" at (\w+)\.scala:", site or "")
    return m.group(1) if m else "other"


# ---- metrics ---------------------------------------------------------------

def contended(passes, ref):
    """Numbers of the passes the host probes mark as contended: the host
    stole more than ref's share of CPU time during the pass, or the fixed
    spin or probe job before it ran slower than its factor times its
    idle-host time."""
    return [p["pass"] for p in passes
            if p["steal_frac"] > ref["steal_frac_max"]
            or p["spin_ms"] > ref["spin_factor"] * ref["spin_ms"]
            or p["job_ms"] > ref["job_factor"] * ref["job_ms"]]


def end_to_end(report, gen_s, failed, attempted, skip):
    """End-to-end metrics from the untraced passes, leaving out the passes in
    `skip` (contended ones)."""
    recs = [r for r in report["records"]
            if not r["error"] and not r["traced"] and r["pass"] not in skip]
    by_op = {}
    for r in recs:
        by_op.setdefault(r["op"], []).append((r["end_ns"] - r["start_ns"]) / 1e9)
    lat = [x for xs in by_op.values() for x in xs]
    tail_p = tail_percentile(len(lat))
    return {
        "setup_s": (gen_s + report["session_start_s"] + report["warmup_s"], "s", 1),
        # a typical pass: every op at its median over the timed passes. Unlike
        # the median of whole-pass times, one op's stall in a pass does not
        # move it (on a shared 4-core host: 7% against 10% spread over five seeds).
        "run_s": (sum(statistics.median(xs) for xs in by_op.values()), "s",
                  min((len(xs) for xs in by_op.values()), default=0)),
        "query_p50_s": (statistics.median(lat) if lat else 0.0, "s", len(lat)),
        "query_tail_s": (percentile(lat, tail_p) if lat else 0.0, "s", len(lat),
                         f"p{tail_p}"),
        "failed_frac": (failed / attempted if attempted else 1.0, "fraction", attempted),
        "cache_left_mb": (max((r["cache_left_b"] for r in report["records"]), default=0) / MB,
                          "MB", len(report["records"])),
        "scratch_left_mb": (report["scratch_left_b"] / MB, "MB", 1),
        "rss_peak_mb": (report["rss_peak_kb"] / 1024.0, "MB", 1),
    }


def per_layer(report, gen_s):
    """Per-layer metrics of a traced run, plus its full span list."""
    nano0, ms0 = report["epoch_anchor"]
    to_ns = lambda ms: nano0 + (ms - ms0) * 1_000_000  # noqa: E731
    lst = report["listener"]
    fields = lst["task_fields"]
    tasks = [dict(zip(fields, t)) for t in lst["tasks"]]
    jobs = [dict(j, start_ns=to_ns(j["start_ms"]), end_ns=to_ns(j["end_ms"])) for j in lst["jobs"]]
    spans = list(report["spans"])
    ops = [s for s in spans if s["kind"] in ("op", "operator")]
    next_id = max((s["id"] for s in spans), default=0) + 1
    for j in jobs:  # listener jobs become child spans of the op they ran in
        owner = next((o for o in ops if o["start_ns"] <= j["start_ns"] <= o["end_ns"]), None)
        spans.append({"id": next_id, "parent": owner["id"] if owner else 0,
                      "name": j["site"], "kind": "job", "start_ns": j["start_ns"],
                      "end_ns": max(j["start_ns"], j["end_ns"]), "job": j["job"]})
        next_id += 1
    selfs = self_times(spans)
    for s in spans:
        s["self_ns"] = selfs[s["id"]]

    tpasses = [p for p in report["passes"] if p["traced"]]
    upasses = [p for p in report["passes"] if not p["traced"]]
    cores = report["cores"]
    completed = {s["stage"] for s in lst["stages"]}  # a job lists skipped stages too
    stage_tasks = {}
    for t in tasks:
        stage_tasks.setdefault(t["stage"], []).append(t)
    per_pass = []
    for p in tpasses:
        lo, hi = p["start_ns"], p["end_ns"]
        wall = (hi - lo) / 1e9
        recs = [r for r in report["records"] if r["pass"] == p["pass"]]
        pj = [j for j in jobs if lo <= j["start_ns"] <= hi]
        stage_ids = {s for j in pj for s in j["stages"]} & completed
        pt = [t for t in tasks if t["stage"] in stage_ids]
        task_s = sum(t["finish_ms"] - t["launch_ms"] for t in pt) / 1e3
        skews = []
        for sid in stage_ids:
            d = [t["finish_ms"] - t["launch_ms"] for t in stage_tasks.get(sid, [])]
            if len(d) >= 2 and statistics.median(d) > 0:
                skews.append(max(d) / statistics.median(d))
        busy = union_ns([(to_ns(t["launch_ms"]), to_ns(t["finish_ms"])) for t in pt], lo, hi)
        m = {
            "registry.build_s": sum(r["build_ns"] for r in recs) / 1e9,
            "registry.prepare_s": sum(r["prepare_ns"] for r in recs) / 1e9,
            "plan_s": sum(r["plan_ns"] for r in recs) / 1e9,
            "exec_s": sum(r["exec_ns"] for r in recs) / 1e9,
            "pass.self_s": next(s["self_ns"] for s in spans if s["id"] == p["span"]) / 1e9,
            "jobs": len(pj),
            "stages": len(stage_ids),
            "tasks": len(pt),
            "task_s": task_s,
            "core_util": task_s / (wall * cores) if wall > 0 else 0.0,
            "driver_idle_s": wall - busy / 1e9,
            "sched_delay_s": sum(t["sched_delay_ms"] for t in pt) / 1e3,
            "gc_s": sum(t["gc_ms"] for t in pt) / 1e3,
            "task_skew": max(skews, default=1.0),
            "shuffle_read_mb": sum(t["shuffle_read_b"] for t in pt) / MB,
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in pt) / MB,
            "spill_mb": sum(t["spill_b"] for t in pt) / MB,
            "input_mb": sum(t["input_b"] for t in pt) / MB,
            "output_mb": sum(t["output_b"] for t in pt) / MB,
            "scan_parquet": sum(max(0, r["scans"]) for r in recs),
        }
        for mod in MODULES:
            mj = [j for j in pj if module_of(j["site"]) == mod]
            m[f"jobs.{mod}"] = len(mj)
            m[f"busy_s.{mod}"] = sum(j["end_ns"] - j["start_ns"] for j in mj) / 1e9
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]} if per_pass else {}

    trecs = [r for r in report["records"] if r["traced"]]
    wall = lambda ps: statistics.median((p["end_ns"] - p["start_ns"]) for p in ps)  # noqa: E731
    out.update({
        "session.start_s": report["session_start_s"],
        "session.warmup_s": report["warmup_s"],
        "gen.input_s": gen_s,
        "registry.lookup_ms": statistics.median(r["lookup_ns"] / 1e6 for r in trecs) if trecs else 0.0,
        "ckpt.count": statistics.mean(r["ckpt"] for r in trecs) if trecs else 0.0,
        "storage_peak_mb": lst["storage_peak_b"] / MB,
        "storage.cache_left_mb": max((r["cache_left_b"] for r in report["records"]), default=0) / MB,
        "storage.scratch_left_mb": report["scratch_left_b"] / MB,
        "trace_overhead": wall(tpasses) / wall(upasses) if tpasses and upasses else 1.0,
        "host.cpu_spin_ms": statistics.median(p["spin_ms"] for p in report["passes"]),
        "host.spark_probe_ms": statistics.median(p["job_ms"] for p in report["passes"]),
        "host.steal_frac": statistics.median(p["steal_frac"] for p in report["passes"]),
    })
    out.update(report["direct"])
    for s in spans:
        if s["kind"] == "operator":
            out[f"{s['name']}_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
    for name in ["Dedup.clusterPairs", "Graph.hopDistance", "Graph.pageRankInt",
                 "Similarity.kmeansCentroids"]:
        sp = next((s for s in spans if s["kind"] == "operator" and s["name"] == name), None)
        out[f"{name}_jobs"] = sum(1 for s in spans if s["kind"] == "job" and sp and
                                  s["parent"] == sp["id"])
    return out, spans


# ---- run ---------------------------------------------------------------------

def timed_passes(seconds, workload):
    """The fixed, odd number of timed passes that fill about `seconds` at the
    workload's nominal pass time (so the median is always the same pass)."""
    k = max(1, round(seconds / workload["nominal_pass_s"]))
    return k if k % 2 else k + 1


def require_checkout():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")) or gate is None:
        fail(f"library checkout not found: need {LIB_SRC} and {ROOT}/tools/check.py")


def run(args):
    require_checkout()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads_doc = json.load(fh)
    workloads = workloads_doc["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; choose from {sorted(workloads)}")
    build_s = build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        in_dir = os.path.join(work, "inputs")
        g0 = time.perf_counter()
        tables = gen.write(args.seed, in_dir, spread=cores())
        gen_s = time.perf_counter() - g0
        n = min(cores(), 4)
        rc = jvm(["--mode", "run", "--workload", args.workload,
                  "--ops", ",".join(workloads[args.workload]["ops"]),
                  "--inputs", in_dir, "--out", os.path.join(work, "out"),
                  "--warmups", str(workloads[args.workload]["warmup_passes"]),
                  "--passes", str(timed_passes(args.seconds, workloads[args.workload])),
                  "--max-seconds", str(3 * args.seconds), "--trace", str(args.trace),
                  "--seed", str(args.seed), "--cores", str(n)], work, deadline)
        report_path = os.path.join(work, "out", "report.json")
        if rc != 0 or not os.path.exists(report_path):
            fail(f"benchmark JVM exited with {rc}\n{log_tail(work)}", 4)
        with open(report_path) as fh:
            report = json.load(fh)

        verdicts, sensitive = oracle_checks(report, work, in_dir)
        bad_ops = {op for op, v in verdicts.items() if v}
        bad_ops |= {op for op, ref in report["reference"].items() if ref.get("error")}
        failed, attempted, wrong = 0, 0, {}
        for r in report["records"]:
            attempted += 1
            ref = report["reference"][r["op"]].get("fp")
            reason = ("error: " + r["error"]) if r["error"] else \
                "oracle mismatch" if r["op"] in bad_ops else \
                None if r["fp"] == ref else f"result hash {r['fp']} != warm-up {ref}"
            if reason:
                failed += 1
                wrong.setdefault(r["op"], reason)
        wrong.update({op: f"oracle: {v}" for op, v in verdicts.items() if v})
        wrong.update({op: f"warm-up: {ref['error']}"
                      for op, ref in report["reference"].items() if ref.get("error")})

        # contended passes are left out of the medians while at least half of
        # the untraced passes are clean; otherwise the run is only flagged
        ref = workloads_doc["host_reference"]
        untraced = [p for p in report["passes"] if not p["traced"]]
        hot = contended(untraced, ref)
        skip = set(hot) if 2 * (len(untraced) - len(hot)) >= len(untraced) else set()
        e2e = end_to_end(report, gen_s, failed, attempted, skip)
        summary = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": report["cores"], "passes": len(report["passes"]),
            "build_s": round(build_s, 3),
            "metrics": {k: {"value": v[0], "unit": v[1], "samples": v[2],
                            **({"percentile": v[3]} if len(v) > 3 else {})}
                        for k, v in e2e.items()},
            "setup_parts_s": {"gen.input_s": gen_s,
                              "session.start_s": report["session_start_s"],
                              "session.warmup_s": report["warmup_s"]},
            "host_probe": {
                "spin_ms": [p["spin_ms"] for p in report["passes"]],
                "job_ms": [p["job_ms"] for p in report["passes"]],
                "steal_frac": [p["steal_frac"] for p in report["passes"]],
                "reference": ref, "contended_passes": hot,
                "left_out_passes": sorted(skip), "contended": bool(hot)},
            "inputs": {t: dict(v, scan_partitions=report["layout"][t])
                       for t, v in tables.items()},
            "op_s": {op: [(r["end_ns"] - r["start_ns"]) / 1e9 for r in report["records"]
                          if r["op"] == op] for op in workloads[args.workload]["ops"]},
            "pass_s": [(p["end_ns"] - p["start_ns"]) / 1e9 for p in report["passes"]],
            "oracle_checked": len(verdicts), "checker_sensitive": sensitive,
            "wrong": wrong,
        }
        if args.trace:
            layer, spans = per_layer(report, gen_s)
            os.makedirs(OUT, exist_ok=True)
            trace_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.jsonl")
            run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
            with open(trace_path, "w") as fh:
                for s in spans:
                    fh.write(json.dumps(dict(s, run=run_id)) + "\n")
            summary["trace_file"] = os.path.relpath(trace_path, ROOT)
            missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layer]
            if missing:
                fail(f"traced run produced no value for {missing}", 4)
            metrics = {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            summary["per_layer"] = layer
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print("report " + json.dumps(summary, sort_keys=True))
        correct = failed == 0 and not wrong and sensitive
        print(json.dumps({"correct": bool(correct), "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- self-test -------------------------------------------------------------

def selftest():
    import pandas as pd
    ok = True

    def check(cond, what):
        nonlocal ok
        print(("ok   " if cond else "FAIL ") + what)
        ok = ok and bool(cond)

    require_checkout()
    work = os.path.join(OUT, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        a = gen.write(11, os.path.join(work, "a"), spread=cores())
        b = gen.write(11, os.path.join(work, "b"), spread=cores())
        c = gen.write(12, os.path.join(work, "c"), spread=cores())
        fp = lambda r: {t: v["fingerprint"] for t, v in r.items()}  # noqa: E731
        check(fp(a) == fp(b), "same seed gives identical input fingerprints")
        varied = [t for t in a if fp(a)[t] != fp(c)[t]]
        check(set(varied) >= set(gen.TABLES) - {"region", "nation"},
              f"another seed changes every generated table ({len(varied)} of {len(a)} differ)")
        check(all(a[t]["files"] >= cores() for t in gen.SPREAD),
              "documents and embeddings span at least nproc files")

        spans = [  # root 0..100, children 10..30 and 20..50 (overlap), grandchild 12..14
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 30},
            {"id": 3, "parent": 1, "start_ns": 20, "end_ns": 50},
            {"id": 4, "parent": 2, "start_ns": 12, "end_ns": 14},
            {"id": 5, "parent": 1, "start_ns": 90, "end_ns": 120},
        ]
        check(self_times(spans) == {1: 50, 2: 18, 3: 30, 4: 2, 5: 30},
              "self time on a synthetic span tree")

        got = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
        check(compare(got.iloc[::-1], got) is None, "a reordered result still matches")
        check(compare(corrupt(got), got) is not None, "a corrupted result is counted as failed")
        check(compare(got.astype({"k": "float64"}), got) is not None,
              "an int column returned as float is a mismatch")

        build()
        rc = jvm(["--mode", "selftest", "--inputs", os.path.join(work, "a"),
                  "--out", os.path.join(work, "out"), "--cores", str(min(cores(), 4))],
                 work, time.monotonic() + DEADLINE_S)
        check(rc == 0, f"JVM self-test exited with {rc}")
        if rc == 0:
            with open(os.path.join(work, "out", "selftest.json")) as fh:
                st = json.load(fh)
            check(not st["schema_errors"],
                  f"every generated table loads through graft.Tables with the test-table "
                  f"schema {st['schema_errors']}")
            lc = st["listener"]
            check({k: lc[k] for k in ("jobs", "stages", "tasks")} == lc["expected"],
                  f"listener counts fixed RDD jobs exactly {lc}")
        else:
            print(log_tail(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if args.workload is None:
        fail("--workload is required")
    if args.seed is None:
        with open(os.path.join(HERE, "workloads.json")) as fh:
            args.seed = json.load(fh)["default_seed"]
    run(args)


if __name__ == "__main__":
    main()
