#!/usr/bin/env python3
"""Gate benchmark for the engine: terasort and query_mix.

Run from the root of a checkout:

    python3 gatebench/run.py --workload terasort --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (once per source
state, into .bench_build/), generates the workload's inputs from the
seed, runs the JVM harness (gatebench.Main) on local[nproc], replays
every reference output against its DuckDB oracle (tools/compare.py),
and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See gatebench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
DEADLINE_S = 170.0  # the whole run, build excluded

# query_mix jobs, each with a DuckDB oracle: five MapReduce-pattern lanes
# and the training-data pipeline
LANES = ["wordcount", "broadcast_join", "total_sort", "q5_join_agg", "sessionize",
         "pipeline_e2e"]
# the tables those lanes read, and their scale: TPC-H-style and events at
# 0.05; documents at 0.002 (100 docs), which bounds the pipeline's DuckDB
# oracle replay (its simhash components) to a few seconds
MIX_TABLES = {0.05: ["region", "nation", "customer", "orders", "lineitem", "events"],
              0.002: ["documents"]}
TERA_ROWS = 2_000_000    # 100-byte records per terasort pass
TERA_PARTS_PER_CORE = 2  # range partitions of the sort, per core
STAGE_REPEATS = 3        # set-up attempts per run; setup_s takes the median
# per-layer metrics each workload must measure; the other workload's
# spans and pin labels read 0
REQUIRED = {"terasort": ("jobs.TeraSort.", "sources.TeraIO."),
            "query_mix": ("queries.", "jobs.TrainingPipeline.")}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, str(BENCH))


def fail(msg, code):
    print(f"gatebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail("no engine sources under src/main/scala; run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)
    digest = source_digest()
    stamp, cp = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp.is_file() and stamp.read_text() == digest:
        return cp.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=BENCH, env=env, stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        tail = (BUILD / "build.log").read_text()[-3000:]
        fail(f"build failed (exit {r.returncode}):\n{tail}", 3)
    stamp.write_text(digest)
    return cp.read_text().strip()


def heap():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{max(2, min(6, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def stage_inputs(seed, data):
    """Seeded query_mix inputs; times each attempt."""
    import gen
    times, stats = [], {}
    for _ in range(STAGE_REPEATS):
        t0 = time.perf_counter()
        shutil.rmtree(data, ignore_errors=True)
        stats = {}
        for sf, tables in MIX_TABLES.items():
            stats.update(gen.generate(data, seed, sf, tables))
        times.append(time.perf_counter() - t0)
    return times, stats


def run_jvm(cp, workload, seed, seconds, trace, data, work, deadline):
    record = work / "record.json"
    cores = os.cpu_count() or 1
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", f"{cp}{os.pathsep}{ROOT / 'src' / 'main' / 'resources'}",
           "gatebench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--data", str(data),
           "--work", str(work), "--record", str(record), "--cores", str(cores),
           "--clk-tck", str(os.sysconf("SC_CLK_TCK")), "--rows", str(TERA_ROWS),
           "--parts", str(TERA_PARTS_PER_CORE * cores), "--lanes", ",".join(LANES)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run deadline; log: {work / 'jvm.log'}", 4)
    if r.returncode != 0 or not record.is_file():
        tail = (work / "jvm.log").read_text()[-3000:]
        fail(f"harness failed (exit {r.returncode}):\n{tail}", 4)
    return json.loads(record.read_text())


def oracle_replay(data, checks):
    """Replays each lane's oracle SQL with tools/compare.py; returns
    {lane: reason} for the lanes whose reference output disagrees."""
    if not checks:
        return {}
    ref = Path(checks[0]["dir"]).parent
    (ref / "oracle_sql.json").write_text(json.dumps(
        {c["name"]: c["sql"] for c in checks if c["sql"]}))
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "compare.py"), str(data), str(ref)],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    if r.returncode not in (0, 1):
        tail = (r.stderr.strip().splitlines() or ["no output"])[-1]
        return {c["name"]: f"oracle replay crashed: {tail}" for c in checks}
    bad = {}
    for c in checks:
        name = c["name"]
        lines = [l.strip() for l in r.stdout.splitlines()]
        if any(l.startswith(f"FAIL {name}:") for l in lines):
            bad[name] = "oracle: " + next(l for l in lines if l.startswith(f"FAIL {name}:"))
        elif any(l.startswith(f"[rows-only] {name}:") for l in lines):
            bad[name] = "oracle: lane has no oracle SQL"
        elif not any(l.startswith(f"PASS {name}:") for l in lines):
            bad[name] = "oracle: lane missing from the replay"
    return bad


def quantile(xs, q):
    """Nearest-rank quantile with the number of samples beyond it."""
    s = sorted(xs)
    k = min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))
    return s[k], len(s) - 1 - k


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["terasort", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) \
        if (ROOT / "BENCHMARK.json").is_file() else fail("BENCHMARK.json not found", 2)

    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    work = WORK / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = work / "data"

    gen_s, tables = ([], {})
    if a.workload == "query_mix":
        gen_s, tables = stage_inputs(a.seed, data)
    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, work, deadline)

    bad = oracle_replay(data, rec["checks"])
    passes = rec["passes"]
    for p in passes:
        if p["ok"] and p["label"] in bad:
            p["ok"], p["error"] = False, bad[p["label"]]
    failed = [p for p in passes if not p["ok"]]
    ok = [p for p in passes if p["ok"] and p["wall_s"] is not None]

    stage_s = rec["stage_s"] or gen_s
    setup_s = rec["session_s"] + statistics.median(stage_s) + rec["warmup_s"]
    walls = [p["wall_s"] for p in ok] or [0.0]
    p90, beyond = quantile(walls, 0.9)
    # one pass of the workload: a sort, or a query_mix sweep (each lane
    # once, taken at its median)
    by_label = {}
    for p in ok:
        by_label.setdefault(p["label"], []).append(p["wall_s"])
    wall = sum(statistics.median(v) for v in by_label.values()) if ok else 0.0
    if a.workload == "terasort":
        in_rows, in_mb = TERA_ROWS, TERA_ROWS * 100 / 1e6
    else:
        in_rows = sum(r for r, _ in tables.values())
        in_mb = sum(b for _, b in tables.values()) / 1e6
    # work units of one pass: records sorted, or one job
    items = TERA_ROWS if a.workload == "terasort" else 1
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "items_per_s": items * len(ok) / sum(p["wall_s"] for p in ok) if ok else 0.0,
        "heap_live_mb": rec["heap_live_mb"],
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": rec["cores"],
        "input_rows": in_rows, "input_mb": in_mb, "passes": len(passes),
        "fail_ratio": len(failed) / max(1, len(passes)),
        "failures": sorted({f"{p['label']}: {p['error']}" for p in failed}),
        "setup_parts_s": {"session": rec["session_s"], "stage": stage_s,
                          "warmup": rec["warmup_s"]},
        "mb_per_s": statistics.median([p["input_mb"] / p["wall_s"] for p in ok]) if ok else 0.0,
        "peak_rss_mb": rec["peak_rss_mb"],
        "job_p50_s": statistics.median(walls),
        # a tail percentile is reported only with >= 10 samples beyond it
        "job_p90_s": p90 if beyond >= 10 else None, "job_samples": len(walls),
        "gb_per_node_min": None,
        "host": rec["host"], "codegen_compiles": rec["codegen_compiles"],
        **({"layer": rec["layer"]} if a.trace else {}), **e2e,
    }
    if a.workload == "terasort":
        detail["gb_per_node_min"] = detail["mb_per_s"] * 60 / 1000
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{a.workload}-{a.seed}-{a.trace}-{int(time.time())}.json").write_text(
        json.dumps({**detail, "pass_list": passes, "spans": rec["spans"]}, indent=1))
    print("record " + json.dumps(detail))

    if a.trace:
        layer = {**rec["layer"], **rec["host"], "fail_ratio": detail["fail_ratio"],
                 "jvm.peak_rss_mb": rec["peak_rss_mb"]}
        metrics = {}
        others = tuple(p for w, ps in REQUIRED.items() if w != a.workload for p in ps)
        for m in spec["per_layer"]:
            name = m["name"]
            if name not in layer and not name.startswith(others):
                fail(f"per-layer metric {name} was not measured", 5)
            metrics[name] = {"value": layer.get(name, 0.0), "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(data, ignore_errors=True)
    for d in ("tera-in", "tera-out", "spark-local", "tmp", "check"):
        shutil.rmtree(work / d, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(passes),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
