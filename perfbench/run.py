#!/usr/bin/env python3
"""Benchmark of the dedup pipeline and the LSH query path.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.sh), then runs one JVM
on local[4] that generates the workload's input from the seed, sets up,
measures for S seconds and checks every output. With --trace 0 it prints the
end-to-end metrics, with --trace 1 the per-layer metrics of a separate traced
run. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The JVM is killed at a deadline; an operation cut off by it counts as
failed. Everything the run writes stays inside the repository root:
.bench_build (classes), .bench_run (scratch, removed afterwards) and
.bench_out (the last result and span file of each workload). See
perfbench/NOTES.md for the workloads and metric definitions.
"""

import argparse
import collections
import fcntl
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_run"
OUT = ROOT / ".bench_out"

# Input size per workload: clips for dedup_*, documents for ann_queries
# (embeddings are two fifths of that).
WORKLOADS = {
    "dedup_dups": 6000,
    "dedup_skew": 6000,
    "dedup_notext": 6000,
    "ann_queries": 1000,
}
JVM_DEADLINE_S = 150
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-layer metric groups that only one kind of workload calls into; on the
# other kind they read 0 (no calls were made into that layer).
DEDUP_LAYERS = ("kernel.", "sources.", "signatures.", "bands.", "candidates.", "verify.",
                "cc.", "checkpoints.")
QUERY_LAYERS = ("q.", "queries.")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build():
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        r = subprocess.run(["bash", str(BENCH / "build.sh"), str(BUILD)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        log("build failed")
        sys.exit(1)


def sweep_stale_runs():
    """Remove scratch dirs of runs whose process is gone (a killed run)."""
    if not RUNS.is_dir():
        return
    for d in RUNS.iterdir():
        pid = d.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def read_hwm_mb(pid):
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def run_jvm(args, work):
    # a fixed, pre-touched heap: peak RSS is then steady from run to run and
    # moves with native and off-heap memory
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = (BUILD / "jars").read_text().strip()
    cmd += ["-cp", f"{BUILD}/classes:{jars}/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", str(WORKLOADS[args.workload]), "--work", str(work)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("GRAFT_INDEX_DIR", None)  # CodesCache in its default (localCheckpoint) mode
    t_launch = time.time()
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        overran = False
        hwm = None
        deadline = t_launch + JVM_DEADLINE_S
        while proc.poll() is None:
            if time.time() > deadline:
                hwm = read_hwm_mb(proc.pid)
                overran = True
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                break
            hwm = read_hwm_mb(proc.pid) or hwm
            time.sleep(0.2)
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    events = []
    progress = work / "progress.jsonl"
    if progress.exists():
        for line in progress.read_text().splitlines():
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                pass  # a line cut off by the kill
    return t_launch, proc.returncode, overran, hwm, events


def oracle_check(work):
    """Hash-match each query's Spark result against DuckDB on oracleSql."""
    import duckdb
    import pandas as pd
    res = work / "results"
    oracle = json.loads((res / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/tables/{t}.parquet/*.parquet')")

    def digest(df):
        df = df[sorted(df.columns)]
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return len(df), int(pd.util.hash_pandas_object(df, index=False).sum())

    failures = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = digest(pd.read_parquet(res / q))
            want = digest(con.sql(sql).df())
            if got != want:
                failures[q] = f"{q}: Spark result (rows, hash) {got} != DuckDB {want}"
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failures[q] = f"{q}: oracle comparison failed: {e}"
    return failures


def percentile_tail(xs):
    """Highest whole percentile above the median with at least ten samples
    beyond it, as (p, value); None when there are too few samples."""
    n = len(xs)
    best = math.floor(100 * (1 - 10 / n)) if n else 0
    if best <= 50:
        return None
    s = sorted(xs)
    return best, s[min(n - 1, int(math.ceil(best / 100.0 * n)) - 1)]


def summarize(args, t_launch, rc, overran, hwm, events, oracle_failures):
    dedup = args.workload.startswith("dedup_")
    by = {}
    for e in events:
        by.setdefault(e["ev"], []).append(e)
    started = {e["i"] for e in by.get("op_start", [])}
    ops = by.get("op", [])
    finished = {e["i"] for e in ops}
    failures = []
    for e in ops:
        if not e["ok"]:
            failures.append(e["reason"])
        elif not dedup and e["query"] in oracle_failures:
            failures.append(oracle_failures[e["query"]])
    for e in by.get("check", []):
        if not e["ok"]:
            failures.append(e["reason"])
    in_flight = started - finished
    if overran:
        failures += [f"operation {i} overran the {JVM_DEADLINE_S} s deadline; JVM killed"
                     for i in sorted(in_flight)] or [f"set-up overran the {JVM_DEADLINE_S} s deadline"]
    elif "done" not in by:
        failures.append(f"JVM exited with code {rc} before finishing; see .bench_out log")
    attempted = max(1, len(started) + len(by.get("check", [])) + (0 if started else 1))
    failed = min(attempted, len(failures))

    human = {}
    # every completed timed operation; a failed output check does not void its timing
    timed = [e for e in ops if e["wall_s"] > 0 and not e.get("warmup")]
    walls = [e["wall_s"] for e in timed]
    cpus = [e["cpu_s"] for e in timed]
    n = f"median of {len(walls)}"
    tail = percentile_tail(walls)
    tail_note = (f"p{tail[0]:g} = {tail[1]:.4g} s" if tail
                 else "too few samples for a percentile with 10 beyond it")
    if dedup and timed:
        clips = timed[0]["items"]
        human["clips_per_s"] = (clips / statistics.median(walls), "clips/s", f"{n} runs")
        human["core_ms_per_clip"] = (1000 * statistics.median(cpus) / clips, "ms", f"{n} runs")
        human["run_p50_s"] = (statistics.median(walls), "s", f"{n} runs; {tail_note}")
    if dedup and ops:
        human["pair_recall"] = (min(e["recall"] for e in ops), "ratio", "worst run, bar 0.99")
        human["pair_precision"] = (min(e["precision"] for e in ops), "ratio", "worst run, bar 0.99")
        human["planted_pair_recall"] = (min(e["planted_recall"] for e in ops), "ratio",
                                        "generator labels, not checked")
    if not dedup and timed:
        # per pass: the ten queries one after another (closed loop, one client)
        passes = {}
        for e in timed:
            passes.setdefault(e["pass"], {})[e["query"]] = (e["wall_s"], e["cpu_s"])
        per_pass = max(len(p) for p in passes.values())
        full = [p for p in passes.values() if len(p) == per_pass]
        np_ = f"median of {len(full)} passes"
        # a pass's length from each query's median wall over the passes, so
        # that a stall in one execution moves only its own query's median
        pass_s = sum(statistics.median(p[q][0] for p in full) for q in full[0])
        human["queries_per_s"] = (per_pass / pass_s, "1/s", f"{np_}, by query")
        human["query_p50_s"] = (statistics.median(walls), "s", f"{n} executions; {tail_note}")
        if tail:
            human["query_tail_s"] = (tail[1], "s", f"p{tail[0]:g} of {len(walls)} executions")
        human["core_ms_per_query"] = (1000 * statistics.median(sum(c for _, c in p.values())
                                                               for p in full) / per_pass,
                                      "ms", np_)
    session = by.get("session", [{}])[0].get("epoch_ms")
    gen = by.get("generated", [{}])[0].get("gen_write_s")
    warmup = by.get("warmup", [{}])[0].get("warmup_s")
    if session and gen and warmup is not None:
        human["setup_s"] = (session / 1000.0 - t_launch + statistics.median(gen) + warmup, "s",
                            f"JVM and session start + median of {len(gen)} input writes + warm-up")
    rss = by.get("done", [{}])[0].get("peak_rss_mb") or hwm
    if rss:
        human["peak_rss_mb"] = (rss, "MB", "VmHWM")
    human["failed_share"] = (failed / attempted, "ratio", f"{failed} of {attempted}")

    # the gated end-to-end metrics: one name each for every workload
    names = {"throughput_per_s": ("clips_per_s", "queries_per_s"),
             "core_ms_per_item": ("core_ms_per_clip", "core_ms_per_query"),
             "setup_s": ("setup_s",), "peak_rss_mb": ("peak_rss_mb",)}
    e2e = {n: human[h][0] for n, hs in names.items() for h in hs if h in human}
    return human, e2e, attempted, failed, failures


def layer_metrics(args, spec, events):
    dedup = args.workload.startswith("dedup_")
    done = [e for e in events if e["ev"] == "done"]
    layers = done[0]["layers"] if done else {}
    other = QUERY_LAYERS if dedup else DEDUP_LAYERS
    out, missing = {}, []
    for m in spec["per_layer"]:
        name = m["name"]
        if name in layers and layers[name] is not None:
            out[name] = {"value": layers[name], "unit": m["unit"]}
        elif name.startswith(other):
            out[name] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(name)
    return out, missing


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; known: {', '.join(WORKLOADS)}")
        sys.exit(2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    build()
    sweep_stale_runs()
    work = RUNS / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        t_launch, rc, overran, hwm, events = run_jvm(args, work)
        oracle_failures = {}
        if args.workload == "ann_queries" and (work / "results" / "oracle_sql.json").exists():
            oracle_failures = oracle_check(work)
        human, e2e, attempted, failed, failures = summarize(
            args, t_launch, rc, overran, hwm, events, oracle_failures)
        OUT.mkdir(exist_ok=True)
        stem = OUT / f"{args.workload}-trace{args.trace}"
        shutil.copy(work / "jvm.log", f"{stem}.log")
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", f"{stem}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}, seed {args.seed}, trace {args.trace}: "
          f"{attempted} operations attempted, {failed} failed")
    for name, (value, unit, note) in human.items():
        print(f"  {name:<24} {value:<12.6g} {unit:<8} {note}")
    for reason, k in collections.Counter(failures).items():
        print(f"  FAILED{f' ({k} operations)' if k > 1 else ''}: {reason}")
    if args.trace:
        metrics, missing = layer_metrics(args, spec, events)
        for m in missing:
            failures.append(f"per-layer metric {m} missing")
            print(f"  FAILED: per-layer metric {m} missing")
        for name, m in metrics.items():
            print(f"  {name:<40} {m['value']:.6g} {m['unit']}")
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units if n in e2e}
        for n in units:
            if n not in e2e:
                failures.append(f"end-to-end metric {n} not measured")
    record = {"correct": not failures, "attempted": attempted,
              "failed": max(failed, min(attempted, len(failures))), "metrics": metrics}
    (OUT / f"{args.workload}-trace{args.trace}.json").write_text(
        json.dumps(dict(record, seed=args.seed, failures=failures, readable=human, events=events),
                   indent=1))
    print(json.dumps(record))


if __name__ == "__main__":
    main()
