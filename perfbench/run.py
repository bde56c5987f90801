#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the graft
sources and the harness into `.bench_build/perfbench` with the Scala
compiler that ships in the Spark jars; later runs reuse that build while the
sources are unchanged. Each run generates its inputs from the seed, runs the
JVM harness (perfbench/harness) once, checks every output against an
independent reference, prints a report, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. The exit code is 0 only when every check passed.

See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
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
from pathlib import Path

import numpy as np
import pandas as pd

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
JVM_TIMEOUT_S = 170
HEAP = "3g"

# workload -> (harness workload, table scale factor)
WORKLOADS = {"tpch_sf0.01": ("tpch", 0.01), "lake_ingest": ("lake", 0.1)}
LAKE_ROWS = 5000            # rows per upsert batch file
LAKE_UPDATE_SHARE = 0.8     # share of a batch that updates existing keys
# A run does a fixed amount of work sized from --seconds with these
# constants (the pace this benchmark was defined at), so every run of a
# workload measures the same passes or batches whatever the code's speed.
PASS_SECONDS = 6            # timed TPC-H passes = seconds / this
LAKE_SECONDS_PER_BATCH = 1.6  # timed upsert batches = seconds / this

# The tail percentile of the latencies, fixed when the benchmark was
# defined: the highest rung of TAIL_LADDER that leaves at least ten samples
# beyond it at the smallest sample counts runs of BENCHMARK.json's
# run_seconds produced then (BASELINE_SAMPLES: three TPC-H passes of 22
# gates; the fewest reader queries seen in a lake_ingest drain). It stays
# fixed when later code changes how many samples a run gets.
TAIL_LADDER = (50, 75, 80, 90, 95, 99, 99.9)
BASELINE_SAMPLES = {"query": 66, "read": 44}
TAIL_PCT = 75


def tail_percentile(n):
    """Highest rung of TAIL_LADDER with at least 10 of n samples beyond it."""
    ok = [p for p in TAIL_LADDER if n - math.ceil(p * n / 100) >= 10]
    return max(ok) if ok else None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with p% of samples at
    or below it."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


# ---------------------------------------------------------------- build

def sources():
    main = sorted((ROOT / "src" / "main").rglob("*"))
    return [p for p in main if p.is_file()], sorted((HERE / "harness").glob("*.scala"))


def spark_jars():
    """The jar directory the sbt build compiles against (build.sbt's
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    return Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", ".")) / "jars"


def build():
    """Compile src/main and the harness unless the last build saw the same
    sources. Returns the runtime classpath."""
    main, harness = sources()
    scala_main = [p for p in main if p.suffix == ".scala"]
    if not scala_main or not harness:
        sys.exit("perfbench: no graft sources under src/main or no harness; "
                 "run from the root of a graft checkout")
    jars = sorted(str(p) for p in spark_jars().glob("*.jar"))
    if not jars:
        sys.exit(f"perfbench: no Spark jars in {spark_jars()}")
    h = hashlib.sha256()
    for p in main + harness:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "build.stamp"
    classes, hclasses = BUILD / "classes", BUILD / "harness"
    cp = [str(classes), str(hclasses), str(ROOT / "src" / "main" / "resources")] + jars
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp
    t0 = time.time()
    for out, srcs, extra in ((classes, scala_main, []), (hclasses, harness, [str(classes)])):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        args = BUILD / f"{out.name}.args"
        args.write_text("\n".join(str(p) for p in srcs))
        subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(jars),
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
                        "-classpath", ":".join(extra + jars), f"@{args}"],
                       check=True, stdout=sys.stderr)
    stamp.write_text(h.hexdigest())
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


# ---------------------------------------------------------------- inputs

def table_dir(sf):
    d = BUILD / "data" / f"sf{sf}"
    marker = d / "done"
    key = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()
    if not (marker.exists() and marker.read_text() == key):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(str(d), sf)
        marker.write_text(key)
    return d


def tpch_passes(seconds):
    return max(1, round(seconds / PASS_SECONDS))


def lake_batches(seconds):
    return 1 + max(3, round(seconds / LAKE_SECONDS_PER_BATCH))  # + 1 warm-up


# ---------------------------------------------------------------- checks

def _norm(df):
    df = df.reindex(sorted(df.columns, key=str.lower), axis=1)
    df.columns = [c.lower() for c in df.columns]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[ns]").astype("int64")
        elif s.dtype == object:
            num = pd.to_numeric(s, errors="coerce")
            if num.notna().sum() == s.notna().sum() and s.notna().any() and \
                    not s.dropna().map(lambda v: isinstance(v, str)).any():
                df[c] = num.astype(float)
            else:
                df[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            df[c] = s.astype(float)
    return df


def compare(got, want):
    """None when the two results hold the same rows (any order, floats to a
    relative 1e-9), else a one-line reason."""
    a, b = _norm(got.copy()), _norm(want.copy())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    cols = list(a.columns)
    a = a.sort_values(cols, ignore_index=True, na_position="first")
    b = b.sort_values(cols, ignore_index=True, na_position="first")
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            xv, yv = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            ok = np.isclose(xv, yv, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (x.to_numpy() == y.to_numpy()) | (x.isna() & y.isna()).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def check_tpch(h, work, data, plant):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for i, (name, sql) in enumerate(sorted(h["oracles"].items())):
        d = work / "results" / name
        if not d.exists():
            bad.append(f"{name}: no result")
            continue
        want = con.execute(sql).df()
        if plant and i == 0:
            want = plant_wrong(want)
        why = compare(pd.read_parquet(d), want)
        if why:
            bad.append(f"{name}: {why}")
    return bad


def plant_wrong(df):
    """Self-test hook: change one value of the reference result."""
    df = df.copy()
    c = next((c for c in df.columns if pd.api.types.is_numeric_dtype(df[c])), df.columns[0])
    df.loc[0, c] = (df.loc[0, c] + 1) if pd.api.types.is_numeric_dtype(df[c]) else "planted"
    return df


def check_lake(work, expected, plant):
    if plant:
        expected = plant_wrong(expected)
    d = work / "final"
    if not d.exists():
        return ["final table: no result"]
    why = compare(pd.read_parquet(d), expected)
    return [f"final table: {why}"] if why else []


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def du(d):
    return sum(p.stat().st_size for p in Path(d).rglob("*") if p.is_file())


# ---------------------------------------------------------------- metrics

def end_to_end(h, wl, work, staged):
    """The end-to-end metrics every workload has (BENCHMARK.json), and the
    report-only ones: the median query latency (lake_ingest reads are
    bimodal, see README.md), peak heap, and the lake_ingest commit figures."""
    ops, wall = h["ops"], h["timed_wall_s"]
    q = ops["query"] if "query" in ops else ops["read"]
    m = {"setup_s": statistics.median(r["total_s"] for r in h["setup"]),
         "queries_per_s": len(q) / wall,
         "query_tail_s": percentile(q, TAIL_PCT),
         "live_heap_mb": h["live_heap_mb"]}
    extra = {"query_p50_s": statistics.median(q), "peak_heap_mb": h["peak_heap_mb"]}
    if wl == "lake_ingest":
        c = ops["commit"]
        extra |= {"ingest_rows_per_s": staged["rows"] / wall,
                 "commit_p50_s": statistics.median(c),
                 "commit_max_s": max(c),
                 "bytes_stored_per_user_byte":
                     du(work / "lake" / f"table{len(h['setup'])}") / du(work / "final")}
    return m, extra


def per_layer(h, wl, work, cores, extra, staged):
    rounds = h["rounds"]
    wall = h["timed_wall_s"]
    s0, s1 = h["counters_start"], h["counters_end"]
    L0, L1 = s0["listeners"], s1["listeners"]

    def lst(role, k):
        return L1.get(role, {}).get(k, 0) - L0.get(role, {}).get(k, 0)

    def allroles(k):
        return sum(lst(r, k) for r in set(L1) - {"plans"})

    def cg(k):
        return s1["codegen"][k] - s0["codegen"][k]

    setup = h["setup"]
    spans = [json.loads(l) for l in (work / "spans.jsonl").read_text().splitlines()]
    t0, t1 = h["timed_start_us"], h["timed_end_us"]
    timed = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
    self_s = self_time(timed)
    jobs, stages, tasks = allroles("jobs"), allroles("stages"), allroles("tasks")
    m = {
        "session.first_setup_s": setup[0]["total_s"],
        "session.start_s": statistics.median(r["start_s"] for r in setup),
        "session.prepare_s": statistics.median(r["prepare_s"] for r in setup),
        "tables.register_s": statistics.median(r["register_s"] for r in setup),
        "queries.build_s": sum(s["end"] - s["start"] for s in timed if s["name"] == "queries.build") / 1e6 / rounds,
        "queries.build_jobs": lst("build", "jobs") / rounds,
        "plans.optimization_s": lst("plans", "optimization_ms") / 1e3 / rounds,
        "plans.planning_s": lst("plans", "planning_ms") / 1e3 / rounds,
        "plans.aqe_updates": lst("plans", "aqe_updates") / rounds,
        "codegen.compiles": cg("compiles") / rounds,
        "codegen.compile_s": cg("compile_ns") / 1e9 / rounds,
        "codegen.gen_s": cg("gen_ns") / 1e9 / rounds,
        "scheduler.jobs": jobs / rounds,
        "scheduler.stages": stages / rounds,
        "scheduler.tasks": tasks / rounds,
        "scheduler.tasks_per_stage": tasks / stages if stages else 0.0,
        "scheduler.task_wait_s": allroles("wait_ms") / 1e3 / rounds,
        "scheduler.deserialize_s": allroles("deser_ms") / 1e3 / rounds,
        "executor.run_s": allroles("run_ms") / 1e3 / rounds,
        "executor.cpu_s": allroles("cpu_ns") / 1e9 / rounds,
        "executor.gc_s": allroles("gc_ms") / 1e3 / rounds,
        "executor.core_util": allroles("run_ms") / 1e3 / (wall * cores),
        "executor.input_mb": allroles("input_b") / 2**20 / rounds,
        "executor.shuffle_read_mb": allroles("shuffle_read_b") / 2**20 / rounds,
        "executor.shuffle_write_mb": allroles("shuffle_write_b") / 2**20 / rounds,
        "executor.spill_mb": allroles("spill_b") / 2**20 / rounds,
    }
    lake = dict.fromkeys([
        "lake.commits_per_batch", "lake.maintain_batches", "lake.maintain_batch_s",
        "lake.plain_batch_s", "lake.jobs_per_commit", "lake.bytes_written_per_user_byte",
        "lake.files_live", "lake.dv_files_live", "lake.read_input_mb",
        "streaming.add_batch_s", "streaming.trigger_s", "streaming.wal_commit_s",
        "streaming.rows_read_per_input_row", "streaming.ingest_rows_per_s",
        "streaming.commit_p50_s", "streaming.commit_max_s",
        "lake.bytes_stored_per_user_byte"], 0.0)
    if wl == "lake_ingest":
        b, lk = h["batches"], h["lake"]
        per = [sum(1 for v in lk["version_ms"] if x["start_ms"] <= v <= x["start_ms"] + x["trigger_ms"]) for x in b]
        maint = [x["trigger_ms"] / 1e3 for x, n in zip(b, per) if n > 1]
        plain = [x["trigger_ms"] / 1e3 for x, n in zip(b, per) if n <= 1]
        reads = len(h["ops"]["read"])
        lake.update({
            "lake.commits_per_batch": lk["versions"] / len(b),
            "lake.maintain_batches": len(maint),
            "lake.maintain_batch_s": statistics.mean(maint) if maint else 0.0,
            "lake.plain_batch_s": statistics.mean(plain) if plain else 0.0,
            "lake.jobs_per_commit": lst("stream", "jobs") / lk["versions"],
            "lake.bytes_written_per_user_byte": lst("stream", "output_b") / staged["bytes"],
            "lake.files_live": lk["files_live"],
            "lake.dv_files_live": lk["dv_files_live"],
            "lake.read_input_mb": lst("read", "input_b") / 2**20 / reads if reads else 0.0,
            "streaming.add_batch_s": statistics.mean(x["add_ms"] for x in b) / 1e3,
            "streaming.trigger_s": statistics.mean(x["trigger_ms"] for x in b) / 1e3,
            "streaming.wal_commit_s": statistics.mean(x["wal_ms"] for x in b) / 1e3,
            "streaming.rows_read_per_input_row": sum(x["rows"] for x in b) / staged["rows"],
            "streaming.ingest_rows_per_s": extra["ingest_rows_per_s"],
            "streaming.commit_p50_s": extra["commit_p50_s"],
            "streaming.commit_max_s": extra["commit_max_s"],
            "lake.bytes_stored_per_user_byte": extra["bytes_stored_per_user_byte"],
        })
    m.update(lake)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0) / rounds
    m["trace.coverage"] = sum(self_s.values()) / wall
    return m


LAYERS = ["harness", "queries", "plans", "scheduler", "executor", "lake", "streaming"]


# Nesting depth of each span kind; a span's parent is a containing span
# of lower depth.
DEPTH = {"query": 0, "queries.build": 1, "query.execute": 1, "lake.read": 1,
         "streaming.drain": 1, "streaming.batch": 2, "plans": 3, "job": 3, "stage": 4}
SLACK_US = 1000  # listener timestamps have millisecond resolution


def depth(s):
    return DEPTH.get(s["name"], DEPTH.get(s["name"].split(".")[0], 0))


def self_time(spans):
    """Seconds of self time per layer: a span's duration minus the part of
    it its children cover. Harness spans name their parent. A listener span
    (job, stage, planning phase, stream batch) is attached to the innermost
    span that contains it, preferring one of the same operation, since the
    reader and the stream thread of lake_ingest overlap in time."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    by_id = {s["id"]: s for s in spans}
    containers = sorted((s for s in spans if depth(s) < DEPTH["stage"]),
                        key=lambda s: s["start"])
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"]:
            if s["parent"] in by_id:
                children[s["parent"]].append(s)
            continue
        d = depth(s)
        cands = [p for p in containers
                 if depth(p) < d and p["start"] <= s["start"] + SLACK_US
                 and s["end"] <= p["end"] + SLACK_US]
        if cands:
            best = min(cands, key=lambda p: (p["op"] != s["op"], -depth(p), dur[p["id"]]))
            children[best["id"]].append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["layer"]] = out.get(s["layer"], 0) + (dur[s["id"]] - covered) / 1e6
    return out


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-result", action="store_true",
                    help="self-test only: corrupt one reference value so the check must fail")
    a = ap.parse_args(argv)
    wl = a.workload
    harness_wl, sf = WORKLOADS[wl]

    cp = build()
    data = table_dir(sf)
    work = BUILD / "work" / wl
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    expected, staged = None, {}
    if wl == "lake_ingest":
        expected = gen.upserts(str(data / "orders.parquet"), str(work / "staged"), a.seed,
                               lake_batches(a.seconds), LAKE_ROWS, LAKE_UPDATE_SHARE)
        # the harness drains the first file untimed, as warm-up
        timed = sorted((work / "staged").iterdir())[1:]
        staged = {"rows": LAKE_ROWS * len(timed), "bytes": sum(f.stat().st_size for f in timed)}

    cores = len(os.sched_getaffinity(0))
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.ui.showConsoleProgress=false", "-cp", ":".join(cp), "perfbench.Harness",
           "--workload", harness_wl, "--seed", str(a.seed),
           "--passes", str(tpch_passes(a.seconds)),
           "--trace", str(a.trace), "--cores", str(cores), "--data", str(data),
           "--work", str(work)]
    steal0, total0 = cpu_ticks()
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    if rc != 0 or not (work / "harness.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    h = json.loads((work / "harness.json").read_text())

    bad = list(h["failures"])
    if wl == "lake_ingest":
        bad += check_lake(work, expected, a.plant_wrong_result)
    else:
        bad += check_tpch(h, work, data, a.plant_wrong_result)
    failed = len(bad)
    attempted = max(1, h["attempted"])

    e2e, extra = end_to_end(h, wl, work, staged)
    print(f"workload {wl}  seed {a.seed}  cores {cores}  trace {a.trace}  "
          f"timed {h['timed_wall_s']:.2f} s  rounds {h['rounds']}  "
          f"samples {', '.join(f'{k} {len(v)}' for k, v in h['ops'].items())}  "
          f"cpu steal {steal:.1%}")
    for k, v in {**e2e, **extra, "error_rate": failed / attempted}.items():
        alias = f" (= {READ_ALIAS[k]})" if wl == "lake_ingest" and k in READ_ALIAS else ""
        print(f"  {k:28s} {v:14.4f} {UNITS[k]}{alias}")
    for b in bad:
        print(f"  FAILED {b}")
    if a.trace:
        metrics = per_layer(h, wl, work, cores, extra, staged)
        for k, v in metrics.items():
            print(f"  {k:36s} {v:14.4f} {layer_unit(k)}")
        overhead(wl, e2e)
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        if not bad:
            hist = BUILD / "history"
            hist.mkdir(exist_ok=True)
            with open(hist / f"{wl}.jsonl", "a") as f:
                f.write(json.dumps(e2e) + "\n")
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if failed == 0 else 1


UNITS = {"setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s",
         "peak_heap_mb": "MB", "live_heap_mb": "MB", "ingest_rows_per_s": "rows/s", "commit_p50_s": "s",
         "commit_max_s": "s", "bytes_stored_per_user_byte": "ratio", "error_rate": "ratio"}
# on lake_ingest the queries are the concurrent reader's snapshot reads
READ_ALIAS = {"queries_per_s": "reads_per_s", "query_p50_s": "read_p50_s",
              "query_tail_s": "read_tail_s"}


def layer_unit(k):
    if k.endswith("_per_s"):
        return "rows/s"
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if k.endswith(("_per_batch", "_per_commit", "_per_user_byte", "_per_input_row",
                   "_per_stage", "core_util", "coverage")):
        return "ratio"
    return "count"


def overhead(wl, traced):
    """Print traced minus untraced end-to-end numbers, against the median of
    this checkout's earlier untraced runs of the workload."""
    f = BUILD / "history" / f"{wl}.jsonl"
    rows = [json.loads(l) for l in f.read_text().splitlines()] if f.exists() else []
    if not rows:
        print("  tracing overhead: no untraced run of this workload in this checkout yet")
        return
    for k in traced:
        past = [r[k] for r in rows if k in r]
        if not past:
            continue
        base = statistics.median(past)
        print(f"  overhead {k:24s} {traced[k] - base:+12.4f} {UNITS[k]} "
              f"({(traced[k] - base) / base:+.1%} of {base:.4f}, {len(past)} untraced runs)")


if __name__ == "__main__":
    sys.exit(main())
