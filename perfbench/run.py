#!/usr/bin/env python3
"""Benchmark of the offset-ledger ingest path and the batch query layers.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload ingest_small|batch_queries --seed N \
      --seconds S --trace 0|1 [--data DIR] [--keep]

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in a JVM with Spark local[4], checks every output,
and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics of BENCHMARK.json;
--trace 1 reports its per-layer metrics from a traced run and writes the
trace file under the build directory. The line before it carries the
run record (machine, load, versions, commit, seed).
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("ingest_small", "batch_queries")
CORES = 4
HEAP = "2g"
JVM_TIMEOUT_S = 160  # the whole run must end within 180 s
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
CLASSES = ("iterative", "single_pass")


# ---------------------------------------------------------------- checks

def ledger_markers(ledger_dir: str) -> dict:
    """epoch -> marker JSON for every committed ledger row."""
    out = {}
    if os.path.isdir(ledger_dir):
        for f in os.listdir(ledger_dir):
            if f.startswith("epoch_") and f.endswith(".json"):
                with open(os.path.join(ledger_dir, f)) as fh:
                    m = json.load(fh)
                out[int(m["epoch_id"])] = m
    return out


def epoch_ids(sink: str, epoch_dir: str) -> list:
    """Event ids an epoch's sink output holds: the parquet partition,
    or the graft-kv files its _SUCCESS manifest lists."""
    if sink == "parquet":
        import pyarrow.parquet as pq
        return pq.read_table(epoch_dir, columns=["event_id"]).column("event_id").to_pylist()
    ids = []
    manifest = os.path.join(epoch_dir, "_SUCCESS")
    with open(manifest) as fh:
        for line in fh.read().split("\n"):
            if not line:
                continue
            name, rows = line.rsplit(":", 1)
            with open(os.path.join(epoch_dir, name)) as part:
                got = [int(r.split(",", 1)[0]) for r in part.read().split("\n") if r]
            if len(got) != int(rows):
                raise ValueError(f"{name}: manifest lists {rows} rows, file holds {len(got)}")
            ids += got
    return ids


def check_ingest(spec: dict, epochs: list) -> list:
    """Failures of one measured ingest run: the ledger must hold epochs
    0..K without gaps, one per committed epoch; each epoch's sink rows
    must equal its ledger n_rows and min/max; the surviving ids must
    equal the batch twin's."""
    import pyarrow.parquet as pq
    fails = []
    markers = ledger_markers(spec["ledger"])
    committed = sorted(e["epoch"] for e in epochs)
    if markers and sorted(markers) != list(range(max(markers) + 1)):
        missing = sorted(set(range(max(markers) + 1)) - set(markers))
        fails += [(e, "ledger gap") for e in missing]
    seen = set()
    for e in committed:
        m = markers.get(e)
        if m is None:
            fails.append((e, "no ledger marker"))
            continue
        try:
            ids = epoch_ids(spec["sink"], os.path.join(spec["out"], f"epoch={e}"))
        except Exception as ex:  # unreadable output is a failed epoch
            fails.append((e, f"sink output unreadable: {ex}"))
            continue
        if len(ids) != m["n_rows"]:
            fails.append((e, f"sink rows {len(ids)} != ledger n_rows {m['n_rows']}"))
        elif ids and (min(ids) != m["min_event_id"] or max(ids) != m["max_event_id"]):
            fails.append((e, "ledger min/max event id disagree with the sink rows"))
        elif seen.intersection(ids):
            fails.append((e, "event ids repeated across epochs"))
        seen.update(ids)
    if committed and not fails:
        twin = set(pq.read_table(spec["twin"]).column("doc_id").to_pylist())
        if twin != seen:
            fails.append((-1, f"surviving ids differ from the batch twin: "
                              f"{len(seen - twin)} extra, {len(twin - seen)} missing"))
    return fails


def canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def cells_equal(a, b) -> bool:
    import pandas as pd
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return str(a) == str(b)


def compare(got, want):
    """None when equal, else the first difference. Columns are sorted
    by name and values compared exactly, row by row, in result order."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        gv, wv = got[c].tolist(), want[c].tolist()
        for i in range(len(gv)):
            if not cells_equal(gv[i], wv[i]):
                return f"col={c} row={i} spark={gv[i]!r} duckdb={wv[i]!r}"
    return None


def check_batch(results_dir: str, data_dir: str) -> dict:
    """name -> failure reason for each query whose result differs from
    its oracle SQL run in DuckDB over the same parquet tables."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(os.path.join(results_dir, name))
            want = con.sql(sql).df()
        except Exception as ex:
            bad[name] = f"unreadable result or oracle error: {ex}"
            continue
        diff = compare(got, want)
        if diff:
            bad[name] = diff
    return bad


def failures(raw: dict, data_dir: str) -> tuple:
    """(attempted, {failed operation: reason}) over every timed
    operation: each query execution, or each committed epoch."""
    out = {}
    if raw["workload"] == "batch_queries":
        ops = raw["ops"] + raw.get("traced_ops", [])
        bad = check_batch(raw["check"]["results"], data_dir)
        for o in ops:
            why = o["error"] or bad.get(o["name"])
            if why:
                out[f"{o['tag']} {o['name']} pass {o['pass']} #{o['index']}"] = why
        return len(ops), out
    runs = {"m": raw["ops"], "t": raw.get("traced_ops", [])}
    if "probes" in raw:
        runs["kv"] = [{"epoch": e} for e in range(len(raw["probes"].get("kv_sink_ms", [])))]
    attempted = 0
    for tag, spec in raw["check"].items():
        epochs = runs.get(tag, [])
        attempted += len(epochs)
        for e, why in check_ingest(spec, epochs):
            out.setdefault(f"{tag} epoch {e}", why)
    return max(attempted, len(out), 1), out


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_stats(raw: dict, ops: list, tag: str) -> tuple:
    """(median op latency ms, throughput per s) of one measurement."""
    if raw["workload"] == "batch_queries":
        # both from each query's median execution, so one slow execution
        # moves them little: the median over queries, and queries per
        # second of a pass built from those medians
        lat = {}
        for o in ops:
            lat.setdefault(o["name"], []).append(o["construct_s"] + o["plan_s"] + o["exec_s"])
        per_query = [median(xs) for xs in lat.values()]
        return median(per_query) * 1000, len(lat) / sum(per_query) if per_query else 0.0
    markers = ledger_markers(raw["check"][tag]["ledger"])
    rows = sum(markers[o["epoch"]]["n_rows"] for o in ops if o["epoch"] in markers)
    wall_s = max(o["sink_end_ms"] for o in ops) / 1000 if ops else 0.0
    return median([o["trigger_ms"] for o in ops]), rows / wall_s if wall_s else 0.0


def end_to_end(raw: dict, attempted: int, failed: int) -> dict:
    p50, thr = op_stats(raw, raw["ops"], "m")
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "op_p50_ms": (p50, "ms"),
        "throughput_per_s": (thr, "items/s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
        "success_ratio": (1.0 - failed / attempted, "ratio"),
    }


def per_layer(raw: dict, layer_names: list) -> dict:
    spans = {s["id"]: s for s in raw.get("spans", [])}
    jobs = raw.get("jobs", [])
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s["id"])

    def under(root):
        """Ids of `root` and every span below it."""
        todo, seen = [root], []
        while todo:
            i = todo.pop()
            seen.append(i)
            todo += kids.get(i, [])
        return set(seen)

    def jobs_in(ids):
        return [j for j in jobs if j["span"] in ids]

    m = {n: 0.0 for n in layer_names}
    ops = raw.get("traced_ops", [])
    probes = raw.get("probes", {})
    if raw["workload"] == "batch_queries":
        for cls in CLASSES:
            qs = [s for s in spans.values() if s["name"] == "query" and s["attrs"]["class"] == cls]
            wall = sum(s["end_ms"] - s["start_ms"] for s in qs) / 1000
            phase = {p: [c for s in qs for c in kids.get(s["id"], []) if spans[c]["name"] == p]
                     for p in ("construct", "plan", "exec")}
            dur = {p: sum(spans[c]["end_ms"] - spans[c]["start_ms"] for c in ids) / 1000
                   for p, ids in phase.items()}
            js = jobs_in(set().union(*[under(s["id"]) for s in qs]) if qs else set())
            cpu = sum(j["cpu_ns"] for j in js) / 1e9
            m.update({
                f"ops.{cls}.wall_s": wall,
                f"ops.{cls}.construct_s": dur["construct"],
                f"ops.{cls}.construct_self_s": sum(spans[c]["self_ms"] for c in phase["construct"]) / 1000,
                f"ops.{cls}.plan_s": dur["plan"],
                f"ops.{cls}.exec_s": dur["exec"],
                f"ops.{cls}.construct_jobs": len(jobs_in(set(phase["construct"]))),
                f"ops.{cls}.jobs": len(js),
                f"ops.{cls}.tasks": sum(j["tasks"] for j in js),
                f"ops.{cls}.executor_cpu_s": cpu,
                f"ops.{cls}.cpu_util": cpu / (wall * CORES) if wall else 0.0,
                f"ops.{cls}.shuffle_mb": sum(j["shuffle_bytes"] for j in js) / 2**20,
                f"ops.{cls}.materialized_mb": sum(j["block_bytes"] for j in js) / 2**20,
            })
        # per named query: the mean over its traced executions
        per_query = {}
        for s in spans.values():
            if s["name"] == "query":
                phases = {spans[c]["name"]: (spans[c]["end_ms"] - spans[c]["start_ms"]) / 1000
                          for c in kids.get(s["id"], [])}
                per_query.setdefault(s["attrs"]["name"], []).append(
                    (phases.get("construct", 0.0), phases.get("exec", 0.0),
                     len(jobs_in(under(s["id"])))))
        for q, execs in per_query.items():
            for i, k in enumerate(("construct_s", "exec_s", "jobs")):
                m[f"ops.{q}.{k}"] = statistics.mean(e[i] for e in execs)
    else:
        epochs = [s for s in spans.values() if s["name"] == "epoch" and
                  spans.get(s["parent"], {}).get("name") == "workload"]
        sink_ms = [s["end_ms"] - s["start_ms"] for s in epochs]
        ep_jobs = [len(jobs_in(under(s["id"]))) for s in epochs]
        ep_blocks = [sum(j["block_bytes"] for j in jobs_in(under(s["id"]))) for s in epochs]
        trig = [o["trigger_ms"] for o in ops]
        rows = probes.get("rows", 0)
        m.update({
            "sources.docs_read_rows_per_s": rows / probes["docs_read_s"] if rows else 0.0,
            "sources.kv_write_rows_per_s": rows / probes["kv_write_s"] if rows else 0.0,
            "sources.latest_offset_ms": median([o["latest_offset_ms"] for o in ops]),
            "streaming.epochs": len(ops),
            "streaming.sink_ms_p50": median(sink_ms),
            "streaming.sink_self_ms_p50": median([s["self_ms"] for s in epochs]),
            "streaming.sink_jobs_per_epoch": median(ep_jobs),
            "streaming.sink_share": median(sink_ms) / median(trig) if trig else 0.0,
            "streaming.wal_commit_ms": median([o["wal_commit_ms"] for o in ops]),
            "streaming.commit_offsets_ms": median([o["commit_offsets_ms"] for o in ops]),
            "streaming.query_planning_ms": median([o["query_planning_ms"] for o in ops]),
            "streaming.materialized_mb_per_epoch": median(ep_blocks) / 2**20,
            "streaming.decontam_rows_per_s": rows / probes["decontam_s"] if rows else 0.0,
            "streaming.ledger_read_s": probes.get("ledger_read_s", 0.0),
            "streaming.kv_sink_ms_p50": median(probes.get("kv_sink_ms", [])),
        })
    un_p50, un_thr = op_stats(raw, raw["ops"], "m")
    tr_p50, tr_thr = op_stats(raw, ops, "t")
    m["trace.op_p50_overhead_ms"] = tr_p50 - un_p50
    m["trace.throughput_overhead_per_s"] = tr_thr - un_thr
    return m


# ------------------------------------------------------------------ run

def run_record(args, raw, load_start, load_end) -> dict:
    commit = None
    if os.path.exists(".git"):  # a plain source checkout has no commit
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    nproc = os.cpu_count()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "loadavg_start": load_start, "loadavg_end": load_end,
        "overloaded": max(load_start, load_end) > nproc,
        "java": raw.get("java_version"), "spark": raw.get("spark_version"),
        "peak_rss_mb": raw.get("peak_rss_mb"),
        "git_commit": commit, "engine_sources_sha256": build.engine_stamp(),
    }


def loadavg() -> float:
    return os.getloadavg()[0]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()

    classpath = build.build()
    load_start = loadavg()
    work = os.path.join(build.build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.abspath(args.data), "--work", work])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(f"benchmark JVM failed ({rc}):\n{tail}\n")
        return 1
    with open(os.path.join(work, "raw.json")) as fh:
        raw = json.load(fh)

    attempted, fails = failures(raw, args.data)
    for op, why in sorted(fails.items()):
        sys.stderr.write(f"FAIL {op}: {why}\n")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    record = run_record(args, raw, load_start, loadavg())
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = per_layer(raw, names)
        metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
        traces = os.path.join(build.build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"run": record, "spans": raw["spans"], "jobs": raw["jobs"],
                       "metrics": metrics}, fh)
        record["trace_file"] = trace_file
    else:
        values = end_to_end(raw, attempted, len(fails))
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in values.items()}
    if args.keep:
        record["work_dir"] = work
    else:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": record}))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
