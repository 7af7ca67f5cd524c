"""Reduce one run's operation record to the benchmark's metrics.

End-to-end metrics are the same five for every workload, so that each
workload reports all of them. Latency is summarised per operation class
(never one median over a multimodal mix) and the classes are combined by
geometric mean, which weights each class's relative change equally.
Per-layer metrics are reported under fixed names on every workload;
a layer the workload never calls reads 0.
"""
import glob
import math
import re
import sys
import time

import stats

WORKLOADS = ("ingest", "api", "curation")
CURATION = {"q302": "q302_exact_substr_dedup", "q73": "q73_curation_full",
            "q101": "q101_bm25_retrieval", "q19": "q19_ngram_jaccard"}
CLASSES = {
    "ingest": ("append", "fresh_read"),
    "api": ("lookup", "dashboard", "anomaly", "forecast"),
    "curation": tuple(CURATION.values()),
}
API_CLASSES = CLASSES["api"]

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("retained_heap_mb", "MB", "lower"),
]

PER_LAYER = [
    # the workloads' own figures, per class
    ("ingest_rows_per_s", "rows/s", "higher"),
    ("append_p50_ms", "ms", "lower"),
    ("append_p90_ms", "ms", "lower"),
    ("fresh_read_p50_ms", "ms", "lower"),
    ("api_req_per_s", "1/s", "higher"),
    ("lookup_p50_ms", "ms", "lower"),
    ("lookup_p90_ms", "ms", "lower"),
    ("dashboard_p50_ms", "ms", "lower"),
    ("anomaly_p50_ms", "ms", "lower"),
    ("forecast_p50_ms", "ms", "lower"),
    ("curation_pass_s", "s", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    # EnergyIngest -> SnapshotTable.append / compact
    ("ingest.write_job_ms", "ms", "lower"),
    ("snapshot.commit_ms", "ms", "lower"),
    ("snapshot.commit_growth", "ratio", "lower"),
    ("ingest.jobs_per_append", "count", "lower"),
    ("ingest.tasks_per_append", "count", "lower"),
    ("snapshot.bytes_written_per_input_byte", "ratio", "lower"),
    ("snapshot.files_live", "count", "lower"),
    ("snapshot.manifest_bytes", "bytes", "lower"),
    ("snapshot.compact_ms", "ms", "lower"),
    ("snapshot.compact_bytes_rewritten", "bytes", "lower"),
    ("ingest.reject_ratio", "ratio", "lower"),
    # SnapshotTable.read
    ("snapshot.read.plan_ms", "ms", "lower"),
    ("snapshot.read.files_scanned_ratio", "ratio", "lower"),
]
for _c in API_CLASSES:
    PER_LAYER += [(f"api.{_c}.{k}_ms", "ms", "lower") for k in ("build", "plan", "exec")]
    PER_LAYER += [(f"api.{_c}.{k}", "count", "lower") for k in ("jobs", "stages", "tasks")]
PER_LAYER += [("api.lookup.rows_read_per_row_returned", "ratio", "lower"),
              ("api.executor_busy_ratio", "ratio", "higher")]
for _q in CURATION:
    PER_LAYER += [(f"curation.{_q}.{k}_ms", "ms", "lower") for k in ("build", "plan", "exec")]
    PER_LAYER += [(f"curation.{_q}.{k}", u, "lower") for k, u in (
        ("build_jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_cpu_ms", "ms"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("persisted_rdds_left", "count"))]
PER_LAYER += [("curation.executor_busy_ratio", "ratio", "higher")]
UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def setup_seconds(record):
    s = record["setup"]
    return (s["generate_s"] + s["session_s"] + s.get("prepare_s", 0.0)
            + s["warmup_s"])


def by_class(ops):
    out = {}
    for op in ops:
        out.setdefault(op["class"], []).append(op)
    return out


def end_to_end(record, ops):
    classes = CLASSES[record["workload"]]
    lat = by_class(ops)
    missing = [c for c in classes if c not in lat]
    if missing:
        raise ValueError(f"no measured operations of class {missing}")
    p50 = [stats.median([o["ms"] for o in lat[c]]) for c in classes]
    return {
        "setup_s": setup_seconds(record),
        "ops_per_s": len(ops) / (record["measured_ms"] / 1000.0),
        "op_p50_ms": stats.geomean(p50),
        "retained_heap_mb": record["retained_heap_mb"],
    }


def workload_figures(record, ops):
    """The per-class figures a user of each workload reads, each with the
    number of samples behind it."""
    w = record["workload"]
    secs = record["measured_ms"] / 1000.0
    ms = {c: [o["ms"] for o in v] for c, v in by_class(ops).items()}

    def cls(c, value):
        return value(ms[c]) if c in ms else 0.0, len(ms.get(c, []))

    if w == "ingest":
        return {
            "ingest_rows_per_s": (sum(o["values"].get("raw_rows", 0.0) for o in ops) / secs,
                                  len(ms.get("append", []))),
            "append_p50_ms": cls("append", stats.median),
            "append_p90_ms": cls("append", lambda xs: stats.percentile(xs, 90)),
            "fresh_read_p50_ms": cls("fresh_read", stats.median),
        }
    if w == "api":
        return {
            "api_req_per_s": (len(ops) / secs, len(ops)),
            "lookup_p50_ms": cls("lookup", stats.median),
            "lookup_p90_ms": cls("lookup", lambda xs: stats.percentile(xs, 90)),
            "dashboard_p50_ms": cls("dashboard", stats.median),
            "anomaly_p50_ms": cls("anomaly", stats.median),
            "forecast_p50_ms": cls("forecast", stats.median),
        }
    passes = record["extra"]["pass_s"]
    return {"curation_pass_s": (stats.median(passes), len(passes))}


def per_layer(record, ops):
    w = record["workload"]
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m.update({k: v for k, (v, _) in workload_figures(record, ops).items()})
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    classes = CLASSES[w]
    tc, pc = by_class(traced), by_class(plain)
    if all(c in tc and c in pc for c in classes):
        m["trace.overhead_ms"] = (
            stats.geomean([stats.median([o["ms"] for o in tc[c]]) for c in classes])
            - stats.geomean([stats.median([o["ms"] for o in pc[c]]) for c in classes]))
    reads = [o["layers"]["SnapshotTable.read"] for o in traced
             if "SnapshotTable.read" in o["layers"]]
    m["snapshot.read.plan_ms"] = _median(reads)
    cores = record["host"]["cores"]
    extra = record["extra"]
    if w == "ingest":
        appends = tc.get("append", [])
        commit = [o["layers"]["SnapshotTable.append"]
                  - o["values"]["SnapshotTable.append.job_ms"] for o in appends]
        m["ingest.write_job_ms"] = _median(o["values"]["op.append.job_ms"] for o in appends)
        m["snapshot.commit_ms"] = _median(commit)
        if commit:
            k = max(1, len(commit) // 10)
            m["snapshot.commit_growth"] = _mean(commit[-k:]) / max(_mean(commit[:k]), 1e-9)
        m["ingest.jobs_per_append"] = _mean(o["values"]["jobs"] for o in appends)
        m["ingest.tasks_per_append"] = _mean(o["values"]["tasks"] for o in appends)
        raw = sum(o["values"]["raw_bytes"] for o in appends)
        if raw:
            m["snapshot.bytes_written_per_input_byte"] = (
                sum(o["values"]["bytes_written"] for o in appends) / raw)
        m["snapshot.files_live"] = float(extra["files_live"])
        m["snapshot.manifest_bytes"] = float(extra["manifest_bytes"])
        compacts = tc.get("compact", [])
        m["snapshot.compact_ms"] = _median(o["ms"] for o in compacts)
        m["snapshot.compact_bytes_rewritten"] = _mean(
            o["values"]["bytes_rewritten"] for o in compacts)
        m["ingest.reject_ratio"] = extra["reject_ratio"]
        fresh = tc.get("fresh_read", [])
        m["snapshot.read.files_scanned_ratio"] = _mean(
            o["values"]["input_files"] / o["values"]["files_live"] for o in fresh)
    elif w == "api":
        for c in API_CLASSES:
            t = tc.get(c, [])
            m[f"api.{c}.build_ms"] = _median(o["layers"]["build"] for o in t)
            m[f"api.{c}.plan_ms"] = _median(o["layers"]["plan"] for o in t)
            m[f"api.{c}.exec_ms"] = _median(o["layers"]["collect"] for o in t)
            for k in ("jobs", "stages", "tasks"):
                m[f"api.{c}.{k}"] = _mean(o["values"][k] for o in t)
        look = tc.get("lookup", [])
        returned = sum(o["values"]["rows_returned"] for o in look)
        if returned:
            m["api.lookup.rows_read_per_row_returned"] = (
                sum(o["values"]["records_read"] for o in look) / returned)
        wall = sum(o["ms"] for o in traced)
        m["api.executor_busy_ratio"] = sum(o["values"]["run_ms"] for o in traced) / (wall * cores)
    else:
        for short, q in CURATION.items():
            t = tc.get(q, [])
            for k, layer in (("build", "build"), ("plan", "plan"), ("exec", "exec")):
                m[f"curation.{short}.{k}_ms"] = _median(o["layers"][layer] for o in t)
            m[f"curation.{short}.build_jobs"] = _mean(o["values"]["build.jobs"] for o in t)
            for k, v in (("stages", "stages"), ("tasks", "tasks"),
                         ("executor_cpu_ms", "cpu_ms"),
                         ("shuffle_write_bytes", "shuffle_write_bytes"),
                         ("spill_bytes", "spill_bytes"),
                         ("persisted_rdds_left", "persisted_rdds_left")):
                m[f"curation.{short}.{k}"] = _mean(o["values"][v] for o in t)
        wall = sum(o["ms"] for o in traced)
        m["curation.executor_busy_ratio"] = sum(o["values"]["run_ms"] for o in traced) / (wall * cores)
    return m


def check_curation(record, input_dir):
    """Each query's written output against its oracle SQL in DuckDB over
    the generated documents table. Returns {query: error or ""}."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{input_dir}/duckdb_tmp'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{input_dir}/documents.parquet')")
    verdict = {}
    for q, sql in record["extra"]["oracle_sql"].items():
        out = record["extra"]["outputs"][q]
        t0 = time.time()
        try:
            if not glob.glob(f"{out}/*.parquet"):
                raise ValueError("no output written")
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            exp = con.execute(materialized(sql))
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
            verdict[q] = compare(got_cols, got_rows, exp_cols, exp_rows)
        except Exception as e:  # a failed oracle is a failed check
            verdict[q] = f"{type(e).__name__}: {e}"[:300]
        print(f"perfbench: oracle {q} {time.time() - t0:.1f}s", file=sys.stderr)
    return verdict


CTE = re.compile(r"(?m)^(WITH RECURSIVE |WITH |)(\w+) AS \(")


def materialized(sql):
    """The oracle with every non-recursive CTE marked MATERIALIZED.

    DuckDB 1.0 inlines a CTE at each reference, so a chain of CTEs that
    each reference the previous one twice re-evaluates exponentially
    (the q73 oracle took 17 s on 250 documents, 0.4 s materialized).
    Materializing changes evaluation only, never the result.
    """
    heads = list(CTE.finditer(sql))
    out, last = [], 0
    for i, m in enumerate(heads):
        body_end = heads[i + 1].start() if i + 1 < len(heads) else len(sql)
        recursive = re.search(rf"\b{m.group(2)}\b", sql[m.end():body_end])
        out.append(sql[last:m.start()])
        out.append(m.group(0) if recursive
                   else f"{m.group(1)}{m.group(2)} AS MATERIALIZED (")
        last = m.end()
    return "".join(out) + sql[last:]


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "\0" if v is None else str(v)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """"" when the two relations hold the same rows (column order and row
    order ignored, floats to 1e-9 relative), else what differs."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows != oracle {len(exp_rows)}"
    order = sorted(exp_cols)
    gi = [got_cols.index(c) for c in order]
    ei = [exp_cols.index(c) for c in order]
    g = sorted((tuple(r[i] for i in gi) for r in got_rows), key=lambda r: [_canon(x) for x in r])
    e = sorted((tuple(r[i] for i in ei) for r in exp_rows), key=lambda r: [_canon(x) for x in r])
    for rg, re_ in zip(g, e):
        if not all(_same(x, y) for x, y in zip(rg, re_)):
            return f"row {rg} != oracle {re_}"[:300]
    return ""


def reduce(record, trace, oracle):
    """(result object, human-readable lines) for one run."""
    w = record["workload"]
    ops = [o for o in record["ops"] if o["phase"] == "measure"]
    failed_q = {q for q, err in oracle.items() if err}
    failed = sum(1 for o in ops if not o["ok"] or o["class"] in failed_q)
    errors = [f"{o['class']}: {o['error']}" for o in ops if not o["ok"]]
    errors += [f"{q}: oracle mismatch: {err}" for q, err in oracle.items() if err]
    errors += [f"warm-up {o['class']}: {o['error']}" for o in record["ops"]
               if o["phase"] != "measure" and not o["ok"]]
    if w == "ingest":
        got, want = record["extra"]["reject_ratio"], record["extra"]["expected_reject_ratio"]
        if got != want:
            errors.append(f"reject ratio {got} != generator's {want}")
    metrics = per_layer(record, ops) if trace else end_to_end(record, ops)
    correct = not errors and bool(ops)
    result = {"correct": correct, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}
    host = record["host"]
    lines = [f"# host: nproc={host['cores']} master={host['master']} "
             f"spark={host['spark']} jdk={host['jdk']} "
             f"driver_heap_max_mb={host['driver_heap_max_mb']}",
             f"# workload={w} measured={record['measured_ms'] / 1000:.2f}s "
             f"ops={len(ops)} failed={failed} "
             f"setup={ {k: round(v, 3) for k, v in record['setup'].items()} }"]
    if w == "api":
        lines.append(f"#   readings table: {record['extra']['rows']} raw rows, "
                     f"{record['extra']['valid_rows']} valid")
    for k, (v, n) in workload_figures(record, ops).items():
        lines.append(f"#   {k} = {v:.4g} {UNITS[k]} (n={n})")
    for c, v in by_class(ops).items():
        xs = [o["ms"] for o in v]
        p, t = stats.tail(xs)
        lines.append(f"#   class {c}: n={len(xs)} min={min(xs):.1f}ms "
                     f"p50={stats.median(xs):.1f}ms p{p:g}={t:.1f}ms")
    lines += [f"# error: {e}" for e in errors[:20]]
    return result, lines
