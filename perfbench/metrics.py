"""Metric arithmetic: percentiles, span self time, per-op Spark figures,
and the report and final JSON of a run. Definitions: perfbench/README.md.
"""
import json
import os
import statistics

import pyarrow.parquet as pq

PERCENTILE_LADDER = [50, 90, 99, 99.9]
MIN_BEYOND = 10

# ------------------------------------------------------------- arithmetic


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return None
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def reportable(n, p):
    """A percentile is reported only with at least MIN_BEYOND samples
    beyond it: p50 needs 20 samples, p90 needs 100."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def highest_percentile(n):
    """The highest percentile of the ladder that n samples support."""
    ok = [p for p in PERCENTILE_LADDER if reportable(n, p)]
    return ok[-1] if ok else None


def union_length(intervals):
    """Total length covered by a set of [t0, t1) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans):
    """Span id -> its duration minus the time its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(clip(kids.get(s["id"], []), s["t0"], s["t1"]))
            for s in spans}


def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    return sum(xs) / len(xs) if xs else None

# ------------------------------------------------------------------ load


def load_run(out):
    def lines(name):
        path = os.path.join(out, name)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(x) for x in f if x.strip()]
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    run.update(out=out, ops=lines("ops.jsonl"), spans=lines("spans.jsonl"), jobs=lines("jobs.jsonl"))
    return run


def family(name):
    return "".join(c for c in name.split("_")[0] if c.isalpha())

# ----------------------------------------------------------- per-op facts


def op_facts(run):
    """Per traced op: Spark jobs, tasks, job-interval union, driver gap,
    CPU, GC, shuffle and input bytes, and self time per layer."""
    spans_by_op, span_op = {}, {}
    for s in run["spans"]:
        spans_by_op.setdefault(s["op"], []).append(s)
        span_op[s["id"]] = s["op"]
    jobs_by_op = {}
    for j in run["jobs"]:
        if j["span"] in span_op:
            jobs_by_op.setdefault(span_op[j["span"]], []).append(j)
    selfs = self_times(run["spans"])
    off = run["clock_offset_ns"]
    facts = {}
    for o in run["ops"]:
        if not o["traced"] or o["phase"] != "timed":
            continue
        wall_ms = (o["t1"] - o["t0"]) / 1e6
        t0_ms, t1_ms = (o["t0"] + off) / 1e6, (o["t1"] + off) / 1e6
        jobs = jobs_by_op.get(o["i"], [])
        job_ms = union_length(clip([(j["t0_ms"], j["t1_ms"]) for j in jobs], t0_ms, t1_ms))
        layer_ms = {}
        for s in spans_by_op.get(o["i"], []):
            layer_ms[s["layer"]] = layer_ms.get(s["layer"], 0.0) + selfs[s["id"]] / 1e6
        facts[o["i"]] = {
            "wall_ms": wall_ms, "jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs),
            "job_ms": job_ms, "gap_ms": max(0.0, wall_ms - job_ms),
            "cpu_ms": sum(j["cpu_ns"] for j in jobs) / 1e6,
            "run_ms": sum(j["run_ms"] for j in jobs),
            "gc_ms": sum(j["gc_ms"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "input_bytes": sum(j["input_bytes"] for j in jobs),
            "layer_ms": layer_ms, "spans": spans_by_op.get(o["i"], []),
            "jobs_list": jobs}
    return facts

# ---------------------------------------------------------------- report

END_TO_END = ["setup_s", "ops_per_s", "op_p50_ms", "driver_heap_mb"]
LAYERS = ["op", "ingest", "lake.commit", "lake.read", "streaming", "analytics", "query"]
# The traced run's final JSON: layer figures that both workloads produce.
# Self time per module layer, which is 0 where a workload never enters
# the layer, is in the report lines.
PER_LAYER = ["spark.jobs_per_op", "spark.tasks_per_op", "spark.job_ms_per_op",
             "spark.driver_gap_ms_per_op", "spark.task_cpu_ms_per_op", "spark.gc_ms_per_op",
             "spark.shuffle_bytes_per_op", "spark.core_utilisation", "self_ms_per_op.op",
             "self_ms_per_op.calls", "lake.log_ops_per_op", "lake.record_cache_hits_per_op",
             "jvm.heap_after_gc_mb", "trace.overhead_frac", "trace.untraced_deck_spread_frac"]
# p50 per op kind, with the workload it belongs to
KIND_P50 = {"lake_write": ["append", "merge", "update", "delete"],
            "read": ["lookup", "scan", "timetravel", "cdc", "query"]}


def wall_ms(o):
    return (o["t1"] - o["t0"]) / 1e6


def log_ops(o):
    return o.get("lake_recordOpens", 0) + o.get("lake_manifestOpens", 0) + o.get("lake_logListings", 0)


class Report:
    """Metric name -> (value, unit, samples, note), in insertion order."""

    def __init__(self):
        self.rows = {}

    def put(self, name, value, unit, samples, note=""):
        self.rows[name] = (value, unit, samples, note)

    def p50(self, name, values, unit="ms"):
        """p50 under the sample rule; with fewer than 20 samples the
        median is still shown, marked as below the rule."""
        n = len(values)
        note = "" if reportable(n, 50) else f"below the {2 * MIN_BEYOND}-sample rule"
        self.put(name, percentile(values, 50), unit, n, note)

    def lines(self, prefix):
        out = []
        for name, (v, unit, n, note) in self.rows.items():
            shown = "n/a" if v is None else f"{v:.6g}"
            out.append(f"{prefix} {name} = {shown} {unit} (n={n}){' ' + note if note else ''}")
        return out


def end_to_end(workload, run, wrong, changed):
    ops = run["ops"]
    timed = [o for o in ops if o["phase"] == "timed"]
    lat = [wall_ms(o) for o in timed]
    r = Report()
    r.put("setup_s", median(run["setup_s"]), "s", len(run["setup_s"]))
    r.put("ops_per_s", len(timed) / run["elapsed_s"], "1/s", len(timed))
    r.p50("op_p50_ms", lat)
    n = len(lat)
    r.put("op_p90_ms", percentile(lat, 90) if reportable(n, 90) else None, "ms", n,
          "" if reportable(n, 90) else f"needs 100 ops; the highest percentile {n} ops "
                                       f"support is p{highest_percentile(n)}")
    r.put("fail_frac", len(wrong) / max(1, len(ops)), "fraction", len(ops))
    r.put("driver_heap_mb", run["heap_after_gc_mb"], "MB", 1)
    if workload == "lake_write":
        ing = [o for o in timed if o["kind"] == "ingest"]
        rows = sum(changed.get(o["i"], 0) for o in ing)
        r.put("ingest_rows_per_s", rows / max(1e-9, sum(wall_ms(o) for o in ing) / 1e3), "1/s", len(ing))
    for k in KIND_P50.get(workload, []):
        r.p50(f"{k}_p50_ms", [wall_ms(o) for o in timed if o["kind"] == k])
    if workload == "lake_write":
        tb, pb = run["table_bytes"], run["plain_bytes"]
        r.put("storage_amp", sum(tb.values()) / max(1, sum(pb.values())), "ratio", len(tb))
    return r


def per_layer(workload, run, changed):
    """The traced run's layer metrics: the generic set printed in the
    final JSON, and per-kind/family detail for the report."""
    facts = op_facts(run)
    ops = {o["i"]: o for o in run["ops"]}
    traced = [ops[i] for i in facts]
    n = max(1, len(traced))
    total = Report()

    def avg(key):
        return sum(f[key] for f in facts.values()) / n
    total.put("spark.jobs_per_op", avg("jobs"), "count", len(traced))
    total.put("spark.tasks_per_op", avg("tasks"), "count", len(traced))
    total.put("spark.job_ms_per_op", avg("job_ms"), "ms", len(traced))
    total.put("spark.driver_gap_ms_per_op", avg("gap_ms"), "ms", len(traced))
    total.put("spark.task_cpu_ms_per_op", avg("cpu_ms"), "ms", len(traced))
    total.put("spark.gc_ms_per_op", avg("gc_ms"), "ms", len(traced))
    total.put("spark.shuffle_bytes_per_op", avg("shuffle_bytes"), "bytes", len(traced))
    wall = sum(f["wall_ms"] for f in facts.values())
    total.put("spark.core_utilisation", sum(f["run_ms"] for f in facts.values())
              / max(1e-9, wall * run["cores"]), "fraction", len(traced))
    for layer in LAYERS:
        total.put(f"self_ms_per_op.{layer}",
                  sum(f["layer_ms"].get(layer, 0.0) for f in facts.values()) / n, "ms", len(traced))
    total.put("self_ms_per_op.calls", sum(ms for f in facts.values() for layer, ms in f["layer_ms"].items()
                                          if layer != "op") / n, "ms", len(traced),
              "inside the spans of graft's public calls")
    total.put("lake.log_ops_per_op", sum(log_ops(o) for o in traced) / n, "count", len(traced))
    total.put("lake.record_cache_hits_per_op",
              sum(o.get("lake_recordCacheHits", 0) for o in traced) / n, "count", len(traced))
    total.put("fs.bytes_written_per_op",
              sum(o["fs_bytes_written"] for o in traced) / n, "bytes", len(traced))
    total.put("jvm.heap_after_gc_mb", run["heap_after_gc_mb"], "MB", 1)
    deck_ms = {}
    for o in run["ops"]:
        if o["phase"] == "timed":
            deck_ms.setdefault((o["traced"], o["deck"]), []).append(wall_ms(o))
    on = [sum(v) for (t, _), v in deck_ms.items() if t]
    off = [sum(v) for (t, _), v in deck_ms.items() if not t]
    total.put("trace.overhead_frac", mean(on) / mean(off) - 1 if on and off else 0.0,
              "fraction", len(on) + len(off), "traced decks vs the untraced decks around them")
    total.put("trace.untraced_deck_spread_frac", (max(off) - min(off)) / mean(off) if off else 0.0,
              "fraction", len(off), "range of the untraced decks' wall times over their mean; "
                                    "an overhead inside it is not resolved")
    return total, detail(workload, run, facts, changed)


def detail(workload, run, facts, changed):
    """Per op kind, or per query family for query ops."""
    ops = {o["i"]: o for o in run["ops"]}
    d = Report()
    groups = {}
    for i in facts:
        o = ops[i]
        g = family(o["query"]) if o["kind"] == "query" else o["kind"]
        groups.setdefault(g, []).append(i)

    def span_ms(i, layer, prefix=""):
        return sum((s["t1"] - s["t0"]) / 1e6 for s in facts[i]["spans"]
                   if s["layer"] == layer and s["name"].startswith(prefix))
    for g, ids in sorted(groups.items()):
        k = len(ids)
        for key, name, unit in [("jobs", "jobs_per_op", "count"), ("tasks", "tasks_per_op", "count"),
                                ("job_ms", "job_ms_per_op", "ms"), ("gap_ms", "driver_gap_ms_per_op", "ms"),
                                ("cpu_ms", "task_cpu_ms_per_op", "ms"), ("gc_ms", "gc_ms_per_op", "ms"),
                                ("shuffle_bytes", "shuffle_bytes_per_op", "bytes")]:
            d.put(f"spark.{name}.{g}", sum(facts[i][key] for i in ids) / k, unit, k)
        d.put(f"spark.core_utilisation.{g}", sum(facts[i]["run_ms"] for i in ids)
              / max(1e-9, sum(facts[i]["wall_ms"] for i in ids) * run["cores"]), "fraction", k)
        if workload == "read":
            d.put(f"query.plan_ms.{g}", sum(span_ms(i, "query", "plan") for i in ids) / k, "ms", k)
            d.put(f"query.exec_ms.{g}", sum(span_ms(i, "query", "exec") for i in ids) / k, "ms", k)
    if workload == "lake_write":
        lake_write_detail(d, run, facts, ops, changed, span_ms)
    else:
        lake_read_detail(d, run, facts, ops, span_ms)
    return d


def cdc_rows(table_dir, version):
    """Rows of the change feed a commit wrote: every parquet file under
    the version's feed directory, counted from the footers."""
    vdir = os.path.join(table_dir, "_graft_cdc", f"v{version:08d}")
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, fs in os.walk(vdir) for f in fs if f.endswith(".parquet"))


def changed_rows(run, o, appended):
    """The base of bytes_written_per_changed_row: the CDC row count of the
    version the op committed. The events table has no change feed, so an
    append there counts the rows it appended."""
    table = run["tables"].get(o.get("table"))
    if o["kind"] == "append" or table is None or o.get("version") is None:
        return appended
    return cdc_rows(table, o["version"])


def lake_write_detail(d, run, facts, ops, changed, span_ms):
    ing = [i for i in facts if ops[i]["kind"] == "ingest"]
    if ing:
        d.put("ingest.massage_ms", mean([span_ms(i, "ingest", "massageFile") for i in ing]), "ms", len(ing))
        d.put("ingest.promote_ms", mean([span_ms(i, "ingest", "promote") for i in ing]), "ms", len(ing))
    every_ing = [o for o in run["ops"] if o["kind"] == "ingest"]
    d.put("ingest.rows_lost", sum(changed.get(o["i"], 0) - o.get("landed_rows", 0)
                                  for o in every_ing if o.get("landed_rows") is not None),
          "rows", len(every_ing), "generated minus landed, every ingest op of the run")
    by_kind = {}
    for i in facts:
        by_kind.setdefault(ops[i]["kind"], []).append(i)
    for k, ids in sorted(by_kind.items()):
        spans = [[s for s in facts[i]["spans"] if s["layer"] == "lake.commit"] for i in ids]
        d.put(f"lake.commit_ms.{k}", mean([sum((s["t1"] - s["t0"]) / 1e6 for s in ss) for ss in spans]),
              "ms", len(ids))
        commit_ids = [{s["id"] for s in ss} for ss in spans]
        d.put(f"lake.jobs_per_commit.{k}", mean([sum(1 for j in facts[i]["jobs_list"] if j["span"] in c)
                                                 for i, c in zip(ids, commit_ids)]), "count", len(ids))
        rows = sum(changed_rows(run, ops[i], changed.get(i, 0)) for i in ids)
        if rows:
            written = sum(sum(s["bytes_written"] for s in ss) for ss in spans)
            d.put(f"lake.bytes_written_per_changed_row.{k}", written / rows, "bytes/row", len(ids),
                  "base: rows appended" if k == "append" else "base: CDC rows of the version")
    ck = [i for i in facts if ops[i].get("checkpoint")]
    plain = [i for i in facts if ops[i].get("checkpoint") is False]
    for name, ids in [("lake.checkpoint_commit_ms", ck), ("lake.plain_commit_ms", plain)]:
        d.put(name, mean([span_ms(i, "lake.commit") for i in ids]), "ms", len(ids))
    d.put("lake.log_ops_per_commit", mean([log_ops(ops[i]) for i in facts]), "count", len(facts))
    hits = sum(ops[i].get("lake_recordCacheHits", 0) for i in facts)
    opens = sum(ops[i].get("lake_recordOpens", 0) + ops[i].get("lake_manifestOpens", 0) for i in facts)
    d.put("lake.record_cache_hit_ratio", hits / max(1, hits + opens), "fraction", len(facts))


def lake_read_detail(d, run, facts, ops, span_ms):
    files = dict(zip(run["versions"], run["files_per_version"]))
    head = files[run["versions"][-1]]
    by_kind = {}
    for i in facts:
        if ops[i]["kind"] != "query":
            by_kind.setdefault(ops[i]["kind"], []).append(i)
    reads = [i for k, ids in by_kind.items() if k != "cdc" for i in ids]
    d.put("lake.read_build_ms", mean([span_ms(i, "lake.read") for i in reads]), "ms", len(reads))
    for k, ids in sorted(by_kind.items()):
        if k != "cdc":
            d.put(f"scan.files_read_ratio.{k}", mean([ops[i]["scan_files"] / max(1, files.get(
                ops[i].get("version"), head)) for i in ids]), "fraction", len(ids))
        d.put(f"scan.rows_read_per_row_returned.{k}", mean([ops[i]["scan_rows"] / max(1, ops[i]["result_rows"])
                                                            for i in ids]), "ratio", len(ids))
        d.put(f"scan.bytes_read_per_op.{k}", mean([facts[i]["input_bytes"] for i in ids]), "bytes", len(ids))
    cdc = by_kind.get("cdc", [])
    d.put("streaming.cdc_bytes_read_per_op", mean([facts[i]["input_bytes"] for i in cdc]), "bytes", len(cdc))


def summarise(workload, run, wrong, changed, trace):
    """Report lines and the final JSON object of a run."""
    ops = run["ops"]
    report = [f"[perfbench] workload={workload} cores={run['cores']} timed_s={run['elapsed_s']:.3f} "
              f"decks={run['decks']}/{run['decks_planned']} session_s={run['session_s']:.3f} "
              f"prepare_s={run['prepare_s']:.3f} setup_s={run['setup_s']}",
              f"[perfbench] box: steal={run['steal']:.4f} iowait={run['iowait']:.4f} "
              f"external_cpu={run['external_cpu']:.4f} (diagnostic only)"]
    for i, why in sorted(wrong.items())[:20]:
        report.append(f"[perfbench] FAILED op {i}: {why}")
    e2e = end_to_end(workload, run, wrong, changed)
    report += e2e.lines("[perfbench] end_to_end")
    final_metrics = {m: e2e.rows[m] for m in END_TO_END}
    if trace:
        total, det = per_layer(workload, run, changed)
        report += total.lines("[perfbench] per_layer")
        report += det.lines("[perfbench] per_layer")
        final_metrics = {m: total.rows[m] for m in PER_LAYER}
    final = {"correct": not wrong, "attempted": len(ops), "failed": len(wrong),
             "metrics": {m: {"value": v[0], "unit": v[1]} for m, v in final_metrics.items()}}
    return report, final
