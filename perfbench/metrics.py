"""From one harness run's raw measurements to the benchmark's metrics and
output checks. Each workload function returns (e2e, layer, checks,
attempted, failed): end-to-end metric values, per-layer metric values
(layers the workload does not touch stay 0), named pass/fail checks with
a detail string, and the operation counts."""

import json

import stats
from gen import DEDUP, jaccard

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_s", "s", "lower"),
]

# the traced run repeats these end-to-end metrics as `traced.<name>`; it
# reports the others under their per-layer names (`ingest_lines_per_s`,
# `serve_p50_s`, ...), so the tracing overhead is each traced value minus
# the untraced run's
TRACED = ("setup_s", "peak_rss_mb")
DEDUP_STEPS = ("exact", "minhash", "components", "write")
DEDUP_WORK = (("task_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
              ("gc_s", "s"), ("jobs", "count"))
STORES = ("idx_text", "idx_term", "idx_vector", "lake_vec", "lake_doc")
INDEX_SPANS = ("term_topk", "vector_topk", "text_probe",
               "term_append", "vector_append", "text_append")
SPARK = (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
         ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
         ("gc_s", "s"), ("peak_exec_mb", "MB"))

PER_LAYER = (
    [("ingest_lines_per_s", "lines/s", "higher"),
     ("ingest_commit_p50_s", "s", "lower"),
     ("ingest_commit_p99_s", "s", "lower"),
     ("dedup_docs_per_s", "docs/s", "higher"),
     ("serve_p50_s", "s", "lower"),
     ("serve_p90_s", "s", "lower"),
     ("append_p50_s", "s", "lower"),
     ("purge_s", "s", "lower"),
     ("logical_purge_s", "s", "lower"),
     ("op_failure_ratio", "ratio", "lower")]
    + [("traced." + n, u, b) for n, u, b in END_TO_END if n in TRACED]
    + [("streaming.latest_offset_s", "s", "lower"),
       ("streaming.query_planning_s", "s", "lower"),
       ("streaming.wal_commit_s", "s", "lower"),
       ("streaming.commit_offsets_s", "s", "lower"),
       ("streaming.add_batch_s", "s", "lower"),
       ("streaming.lake_bytes_per_input_byte", "ratio", "lower"),
       ("streaming.lake_files_written", "count", "lower"),
       ("streaming.batches", "count", "lower"),
       ("streaming.backlog_files_max", "count", "lower"),
       ("streaming.generator_lag_p99_s", "s", "lower"),
       ("streaming.accepted_lines", "count", "higher"),
       ("streaming.dropped_malformed", "count", "lower"),
       ("streaming.dropped_oversize", "count", "lower"),
       ("streaming.drain_lines_per_s_1core", "lines/s", "higher")]
    + [("dedup.%s.wall_s" % s, "s", "lower") for s in DEDUP_STEPS]
    + [("dedup.%s.%s" % (s, k), u, "lower") for s in DEDUP_STEPS for k, u in DEDUP_WORK]
    + [("dedup.exact_removed", "count", "higher"),
       ("dedup.pairs_out", "count", "higher"),
       ("dedup.planted_pair_recall", "ratio", "higher"),
       ("dedup.cap_cluster_recall", "ratio", "higher"),
       ("dedup.components", "count", "higher"),
       ("dedup.driver_gap_share", "ratio", "lower")]
    + [("index.%s_s" % k, "s", "lower") for k in INDEX_SPANS]
    + [("index.files_per_probe", "count", "lower"),
       ("index.driver_gap_share", "ratio", "lower")]
    + [("maintenance.%s.%s_s" % (m, s), "s", "lower")
       for m in ("purge", "logical_purge") for s in STORES]
    + [("maintenance.serve_p50_during_purge_s", "s", "lower"),
       ("maintenance.serve_p50_outside_purge_s", "s", "lower")]
    + [("spark." + k, u, "lower") for k, u in SPARK]
    + [("spark.driver_gap_s", "s", "lower"),
       ("spark.unattributed_job_s", "s", "lower"),
       ("host.cpu_steal_s", "s", "lower")]
)


def _check(checks, name, ok, detail):
    checks.append((name, bool(ok), detail))


def _spans(raw, name):
    return [s for s in raw.get("trace", {}).get("spans", []) if s["name"] == name]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def spark_layer(raw):
    """spark.* totals over every span's own work plus unattributed jobs;
    driver gap summed over root spans (those with no parent span). The
    output checks' own `check` span is left out."""
    tr = raw.get("trace", {})
    works = [s["work"] for s in tr.get("spans", []) if s["name"] != "check"]
    if tr.get("unattributed"):
        works.append(tr["unattributed"])
    out = {}
    for k, _ in SPARK:
        vals = [w[k] for w in works]
        out["spark." + k] = max(vals, default=0.0) if k == "peak_exec_mb" else sum(vals)
    out["spark.driver_gap_s"] = sum(s["driver_gap_s"] for s in tr.get("spans", [])
                                    if s["parent"] == 0 and s["name"] != "check")
    out["spark.unattributed_job_s"] = tr.get("unattributed", {}).get("job_s", 0.0)
    return out


# ---------------------------------------------------------------- s4_ingest

def ingest(raw, expect):
    checks = []
    progress = raw["progress"]
    drains = range(len(expect["drain"]))

    def drain_s(p):
        # first batch start to last commit: query start and stop left out
        bs = [b for b in progress if b["phase"] == "drain%d" % p and b["rows"] > 0]
        return (max(b["end_ms"] for b in bs) - min(b["ts_ms"] for b in bs)) / 1e3

    rates = [expect["drain"][p]["lines"] / drain_s(p) for p in drains]
    paced = [f for f in raw["paced"]["files"] if not f["warm"]]
    lat, late, n_failed, backlog = stats.open_loop(paced)

    def lake_ok(name, exp):
        lk = raw["lakes"][name]
        ok = (lk["lines"] == exp["valid"] and lk["distinct"] == exp["valid"]
              and lk["seq_min"] == exp["seq_min"] and lk["seq_max"] == exp["seq_max"]
              and lk["seq_sum"] == exp["seq_sum"])
        _check(checks, "lake_exactly_once." + name, ok,
               "lines=%d distinct=%d expected=%d" % (lk["lines"], lk["distinct"], exp["valid"]))

    for p in drains:
        lake_ok("lake_drain%d" % p, expect["drain"][p])
    if n_failed == 0:
        lake_ok("lake_paced", expect["paced"])
    parts = expect["drain"] + [expect["paced"]]
    mal = sum(e["malformed"] for e in parts)
    over = sum(e["oversize"] for e in parts)
    dr = raw["drops"]
    _check(checks, "drops_by_reason", dr["malformed"] == mal and dr["oversize"] == over,
           "malformed %d/%d oversize %d/%d" % (dr["malformed"], mal, dr["oversize"], over))

    # batches from the one that committed the first timed file on
    first = min((f["batch"] for f in paced if f["batch"] >= 0), default=0)
    pb = [p for p in progress if p["phase"] == "paced" and p["batch"] >= first]

    def dur(batches, key):
        return stats.median([b["durations_ms"].get(key, 0) / 1e3 for b in batches]) or 0.0

    drain_add = [sum(b["durations_ms"].get("addBatch", 0) for b in progress
                     if b["phase"] == "drain%d" % p) for p in drains]
    drain_lines = sum(expect["drain"][p]["lines"] for p in drains)
    drain_task = sum(s["work"]["task_s"] for s in _spans(raw, "streaming.drain"))
    lakes = raw["lakes"]
    drain_lakes = [lakes["lake_drain%d" % p] for p in drains]
    attempted = sum(e["files"] for e in expect["drain"]) + len(paced)
    layer = {
        "ingest_lines_per_s": stats.median(rates),
        "ingest_commit_p50_s": stats.percentile(lat, 50),
        "ingest_commit_p99_s": stats.percentile(lat, 99),
        "streaming.latest_offset_s": dur(pb, "latestOffset"),
        "streaming.query_planning_s": dur(pb, "queryPlanning"),
        "streaming.wal_commit_s": dur(pb, "walCommit"),
        "streaming.commit_offsets_s": dur(pb, "commitOffsets"),
        "streaming.add_batch_s": stats.median(drain_add) / 1e3,
        "streaming.lake_bytes_per_input_byte":
            sum(lk["bytes"] for lk in drain_lakes) / sum(e["bytes"] for e in expect["drain"]),
        "streaming.lake_files_written": sum(lk["files"] for lk in drain_lakes),
        "streaming.batches": len([p for p in progress if p["phase"] != "warm"
                                  and p["rows"] > 0]),
        "streaming.backlog_files_max": backlog,
        "streaming.generator_lag_p99_s": stats.percentile(late, 99),
        "streaming.accepted_lines": sum(lk["lines"] for lk in lakes.values()),
        "streaming.dropped_malformed": dr["malformed"],
        "streaming.dropped_oversize": dr["oversize"],
        "streaming.drain_lines_per_s_1core": drain_lines / drain_task if drain_task else 0.0,
    }
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        "throughput_per_s": layer["ingest_lines_per_s"],
        "latency_s": stats.percentile(lat, 50),
    }
    return e2e, layer, checks, attempted, n_failed


# ------------------------------------------------------------- corpus_dedup

def dedup(raw, expect, corpus_path):
    checks = []
    walls = [sum(p.values()) for p in raw["passes"]]
    docs = raw["docs"]
    toks = {}
    with open(corpus_path, encoding="utf-8") as f:
        for line in f:
            d = json.loads(line)
            toks[d["doc_id"]] = d["text"].split(" ")
    pairs = {tuple(p) for p in raw["pairs"]}
    low = [p for p in pairs if jaccard(toks[p[0]], toks[p[1]]) < DEDUP["threshold"]]
    _check(checks, "pairs_above_threshold", not low,
           "%d of %d pairs below %.2f" % (len(low), len(pairs), DEDUP["threshold"]))
    planted = [tuple(p) for p in expect["planted_pairs"]]
    recall = sum(1 for p in planted if p in pairs) / len(planted) if planted else 1.0
    _check(checks, "planted_pair_recall", recall >= DEDUP["recall_floor"],
           "%.4f (floor %.2f, %d pairs)" % (recall, DEDUP["recall_floor"], len(planted)))
    cap = [tuple(p) for p in expect["cap_pairs"]]
    cap_recall = sum(1 for p in cap if p in pairs) / len(cap) if cap else 1.0
    removed = docs - raw["exact_kept"]
    _check(checks, "exact_removed", removed == expect["exact_removed"],
           "%d (expected %d)" % (removed, expect["exact_removed"]))
    _check(checks, "one_doc_per_component", raw["out_rows"] == raw["out_expected"],
           "%d rows (expected %d)" % (raw["out_rows"], raw["out_expected"]))
    _check(checks, "corpus_size", docs == expect["docs"], "%d docs" % docs)
    layer = {
        "dedup_docs_per_s": docs / stats.median(walls),
        "dedup.exact_removed": removed,
        "dedup.pairs_out": len(pairs),
        "dedup.planted_pair_recall": recall,
        "dedup.cap_cluster_recall": cap_recall,
        "dedup.components": raw["components"],
    }
    passes = _spans(raw, "dedup.pass")
    if passes:
        layer["dedup.driver_gap_share"] = (sum(s["driver_gap_s"] for s in passes)
                                           / sum(s["wall_s"] for s in passes))
    for s in DEDUP_STEPS:
        layer["dedup.%s.wall_s" % s] = stats.median([p[s] for p in raw["passes"]])
        spans = _spans(raw, "dedup." + s)
        for k, _ in DEDUP_WORK:
            layer["dedup.%s.%s" % (s, k)] = _mean([sp["work"][k] for sp in spans])
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        "throughput_per_s": layer["dedup_docs_per_s"],
        "latency_s": stats.median(walls),
    }
    return e2e, layer, checks, len(walls), 0


# ----------------------------------------------------- index_serve_takedown

def index(raw, expect):
    checks = []
    reader, writer = raw["reader"], raw["writer"]
    purges = [w for w in writer if w["kind"] in ("purge", "logical_purge")]
    for w in writer:
        ok = w["ok"] and w.get("complete", True)
        _check(checks, "%s_%s" % (w["kind"], w.get("batch", w.get("victims"))), ok,
               "; ".join(w["errors"]) or ("complete" if "complete" in w else "ok"))
    violations = []
    for r in reader:
        for p in purges:
            if p["ok"] and r["start_ms"] > p["end_ms"]:
                hit = set(r["ids"]) & set(p["victims"])
                if hit:
                    violations.append((r["kind"], r["query"], sorted(hit)))
    _check(checks, "no_victim_after_purge", not violations,
           "%d probes returned purged ids %s" % (len(violations), violations[:3]))
    # every victim's own text and vector find it in each family before the
    # window, so the probe after it is a real test; after it, no family
    # returns any victim
    victims = {v for vs in expect["victims"] for v in vs}
    missed = {f: sorted(victims - {q for q, r in ps if q == r})
              for f, ps in raw["victim_probe_before"].items()}
    _check(checks, "victims_found_before", not any(missed.values()),
           "not found: %s" % missed)
    left = {f: sorted({r for _, r in ps} & victims)
            for f, ps in raw["victim_probe_after"].items()}
    _check(checks, "victims_gone_after", not any(left.values()), "still found: %s" % left)
    _check(checks, "both_purge_modes", {p["kind"] for p in purges} == {"purge", "logical_purge"},
           "%d purges" % len(purges))

    lat, _ = stats.closed_loop(reader)
    _, n_failed = stats.closed_loop(reader + writer)
    # probes that ended before the maintenance window opened served alone;
    # the others waited for it
    w_start, w_end = raw["maintenance_ms"]
    alone = [r for r in reader if r["ok"] and r["end_ms"] <= w_start]
    waited = [r for r in reader if r["ok"] and r["end_ms"] > w_start]

    def walls(kind):
        return [w["wall_s"] for w in writer if w["kind"] == kind and w["ok"]]

    layer = {
        "serve_p50_s": stats.percentile(lat, 50),
        "serve_p90_s": stats.percentile(lat, 90),
        "append_p50_s": stats.median(walls("append")),
        "purge_s": stats.median(walls("purge")),
        "logical_purge_s": stats.median(walls("logical_purge")),
        "maintenance.serve_p50_during_purge_s": stats.median([r["wall_s"] for r in waited]),
        "maintenance.serve_p50_outside_purge_s": stats.median([r["wall_s"] for r in alone]),
    }
    for mode in ("purge", "logical_purge"):
        for s in STORES:
            layer["maintenance.%s.%s_s" % (mode, s)] = stats.median(
                [p["stores"].get(s.replace("_", ".", 1), 0.0) for p in purges
                 if p["kind"] == mode and p["ok"]])
    probe_spans = []
    for k in INDEX_SPANS:
        spans = _spans(raw, "index." + k)
        layer["index.%s_s" % k] = stats.median([s["wall_s"] for s in spans])
        if k.endswith(("topk", "probe")):
            probe_spans += spans
    if probe_spans:
        layer["index.files_per_probe"] = _mean([s["work"]["files_read"] for s in probe_spans])
        layer["index.driver_gap_share"] = (sum(s["driver_gap_s"] for s in probe_spans)
                                           / sum(s["wall_s"] for s in probe_spans))
    changed = expect["appended"] + sum(len(v) for v in expect["victims"])
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        # documents appended or taken down per second of the window
        "throughput_per_s": changed / ((w_end - w_start) / 1e3),
        "latency_s": stats.family_mean([(r["kind"], r["wall_s"]) for r in alone]),
    }
    return e2e, layer, checks, len(reader) + len(writer), n_failed


def evaluate(workload, raw, expect, input_dir):
    """(e2e, layer, checks, attempted, failed) for one run of `workload`,
    with the values every workload shares filled in."""
    if workload == "s4_ingest":
        e2e, layer, checks, attempted, failed = ingest(raw, expect)
    elif workload == "corpus_dedup":
        e2e, layer, checks, attempted, failed = dedup(
            raw, expect, "%s/corpus.json" % input_dir)
    else:
        e2e, layer, checks, attempted, failed = index(raw, expect)
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    layer["op_failure_ratio"] = stats.failure_ratio(attempted, failed)
    if raw.get("trace"):
        layer.update(spark_layer(raw))
        for n in TRACED:
            layer["traced." + n] = e2e[n]
    return e2e, layer, checks, attempted, failed


def render(values, table):
    """Every metric of `table` with its unit; absent or None values are 0
    (the layer did not run), non-finite latencies the failure sentinel."""
    return {name: {"value": stats.finite(values.get(name)), "unit": unit}
            for name, unit, _ in table}
