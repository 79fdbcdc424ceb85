"""Turns one harness run record (the JSON `iotperf.Main` writes) into the
benchmark's metrics. Pure functions over plain data, so the helpers the
numbers depend on are tested in `test_metrics.py`.

Times in the record are epoch milliseconds with a fractional part, on one
clock shared by ops, spans and Spark's listener events.
"""
import math
import statistics

WRITE_KINDS = {"ingest", "insert", "update", "delete", "write"}
READ_KINDS = {"range", "lookup", "rollup", "resample"}


def percentile(values, q, min_beyond=10):
    """The q-th percentile (nearest rank) of `values`, or None when fewer
    than `min_beyond` samples lie beyond it: p90 needs 100 samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
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


def job_split(t0, t1, jobs):
    """(job_ms, gap_ms) of an op spanning [t0, t1]: the time some Spark job
    ran, and the rest, in which the driver worked with no job running.
    The two add up to the op's wall time."""
    busy = union_ms([(j["start"], j["end"]) for j in jobs], t0, t1)
    return busy, (t1 - t0) - busy


def self_times(spans):
    """{span id: self ms}: a span's duration minus the part of it its
    child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(kids, s["start"], s["end"])
    return out


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _in(t, lo, hi):
    return lo <= t < hi


def end_to_end(raw):
    """The end-to-end metrics, plus (attempted, failed) op counts."""
    ops = [o for o in raw["ops"] if not o["discard"]]
    done = [o for o in ops if o["ok"]]
    wall_s = (max(o["t1"] for o in ops) - min(o["t0"] for o in ops)) / 1000.0
    lat = [o["wall_ms"] for o in done]
    m = {
        "op_ms_p50": (median(lat), "ms"),
        "ops_per_s": (len(done) / wall_s, "1/s"),
        "stored_bytes_per_row": (raw["stored_bytes"] / max(1, raw["user_rows"]), "B/row"),
        "setup_s": (median(raw["setup_s"]), "s"),
    }
    return m, len(ops), len(ops) - len(done)


# Reached only by workloads that run a change-feed stream (and, among
# them, only live_views updates and deletes): reported when a stream ran.
STREAM_ONLY = ("streaming.", "catalog.update_ms_p50", "catalog.delete_ms_p50",
               "catalog.hit_probe_ms_per_op")


def per_layer(raw):
    """The per-layer metrics of a traced run. A metric whose layer the
    workload never reaches reads 0; the STREAM_ONLY ones are left out when
    no stream ran."""
    ops = [o for o in raw["ops"] if not o["discard"] and o["ok"]]
    jobs = [j for j in raw["jobs"] if j["end"] >= 0]
    spans = raw["spans"]
    lo, hi = min(o["t0"] for o in ops), max(o["t1"] for o in ops)

    def op_jobs(o):
        return [j for j in jobs if _in(j["start"], o["t0"], o["t1"])]

    per_op = [(o, op_jobs(o)) for o in ops]

    def per_op_mean(f):
        return mean([f(o, js) for o, js in per_op])

    def label_ms(prefix):
        return per_op_mean(lambda o, js: sum(
            j["end"] - j["start"] for j in js if j["desc"].startswith(prefix)))

    def span_p50(name):
        return median([s["end"] - s["start"] for s in spans
                       if s["name"] == name and _in(s["start"], lo, hi)])

    def kind_p50(kind):
        return median([o["wall_ms"] for o in ops if o["kind"] == kind])

    def phase_ms(name):
        return per_op_mean(lambda o, js: sum(
            p["end"] - p["start"] for p in raw["phases"]
            if p["name"] == name and _in(p["start"], o["t0"], o["t1"])))

    writes = [o for o in ops if o["kind"] in WRITE_KINDS]
    reads = [(o, js) for o, js in per_op if o["kind"] in READ_KINDS]
    commits = sum(o.get("commits", 0) for o in ops)
    folds = [s for s in spans if s["name"] == "streaming.fold" and _in(s["start"], lo, hi)]
    fold_jobs = [j for j in jobs if any(_in(j["start"], s["start"], s["end"]) for s in folds)]
    batches = [p for p in raw["progress"]
               if _in(p["at"], lo, hi) and p["start_offset"] != p["end_offset"]]

    def progress_p50(key):
        return median([p["durations"].get(key, 0) for p in batches])

    def versions(p):
        try:
            return int(p["end_offset"]) - int(p["start_offset"])
        except ValueError:
            return 0

    calib = mean([median(raw["calib_first_ms"]), median(raw["calib_last_ms"])])
    op_p50 = median([o["wall_ms"] for o in ops])
    self_ms = self_times(spans)
    roots = [s for s in spans if s["parent"] == 0 and s["op"] >= 0 and _in(s["start"], lo, hi)]

    m = {
        "catalog.insert_ms_p50": (span_p50("catalog.insert"), "ms"),
        "catalog.upsert_ms_p50": (span_p50("catalog.upsert"), "ms"),
        "catalog.update_ms_p50": (span_p50("catalog.update"), "ms"),
        "catalog.delete_ms_p50": (span_p50("catalog.delete"), "ms"),
        "catalog.table_ms_p50": (span_p50("catalog.table"), "ms"),
        "catalog.stage_ms_per_op": (label_ms("graft: stage"), "ms"),
        "catalog.hit_probe_ms_per_op": (per_op_mean(lambda o, js: sum(
            j["end"] - j["start"] for j in js if "hit probe" in j["desc"])), "ms"),
        "catalog.log_lists_per_op": (mean([o["log_listings"] for o in ops]), "count"),
        "catalog.version_reads_per_op": (mean([o["version_reads"] for o in ops]), "count"),
        "catalog.ckpt_reads_per_op": (mean([o["ckpt_reads"] for o in ops]), "count"),
        "catalog.size_probes_per_op": (mean([o["size_probes"] for o in ops]), "count"),
        "catalog.files_added_per_commit": (
            sum(o.get("files_added", 0) for o in ops) / max(1, commits), "count"),
        "catalog.files_removed_per_commit": (
            sum(o.get("files_removed", 0) for o in ops) / max(1, commits), "count"),
        "catalog.bytes_written_per_row_written": (
            sum(o.get("bytes_added", 0) for o in writes)
            / max(1, sum(o["rows"] for o in writes)), "B/row"),
        "catalog.live_files": (raw["live_files"], "count"),
        "dml.check_ms_per_op": (label_ms("graft: constraint check"), "ms"),
        "dml.check_jobs_per_op": (per_op_mean(lambda o, js: sum(
            1 for j in js if j["desc"].startswith("graft: constraint check"))), "count"),
        "streaming.lag_ms_p50": (median([o["t1"] - o["write_end"] for o in ops
                                         if o.get("write_end") is not None]), "ms"),
        "streaming.fold_ms_p50": (median([s["end"] - s["start"] for s in folds]), "ms"),
        "streaming.fold_jobs_per_batch": (len(fold_jobs) / max(1, len(folds)), "count"),
        "streaming.trigger_ms_p50": (progress_p50("triggerExecution"), "ms"),
        "streaming.latest_offset_ms_p50": (progress_p50("latestOffset"), "ms"),
        "streaming.planning_ms_p50": (progress_p50("queryPlanning"), "ms"),
        "streaming.wal_ms_p50": (progress_p50("walCommit"), "ms"),
        "streaming.versions_per_batch": (mean([versions(p) for p in batches]), "count"),
        "query.range_ms_p50": (kind_p50("range"), "ms"),
        "query.lookup_ms_p50": (kind_p50("lookup"), "ms"),
        "query.rollup_ms_p50": (kind_p50("rollup"), "ms"),
        "query.resample_ms_p50": (kind_p50("resample"), "ms"),
        "query.write_ms_p50": (kind_p50("write"), "ms"),
        "query.rows_read_per_row_returned": (
            sum(j["input_records"] for _, js in reads for j in js)
            / max(1, sum(o["rows"] for o, _ in reads)), "count"),
        "query.input_bytes_per_op": (per_op_mean(lambda o, js: sum(
            j["input_bytes"] for j in js)), "B"),
        "spark.jobs_per_op": (per_op_mean(lambda o, js: len(js)), "count"),
        "spark.tasks_per_op": (per_op_mean(lambda o, js: sum(j["tasks"] for j in js)), "count"),
        "spark.job_ms_per_op": (per_op_mean(lambda o, js: job_split(o["t0"], o["t1"], js)[0]), "ms"),
        "spark.driver_gap_ms_per_op": (
            per_op_mean(lambda o, js: job_split(o["t0"], o["t1"], js)[1]), "ms"),
        "spark.analysis_ms_per_op": (phase_ms("analysis"), "ms"),
        "spark.optimization_ms_per_op": (phase_ms("optimization"), "ms"),
        "spark.planning_ms_per_op": (phase_ms("planning"), "ms"),
        "spark.shuffle_bytes_per_op": (per_op_mean(lambda o, js: sum(
            j["shuffle_bytes"] for j in js)), "B"),
        "host.cpu_ms_per_op": (mean([o["cpu_ms"] for o in ops]), "ms"),
        "host.gc_ms_per_op": (mean([o["gc_ms"] for o in ops]), "ms"),
        "host.calib_ms_first": (median(raw["calib_first_ms"]), "ms"),
        "host.calib_ms_last": (median(raw["calib_last_ms"]), "ms"),
        "host.op_per_calib_p50": (op_p50 / calib, "ratio"),
        "trace.op_ms_p50": (op_p50, "ms"),
        "trace.op_self_ms_per_op": (mean([self_ms[s["id"]] for s in roots]), "ms"),
    }
    if not raw["progress"]:
        m = {k: v for k, v in m.items() if not k.startswith(STREAM_ONLY)}
    return m


def span_summary(raw):
    """Per span name: count, total ms and self ms, over the timed ops."""
    out = {}
    self_ms = self_times(raw["spans"])
    for s in raw["spans"]:
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += s["end"] - s["start"]
        e["self_ms"] += self_ms[s["id"]]
    return out
