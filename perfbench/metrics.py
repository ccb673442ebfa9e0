"""Arithmetic over one run's raw record: latencies, span self times, job
grouping by module, and the end-to-end and per-layer metric sets.

The raw record is the JSON file the harness (`perfbench.Main`) writes: the
set-up times, one entry per op (epoch-ns start/end, whether it was traced,
its check outcome and per-op fields), the spans recorded in traced ops and
the Spark jobs seen by the benchmark's listener.
"""
import re
import statistics

NS = 1e9

# Percentiles considered for the tail, highest last.
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)
# Modules reported in the per-layer set; jobs of any other module count
# under "other", jobs of a catalog op's serve action under "serve".
MODULES = ("PipelineOps", "TextOps", "GraphOps", "IngestionJob", "serve", "other")
# Spans whose self time is reported, keyed by span name.
SELF_SPANS = ("op", "api.job", "fetch", "build", "serve", "spark.job")

# (name, unit, better) of every metric; the order BENCHMARK.json lists them.
END_TO_END = (
    ("op_p50_s", "s", "lower"),
    ("ops_per_min", "1/min", "higher"),
    ("setup_s", "s", "lower"),
)
PER_LAYER = (
    ("ApiServer.overhead_s", "s", "lower"),
    ("Acquisition.fetch_s", "s", "lower"),
    ("Acquisition.retries", "count", "lower"),
    ("Crypto.secure_s", "s", "lower"),
    ("Crypto.secure_ms_per_row", "ms", "lower"),
    ("Upsert.keep_first_s", "s", "lower"),
    ("Upsert.new_row_ratio", "ratio", "higher"),
    ("IngestionJob.run_s", "s", "lower"),
    ("IngestionJob.commit_mb", "MB", "lower"),
    ("IngestionJob.rows_rewritten_per_new_row", "ratio", "lower"),
    ("IngestionJob.store_bytes_per_row", "B", "lower"),
    ("Catalog.build_s", "s", "lower"),
    ("Catalog.serve_s", "s", "lower"),
) + tuple(x for mod in MODULES for x in (
    (mod + ".jobs", "count", "lower"),
    (mod + ".task_s", "s", "lower"),
)) + (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.busy_ratio", "ratio", "higher"),
    ("spark.driver_idle_s", "s", "lower"),
    ("cache.mb_written", "MB", "lower"),
    ("spark.peak_cached_mb", "MB", "lower"),
) + tuple(("span.%s.self_s" % name, "s", "lower") for name in SELF_SPANS) + (
    ("session.start_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("load.repeat_share", "ratio", "higher"),
)

_FRAME_FILE = re.compile(r"\(([A-Za-z0-9_]+)\.scala:\d+\)")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """(percentile, value, n_beyond) at the highest percentile with at
    least 10 samples beyond it (nearest rank), or None below 20 samples."""
    xs = sorted(latencies)
    n = len(xs)
    best = None
    for p in TAIL_PERCENTILES:
        rank = -(-p * n // 100)  # ceil(p * n / 100)
        rank = max(1, int(rank))
        beyond = n - rank
        if beyond >= 10:
            best = (p, xs[rank - 1], beyond)
    return best


def module_of(frame):
    """Module of a `graft.` call-site frame: its source file's name."""
    m = _FRAME_FILE.search(frame or "")
    return m.group(1) if m else "other"


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def job_spans(raw, spans):
    """Each recorded job as a span `spark.job:<module>` under the span that
    submitted it. Jobs of a `serve` span group under `serve`."""
    names = {s["id"]: s["name"] for s in spans}
    out = []
    for j in raw["jobs"]:
        if j["end"] < 0:
            continue
        mod = "serve" if names.get(j["parent"]) == "serve" else module_of(j["frame"])
        out.append({"id": "job%d" % j["id"], "name": "spark.job:" + mod,
                    "parent": j["parent"], "op": j["op"], "start": j["start"],
                    "end": j["end"], "job": j})
    return out


def _root_of(span_id, by_id):
    seen = 0
    while span_id in by_id and by_id[span_id]["parent"] in by_id and seen < 64:
        span_id = by_id[span_id]["parent"]
        seen += 1
    return by_id.get(span_id)


def end_to_end(raw):
    """The end-to-end metrics of the untraced ops that passed their check,
    and the tail. With no such op the latency is None, never a fast 0."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    ok = [o for o in ops if o["ok"]]
    lat = [(o["end"] - o["start"]) / NS for o in ok]
    span = (max(o["end"] for o in ok) - min(o["start"] for o in ok)) / NS if ok else 0
    return {
        "op_p50_s": statistics.median(lat) if lat else None,
        "ops_per_min": 60.0 * len(ok) / span if span > 0 else 0.0,
        "setup_s": median(raw["setup_s"]),
    }, tail(lat)


def per_layer(raw):
    """Per-layer metrics from the traced ops of a run (see README.md)."""
    cores = raw["cpus"]
    traced = [o for o in raw["ops"] if o["traced"] and o["ok"]]
    bare = [o for o in raw["ops"] if not o["traced"] and o["ok"]]
    spans = raw["spans"]
    jspans = job_spans(raw, spans)
    all_spans = spans + jspans
    by_id = {s["id"]: s for s in all_spans}
    selfs = self_times(all_spans)

    # per op: the op span and everything under it (replays are roots)
    per_op = {o["id"]: {"op": o, "spans": [], "jobs": []} for o in traced}
    for s in all_spans:
        root = _root_of(s["id"], by_id)
        if root is None or root["name"] != "op" or root["op"] not in per_op:
            continue
        per_op[root["op"]]["spans"].append(s)
        if "job" in s:
            per_op[root["op"]]["jobs"].append(s)

    def med(f):
        vals = [v for v in (f(p) for p in per_op.values()) if v is not None]
        return median(vals)

    def wall(p):
        return (p["op"]["end"] - p["op"]["start"]) / NS

    def named(p, name):
        return [s for s in p["spans"] if s["name"] == name]

    def dur(p, name):
        ss = named(p, name)
        return sum(s["end"] - s["start"] for s in ss) / NS if ss else None

    def jobsum(p, key):
        return sum(s["job"][key] for s in p["jobs"])

    def written(p, key):
        """Output written by the jobs of the ingestion job thunk."""
        return sum(s["job"][key] for s in p["jobs"]
                   if by_id.get(s["parent"], {}).get("name") == "api.job")

    fields = lambda o, k: o["fields"].get(k)
    m = {}
    m["ApiServer.overhead_s"] = med(
        lambda p: wall(p) - dur(p, "api.job") if dur(p, "api.job") is not None else None)
    m["Acquisition.fetch_s"] = med(lambda p: fields(p["op"], "fetch_s"))
    m["Acquisition.retries"] = float(sum(o["fields"].get("retries", 0) for o in traced))
    m["Crypto.secure_s"] = med(lambda p: fields(p["op"], "secure_s"))
    m["Crypto.secure_ms_per_row"] = med(
        lambda p: 1000 * p["op"]["fields"]["secure_s"] / p["op"]["fields"]["rows_fetched"]
        if "secure_s" in p["op"]["fields"] else None)
    m["Upsert.keep_first_s"] = med(lambda p: fields(p["op"], "keep_first_s"))
    every = [o for o in raw["ops"] if o["ok"]]
    fetched = sum(o["fields"].get("rows_fetched", 0) for o in every)
    new = sum(o["fields"].get("new_rows", 0) for o in every)
    m["Upsert.new_row_ratio"] = new / fetched if fetched else 0.0
    m["IngestionJob.run_s"] = med(lambda p: dur(p, "api.job"))
    m["IngestionJob.commit_mb"] = med(lambda p: written(p, "bytes_written") / 1e6)
    traced_new = sum(p["op"]["fields"].get("new_rows", 0) for p in per_op.values())
    m["IngestionJob.rows_rewritten_per_new_row"] = (
        sum(written(p, "records_written") for p in per_op.values()) / traced_new
        if traced_new else 0.0)
    info = raw.get("info", {})
    m["IngestionJob.store_bytes_per_row"] = (
        info["store_bytes"] / info["store_rows"] if info.get("store_rows") else 0.0)
    m["Catalog.build_s"] = med(lambda p: dur(p, "build"))
    m["Catalog.serve_s"] = med(lambda p: dur(p, "serve"))
    for mod in MODULES:
        mine = lambda p: [s for s in p["jobs"] if s["name"] == "spark.job:" + mod
                          or (mod == "other" and s["name"][10:] not in MODULES)]
        m[mod + ".jobs"] = med(lambda p: float(len(mine(p))))
        m[mod + ".task_s"] = med(lambda p: sum(s["job"]["task_ms"] for s in mine(p)) / 1e3)
    m["spark.jobs"] = med(lambda p: float(len(p["jobs"])))
    m["spark.stages"] = med(lambda p: float(jobsum(p, "stages")))
    m["spark.tasks"] = med(lambda p: float(jobsum(p, "tasks")))
    m["spark.task_s"] = med(lambda p: jobsum(p, "task_ms") / 1e3)
    m["spark.shuffle_write_mb"] = med(lambda p: jobsum(p, "shuffle_write") / 1e6)
    m["spark.spill_mb"] = med(lambda p: jobsum(p, "spill") / 1e6)
    m["spark.gc_s"] = med(lambda p: jobsum(p, "gc_ms") / 1e3)
    m["spark.busy_ratio"] = med(lambda p: jobsum(p, "task_ms") / 1e3 / (wall(p) * cores))
    m["spark.driver_idle_s"] = med(lambda p: wall(p) - union_length(
        [(s["start"], s["end"]) for s in p["jobs"]],
        p["op"]["start"], p["op"]["end"]) / NS)
    m["cache.mb_written"] = med(lambda p: fields(p["op"], "cache_bytes_written")
                                and fields(p["op"], "cache_bytes_written") / 1e6)
    m["spark.peak_cached_mb"] = raw["peak_cached_bytes"] / 1e6
    for name in SELF_SPANS:
        key = "span.%s.self_s" % name
        if name == "spark.job":
            m[key] = med(lambda p: sum(selfs[s["id"]] for s in p["jobs"]) / NS)
        else:
            m[key] = med(lambda p: sum(selfs[s["id"]] for s in named(p, name)) / NS
                         if named(p, name) else None)
    lat = lambda os: median([(o["end"] - o["start"]) / NS for o in os])
    m["session.start_s"] = raw["session_start_s"]
    m["trace.overhead_s"] = lat(traced) - lat(bare) if traced and bare else 0.0
    m["load.repeat_share"] = float(info.get("repeat_share", 0.0))
    return m


def span_table(raw):
    """(name, total self s, total s) per span name over the traced ops,
    replays included: the layer shares a traced run reports."""
    spans = raw["spans"] + job_spans(raw, raw["spans"])
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0.0, 0.0])
        r[0] += selfs[s["id"]] / NS
        r[1] += (s["end"] - s["start"]) / NS
    return sorted(((k, v[0], v[1]) for k, v in rows.items()), key=lambda r: -r[1])
