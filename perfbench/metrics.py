"""Metric arithmetic over one run record written by the JVM harness.

Everything here is plain Python over the record, so the self-tests in
test_metrics.py can pin it without Spark.
"""
import math
import os
import re
import statistics

# The layers are the engine's modules. A Scala file belongs to the layer
# named after its package directory, except that graph/BucketedStore.scala
# is the `store` layer of its own.
LAYERS = ["query", "graph", "store", "resolve", "similarity", "ingest",
          "sinks", "dedup", "text"]
LAYER_COUNTERS = [("jobs", "count"), ("job_wall_s", "s"), ("task_s", "s"),
                  ("input_mb", "MB"), ("shuffle_mb", "MB"), ("output_mb", "MB")]
# files that appear during an operation, by the layer that writes them and
# the operation record's count
FILE_COUNTS = {"store": "warehouse_files", "sinks": "out_files"}
# the export is parsed only in set-ups, so the ingest layer has set-up
# metrics only
OP_LAYERS = [layer for layer in LAYERS if layer != "ingest"]
SETUP_CALLS = {"TaggedText.ingest"}

# public engine calls the harness makes, by the layer they enter
CALLS = {
    "AnswerService.answer": ("query", "answer"),
    "DocGraph.bucketed": ("graph", "bucketed"),
    "DocGraph.ofIngested": ("graph", "ofIngested"),
    "TaggedText.ingest": ("ingest", "ingest"),
    "GraphDump.dumpGraph": ("sinks", "dumpGraph"),
}
# registry queries of the curation chain, by the module that defines them
QUERY_LAYER = {
    "q22_quality_score": "text",
    "q125_decontaminate": "text",
    "q39_dedup_clusters": "dedup",
    "q133_semantic_dedup": "similarity",
}
CALL_METRICS = sorted({f"{layer}.call_s.{fn}" for name, (layer, fn) in CALLS.items()
                       if name not in SETUP_CALLS}
                      | {f"{layer}.call_s.queries"
                         for layer in QUERY_LAYER.values()})
FAMILIES = [f"f{i:02d}" for i in range(1, 18)]
TAIL_LADDER = [50, 75, 90, 95, 99, 99.9]

END_TO_END = [("setup_s", "s"), ("items_per_s", "1/s"), ("peak_heap_mb", "MB")]


# per-layer metrics summed over operations, reported per operation
PER_OP = ([f"{layer}.{c}" for layer in OP_LAYERS for c, _ in LAYER_COUNTERS]
          + [f"{layer}.files_written" for layer in FILE_COUNTS]
          + CALL_METRICS + ["driver_s"])


def per_layer_names():
    """Every per-layer metric with its unit, in record order."""
    out = []
    for layer in OP_LAYERS:
        out += [(f"{layer}.{c}", u) for c, u in LAYER_COUNTERS]
        if layer in FILE_COUNTS:
            out.append((f"{layer}.files_written", "count"))
    for layer in LAYERS:
        out += [(f"setup.{layer}.jobs", "count"), (f"setup.{layer}.job_wall_s", "s")]
    out += [(m, "s") for m in CALL_METRICS]
    out += [(f"graph.family_ms.{f}", "ms") for f in FAMILIES]
    out += [("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
            ("query.fallback_ratio", "ratio"), ("driver_s", "s"),
            ("store.max_files_per_table", "count"),
            ("store.leftover_mb", "MB"),
            ("sinks.dump_bytes_per_input_byte", "ratio"),
            ("session_start_s", "s"), ("op_fail_ratio", "ratio"),
            ("tracing_overhead_ratio", "ratio")]
    return out


def layer_files(src_root):
    """Map each engine source file name to its layer."""
    out = {}
    for d, _, files in os.walk(src_root):
        pkg = os.path.basename(d)
        for f in files:
            if not f.endswith(".scala"):
                continue
            if f == "BucketedStore.scala":
                out[f] = "store"
            elif pkg in LAYERS:
                out[f] = pkg
    return out


# a Scala file in a call site: ` at File.scala:12` in the short form,
# `pkg.Obj$.fn(File.scala:12)` in each frame of the long form
_SITE = re.compile(r"(?: at |\()([A-Za-z0-9_$]+\.scala):\d+")


def layer_of_site(call_site, files):
    """Layer of the first engine module named in a job's call site (short
    form first, then the long form's frames innermost first), or None."""
    for m in _SITE.finditer(call_site or ""):
        if m.group(1) in files:
            return files[m.group(1)]
    return None


def call_layer(name):
    """Layer and function name of a call span, or (None, None)."""
    if name in CALLS:
        return CALLS[name]
    if name.startswith("SparkEntry.queries."):
        layer = QUERY_LAYER.get(name[len("SparkEntry.queries."):])
        return (layer, "queries") if layer else (None, None)
    return None, None


def union_ns(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ns(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ns"] - span["start_ns"]) - union_ns(
        [(c["start_ns"], c["end_ns"]) for c in children],
        span["start_ns"], span["end_ns"])


def tail(values):
    """Highest ladder percentile with at least ten samples beyond it
    (nearest rank). Returns (percentile, value, n) or None when fewer than
    eleven samples exist."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= 10:
            best = (p, xs[rank - 1], n)
    return best


def attribute(spans, files):
    """Give each job span a layer: the engine module in its call site when
    there is one, else the layer of the call span it ran under."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        if s["kind"] != "job":
            continue
        layer = layer_of_site(s["name"], files)
        p = by_id.get(s["parent"])
        while layer is None and p is not None:
            layer = call_layer(p["name"])[0]
            p = by_id.get(p["parent"])
        out[s["id"]] = layer or "other"
    return out


def setup_spans(spans):
    """The set-up spans: top-level calls named setup0, setup1, ..."""
    return [s for s in spans if s["kind"] == "call" and s["parent"] == 0
            and s["name"].startswith("setup")]


def under(span, root_ids, by_id):
    """Whether a span descends from one of the spans in root_ids."""
    p = by_id.get(span["parent"])
    while p is not None:
        if p["id"] in root_ids:
            return True
        p = by_id.get(p["parent"])
    return False


def end_to_end(rec):
    ops = rec["ops"]
    walls_ms = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ops]
    items = [o["extra"].get("items", 1) for o in ops]
    return {
        "setup_s": statistics.median(rec["setups_s"]),
        "items_per_s": sum(items) / (sum(walls_ms) / 1e3),
        "peak_heap_mb": rec["peak_live_heap_mb"],
    }


def op_tail(rec):
    """The tail rule over operation latencies: (ms, percentile or None, n).
    With too few operations for ten beyond any ladder percentile it is the
    slowest operation."""
    walls_ms = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in rec["ops"]]
    t = tail(walls_ms)
    return (t[1], t[0], t[2]) if t else (max(walls_ms), None, len(walls_ms))


def per_layer(rec, files, leftover_mb):
    spans = rec["spans"]
    ops = rec["ops"]
    traced_ops = [o for o in ops if o["traced"]]
    op_spans = {s["op"]: s for s in spans if s["kind"] == "op"}
    n = max(1, len(op_spans))
    layer_of = attribute(spans, files)
    m = {name: 0.0 for name, _ in per_layer_names()}
    jobs = [s for s in spans if s["kind"] == "job" and s["op"] in op_spans]
    for j in jobs:
        layer = layer_of[j["id"]]
        if layer not in OP_LAYERS:
            continue
        a = j["attrs"]
        m[f"{layer}.jobs"] += 1
        m[f"{layer}.job_wall_s"] += (j["end_ns"] - j["start_ns"]) / 1e9
        m[f"{layer}.task_s"] += a["task_ns"] / 1e9
        m[f"{layer}.input_mb"] += a["input_bytes"] / 1048576.0
        m[f"{layer}.shuffle_mb"] += a["shuffle_bytes"] / 1048576.0
        m[f"{layer}.output_mb"] += a["output_bytes"] / 1048576.0
    # jobs of the set-ups, per set-up
    setups = {s["id"] for s in setup_spans(spans)}
    by_id = {s["id"]: s for s in spans}
    for j in spans:
        if j["kind"] != "job" or not under(j, setups, by_id):
            continue
        layer = layer_of[j["id"]]
        if layer in LAYERS:
            m[f"setup.{layer}.jobs"] += 1 / len(setups)
            m[f"setup.{layer}.job_wall_s"] += (j["end_ns"] - j["start_ns"]) / 1e9 / len(setups)
    for o in traced_ops:
        for layer, k in FILE_COUNTS.items():
            m[f"{layer}.files_written"] += o["extra"].get(k, 0)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["kind"] != "call" or s["op"] not in op_spans:
            continue
        layer, fn = call_layer(s["name"])
        if f"{layer}.call_s.{fn}" in m:
            m[f"{layer}.call_s.{fn}"] += self_ns(
                s, [c for c in children.get(s["id"], []) if c["kind"] == "job"]) / 1e9
    driver = 0
    for op_id, s in op_spans.items():
        js = [(j["start_ns"], j["end_ns"]) for j in jobs if j["op"] == op_id]
        driver += (s["end_ns"] - s["start_ns"]) - union_ns(js, s["start_ns"], s["end_ns"])
    m["driver_s"] = driver / 1e9
    # the sums above are over all traced operations; report them per operation
    for name in PER_OP:
        m[name] /= n
    by_family = {}
    for o in ops:
        fam = o["extra"].get("family")
        if fam:
            by_family.setdefault(f"f{int(fam):02d}", []).append(
                (o["end_ns"] - o["start_ns"]) / 1e6)
    for f, xs in by_family.items():
        m[f"graph.family_ms.{f}"] = statistics.median(xs)
    fb = [o["extra"]["fallback"] for o in ops if "fallback" in o["extra"]]
    if fb:
        m["query.fallback_ratio"] = sum(1 for x in fb if x) / len(fb)
    v = rec["values"]
    m["store.max_files_per_table"] = max(
        (o["extra"].get("max_files_per_table", 0) for o in ops), default=0)
    m["store.leftover_mb"] = leftover_mb
    if v.get("input_bytes") and ops:
        m["sinks.dump_bytes_per_input_byte"] = statistics.median(
            o["extra"].get("dump_bytes", 0) for o in ops) / v["input_bytes"]
    if ops:
        m["op_p50_ms"] = statistics.median((o["end_ns"] - o["start_ns"]) / 1e6 for o in ops)
        m["op_tail_ms"] = op_tail(rec)[0]
    m["session_start_s"] = rec["session_start_s"]
    m["op_fail_ratio"] = sum(1 for o in ops if not o["extra"].get("ok")) / max(1, len(ops))
    traced_ns = sum(o["end_ns"] - o["start_ns"] for o in traced_ops)
    if traced_ns:
        m["tracing_overhead_ratio"] = rec.get("tracing_busy_s", 0.0) * 1e9 / traced_ns
    return m
