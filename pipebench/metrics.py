"""Metric arithmetic of the benchmark: medians, self times, and the
end-to-end and per-layer metrics derived from one run document written by
`pipebench/scala/PipeBench.scala`.

The catalogues below are the single list of metric names and units; the
self-tests check that `BENCHMARK.json` names exactly these.
"""

import statistics

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("write_amp", "ratio", "lower"),
    ("rss_peak_mb", "MB", "lower"),
]

PIPELINE = ["full_reload", "daily_increment"]
STREAM_QUERIES = ["t2_streaming_merge", "t10_streaming_components", "t11_streaming_asof",
                  "t12_streaming_bm25", "t14_streaming_ivfpq"]
EXT_QUERIES = ["x_graph_e2e", "x_pagerank_weighted_bucketed", "x_ann_ivfpq",
               "x_ann_ivfpq_stored", "x_dedup_resolution", "x_semantic_dedup"]

BRONZE = [("bronze.s", "s"), ("bronze.jobs", "count"),
          ("bronze.input_bytes_per_lake_byte", "ratio"), ("bronze.output_bytes", "bytes"),
          ("bronze.rejected_ratio", "ratio")]
SILVER = [("silver.stg_locations_s", "s"), ("silver.stg_sensors_s", "s"),
          ("silver.stg_measurements_s", "s"), ("silver.rows_scanned_per_fresh_row", "ratio"),
          ("silver.dedup_drop_ratio", "ratio")]
GOLD_COMMON = [("gold.dim_s", "s"), ("gold.jobs", "count"), ("gold.shuffle_bytes", "bytes"),
               ("gold.spill_bytes", "bytes"), ("gold.valid_ratio", "ratio")]
GOLD = {
    "full_reload": [("gold.mart_air_quality_s", "s"), ("gold.mart_weather_s", "s")],
    "daily_increment": [("gold.refresh_air_quality_s", "s"), ("gold.refresh_weather_s", "s"),
                        ("gold.refresh.partitions_rewritten", "count"),
                        ("gold.refresh.bytes_rewritten_per_fresh_byte", "ratio")],
}
CHECKS = [("checks.staging_s", "s"), ("checks.valid_ranges_s", "s"), ("checks.marts_s", "s"),
          ("checks.freshness_s", "s"), ("checks.jobs", "count"),
          ("checks.violations", "count")]
ENGINE = [("op.self_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
          ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
          ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
          ("spark.task_busy_ratio", "ratio")]
STREAM = [("s", "s"), ("batches", "count"), ("planning_s", "s"), ("add_batch_s", "s"),
          ("wal_commit_s", "s"), ("batch_fixed_s", "s")]
EXT = [("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes")]

# the pipeline spans whose scans re-derive silver from the whole of bronze
MART_BUILDS = {"full_reload": ["gold.mart_air_quality", "gold.mart_weather"],
               "daily_increment": ["gold.refresh_air_quality", "gold.refresh_weather"]}


def per_layer_catalogue():
    out = []
    for wl in PIPELINE:
        for name, unit in (BRONZE + SILVER + GOLD_COMMON + GOLD[wl] +
                           (CHECKS if wl == "full_reload" else []) + ENGINE):
            out.append((f"{wl}.{name}", unit))
    for q in STREAM_QUERIES:
        out += [(f"stream.{q}.{n}", u) for n, u in STREAM]
    for q in EXT_QUERIES:
        out += [(f"ext.{q}.{n}", u) for n, u in EXT]
    out += [(f"registry_mix.{n}", u) for n, u in ENGINE]
    out.append(("trace_overhead", "ratio"))
    return out


# ------------------------------------------------------------------ arithmetic

def median(values):
    return statistics.median(values)


def self_time(span, children):
    """A span's duration minus the part of it its children cover (each
    child clipped to the span; overlapping children counted once)."""
    start, end = span["start_ms"], span["end_ms"]
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(c["start_ms"], start), min(c["end_ms"], end)) for c in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start - covered) / 1000.0


def timed_metrics(doc):
    """End-to-end metrics of an untraced run. A failed op counts as
    attempted and failed and is never a latency sample."""
    ops = doc["ops"]
    ok = [o for o in ops if o.get("ok")]
    values = {"setup_s": doc["setup_s"],
              "rss_peak_mb": doc["rss_hwm_kb"] / 1024.0}
    if ok:
        values["op_s"] = median([o["wall_s"] for o in ok])
        values["cpu_s"] = median([o["cpu_s"] for o in ok])
        values["write_amp"] = median([o["bytes_written"] / o["lake_bytes"] for o in ok])
    return values, len(ops), len(ops) - len(ok)


# ------------------------------------------------------------------ traces

class Trace:
    def __init__(self, doc):
        self.spans = {s["id"]: s for s in doc["spans"]}
        self.metrics = {m["span"]: m for m in doc["span_metrics"]}
        self.children = {}
        for s in doc["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.progress = doc["progress"]
        self.cores = doc["cores"]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += [c["id"] for c in self.children.get(x, [])]
        return out

    def named(self, op, prefix):
        return [self.spans[i] for i in self.subtree(op) if self.spans[i]["name"].startswith(prefix)]

    def total(self, spans, key):
        ids = {i for s in spans for i in self.subtree(s["id"])}
        return sum(self.metrics.get(i, {}).get(key, 0) for i in ids)

    @staticmethod
    def dur(spans):
        return sum(s["end_ms"] - s["start_ms"] for s in spans) / 1000.0

    def engine(self, op):
        root = [self.spans[op]]
        wall = self.dur(root)
        return {"op.self_s": self_time(root[0], self.children.get(op, [])),
                "spark.jobs": self.total(root, "jobs"), "spark.stages": self.total(root, "stages"),
                "spark.tasks": self.total(root, "tasks"),
                "spark.input_bytes": self.total(root, "input_bytes"),
                "spark.shuffle_write_bytes": self.total(root, "shuffle_write_bytes"),
                "spark.spill_bytes": self.total(root, "spill_bytes"),
                "spark.gc_s": self.total(root, "gc_ms") / 1000.0,
                "spark.task_busy_ratio": self.total(root, "run_ms") / 1000.0 / (wall * self.cores)}

    def batches(self, span):
        return [p for p in self.progress if span["start_ms"] <= p["ts_ms"] <= span["end_ms"]]


def pipeline_layers(t, wl, sc):
    op = sc["op"]
    bronze = t.named(op, "bronze.")
    gold = t.named(op, "gold.")
    builds = [s for s in gold if s["name"] in MART_BUILDS[wl]]
    loaded = t.total(bronze, "output_records")
    one = {s["name"]: s for s in t.named(op, "")}
    v = {"bronze.s": t.dur(bronze), "bronze.jobs": t.total(bronze, "jobs"),
         "bronze.input_bytes_per_lake_byte": t.total(bronze, "input_bytes") / sc["lake_bytes"],
         "bronze.output_bytes": t.total(bronze, "output_bytes"),
         "bronze.rejected_ratio": (sc["lake_lines"] - loaded) / sc["lake_lines"],
         "silver.rows_scanned_per_fresh_row":
             t.total(builds, "input_records") / len(builds) / loaded,
         "silver.dedup_drop_ratio":
             1 - sc["stg_measurement_rows"] / sc["bronze_measurement_rows"],
         "gold.jobs": t.total(gold, "jobs"), "gold.shuffle_bytes": t.total(gold, "shuffle_write_bytes"),
         "gold.spill_bytes": t.total(gold, "spill_bytes"),
         "gold.valid_ratio": sc["valid_measurement_rows"] / sc["stg_measurement_rows"]}
    for name in ["silver.stg_locations", "silver.stg_sensors", "silver.stg_measurements",
                 "gold.dim"] + MART_BUILDS[wl]:
        v[name + "_s"] = t.dur([one[name]])
    if wl == "daily_increment":
        v["gold.refresh.partitions_rewritten"] = sum(
            sc[f"{n}.partitions_rewritten"] for n in MART_BUILDS[wl])
        v["gold.refresh.bytes_rewritten_per_fresh_byte"] = (
            t.total(builds, "output_bytes") / sc["lake_bytes"])
    else:
        for name in ["staging", "valid_ranges", "marts", "freshness"]:
            v[f"checks.{name}_s"] = t.dur([one[f"checks.{name}"]])
        v["checks.jobs"] = t.total([one["checks"]], "jobs")
        v["checks.violations"] = sum(sc["checks"].values())
    v.update(t.engine(op))
    return {f"{wl}.{k}": x for k, x in v.items()}


def registry_layers(t, sc):
    op = sc["op"]
    one = {s["name"]: s for s in t.named(op, "")}
    v = {}
    for q in STREAM_QUERIES:
        s = one[f"stream.{q}"]
        b = t.batches(s)
        ms = lambda k: sum(p["durations"].get(k, 0) for p in b) / 1000.0
        fixed = [(p["durations"].get("triggerExecution", 0) -
                  p["durations"].get("addBatch", 0)) / 1000.0 for p in b]
        v.update({f"stream.{q}.s": t.dur([s]), f"stream.{q}.batches": len(b),
                  f"stream.{q}.planning_s": ms("queryPlanning"),
                  f"stream.{q}.add_batch_s": ms("addBatch"),
                  f"stream.{q}.wal_commit_s": ms("walCommit"),
                  f"stream.{q}.batch_fixed_s": median(fixed) if fixed else 0.0})
    for q in EXT_QUERIES:
        s = one[f"ext.{q}"]
        v.update({f"ext.{q}.s": t.dur([s]), f"ext.{q}.jobs": t.total([s], "jobs"),
                  f"ext.{q}.shuffle_bytes": t.total([s], "shuffle_write_bytes")})
    v.update({f"registry_mix.{k}": x for k, x in t.engine(op).items()})
    return v


def traced_metrics(doc):
    t = Trace(doc)
    sc = doc["scenarios"]
    v = {}
    for wl in PIPELINE:
        v.update(pipeline_layers(t, wl, sc[wl]))
    v.update(registry_layers(t, sc["registry_mix"]))
    # measured on daily_increment, whose ops are the cheapest to repeat
    own = sc["daily_increment"]
    v["trace_overhead"] = t.dur([t.spans[own["op"]]]) / own["untraced_wall_s"]
    return v
