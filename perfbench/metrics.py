"""Output checks and metric aggregation over the raw result the JVM side
writes. Kept free of Spark so the benchmark's tests run without a JVM."""
import json
import math
import os
import statistics

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")

# Name and unit of every metric, in BENCHMARK.json order.
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("throughput_per_s", "1/s"),
]
FAMILIES = ["analytics.relational", "text.queries", "text.unigram_lm", "dedup.queries",
            "similarity.queries", "analytics.gold", "ml.queries", "analytics.lake"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
     ("spark.cpu_util", "ratio"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.gc_s", "s"), ("spark.peak_pinned_mb", "MB"),
     ("catalog.pass_s", "s"), ("catalog.build_s", "s"), ("catalog.plan_s", "s"),
     ("catalog.exec_s", "s"), ("catalog.jobs_per_query", "count")]
    + [(f + suffix, unit) for f in FAMILIES for suffix, unit in (("_s", "s"), ("_jobs", "count"))]
    + [("pipeline.%s_s" % s, "s")
       for s in ("bronze", "silver", "audit", "audit_summary", "gold", "result_counts")]
    + [("io.bronze_mb", "MB"), ("io.silver_mb", "MB"), ("io.audit_mb", "MB"),
       ("io.gold_mb", "MB"), ("io.files_written", "count"), ("io.bytes_per_raw_byte", "ratio"),
       ("curate.docs_per_s", "1/s"), ("text.quality_gate_s", "s"), ("dedup.near_dup_s", "s"),
       ("streaming.batch_s", "s"), ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
       ("streaming.latest_offset_s", "s"), ("streaming.wal_commit_s", "s"),
       ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
       ("trace.overhead_ratio", "ratio")])

# Inputs of lake_etl and the curation probe come from seed mod VARIANTS, the
# seeds whose expected outputs are committed.
VARIANTS = 16


def tail(values, cap=0.95):
    """The highest percentile, at most `cap`, that has at least 10 samples
    beyond it, and never below the median. Returns (value, percentile)."""
    s = sorted(values)
    n = len(s)
    r = min(n - 11, math.ceil(cap * n) - 1)
    if r < (n - 1) // 2:
        return statistics.median(s), 50.0
    return s[r], 100.0 * (r + 1) / n


def load_expected(expected_dir=EXPECTED):
    """The committed expected outputs, by file name: catalog, lake_etl,
    corpus_curate."""
    return {f[:-5]: json.load(open(os.path.join(expected_dir, f)))
            for f in os.listdir(expected_dir) if f.endswith(".json")}


def check_op(seed, op, expected):
    """True when the operation ran and its output matches."""
    if op.get("error"):
        return False
    c, kind = op["check"], op["kind"]
    if kind == "query":
        e = expected["catalog"]
        want = e["queries"].get(op["name"])
        return (want is not None and c["rows"] == want["rows"] and
                (op["name"] in e["rows_only"] or c["hash"] == want["hash"]))
    if kind == "etl":
        e = expected["lake_etl"]
        want = e["variants"].get(str(seed % VARIANTS))
        return (want is not None and c["raw_rows"] == e["days"] * e["rows_per_day"] and
                all(c[k] == want[k] for k in want))
    if kind == "curate":
        return c["manifest"] == expected["corpus_curate"]["variants"].get(str(seed % VARIANTS))
    if kind == "batch":
        return c["sink_rows"] == c["expected_rows"]
    raise ValueError("unknown operation kind %s" % kind)


def throughput(ops):
    """Work over wall time, where an operation repeated under the same name
    (a catalog query, once per pass) counts once, at its median."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o)
    return (sum(statistics.median(o["items"] for o in g) for g in by_name.values()) /
            sum(statistics.median(o["wall_s"] for o in g) for g in by_name.values()))


def aggregate(raw, trace, expected):
    """The result line: correctness counts plus the end-to-end metrics
    (trace 0) or the per-layer metrics (trace 1)."""
    ops = raw["ops"]
    bad = [o for o in ops if not check_op(raw["seed"], o, expected)]
    if trace:
        layers = raw["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        good = [o for o in ops if not (o["traced"] or o["warmup"] or o.get("error"))]
        if not good:
            raise ValueError("no operation completed")
        values = {
            "setup_s": statistics.median(raw["setup_s"]),
            "latency_p50_s": statistics.median(o["wall_s"] for o in good),
            "throughput_per_s": throughput(good),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    return {"correct": not bad, "attempted": len(ops), "failed": len(bad), "metrics": metrics}
