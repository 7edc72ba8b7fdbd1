"""Regenerates the committed expected outputs in perfbench/expected/.

    python3 perfbench/make_expected.py [catalog] [lake_etl] [corpus_curate]

catalog: runs every QueryCatalog query over data/sf0.01 in two separate
JVMs. A query whose content hash differs between the two is listed under
"rows_only" and is checked by row count alone; a query whose row count
differs is an error. lake_etl / corpus_curate: runs each input variant
(seed mod metrics.VARIANTS) in one JVM and records the checked outputs,
which must agree across the repetitions of a variant. Run it only on a commit whose
outputs are known good; the benchmark trusts these files.
"""
import json
import os
import shutil
import sys

import build
import metrics
import run


def jvm_raw(args, tag):
    work = os.path.join(build.BENCH, ".work")
    d = os.path.join(work, "expect", tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    out = os.path.join(d, "raw.json")
    code = run.jvm(args + ["--work", d, "--out", out], work, os.path.join(d, "jvm.log"),
                   timeout=1800)
    if code != 0:
        sys.exit("JVM failed for %s (exit %d), see %s/jvm.log" % (tag, code, d))
    return json.load(open(out))


def write(name, doc):
    with open(os.path.join(metrics.EXPECTED, name + ".json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


def catalog():
    runs = [jvm_raw(["--mode", "expect"], "catalog_%d" % i) for i in range(2)]
    queries, rows_only = {}, []
    for a, b in zip(*(r["ops"] for r in runs)):
        if a.get("error") or b.get("error"):
            sys.exit("%s failed: %s" % (a["name"], a.get("error") or b.get("error")))
        if a["check"]["rows"] != b["check"]["rows"]:
            sys.exit("%s row count does not repeat" % a["name"])
        queries[a["name"]] = a["check"]
        if a["check"]["hash"] != b["check"]["hash"]:
            rows_only.append(a["name"])
    write("catalog", {"data": "sf0.01", "queries": queries, "rows_only": sorted(rows_only)})


def variants(workload, fields):
    raw = jvm_raw(["--mode", "expect", "--workload", workload], workload)
    out = {}
    for o in raw["ops"]:
        v, _ = o["name"].split("/", 1)
        if o.get("error"):
            sys.exit("%s variant %s failed: %s" % (workload, v, o["error"]))
        check = {k: o["check"][k] for k in fields}
        if out.setdefault(v, check) != check:
            sys.exit("%s variant %s: outputs do not repeat" % (workload, v))
    if len(out) != metrics.VARIANTS:
        sys.exit("%s: %d variants, expected %d" % (workload, len(out), metrics.VARIANTS))
    return {v: c if len(fields) > 1 else c[fields[0]] for v, c in out.items()}


def main(which):
    build.build()
    if "catalog" in which:
        catalog()
    if "lake_etl" in which:
        from_inputs = {"days": 4, "rows_per_day": 25000}
        write("lake_etl", dict(from_inputs, variants=variants(
            "lake_etl", ["bronze_rows", "silver_rows", "invalid_rows", "dq_summary"])))
    if "corpus_curate" in which:
        write("corpus_curate", {"variants": variants("corpus_curate", ["manifest"])})


if __name__ == "__main__":
    main(sys.argv[1:] or ["catalog", "lake_etl", "corpus_curate"])
