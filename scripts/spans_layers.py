#!/usr/bin/env python3
"""Where does a streaming trigger's time go? Per-`processBatch` view of a
perfbench span file.

Usage (from the repository root):

    python3 scripts/spans_layers.py SPANS.jsonl            # one run
    python3 scripts/spans_layers.py PARENT.jsonl CHANGE.jsonl

A span file is what a traced perfbench run writes
(`python3 perfbench/run.py --workload ingest_live --trace 1` leaves it at
`.bench_build/perfbench/spans-ingest_live.jsonl`). Every line is one span;
Spark jobs carry `job_id`, `stages`, `tasks` and the layer their call site
belongs to.

For each file, every `processBatch` span is printed with its Spark jobs in
start order — call site, layer, stages, tasks, ms — and the driver gap
before each job (time inside the batch not covered by any job), then a
table of per-trigger means by layer: jobs and ms for kernel, module,
renumber, append and other, the driver time, the stages, tasks and shuffle
bytes written of the batch's jobs, and `processBatch` itself.
Means are over all triggers and over the steady ones (every trigger but
the catch-up `c*` ones). The steady means are also printed per schema
(`processBatch.f144`, `processBatch.ev44`): the same table over that
schema's batches alone, one per trigger.

With two files it also prints the per-layer delta, change − parent, both
for the whole trigger and per schema, so a saving can be placed in the
layer and the schema that earned it.
"""
import json
import sys
from collections import defaultdict

LAYERS = ["kernel", "module", "renumber", "append", "other"]


def load(path):
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    return spans, {s["id"]: s for s in spans}


def batch_of(span, by_id):
    """The processBatch span enclosing `span`, or None."""
    p = by_id.get(span["parent"])
    while p is not None:
        if p["layer"] == "processBatch":
            return p
        p = by_id.get(p["parent"])
    return None


def covered_ns(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def batches(spans, by_id):
    """[(batch span, [its jobs in start order])] in start order."""
    jobs = defaultdict(list)
    for s in spans:
        if "job_id" in s:
            b = batch_of(s, by_id)
            if b is not None:
                jobs[b["id"]].append(s)
    out = [(b, sorted(jobs[b["id"]], key=lambda j: j["start_ns"]))
           for b in spans if b["layer"] == "processBatch"]
    return sorted(out, key=lambda bj: bj[0]["start_ns"])


def ms(ns):
    return ns / 1e6


def print_batches(bs):
    for b, jobs in bs:
        wall = b["end_ns"] - b["start_ns"]
        print(f"{b['op']:>4} {b['name']:<22} {ms(wall):8.1f} ms  {len(jobs)} jobs")
        at = b["start_ns"]
        for j in jobs:
            gap = max(0, j["start_ns"] - at)
            print(f"       gap {ms(gap):6.1f} ms | {j['name'][:48]:<48} {j['layer']:<8}"
                  f" {j.get('stages', 0):>2} st {j.get('tasks', 0):>3} tk"
                  f" {ms(j['end_ns'] - j['start_ns']):7.1f} ms")
            at = max(at, j["end_ns"])
        print(f"       tail {ms(max(0, b['end_ns'] - at)):5.1f} ms")


def layer_means(bs, steady_only, name=None):
    """Per-trigger means: {metric: value}; a trigger is one `op`. With
    `name`, only the batches of that span name (one schema) count."""
    sums = defaultdict(float)
    ops = set()
    for b, jobs in bs:
        if steady_only and b["op"].startswith("c"):
            continue
        if name is not None and b["name"] != name:
            continue
        ops.add(b["op"])
        wall = b["end_ns"] - b["start_ns"]
        sums["processBatch.ms"] += ms(wall)
        sums["driver.ms"] += ms(wall - covered_ns(
            [(j["start_ns"], j["end_ns"]) for j in jobs]))
        # a job's time counts once, as perfbench counts it: overlap with an
        # earlier-started job goes to the earlier one's layer
        reach = None
        for j in jobs:
            layer = j["layer"] if j["layer"] in LAYERS else "other"
            sums[f"{layer}.jobs"] += 1
            start = j["start_ns"] if reach is None else max(j["start_ns"], reach)
            sums[f"{layer}.ms"] += ms(max(0, j["end_ns"] - start))
            reach = j["end_ns"] if reach is None else max(reach, j["end_ns"])
        sums["batch.stages"] += sum(j.get("stages", 0) for j in jobs)
        sums["batch.tasks"] += sum(j.get("tasks", 0) for j in jobs)
        sums["spark.shuffle_bytes"] += sum(j.get("shuffle_bytes", 0) for j in jobs)
    n = max(len(ops), 1)
    return {k: v / n for k, v in sums.items()}, len(ops)


def metric_order():
    return ([f"{l}.jobs" for l in LAYERS] + [f"{l}.ms" for l in LAYERS]
            + ["driver.ms", "batch.stages", "batch.tasks", "spark.shuffle_bytes",
               "processBatch.ms"])


def print_means(label, means, n):
    print(f"\n{label} ({n} triggers), per trigger:")
    for k in metric_order():
        print(f"  {k:<19} {means.get(k, 0.0):9.2f}")


def print_delta(title, groups):
    """Per metric, parent / change / delta for each (label, parent means,
    change means) group, side by side."""
    print(f"== {title}")
    print(f"  {'metric':<19}" + "".join(
        f"   {label[-13:] + ' parent':>20} {'change':>9} {'delta':>9}"
        for label, _, _ in groups))
    for k in metric_order():
        cells = ""
        for _, p, c in groups:
            a, b = p.get(k, 0.0), c.get(k, 0.0)
            cells += f"   {a:20.2f} {b:9.2f} {b - a:+9.2f}"
        print(f"  {k:<19}{cells}")


def main(paths):
    if not 1 <= len(paths) <= 2:
        sys.exit(__doc__)
    runs = []
    for path in paths:
        spans, by_id = load(path)
        bs = batches(spans, by_id)
        print(f"== {path}")
        print_batches(bs)
        all_m = layer_means(bs, steady_only=False)
        steady_m = layer_means(bs, steady_only=True)
        print_means("all triggers", *all_m)
        print_means("steady triggers", *steady_m)
        per_schema = {}
        for name in sorted({b["name"] for b, _ in bs}):
            per_schema[name] = layer_means(bs, steady_only=True, name=name)
            print_means(f"steady triggers, {name}", *per_schema[name])
        print()
        runs.append((all_m[0], steady_m[0],
                     {k: m for k, (m, _) in per_schema.items()}))
    if len(runs) == 2:
        (pa, ps, pn), (ca, cs, cn) = runs
        print_delta("delta, change - parent, per trigger",
                    [("all", pa, ca), ("steady", ps, cs)])
        print_delta("delta per schema, steady triggers",
                    [(n.replace("processBatch.", ""), pn.get(n, {}), cn.get(n, {}))
                     for n in sorted(set(pn) | set(cn))])


if __name__ == "__main__":
    main(sys.argv[1:])
