#!/usr/bin/env python3
"""Turns a benchmark trace into the per-layer metrics and self time per span.

    python3 sybilbench/summarize.py TRACE.json          # table + JSON line

A trace (written by a --trace 1 run, see run.py --keep-trace) holds spans
around every call the benchmark makes into the program, and per Spark job
its span, start, end, tasks, executor CPU and input/output records and
bytes. Only spans inside the timed phase count, except session start,
which happens in set-up. Layers are named after the program's modules:

    session  GraftSession.local          query  GraftTable.query + the action
    ingest   Ingest.readJson, .ingest    cache  QueryCache.run
    digest   GraftTable.digest           output Printer.toJsonEnvelope
    table    GraftTable.info, .blockSegments

`query.plan_s`, `query.exec_s` and `printer.json_s` split the span around
Printer.toJsonEnvelope (which runs the action) at its first job start and
its last job end: before the first job Spark plans, between them it
executes, after the last job the rows are decoded and rendered as JSON.
"""
import json
import statistics
import sys

# name -> (unit, better); the order is the order of the output
METRICS = {
    "session.start_s": ("s", "lower"),
    "ingest.read_json_s": ("s", "lower"),
    "ingest.append_s": ("s", "lower"),
    "ingest.jobs_per_call": ("count", "lower"),
    "ingest.cpu_s": ("s", "lower"),
    "ingest.log_bytes_per_input_byte": ("ratio", "lower"),
    "digest.call_s": ("s", "lower"),
    "digest.jobs_per_call": ("count", "lower"),
    "digest.cpu_s": ("s", "lower"),
    "digest.rows_written_per_new_row": ("ratio", "lower"),
    "digest.blocks": ("count", "higher"),
    "table.info_s": ("s", "lower"),
    "table.sidecar_bytes": ("bytes", "lower"),
    "query.construct_s": ("s", "lower"),
    "query.construct_jobs": ("count", "lower"),
    "query.plan_s": ("s", "lower"),
    "query.exec_s": ("s", "lower"),
    "query.exec_jobs": ("count", "lower"),
    "query.exec_tasks": ("count", "lower"),
    "query.exec_cpu_s": ("s", "lower"),
    "query.rows_read_per_table_row": ("ratio", "lower"),
    "cache.run_s": ("s", "lower"),
    "cache.hit_blocks": ("count", "higher"),
    "cache.miss_blocks": ("count", "lower"),
    "cache.uncacheable_blocks": ("count", "lower"),
    "cache.skipped_blocks": ("count", "higher"),
    "cache.rows_read_per_table_row": ("ratio", "lower"),
    "cache.partial_bytes": ("bytes", "lower"),
    "printer.json_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def summarize(doc):
    """Return ({metric: (value, unit)}, {span name: (calls, total_s, self_s)})."""
    spans = {s["id"]: s for s in doc["spans"]}
    children = {}
    for s in doc["spans"]:
        children.setdefault(s["parent"], []).append(s)

    timed_roots = [s["id"] for s in doc["spans"] if s["name"] == "timed"]
    timed = set()
    stack = list(timed_roots)
    while stack:
        i = stack.pop()
        timed.add(i)
        stack.extend(c["id"] for c in children.get(i, []))

    def named(name, phase=True):
        return [s for s in doc["spans"] if s["name"] == name and (not phase or s["id"] in timed)]

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    jobs_of = {}
    for j in doc["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)

    def jobs_under(s):
        out, stack = [], [s]
        while stack:
            x = stack.pop()
            out.extend(jobs_of.get(x["id"], []))
            stack.extend(children.get(x["id"], []))
        return out

    def total(spans_, key):
        return sum(j[key] for s in spans_ for j in jobs_under(s))

    m = {}
    m["session.start_s"] = _median([dur(s) for s in named("GraftSession.local", phase=False)])

    reads, appends = named("Ingest.readJson"), named("GraftTable.ingest")
    calls = max(1, len(appends))
    m["ingest.read_json_s"] = _median([dur(s) for s in reads])
    m["ingest.append_s"] = _median([dur(s) for s in appends])
    m["ingest.jobs_per_call"] = sum(len(jobs_under(s)) for s in reads + appends) / calls
    m["ingest.cpu_s"] = total(reads + appends, "cpu_ns") / 1e9 / calls
    m["ingest.log_bytes_per_input_byte"] = (
        sum(s["attrs"]["log_bytes"] for s in appends) /
        max(1, sum(s["attrs"]["bytes"] for s in appends)))

    digests = named("GraftTable.digest")
    calls = max(1, len(digests))
    m["digest.call_s"] = _median([dur(s) for s in digests])
    m["digest.jobs_per_call"] = sum(len(jobs_under(s)) for s in digests) / calls
    m["digest.cpu_s"] = total(digests, "cpu_ns") / 1e9 / calls
    m["digest.rows_written_per_new_row"] = (
        total(digests, "out_records") / max(1, sum(s["attrs"]["new_rows"] for s in digests)))
    m["digest.blocks"] = _median([s["attrs"]["blocks"] for s in named("GraftTable.blockSegments")])

    infos = named("GraftTable.info")
    m["table.info_s"] = _median([dur(s) for s in infos])
    m["table.sidecar_bytes"] = _median([s["attrs"]["sidecar_bytes"] for s in infos])

    def split(printer):
        """(plan, exec, render) seconds of one Printer.toJsonEnvelope span."""
        js = jobs_under(printer)
        if not js:
            return dur(printer), 0.0, 0.0
        first = max(printer["start_us"], min(j["start_us"] for j in js))
        last = min(printer["end_us"], max(first, max(j["end_us"] for j in js)))
        return ((first - printer["start_us"]) / 1e6, (last - first) / 1e6,
                (printer["end_us"] - last) / 1e6)

    def child(s, name):
        return next(c for c in children[s["id"]] if c["name"] == name)

    queries = named("op.query")
    constructs = [child(q, "GraftTable.query") for q in queries]
    printers = [child(q, "Printer.toJsonEnvelope") for q in queries]
    splits = [split(p) for p in printers]
    m["query.construct_s"] = _median([dur(s) for s in constructs])
    m["query.construct_jobs"] = _mean([len(jobs_under(s)) for s in constructs])
    m["query.plan_s"] = _median([x[0] for x in splits])
    m["query.exec_s"] = _median([x[1] for x in splits])
    m["query.exec_jobs"] = _mean([len(jobs_under(s)) for s in printers])
    m["query.exec_tasks"] = _mean([sum(j["tasks"] for j in jobs_under(s)) for s in printers])
    m["query.exec_cpu_s"] = _mean([sum(j["cpu_ns"] for j in jobs_under(s)) / 1e9 for s in printers])
    m["query.rows_read_per_table_row"] = (
        total(queries, "in_records") / max(1, sum(q["attrs"]["table_rows"] for q in queries)))

    cached = named("op.cached")
    runs = [child(c, "QueryCache.run") for c in cached]
    m["cache.run_s"] = _median([dur(s) for s in runs])
    for k in ("hits", "misses", "uncacheable", "skipped"):
        name = {"hits": "hit", "misses": "miss"}.get(k, k)
        m[f"cache.{name}_blocks"] = _mean([s["attrs"][k] for s in runs])
    m["cache.rows_read_per_table_row"] = (
        total(cached, "in_records") / max(1, sum(c["attrs"]["table_rows"] for c in cached)))
    m["cache.partial_bytes"] = _median([c["attrs"]["cache_bytes"] for c in cached])

    all_printers = printers + [child(c, "Printer.toJsonEnvelope") for c in cached]
    m["printer.json_s"] = _median([split(p)[2] for p in all_printers])
    m["jvm.gc_s"] = doc["meta"]["gc_s"]

    # self time: a span's duration minus the part its children cover
    self_times = {}
    for s in doc["spans"]:
        if s["id"] not in timed:
            continue
        cover, end = 0, s["start_us"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], end), min(c["end_us"], s["end_us"])
            if b > a:
                cover += b - a
                end = b
        n, t, st = self_times.get(s["name"], (0, 0.0, 0.0))
        self_times[s["name"]] = (n + 1, t + dur(s), st + (dur(s) - cover / 1e6))

    return {k: (float(m[k]), METRICS[k][0]) for k in METRICS}, self_times


def print_table(layers, self_times, out):
    print(f"{'per-layer metric':36s} {'value':>14s}  unit", file=out)
    for k, (v, u) in layers.items():
        print(f"{k:36s} {v:14.6g}  {u}", file=out)
    print(f"\n{'span (timed phase)':28s} {'calls':>6s} {'total s':>9s} {'self s':>9s}", file=out)
    for k, (n, t, st) in sorted(self_times.items(), key=lambda kv: -kv[1][2]):
        print(f"{k:28s} {n:6d} {t:9.3f} {st:9.3f}", file=out)


if __name__ == "__main__":
    doc = json.load(open(sys.argv[1]))
    layers, self_times = summarize(doc)
    print_table(layers, self_times, sys.stderr)
    print(json.dumps({k: {"value": v, "unit": u} for k, (v, u) in layers.items()}))
