#!/usr/bin/env python3
"""Where the seconds go: a per-layer table over traced benchmark runs.

    python3 perfbench/layer_report.py perfbench/out/trace-*.json

Each traced run (run.py --trace 1) leaves trace-<workload>-<seed>.json and
its .spans.jsonl beside it. A span wraps one call into one layer; its self
time is its duration minus the part of it that its child spans cover. The
table gives, per workload and layer, the self time, the number of spans and
the share of all traced request time, then the run's per-layer counts and
ratios, and the tracing overhead (traced vs untraced median pass time).
"""
import collections
import json
import os
import sys

# The per-layer metrics every traced run reports; a layer that a workload
# does not exercise reads 0 there.
PER_LAYER = [
    "driver.frame_ms", "driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
    "connector.resolve_ms", "connector.versions", "connector.live_files",
    "connector.scan_partitions", "connector.rows_read_per_row_returned",
    "connector.decode_rows_per_cpu_s",
    "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "exec.scheduler_wait_ms", "exec.input_records", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "commit.driver_ms", "write.files_added", "write.bytes_added", "compact.bytes_rewritten",
    "upsert_ms",
    "stream.trigger_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.rows",
] + [f"op.{e}_{k}" for e in (
    "dedup_winnow_pairs", "ann_bruteforce_topk", "ev_heavy_hitters", "q1_pricing_summary") for k in ("s", "cpu_s")
] + ["jvm.gc_ms", "proc.cpu_s", "trace.overhead_pct"]

# What each ratio is taken over, so no ratio is read without its base.
BASES = {
    "connector.rows_read_per_row_returned":
        "rows read by the request's scan tasks / rows the lookup returned",
    "connector.decode_rows_per_cpu_s": "input records / executor CPU s, scan stages only",
    "exec.*": "sums over the traced passes / number of traced passes",
    "trace.overhead_pct": "traced median pass / untraced median pass - 1 (same run)",
}


def read_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def self_times(spans):
    """Self time (ns) of every span: duration minus the union of its
    children's intervals, clipped to the span."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0, s["end_ns"] - s["start_ns"] - covered)
    return out


def layer_of(name):
    """op.<kind> spans are the client's own request time (checks excluded:
    they run outside the span); every other span name is its layer."""
    return "client" if name.startswith("op.") else name


def by_kind(res, spans, st):
    """Per request kind: median wall and executor CPU per request, the share
    of the kind's request time that Spark jobs (exec.job spans) and the
    driver outside them (driver.* spans) take as self time, and rows read
    per row returned for lookups."""
    root = collections.Counter()
    job = collections.Counter()
    drv = collections.Counter()
    for s in spans:
        k = s.get("kind", "?")
        if s["parent"] == 0:
            root[k] += s["end_ns"] - s["start_ns"]
        elif s["name"] == "exec.job":
            job[k] += st[s["id"]]
        elif s["name"].startswith("driver."):
            drv[k] += st[s["id"]]
    kinds = res.get("by_kind", {})
    if not kinds:
        return []
    out = [f"  {'request kind':24s} {'n':>4s} {'wall ms':>9s} {'exec cpu ms':>11s} "
           f"{'scan cpu ms':>11s} {'in jobs':>8s} {'driver':>7s} {'read/returned':>14s}"]
    for k, v in sorted(kinds.items()):
        t = root[k] or 1
        rr = v.get("rows_read_per_row_returned")
        out.append(f"  {k:24s} {int(v['requests']):4d} {v['wall_ms']:9.1f} {v['exec_cpu_ms']:11.1f} "
                   f"{v['scan_cpu_ms']:11.1f} {100 * job[k] / t:7.1f}% {100 * drv[k] / t:6.1f}% "
                   f"{'' if rr is None else f'{rr:14.1f}'}")
    return out


def report(res, spans):
    st = self_times(spans)
    total = sum(s["end_ns"] - s["start_ns"] for s in spans if s["parent"] == 0) or 1
    by = collections.defaultdict(lambda: [0, 0])
    for s in spans:
        key = layer_of(s["name"])
        by[key][0] += st[s["id"]]
        by[key][1] += 1
    lines = [f"where the seconds go: {res['workload']} seed {res['seed']}, "
             f"{total / 1e9:.3f} s of traced requests",
             f"  {'layer':32s} {'self s':>9s} {'share':>7s} {'spans':>7s}"]
    for k, (ns, n) in sorted(by.items(), key=lambda kv: -kv[1][0]):
        lines.append(f"  {k:32s} {ns / 1e9:9.3f} {100 * ns / total:6.1f}% {n:7d}")
    lines += by_kind(res, spans, st)
    lines.append("  per-layer values (medians per request unless the base says otherwise):")
    for k in PER_LAYER:
        v = res["layers"].get(k)
        if v:
            base = BASES.get(k) or (BASES["exec.*"] if k.startswith("exec.") else "")
            lines.append(f"    {k:40s} {v:14.3f}  {base}")
    lines.append(f"  tracing overhead: {res['layers'].get('trace.overhead_pct', 0.0):+.1f}% "
                 f"of the median pass ({BASES['trace.overhead_pct']})")
    return "\n".join(lines)


def main(paths):
    if not paths:
        print(__doc__)
        return 2
    for p in paths:
        with open(p) as f:
            res = json.load(f)
        spans_path = p[:-len(".json")] + ".spans.jsonl"
        print(report(res, read_spans(spans_path) if os.path.exists(spans_path) else []))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
