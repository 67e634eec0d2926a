"""Span arithmetic for the traced run.

A span is a dict with id, name, start_ns, end_ns, parent (0 for a
root) and trace. Self time is a span's duration minus the part of it
covered by its children.
"""

# per-layer metric -> span name the harness opens around that call
LAYER_SPANS = {
    "model.read_staging_s": "model.read_staging",
    "publish.matchwise_csv_s": "publish.matchwise_csv",
    "publish.deliverywise_csv_s": "publish.deliverywise_csv",
    "publish.version_note_s": "publish.version_note",
    "ingest.run_s": "ingest.run",
    "ingest.mark_stage_s": "ingest.mark_stage",
    "analyze.build_s": "analyze.build",
    "analyze.exec_s": "analyze.exec",
    "streaming.ingest.batch_s": "ingest",
    "streaming.dedup.batch_s": "dedup",
    "streaming.similarity.batch_s": "similarity",
}

# per-layer metrics taken from the set-up traces instead of the steps
SETUP_SPANS = {
    "sources.zip_read_s": "sources.zip_read",
    "setup.rebuild_s": "rebuild",
    "ingest.backfill_s": "ingest.backfill",
}

# per-layer metrics the harness records outside spans: name, unit, and
# whether the median or the last value is reported
EXTRAS = [
    ("publish.csv_bytes", "B", "median"),
    ("ingest.ledger_files", "count", "last"),
    ("streaming.ingest.state_bytes", "B", "last"),
    ("streaming.dedup.state_bytes", "B", "last"),
    ("streaming.similarity.state_bytes", "B", "last"),
]

# per-layer metric -> StreamingQueryProgress.durationMs key
PROGRESS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.trigger_ms": "triggerExecution",
}


def _union_ns(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """span id -> self time in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_ns([(max(c["start_ns"], s["start_ns"]),
                              min(c["end_ns"], s["end_ns"]))
                             for c in kids.get(s["id"], [])
                             if c["trace"] == s["trace"]])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def self_time_by_layer(spans):
    """span name -> self seconds summed over every trace."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def layer_time_by_trace(spans, root):
    """{span name: summed duration in seconds}, one per trace whose root
    span is named `root`."""
    roots = {s["trace"] for s in spans if s["parent"] == 0 and s["name"] == root}
    out = {}
    for s in spans:
        if s["trace"] in roots:
            t = out.setdefault(s["trace"], {})
            t[s["name"]] = t.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    return list(out.values())


def check_self_times(spans):
    """Every span nests inside its parent and trace, and the self times
    of each trace sum to no more than its root's wall time."""
    problems = []
    by_id = {s["id"]: s for s in spans}
    roots = {}
    for s in spans:
        if s["parent"] == 0:
            roots[s["trace"]] = s
            continue
        p = by_id.get(s["parent"])
        if p is None or p["trace"] != s["trace"]:
            problems.append("span %d (%s) is outside its trace" % (s["id"], s["name"]))
        elif s["start_ns"] < p["start_ns"] or s["end_ns"] > p["end_ns"]:
            problems.append("span %d (%s) ends outside its parent" % (s["id"], s["name"]))
    st = self_times(spans)
    sums = {}
    for s in spans:
        sums[s["trace"]] = sums.get(s["trace"], 0.0) + st[s["id"]]
    for t, total in sums.items():
        root = roots.get(t)
        if root is None:
            problems.append("trace %d has no root span" % t)
        elif total > (root["end_ns"] - root["start_ns"]) / 1e9 + 1e-9:
            problems.append("trace %d: self times exceed its wall time" % t)
    return problems
