"""Turns the raw samples of one benchmark run into metrics.

The JVM driver (src/cdcperf/Main.scala) only measures; every statistic,
the stall classification, the span self times and the steadiness check
live here, where they are unit-tested (test_stats.py).
"""

import statistics

# The end-to-end metrics BENCHMARK.json gates; every other timing is
# reported with the per-layer metrics. No timing of the stream repeats with a
# safe margin inside the largest bound a gate may have (0.25) on a shared
# host: the same seed's CPU time per lookup and per change drifted by 17-27%
# within fifteen minutes (README.md), so the stream is gated by what it
# writes, not by its speed.
END_TO_END = ("setup_s", "write_amp")
# A run is unsteady when a timing was still getting faster (warming up)
# while it was timed. The judgement uses each operation's CPU time (the JVM's
# application threads'), which CPU stolen by the host's other tenants does
# not inflate. The driver warms each operation type until its
# CPU time stops setting new lows; a type still more than TREND_BOUND (the
# largest bound a gated metric may have) below its best at the warm-up's
# cap leaves the run unsteady (`still_warming`). In the window each type is
# then judged twice, against IN_RUN_LIMIT:
# - its window median against its best warm-up sample, which judges every
#   type however few samples it has in the window;
# - for a type with at least TREND_MIN_SAMPLES samples, the median of the
#   window's last third against that of its first third. A type that got
#   faster only back to its warm-up best was recovering from a slow patch of
#   the host, not warming: it counts only if the last third is a new low, by
#   more than WARM_FALL (the share by which the driver's warm-up judges a new
#   low) below the best warm-up sample.
# Both compare different phases of one run, and on a shared host the CPU
# time of every operation type shifts together between phases by up to a
# quarter with no trend at all (README.md), so IN_RUN_LIMIT is twice the
# bound. It still catches the earlier attempt's warm-up drift, whose
# timings fell 1.7 to 1.9 times within a run.
# Slowdowns are printed but not judged: they follow the neighbours' load,
# and growth of the table itself is judged directly, by the drift of the
# layout.
TREND_BOUND = 0.25
IN_RUN_LIMIT = 2 * TREND_BOUND
TREND_MIN_SAMPLES = 12
WARM_FALL = 0.15
# window timing series → the warm-up series of the same operation type
WARM_KIND = {"commit_s": "commit", "compact_s": "compact", "lookup_s": "lookup",
             "lookup_compacted_s": "lookup_compacted", "scan_s": "scan",
             "scan_compacted_s": "scan_compacted", "changes_s": "changes"}
# live rows, files and deletion-vector rows may move by at most this share
# between the window's first and last read round
DRIFT_LIMIT = 0.1


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With ten samples or fewer no sample has
    ten beyond it; the maximum is returned with percentile 100.
    """
    n = len(xs)
    if n == 0:
        return None, None, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def is_stall(batch):
    """A batch during which auto-maintenance ran: the head version moved by
    more than its own commit plus the commits the read round made."""
    return batch["version"] - batch["prev_version"] - batch["hook_commits"] > 1


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, t0 and t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def thirds(samples):
    """Medians of the first and the last third, in time order."""
    xs = [s for _, s in sorted(samples)]
    n = len(xs)
    if n < 3:
        return None
    k = n // 3
    return median(xs[:k]), median(xs[-k:])


def trend(samples):
    """Median of the last third over median of the first third, in time order."""
    t = thirds(samples)
    return t[1] / t[0] if t and t[0] > 0 else None


def steadiness(series, warm_series):
    """Per timing, (trend, n, over_warm, ok). `series` maps a name to the
    window's [(t0, seconds)], `warm_series` an operation type to its warm-up
    samples. `trend` is the last third's median over the first third's,
    `over_warm` the window median over the best warm-up sample; below 1 the
    timing got faster."""
    out = {}
    for name, samples in series.items():
        r = trend(samples)
        warm = warm_series.get(WARM_KIND.get(name)) or []
        best = min(warm) if warm and min(warm) > 0 else None
        w = median([s for _, s in samples]) / best if samples and best else None
        new_low = best is None or r is None or thirds(samples)[1] * (1 + WARM_FALL) < best
        ok = ((r is None or len(samples) < TREND_MIN_SAMPLES or r >= 1 / (1 + IN_RUN_LIMIT) or not new_low) and
              (w is None or w >= 1 / (1 + IN_RUN_LIMIT)))
        out[name] = (r, len(samples), w, ok)
    return out


def _window(raw, untraced_only=False):
    batches = [b for b in raw["batches"] if b["phase"] == "window"]
    ops = [o for o in raw["ops"] if o.get("phase") == "window"]
    if untraced_only:
        batches = [b for b in batches if not b.get("traced")]
        ops = [o for o in ops if not o.get("traced")]
    return batches, ops


def _secs(ops, kind):
    return [o["s"] for o in ops if o["kind"] == kind]


def _cpu(ops, kind):
    return [(o["t0"], o["cpu"]) for o in ops if o["kind"] == kind]


def wal_bytes_consumed(raw, first_batch, last_batch):
    """WAL bytes of the segments consumed by batches first..last (1-based
    counts of applied batches, segments consumed in order)."""
    f = raw["files_per_trigger"]
    sizes = raw["wal_bytes"]
    return sum(sizes[f * first_batch:min(len(sizes), f * last_batch)])


def end_to_end(raw):
    """The end-to-end metrics and the user-facing timings, from the untraced
    rounds of a run, plus sample counts and the timing series for the
    steadiness check. Returns (metrics, timings, counts, series)."""
    batches, ops = _window(raw, untraced_only=True)
    ordinary = [b for b in batches if not is_stall(b)]
    stalls = [b for b in batches if is_stall(b)]
    w = raw["window"]
    consumed = wal_bytes_consumed(raw, w["start"]["batch"], w["end"]["batch"])
    # the stream's own writes: the read rounds' compactions are left out
    written = w["end"]["engine_written"] - w["start"]["engine_written"]
    commit_tail, commit_pct, commit_n = tail([b["s"] for b in ordinary])
    lookup_tail, lookup_pct, lookup_n = tail(_secs(ops, "lookup"))
    timings = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "write_amp": (written / consumed if consumed else None, "ratio"),
        "ingest_events_per_cpu_s": (sum(b["events"] for b in batches) / sum(b["cpu"] for b in batches), "1/s"),
        "lookup_cpu_p50_s": (median([o["cpu"] for o in ops if o["kind"] == "lookup"]), "s"),
        "ingest_eps": (sum(b["events"] for b in batches) / sum(b["s"] for b in batches), "1/s"),
        "commit_p50_s": (median([b["s"] for b in ordinary]), "s"),
        "commit_tail_s": (commit_tail, "s"),
        "stall_s": (median([b["s"] for b in stalls]), "s"),
        "compact_s": (median(_secs(ops, "compact")), "s"),
        "lookup_p50_s": (median(_secs(ops, "lookup")), "s"),
        "lookup_tail_s": (lookup_tail, "s"),
        "lookup_compacted_p50_s": (median(_secs(ops, "lookup_compacted")), "s"),
        "scan_s": (median(_secs(ops, "scan")), "s"),
        "scan_compacted_s": (median(_secs(ops, "scan_compacted")), "s"),
        "changes_s": (median(_secs(ops, "changes")), "s"),
    }
    counts = {
        "commit": len(ordinary), "commit_tail_pct": commit_pct, "stall": len(stalls),
        "lookup": lookup_n, "lookup_tail_pct": lookup_pct,
        **{k: len(_secs(ops, k)) for k in ("compact", "lookup_compacted", "scan", "scan_compacted", "changes")},
    }
    # CPU time per operation, for the steadiness check
    series = {
        "commit_s": [(b["t0"], b["cpu"]) for b in ordinary],
        "stall_s": [(b["t0"], b["cpu"]) for b in stalls],
        **{k + "_s": _cpu(ops, k) for k in ("compact", "lookup", "lookup_compacted", "scan",
                                             "scan_compacted", "changes")},
    }
    m = {k: timings.pop(k) for k in END_TO_END}
    return m, timings, counts, series


def drift(raw):
    """Live rows, files and deletion-vector rows of the stream's layout at the
    window's first and last read round, before their compactions."""
    rounds = [r for r in raw["rounds"] if r["phase"] == "window"]
    return {k: (rounds[0][k], rounds[-1][k]) for k in ("live_rows", "files", "dv_rows")}


def drifted(d):
    """The quantities that moved by more than DRIFT_LIMIT."""
    return [k for k, (a, b) in d.items() if abs(b - a) > DRIFT_LIMIT * max(1, a)]


def per_layer(raw):
    """Every per-layer metric of a traced run, with the user-facing timings
    of its untraced rounds."""
    batches, ops = _window(raw)
    tr = raw["trace"]
    cores = raw["cores"]
    spans = {s["id"]: s for s in tr["spans"]}

    def root(span_id):
        while span_id in spans and spans[span_id]["parent"] in spans:
            span_id = spans[span_id]["parent"]
        return spans[span_id]["name"] if span_id in spans else None

    jobs_by_root = {}
    stream_jobs = []
    for j in tr["jobs"]:
        r = root(j["span"]) if j["span"] else None
        if r is None:
            stream_jobs.append(j)
        else:
            jobs_by_root.setdefault(r, []).append(j)

    def n_traced(kind):
        return sum(1 for o in ops if o["kind"] == kind and o.get("traced"))

    def jobs_per(kind):
        n = n_traced(kind)
        return len(jobs_by_root.get(kind, [])) / n if n else None

    def per_op(kind, key, dedupe_execution=False):
        n = n_traced(kind)
        js = jobs_by_root.get(kind, [])
        if dedupe_execution:
            seen = {}
            for j in js:
                seen[j["execution"]] = j[key]
            total = sum(seen.values())
        else:
            total = sum(j[key] for j in js)
        return total / n if n else None

    traced = [b for b in batches if b.get("traced")]
    untraced = [b for b in batches if not b.get("traced")]
    ordinary = [b for b in traced if not is_stall(b)]
    # every window batch without auto-maintenance: its bytes are the apply's
    plain = [b for b in batches if not is_stall(b)]

    def batch_jobs(b):
        return [j for j in stream_jobs if b["t0"] <= j["t0"] < b["t1"]]

    def serial_s(b):
        # self time of the batch span, with the batch's Spark jobs as its children
        spans = [{"id": -1, "parent": 0, "t0": b["t0"], "t1": b["t1"]}] + [
            {"id": j["id"], "parent": -1, "t0": j["t0"], "t1": j["t1"]} for j in batch_jobs(b)]
        return self_times(spans)[-1] / 1e9

    def delta(b, kind):
        return b["written"].get(kind, 0)

    events_plain = sum(b["events"] for b in plain)
    events_ord = sum(b["events"] for b in ordinary)
    busy = sum(j["run_ms"] / 1000 for b in ordinary for j in batch_jobs(b))
    wall_ord = sum(b["s"] for b in ordinary)
    progress = {p["batch"]: p["duration_ms"] for p in tr["progress"]}
    prog = [progress[b["batch"]] for b in traced if b["batch"] in progress]
    w = raw["window"]
    one = raw.get("one_core") or {}
    eps_1 = one["events"] / one["s"] if one.get("s") else None
    # both rates over batches without auto-maintenance: the one-core stream runs none
    plain_n = [b for b in untraced if not is_stall(b)]
    eps_n = (sum(b["events"] for b in plain_n) / sum(b["s"] for b in plain_n)) if plain_n else None

    def per_event(bs):
        ev = sum(b["events"] for b in bs if not is_stall(b))
        return sum(b["s"] for b in bs if not is_stall(b)) / ev if ev else None

    span_s = lambda name: [(s["t1"] - s["t0"]) / 1e9 for s in tr["spans"] if s["name"] == name]
    pt, pu = per_event(traced), per_event(untraced)
    m = {
        "CdcStream.source_s": (median([(d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000 for d in prog]), "s"),
        "CdcStream.overhead_s": (median([(d["triggerExecution"] - d.get("addBatch", 0)) / 1000 for d in prog]), "s"),
        "CdcStream.batches": (len(batches), "count"),
        "CdcStream.events_per_batch": (sum(b["events"] for b in batches) / len(batches) if batches else None, "count"),
        "CdcStream.stall_batches": (sum(1 for b in batches if is_stall(b)), "count"),
        "CdcApply.jobs_per_batch": (median([len(batch_jobs(b)) for b in ordinary]), "count"),
        "CdcApply.driver_serial_s": (median([serial_s(b) for b in ordinary]), "s"),
        "CdcApply.task_busy_share": (busy / (wall_ord * cores) if wall_ord else None, "ratio"),
        "CdcApply.shuffle_bytes_per_event": (sum(j["shuffle_write"] for b in ordinary for j in batch_jobs(b)) / events_ord
                                             if events_ord else None, "B"),
        "CdcApply.gc_share": (sum(b["gc_ms"] for b in ordinary) / 1000 / wall_ord if wall_ord else None, "ratio"),
        "CdcApply.ingest_eps_1core": (eps_1, "1/s"),
        "CdcApply.scaling_eff_1toN": (eps_n / (cores * eps_1) if eps_n and eps_1 else None, "ratio"),
        "LakeTable.write.bytes_per_event": (sum(delta(b, "data") for b in plain) / events_plain if events_plain else None, "B"),
        "LakeTable.write.files_per_batch": (median([b["new_data_files"] for b in plain]), "count"),
        "LakeTable.write.dv_bytes_per_event": (sum(delta(b, "dv") for b in plain) / events_plain if events_plain else None, "B"),
        "LakeTable.manifest.snapshot_load_s": (median(span_s("LakeTable.currentSnapshot")), "s"),
        "LakeTable.manifest.plan_s": (median(span_s("LakeTable.planFiles")), "s"),
        "LakeTable.manifest.versions": (w["end"]["manifest"]["versions"], "count"),
        "LakeTable.manifest.bytes": (w["end"]["manifest"]["bytes"], "B"),
        "LakeTable.read.jobs_per_lookup": (jobs_per("lookup"), "count"),
        "LakeTable.read.files_per_lookup": (median([o["files"] for o in ops if o["kind"] == "lookup" and "files" in o]), "count"),
        "LakeTable.read.rows_read_per_lookup": (per_op("lookup", "input_records"), "count"),
        "LakeTable.read.bytes_read_per_scan": (per_op("scan", "input_bytes"), "B"),
        "LakeTable.read.task_s_per_scan": ((per_op("scan", "run_ms") or 0) / 1000, "s"),
        "LakeTable.mask.dv_rows": (median([o["dv_rows"] for o in ops if o["kind"] in ("lookup", "scan")]), "count"),
        "LakeTable.mask.lookup_ratio": (_ratio(median(_secs(ops, "lookup")), median(_secs(ops, "lookup_compacted"))), "ratio"),
        "LakeTable.mask.scan_ratio": (_ratio(median(_secs(ops, "scan")), median(_secs(ops, "scan_compacted"))), "ratio"),
        "LakeTable.mask.broadcast_bytes": (per_op("scan", "broadcast_bytes", dedupe_execution=True), "B"),
        "LakeTable.compact.runs": (len(_secs(ops, "compact")) + sum(1 for b in batches if is_stall(b)), "count"),
        "LakeTable.compact.bytes_rewritten": (median([sum(o["written"].values()) for o in ops
                                                      if o["kind"] == "compact" and "written" in o]), "B"),
        "LakeTable.compact.shuffle_bytes": (per_op("compact", "shuffle_write"), "B"),
        "LakeTable.changes.rows_per_poll": (median([o["rows"] for o in ops if o["kind"] == "changes" and "rows" in o]), "count"),
        "LakeTable.changes.jobs_per_poll": (jobs_per("changes"), "count"),
        "jvm.gc_s": ((w["end"]["gc_ms"] - w["start"]["gc_ms"]) / 1000, "s"),
        "jvm.heap_after_gc_peak_mb": (w["heap_after_gc_peak"] / 2 ** 20, "MB"),
        "jvm.jit_s": ((w["end"]["jit_ms"] - w["start"]["jit_ms"]) / 1000, "s"),
        "jvm.noop_job_s": (median(_secs(ops, "noop")), "s"),
        "trace.overhead_share": (pt / pu - 1 if pt and pu else None, "ratio"),
    }
    return {**end_to_end(raw)[1], **m}


def _ratio(a, b):
    return a / b if a is not None and b else None
