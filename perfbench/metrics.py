"""Arithmetic of the benchmark: turns the raw file the JVM side writes
(samples, counts, checks, spans, Spark job/stage/plan events) into the
end-to-end and per-layer metrics. Pure functions only, so that
tests/test_metrics.py can pin every rule down.
"""

import math
import statistics


# ------------------------------------------------------------- order stats

def median(values):
    return statistics.median(values) if values else 0.0


def rank_value(values, pct):
    """Nearest-rank percentile: the smallest sample with at least `pct`
    percent of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(values, beyond=10):
    """The highest whole percentile whose nearest-rank value still has at
    least `beyond` samples strictly after it in sorted order, and that
    value. Returns (pct, value); (0, 0.0) when there are too few samples
    for even the median to qualify."""
    n = len(values)
    best = (0, 0.0)
    for pct in range(50, 100):
        k = max(1, math.ceil(pct / 100.0 * n))
        if n - k >= beyond:
            best = (pct, rank_value(values, pct))
    return best


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles with n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ---------------------------------------------------------------- intervals

def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its children
    (spans or Spark jobs, possibly overlapping each other) cover."""
    lo, hi = span["start"], span["end"]
    return (hi - lo) - union_length([(c["start"], c["end"]) for c in children], lo, hi)


def within(events, spans):
    """Events (jobs, stages, plans) whose start falls inside any span."""
    return [e for e in events
            if any(s["start"] <= e["start"] <= s["end"] for s in spans)]


# ------------------------------------------------------------------ checks

def tally(checks, expected_digests=None):
    """(attempted, failed) over the run's output checks. A check carries
    its own "expected" value, or takes it from `expected_digests` by its
    "what" key (query results); an error or a mismatch counts as failed."""
    failed = 0
    for c in checks:
        exp = c.get("expected")
        if exp is None and expected_digests is not None:
            exp = expected_digests.get(c["what"].split(".", 1)[1])
        if exp is None or c["actual"] != exp:
            failed += 1
    return len(checks), failed


def error_rate(checks, expected_digests=None):
    attempted, failed = tally(checks, expected_digests)
    return failed / attempted if attempted else 1.0


# --------------------------------------------------------------- end to end

def samples(raw, run, prefix):
    """Every sample of the given run whose name starts with `prefix`."""
    out = []
    for key, vals in raw["samples"].items():
        r, name = key.split(":", 1)
        if r == run and name.startswith(prefix):
            out.extend(vals)
    return out


def cycle(raw, prefix):
    """One cycle of the workload's op mix: the sum, over each distinct op
    of the timed window, of that op's median wall."""
    return sum(median(vals) for key, vals in raw["samples"].items()
               if key.startswith("timed:" + prefix))


def end_to_end(raw):
    s = raw["samples"]
    if raw["workload"] == "crawl_wide":
        setup = (raw["session_s"] + sum(s["setup:corpus.build"])
                 + median(s["setup:setup.drain_setup"]) + raw["warmup_s"])
        throughput = median([d["fetched"] / d["wall_s"] for d in raw["drains"]])
        prefix = "read."
    else:
        setup = raw["session_s"] + raw["warmup_s"]
        throughput = len(samples(raw, "timed", "query.")) / sum(s["timed:pass"])
        prefix = "query."
    return {
        "setup_s": (setup, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "cycle_s": (cycle(raw, prefix), "s"),
    }


# ---------------------------------------------------------------- per layer

def spans_named(raw, run, name):
    return [sp for sp in raw.get("spans", []) if sp["run"] == run and sp["name"] == name]


def stage_sum(stages, key):
    return float(sum(st[key] for st in stages))


def overhead_share(raw):
    """Tracing overhead, traced minus untraced over untraced: the timed
    ops (reads or queries) replayed once untraced and once traced, back
    to back, in the same run on the same seed."""
    prefix = "read." if raw["workload"] == "crawl_wide" else "query."
    plain = sum(samples(raw, "untraced", prefix))
    return sum(samples(raw, "retraced", prefix)) / plain - 1.0 if plain else 0.0


def per_layer(raw, query_names):
    """Every per-layer metric. Layers a workload does not reach report 0."""
    m = {}
    cores = raw["cores"]
    s = raw["samples"]
    jobs, stages, plans = raw.get("jobs", []), raw.get("stages", []), raw.get("plans", [])
    is_crawl = raw["workload"] == "crawl_wide"

    # ---- engine and state (crawl_wide's timed drains; counts are per drain)
    steps = spans_named(raw, "timed", "engine.step") if is_crawl else []
    drain = spans_named(raw, "timed", "drain") if is_crawl else []
    n_b = max(len(steps), 1)
    n_d = max(len(drain), 1)
    drain_stages = within(stages, drain)
    drain_wall_s = sum(d["end"] - d["start"] for d in drain) / 1e3
    counts = raw.get("counts", {})
    fetched = counts.get("fetched", 0)
    written = stage_sum(drain_stages, "output_bytes")
    m.update({
        "engine.seed_s": (median(s.get("setup:engine.seed", [])), "s"),
        "engine.warm_corpus_s": (median(s.get("setup:engine.warm_corpus", [])), "s"),
        "engine.step_p50_s": (median(s.get("timed:engine.step", [])), "s"),
        "engine.step_cover_share": (
            sum(x["end"] - x["start"] for x in steps) / 1e3 / drain_wall_s if drain else 0.0,
            "ratio"),
        "engine.jobs_per_batch": (len(within(jobs, steps)) / n_b, "count"),
        "engine.stages_per_batch": (len(within(stages, steps)) / n_b, "count"),
        "engine.tasks_per_batch": (stage_sum(within(stages, steps), "tasks") / n_b, "count"),
        "engine.driver_floor_s": (
            median([self_time(x, jobs) / 1e3 for x in steps]), "s"),
        "engine.catalyst_s": (
            sum(p["catalyst_ms"] for p in within(plans, steps)) / 1e3 / n_b, "s"),
        "engine.executor_cpu_s": (stage_sum(drain_stages, "cpu_ns") / 1e9 / n_b, "s"),
        "engine.executor_run_s": (stage_sum(drain_stages, "run_ms") / 1e3 / n_b, "s"),
        "engine.gc_s": (stage_sum(drain_stages, "gc_ms") / 1e3 / n_b, "s"),
        "engine.core_busy_share": (
            stage_sum(drain_stages, "run_ms") / 1e3 / (drain_wall_s * cores)
            if drain else 0.0, "ratio"),
        "engine.narrow_s": (
            sum(st["end"] - st["start"] for st in drain_stages if st["tasks"] < cores)
            / 1e3 / n_b, "s"),
        "engine.shuffle_write_bytes": (stage_sum(drain_stages, "shuffle_write_bytes") / n_b, "B"),
        "engine.shuffle_read_bytes": (stage_sum(drain_stages, "shuffle_read_bytes") / n_b, "B"),
        "engine.spill_bytes": (stage_sum(drain_stages, "spill_bytes") / n_b, "B"),
        "engine.input_bytes": (stage_sum(drain_stages, "input_bytes") / n_b, "B"),
        "engine.batches": (len(steps) / n_d, "count"),
        "engine.claims": (counts.get("claims", 0), "count"),
        "engine.fetched": (fetched, "count"),
        "engine.fetched_per_claim": (
            fetched / counts["claims"] if counts.get("claims") else 0.0, "ratio"),
        "engine.deduped_per_discovered": (
            counts["lineage_deduped"] / counts["lineage_discovered"]
            if counts.get("lineage_discovered") else 0.0, "ratio"),
        "state.bytes_written": (written / n_b, "B"),
        "state.rows_written": (stage_sum(drain_stages, "output_rows") / n_b, "count"),
        "state.write_amp": (
            written / n_d / counts["live_bytes"] if counts.get("live_bytes") else 0.0,
            "ratio"),
        "state.files": (counts.get("store_files", 0), "count"),
        "state.bytes_per_url": (
            counts["store_bytes"] / fetched if fetched else 0.0, "B/URL"),
        "state.max_settled_chain": (counts.get("max_settled_chain", 0), "count"),
        "state.latest_s": (median(s.get("timed:state.latest", [])), "s"),
        "state.resume_s": (median(s.get("timed:state.resume", [])), "s"),
    })

    # ---- read phase (crawl_wide, after its drain)
    reads = [sp for sp in raw.get("spans", [])
             if sp["run"] == "timed" and sp["name"].startswith("read.")]
    read_stages = within(stages, reads)
    rows_returned = sum(c.get("rows", 0) for c in raw.get("checks", [])
                        if c["what"].startswith("read.") and c.get("run") == "timed")
    read_s = samples(raw, "timed", "read.") if is_crawl else []
    pct, tail = tail_percentile(read_s)
    for name in ("frontier_stats", "frontier_list", "links_by_domain",
                 "domain_aggregates", "claim_log"):
        m[f"read.{name}_s"] = (median(s.get(f"timed:read.{name}", [])), "s")
    m.update({
        "read.input_bytes_per_read": (
            stage_sum(read_stages, "input_bytes") / len(reads) if reads else 0.0, "B"),
        "read.rows_scanned_per_row_returned": (
            stage_sum(read_stages, "input_rows") / rows_returned if rows_returned else 0.0,
            "ratio"),
        "read.p50_s": (median(read_s), "s"),
        "read.tail_pct": (pct, "pct"),
        "read.tail_s": (tail, "s"),
        "read.samples": (len(read_s), "count"),
    })

    # ---- core (driver-side micro timings over the workload's own inputs)
    core = raw.get("core", {})
    for k in ("normalize_ops_s", "url_hash_ops_s", "extract_host_ops_s",
              "robots_parse_ops_s", "robots_allowed_ops_s", "cuckoo_put_ops_s",
              "cuckoo_probe_ops_s"):
        m[f"core.{k}"] = (core.get(k, 0.0), "1/s")
    m["core.cuckoo_fpp"] = (core.get("cuckoo_fpp", 0.0), "ratio")

    # ---- query (query_suite's timed passes)
    passes = spans_named(raw, "timed", "pass")
    n_p = max(len(passes), 1)
    q_stages = within(stages, passes)
    q_s = samples(raw, "timed", "query.")
    for name in query_names:
        m[f"query.{name}_s"] = (median(s.get(f"timed:query.{name}", [])), "s")
    pct, tail = tail_percentile(q_s)
    m.update({
        "query.first_touch_s": (raw["warmup_s"] if not is_crawl else 0.0, "s"),
        "query.catalyst_s": (
            sum(p["catalyst_ms"] for p in within(plans, passes)) / 1e3 / n_p, "s"),
        "query.executor_cpu_s": (stage_sum(q_stages, "cpu_ns") / 1e9 / n_p, "s"),
        "query.shuffle_bytes": (stage_sum(q_stages, "shuffle_write_bytes") / n_p, "B"),
        "query.spill_bytes": (stage_sum(q_stages, "spill_bytes") / n_p, "B"),
        "query.gc_s": (stage_sum(q_stages, "gc_ms") / 1e3 / n_p, "s"),
        "query.p50_s": (median(q_s), "s"),
        "query.tail_pct": (pct, "pct"),
        "query.tail_s": (tail, "s"),
        "query.samples": (len(q_s), "count"),
    })

    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    m["trace.spans"] = (len(raw.get("spans", [])), "count")
    m["trace.overhead_share"] = (overhead_share(raw), "ratio")
    return m

