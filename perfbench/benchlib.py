"""Pure logic of the benchmark runner: percentiles, the tail rule, failure
accounting, metric assembly and the DuckDB oracle comparison."""
import math

# End-to-end metrics every workload reports (trace 0), with their units.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

# The per-workload names of the generic end-to-end metrics.
ALIASES = {
    "ingest_backfill": {"throughput_per_s": "ingest_events_per_s",
                        "latency_p50_ms": "query_p50_ms",
                        "latency_tail_ms": "query_tail_ms"},
    "ingest_stream": {"throughput_per_s": "stream_events_per_s",
                      "latency_p50_ms": "stream_latency_p50_ms",
                      "latency_tail_ms": "stream_latency_tail_ms"},
    "curation": {"throughput_per_s": "curation_docs_per_s"},
}

# The workloads BENCHMARK.json lists; ingest_stream also runs on its own.
WORKLOADS = ["ingest_backfill", "curation"]

# Per-layer metrics (trace 1), with their units. A layer a workload does
# not exercise reports 0.
PER_LAYER = {
    "ingest.validate_enrich_s": "s",
    "functions.avro_encode_s": "s",
    "functions.avro_decode_s": "s",
    "ops.dedup_s": "s",
    "ops.dedup_removed_ratio": "ratio",
    "pipeline.write_s": "s",
    "pipeline.files_written": "count",
    "pipeline.bytes_per_event": "B",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "count",
    "generator.late_ms": "ms",
    "driver.planning_ms": "ms",
    "model.scan_bytes": "B",
    "scan.files_read_ratio": "ratio",
    "llm.gate_s": "s",
    "llm.extent_rewrite_s": "s",
    "llm.winnow_scrub_s": "s",
    "llm.dsir_select_s": "s",
    "llm.report_s": "s",
    "driver.jobs": "count",
    "driver.gap_s": "s",
    "driver.first_job_gap_s": "s",
    "spark.checkpoints": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "trace.overhead_pct": "%",
}


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty list."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest whole percentile with at least ten of `n` samples beyond
    it, or 100 (the maximum) when fewer than 20 samples leave no percentile
    at or above the median with ten beyond."""
    if n < 20:
        return 100
    return min(99, math.floor(100 - 1000.0 / n))


def tail(values):
    """(percentile used, value) for the tail of `values`."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def failure_counts(ops, errors, failed_kinds):
    """(attempted, failed). `ops` maps an operation kind to its successful
    executions and `errors` to executions that raised. A failed output
    check of a kind marks every execution of that kind wrong; a check
    whose kind ran no timed operation counts as one failed operation."""
    attempted = sum(ops.values()) + sum(errors.values())
    failed = sum(errors.values())
    for kind in set(failed_kinds):
        if ops.get(kind, 0) > 0:
            failed += ops[kind]
        else:
            attempted += 1
            failed += 1
    return attempted, failed


def end_to_end(record):
    """The end-to-end metrics of a run record."""
    phase = record["phase"]
    samples = phase["samples_ms"]
    p_tail, v_tail = tail(samples)
    return {
        "setup_s": sum(record["setup"].values()),
        "throughput_per_s": phase["throughput_per_s"],
        "latency_p50_ms": percentile(samples, 50),
        "latency_tail_ms": v_tail,
        "peak_rss_mb": record["peak_rss_mb"],
    }, p_tail


def per_layer(record):
    layers = record.get("layers", {})
    return {name: float(layers.get(name, 0.0)) for name in PER_LAYER}


ALLOWED_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "DATE", "BOOLEAN"}


def _same(w, g):
    wn = isinstance(w, float) and math.isnan(w)
    gn = isinstance(g, float) and math.isnan(g)
    return (w is None and g is None) or (wn and gn) or w == g


def compare_oracle(con, sql, result_dir):
    """Run an oracle query in DuckDB and compare it cell by cell with the
    Spark result dumped as parquet under `result_dir` (columns sorted by
    name, rows as dumped, exact equality). Returns (ok, detail)."""
    try:
        rel = con.sql(sql)
        bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
               if str(t) not in ALLOWED_TYPES]
        want_cols, want = rel.columns, rel.fetchall()
    except Exception as e:  # noqa: BLE001 - any oracle error is a failure
        return False, f"oracle SQL error: {e}"
    if bad:
        return False, f"oracle column types outside the canonical set: {bad}"
    try:
        got_rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        got_cols, got = got_rel.columns, got_rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return False, f"spark output missing: {e}"
    if sorted(want_cols) != sorted(got_cols):
        return False, f"columns oracle={sorted(want_cols)} spark={sorted(got_cols)}"
    if len(want) != len(got):
        return False, f"rows oracle={len(want)} spark={len(got)}"
    gi = [got_cols.index(c) for c in want_cols]
    for r, (wrow, grow) in enumerate(zip(want, got)):
        for c, w in enumerate(wrow):
            g = grow[gi[c]]
            if not _same(w, g):
                return False, f"col {want_cols[c]} row {r}: oracle={w!r} spark={g!r}"
    return True, f"{len(want)} rows match"
