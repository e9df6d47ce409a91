"""Metrics of one benchmark run, from the harness's `result.json`.

End-to-end metrics (the first untraced window; the last-line metrics with
--trace 0):

- `setup_s`: set-up time from process start to the first timed op, one
  clock reading: JVM and session start, the fixture staging, the warm-up.
- `peak_rss_mb`: the harness process's peak resident memory (VmHWM)
  through set-up and the first window.
- `round_s`: median time of one round of the workload's closed loop, the
  sum of its timed ops (etl_daily: a daily batch; queries: a cold-memo
  pass over the report and curation queries; warehouse_upsert: a day of
  the operation stream).
- `round_cpu_s`: median CPU seconds the harness process (every thread:
  tasks, JIT, GC) spends in a round's timed ops. It is the round's work,
  which other processes and hypervisor steal on a shared host inflate
  far less than they inflate `round_s`.

The report also carries, unbounded:

- `write_s`, `read_s`: median over rounds of the time a round spends in
  write ops and in read ops. Writes: the etl load and archive, the
  staging rebuild of a cold-memo pass, every table commit, compaction and
  view refresh. Reads: the etl queries over the loaded tables (orphans,
  new songs), the registry queries, the table reads. The warehouse's
  reads are four sub-second ops a day and double under a busy host.
- per-op medians and tails (`op_p50_s`, `op_tail_s` and the workloads'
  `*_p50_s`/`*_tail_s`): a window holds a few ops of each kind, so a
  median over mixed kinds jumps between them, and the tail (the highest
  percentile with at least ten samples beyond it) needs 21 samples of a
  kind to rise above the median. The report names the percentile used
  and the sample count.

- each workload's own metrics (etl_batch_s, report_pass_s, dml_p50_s,
  read_tail_s, space_amp, ...) and `error_rate`, which cannot be bounded
  because it is 0 on a correct run.

Per-layer metrics (--trace 1) come from the traced window.
"""
import statistics

END_TO_END = ["setup_s", "peak_rss_mb", "round_s", "round_cpu_s"]
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "round_s": "s", "round_cpu_s": "s"}

# name -> unit; every workload reports every layer, 0 for a layer it does not load
PER_LAYER = {
    "tables.warm_s": "s", "tables.input_mb": "MB",
    "plan.s": "s", "plan.stages": "count", "plan.tasks": "count",
    "relational.exec_s": "s", "relational.cpu_s": "s", "relational.sched_delay_s": "s",
    "relational.shuffle_mb": "MB", "relational.spill_mb": "MB", "relational.gc_s": "s",
    "normalize.read_raw_s": "s", "normalize.transform_s": "s", "normalize.incremental_s": "s",
    "normalize.items_in": "count", "normalize.rows_out": "count",
    "normalize.survivor_ratio": "ratio", "normalize.shuffle_mb": "MB",
    "sinks.write_s": "s", "sinks.archive_s": "s", "sinks.files": "count",
    "sinks.write_mb": "MB", "sinks.write_amp": "ratio",
    "llmdata.staging_s": "s", "llmdata.query_s": "s", "llmdata.memo_hw_mb": "MB",
    "llmdata.cpu_s": "s", "llmdata.shuffle_mb": "MB", "llmdata.tasks": "count",
    "llmdata.input_scans": "count",
    "keyed.merge_s": "s", "keyed.update_s": "s", "keyed.delete_s": "s", "keyed.append_s": "s",
    "keyed.jobs_per_commit": "count", "keyed.tasks_per_commit": "count",
    "keyed.bytes_per_changed_row": "B",
    "keyed.compact_s": "s", "keyed.compact_rewritten_mb": "MB", "keyed.files_per_key": "count",
    "keyed.point_read_s": "s", "keyed.agg_read_s": "s", "keyed.range_read_s": "s",
    "keyed.asof_read_s": "s", "keyed.stats_answered_ratio": "ratio",
    "keyed.dirs_skipped_ratio": "ratio",
    "mv.refresh_s": "s",
    "spark.tasks": "count", "spark.sched_delay_s": "s", "spark.gc_s": "s",
}

WRITE_OPS = {"load", "archive", "staging", "merge", "update", "delete", "append", "compact",
             "refresh"}
COMMITS = ["keyed.merge", "keyed.update", "keyed.delete", "keyed.append", "keyed.compact"]
MB = 1048576.0


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it, or the median when there is none above it."""
    s = sorted(xs)
    n = len(s)
    k = n - 11
    if n < 21:
        return statistics.median(s), 50.0, n
    return s[k], round(100.0 * k / (n - 1), 1), n


def _ratio(num, den):
    return {"value": num / den if den else 0.0, "numerator": num, "denominator": den}


def window_metrics(w):
    ops = [o[1] for o in w["ops"]]
    t, pct, n = tail(ops)
    rounds = range(len(w["rounds"]))

    def phase(write):
        return statistics.median(sum(o[1] for o in w["ops"] if o[3] == r and
                                     (o[0] in WRITE_OPS) == write) for r in rounds)
    return {"round_s": statistics.median(w["rounds"]),
            "round_cpu_s": statistics.median(w["rounds_cpu"]), "write_s": phase(True),
            "read_s": phase(False), "op_p50_s": statistics.median(ops),
            "op_tail_s": t, "tail_pct": pct, "samples": n, "rounds": len(w["rounds"])}


def named(workload, w):
    """The workload's own end-to-end metrics."""
    m = window_metrics(w)
    if workload == "etl_daily":
        return {"etl_batch_s": m["round_s"]}
    rounds = range(len(w["rounds"]))
    if workload == "queries":
        report = [o[1] for o in w["ops"] if o[0].startswith("q")]
        return {"report_pass_s": statistics.median(
                    sum(o[1] for o in w["ops"] if o[3] == r and o[0].startswith("q")) for r in rounds),
                "report_query_p50_s": statistics.median(report),
                "report_query_tail_s": tail(report)[0], "report_query_samples": len(report),
                "curation_pass_s": statistics.median(
                    sum(o[1] for o in w["ops"] if o[3] == r and not o[0].startswith("q")) for r in rounds)}
    writes = [o[1] for o in w["ops"] if o[0] in WRITE_OPS]
    reads = [o[1] for o in w["ops"] if o[0] not in WRITE_OPS]
    return {"dml_p50_s": statistics.median(writes), "dml_tail_s": tail(writes)[0],
            "dml_samples": len(writes), "read_p50_s": statistics.median(reads),
            "read_tail_s": tail(reads)[0], "read_samples": len(reads),
            "space_amp": statistics.median(w["extra"]["space_amp"])}


def per_layer(result):
    """Per-layer metrics of the traced window: {name: value}, and the
    bases of the ratios."""
    w = next(x for x in result["windows"] if x["kind"] == "traced")
    sp, ex, fin = result["spans"], w["extra"], result["finish"]
    rounds = max(len(w["rounds"]), 1)

    def g(name, key):
        return sp.get(name, {}).get(key, 0)

    def mean(name, key="wall_s"):
        c = g(name, "calls")
        return g(name, key) / c if c else 0.0

    def total(prefix, key):
        return sum(v.get(key, 0) for k, v in sp.items() if k.startswith(prefix))

    queries = g("plan.executedPlan", "calls")
    q_spans = ["plan.executedPlan", "relational.build", "relational.exec",
               "llmdata.build", "llmdata.exec"]
    llm_queries = g("llmdata.exec", "calls")
    batches = ex.get("batches", 0)
    commits = sum(g(c, "calls") for c in COMMITS)
    med = lambda xs: statistics.median(xs) if xs else 0.0
    ratios = {
        "normalize.survivor_ratio": _ratio(ex.get("rows_out", 0), ex.get("items_in", 0)),
        "sinks.write_amp": _ratio(ex.get("parquet_bytes", 0), ex.get("raw_bytes", 0)),
        "keyed.stats_answered_ratio": _ratio(ex.get("agg_stats_answered", 0), ex.get("agg_reads", 0)),
        "keyed.dirs_skipped_ratio": _ratio(ex.get("range_dirs_skipped", 0), ex.get("range_dirs_planned", 0)),
        "keyed.bytes_per_changed_row": _ratio(ex.get("dml_written_bytes", 0), ex.get("dml_changed_rows", 0)),
    }
    v = {
        "tables.warm_s": fin.get("tables_warm_s", 0.0),
        "tables.input_mb": fin.get("tables_input_mb", 0.0),
        "plan.s": mean("plan.executedPlan"),
        "plan.stages": sum(g(s, "stages") for s in q_spans) / queries if queries else 0.0,
        "plan.tasks": sum(g(s, "tasks") for s in q_spans) / queries if queries else 0.0,
        "relational.exec_s": (g("relational.build", "wall_s") + g("relational.exec", "wall_s")) / rounds,
        "relational.cpu_s": total("relational.", "cpu_s") / rounds,
        "relational.sched_delay_s": total("relational.", "sched_delay_s") / rounds,
        "relational.shuffle_mb": total("relational.", "shuffle_mb") / rounds,
        "relational.spill_mb": total("relational.", "spill_mb") / rounds,
        "relational.gc_s": total("relational.", "gc_s") / rounds,
        "normalize.read_raw_s": mean("normalize.readRaw"),
        "normalize.transform_s": mean("normalize.normalize"),
        "normalize.incremental_s": mean("normalize.incremental"),
        "normalize.items_in": ex.get("items_in", 0) / batches if batches else 0.0,
        "normalize.rows_out": ex.get("rows_out", 0) / batches if batches else 0.0,
        "normalize.shuffle_mb": (total("normalize.", "shuffle_mb") +
                                 g("sinks.writeStarSchema", "shuffle_mb")) / batches if batches else 0.0,
        "sinks.write_s": mean("sinks.writeStarSchema"),
        "sinks.archive_s": mean("sinks.archive"),
        "sinks.files": ex.get("parquet_files", 0) / batches if batches else 0.0,
        "sinks.write_mb": ex.get("parquet_bytes", 0) / MB / batches if batches else 0.0,
        "llmdata.staging_s": mean("llmdata.warmSharedStaging"),
        "llmdata.query_s": (g("llmdata.build", "wall_s") + g("llmdata.exec", "wall_s")) / rounds,
        "llmdata.memo_hw_mb": float(result.get("storage_hw_mb", 0)) if llm_queries else 0.0,
        "llmdata.cpu_s": total("llmdata.", "cpu_s") / rounds,
        "llmdata.shuffle_mb": total("llmdata.", "shuffle_mb") / rounds,
        "llmdata.tasks": total("llmdata.", "tasks") / rounds,
        "llmdata.input_scans": total("llmdata.", "corpus_scans") / llm_queries if llm_queries else 0.0,
        "keyed.merge_s": mean("keyed.merge"), "keyed.update_s": mean("keyed.update"),
        "keyed.delete_s": mean("keyed.delete"), "keyed.append_s": mean("keyed.append"),
        "keyed.jobs_per_commit": sum(g(c, "jobs") for c in COMMITS) / commits if commits else 0.0,
        "keyed.tasks_per_commit": sum(g(c, "tasks") for c in COMMITS) / commits if commits else 0.0,
        "keyed.compact_s": mean("keyed.compact"),
        "keyed.compact_rewritten_mb": (ex.get("compact_written_bytes", 0) / MB / g("keyed.compact", "calls")
                                       if g("keyed.compact", "calls") else 0.0),
        "keyed.files_per_key": med(ex.get("files_per_key", [])),
        "keyed.point_read_s": mean("keyed.point_read"), "keyed.agg_read_s": mean("keyed.agg_read"),
        "keyed.range_read_s": mean("keyed.range_read"), "keyed.asof_read_s": mean("keyed.asof_read"),
        "mv.refresh_s": mean("mv.refresh"),
        "spark.tasks": sum(x.get("tasks", 0) for x in sp.values()) / rounds,
        "spark.sched_delay_s": sum(x.get("sched_delay_s", 0) for x in sp.values()) / rounds,
        "spark.gc_s": sum(x.get("gc_s", 0) for x in sp.values()) / rounds,
    }
    v.update({k: r["value"] for k, r in ratios.items()})
    assert set(v) == set(PER_LAYER), set(v) ^ set(PER_LAYER)
    return v, ratios


def report(workload, seed, result, wrong, traced):
    windows = result["windows"]
    measured = windows[0]

    attempted = failed = 0
    failures = []
    for w in windows:
        for kind, _, ok, _ in w["ops"]:
            attempted += 1
            if not ok or kind in wrong:
                failed += 1
        failures += w["failures"]
    failures += [f"{q}: {why}" for q, why in sorted(wrong.items())]

    e2e = dict(window_metrics(measured))
    e2e["setup_s"] = result["setup_s"]
    e2e["peak_rss_mb"] = result["peak_rss_mb"]

    summary = {
        "workload": workload, "seed": seed, "error_rate": failed / attempted,
        "attempted": attempted, "failed": failed, "failures": failures[:10],
        "tail_pct": e2e["tail_pct"], "samples": e2e["samples"], "rounds": e2e["rounds"],
        **{k: e2e[k] for k in END_TO_END + ["write_s", "read_s", "op_p50_s", "op_tail_s"]},
        **named(workload, measured),
        "contention": [{k: w[k] for k in ("kind", "gc_s", "jit_s", "busy_other", "iowait", "steal", "busy_before",
                                          "load1_before", "load1_after", "env_contended",
                                          "contended")} for w in windows],
    }
    summary["rerun_skipped"] = result["rerun_skipped"]
    rerun = [w for w in windows if w["kind"] == "untraced_rerun"]
    if rerun:
        summary["contended_rerun"] = {**window_metrics(rerun[0]), **named(workload, rerun[0])}
    out = {"summary": summary, "result": {k: v for k, v in result.items() if k != "windows"},
           "windows": windows}
    if traced:
        layer, ratios = per_layer(result)
        tw = next(w for w in windows if w["kind"] == "traced")
        tm, um = window_metrics(tw), window_metrics(measured)
        summary["tracing_overhead"] = {k: tm[k] - um[k] for k in
                                       ("round_s", "round_cpu_s", "write_s", "read_s",
                                        "op_p50_s", "op_tail_s")}
        tn, un = named(workload, tw), named(workload, measured)
        summary["tracing_overhead"].update({k: tn[k] - un[k] for k in tn if k.endswith("_s")})
        out["per_layer"] = {k: {"value": layer[k], "unit": PER_LAYER[k],
                                **({"numerator": ratios[k]["numerator"],
                                    "denominator": ratios[k]["denominator"]} if k in ratios else {})}
                            for k in PER_LAYER}
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    out["line"] = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                   "metrics": metrics}
    return out
