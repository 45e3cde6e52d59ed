"""The traced pass: a second session with Spark's event log on, the same
timed loop with every public call wrapped in a span that also names its
Spark jobs, then the per-layer metrics cut out of the event log along those
spans, plus the core parsers timed in this process. The metrics are printed
by run.py and written to .perfbench_out/trace_<workload>_<seed>.json.

A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from tracing import EventLog, Spans, max_over_median, union_s

from pdfwf_spark.core.html_extract import extract_html
from pdfwf_spark.core.pdfish_extract import extract_pdfish
from pdfwf_spark.core.plain_extract import extract_plain
from pdfwf_spark.core.route import extract_payload, route_payload
from pdfwf_spark.core.sniff import sniff

_PARSERS = {"html": extract_html, "pdfish": extract_pdfish, "plain": extract_plain}
_KERNEL = "time to run Python workers"


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def core_metrics(payloads: list[tuple[str, str]]) -> dict[str, float]:
    """Each core function timed over the workload's own payloads: sniff on
    every payload, each parser on the payloads sniff routes to it."""
    sniff_ns = 0
    parse_ns = {k: 0 for k in _PARSERS}
    n = {k: 0 for k in _PARSERS}
    failed = 0
    slowest_ns = 0
    for text, tool in payloads:
        payload, _ = route_payload(text, tool)
        t0 = time.perf_counter_ns()
        label = sniff(payload)
        t1 = time.perf_counter_ns()
        sniff_ns += t1 - t0
        took = t1 - t0
        if label in _PARSERS:
            try:
                _PARSERS[label](payload)
            except Exception:  # a broken payload; extract_payload fails its row
                pass
            parsed = time.perf_counter_ns() - t1
            parse_ns[label] += parsed
            took += parsed
            n[label] += 1
        slowest_ns = max(slowest_ns, took)
        failed += extract_payload(text, tool).status != "ok"
    out = {"core.sniff_us": sniff_ns / 1e3 / max(len(payloads), 1)}
    for k in _PARSERS:
        out[f"core.{k}_us"] = parse_ns[k] / 1e3 / max(n[k], 1)
    out.update({f"core.{k}_n": n[k] for k in _PARSERS})
    out["core.failed_n"] = failed
    out["core.max_payload_us"] = slowest_ns / 1e3
    return out


def spark_wide(log: EventLog, desc: str, job_s: float) -> dict[str, float]:
    stages = log.stages_of(desc)
    stage_wall = union_s([(s.submitted, s.completed) for s in stages])
    return {
        "spark.jobs": len(log.jobs_of(desc)),
        "spark.tasks": sum(len(s.task_s) for s in stages),
        "spark.task_cpu_s": sum(s.cpu_s for s in stages),
        "spark.executor_run_s": sum(s.run_s for s in stages),
        "spark.gc_s": sum(s.gc_s for s in stages),
        "spark.shuffle_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spark.spill_bytes": sum(s.spill_bytes for s in stages),
        "spark.stage_wall_s": stage_wall,
        "spark.sql_wall_s": union_s([(q["start"], q["end"]) for q in log.sql_of(desc)
                                     if "start" in q and "end" in q]),
        "spark.stage_wall_share": stage_wall / job_s if job_s else 0.0,
    }


def sink_layer(log: EventLog, desc: str, res: dict) -> dict[str, float]:
    stages = log.stages_of(desc)
    sink = max(stages, key=lambda s: s.output_bytes, default=None)
    return {
        "sink.files": res["sink_files"],
        "sink.bytes": res["sink_bytes"],
        "sink.write_stage_s": (sink.completed - sink.submitted) if sink else 0.0,
        "read.files": res["read_files"],
    }


def extraction_layers(log: EventLog, desc: str, res: dict) -> dict[str, float]:
    stages = log.stages_of(desc)
    kernel = [s for s in stages if _KERNEL in s.acc_names]
    queries = log.sql_of(desc)

    def acc(name: str) -> float:
        """`name` summed over the MapInArrow nodes, one final value per
        accumulator (a stage reports running totals, so adding up stages
        would count an accumulator once per stage that reports it)."""
        return sum(v for q in queries
                   for v in log.node_metric(q, lambda n: n["nodeName"] == "MapInArrow", name))

    return {
        "kernel.python_s": acc(_KERNEL) / 1e3,
        "kernel.worker_init_s": (acc("time to start Python workers")
                                 + acc("time to initialize Python workers")) / 1e3,
        "kernel.bytes_to_python": acc("data sent to Python workers"),
        "kernel.bytes_from_python": acc("data returned from Python workers"),
        "staging.exchange_bytes": sum(s.shuffle_read_bytes for s in kernel),
        "staging.tasks": sum(s.n_tasks for s in kernel),
        "staging.max_over_median_task": max_over_median([t for s in kernel for t in s.task_s]),
        "ordering.shuffle_bytes": sum(s.shuffle_write_bytes for s in kernel),
        "ordering.shuffle_records": sum(s.shuffle_write_records for s in kernel),
        "ordering.spill_bytes": sum(s.spill_bytes for s in stages),
        "lineage.commit_s": res["result"].lineage_s,
    }


def _plan_text(q: dict) -> str:
    return " ".join(n.get("simpleString", "") for n in q.get("nodes", []))


def curate_layers(log: EventLog, desc: str) -> dict[str, float]:
    """Curation jobs cut by what their plan computes: the verified-pair
    pipeline (dedup), the label-propagation rounds (clusters) and the
    repetition / PII statistics, which the final write also evaluates
    (textstats)."""
    walls = {"dedup": [], "clusters": [], "textstats": []}
    cand, verified, dedup_shuffle = [], [], 0.0
    for q in log.sql_of(desc):
        text = _plan_text(q)
        if "inter#" in text:  # the per-pair shared-shingle count
            layer = "dedup"
            cand += log.node_metric(
                q, lambda n: n["nodeName"] == "HashAggregate"
                and "id_a#" in n["simpleString"] and "functions=[]" in n["simpleString"],
                "number of output rows")
            # the operator applying the Jaccard threshold to the pair counts
            verified += log.node_metric(
                q, lambda n: "inter#" in n["simpleString"] and ">=" in n["simpleString"],
                "number of output rows")
            sids = {s for j in log.jobs if j.sql_id is not None
                    and log.sql.get(j.sql_id) is q for s in j.stage_ids}
            dedup_shuffle += sum(log.stages[s].shuffle_write_bytes for s in sids
                                 if s in log.stages)
        elif "top2gram" in text or "regexp_replace" in text:
            layer = "textstats"
        elif "lbl#" in text:
            layer = "clusters"
        else:
            continue
        if "start" in q and "end" in q:
            walls[layer].append((q["start"], q["end"]))
    out = {
        "curate.spark_jobs": len(log.jobs_of(desc)),
        # the final aggregate of the distinct gives fewer rows than its partial
        "dedup.candidate_pairs": min(cand) if cand else 0.0,
        "dedup.verified_pairs": max(verified) if verified else 0.0,
        "dedup.shuffle_bytes": dedup_shuffle,
    }
    out.update({f"{k}.s": union_s(v) for k, v in walls.items()})
    return out


CURATE_STAGES = ("input", "dedup", "repetition")


def traced_pass(w, work: str, args, untraced: list[dict], start_s, warm_s, rss):
    """Run the traced pass for workload `w`; return (metrics, attempted,
    failed, problems)."""
    from run import ROOT, log as say, setup, timed_loop

    event_dir = f"{work}/eventlog"
    spark, _, _ = setup(w, work, event_log=event_dir)
    w.prepare(spark)
    spans = Spans(spark)
    reps, failed, problems = timed_loop(w, spark, args.seconds, spans, read=True)
    resume = None
    if hasattr(w, "resume_pass"):
        resume, bad = w.resume_pass(spark, spans)
        failed += bool(bad)
        problems += bad
    spark.stop()  # flushes the event log
    log = EventLog(event_dir)
    say(f"traced job_s {[round(r['job_s'], 2) for r in reps]}")

    ok = [(i, r) for i, r in enumerate(reps) if "result" in r]
    per_rep: list[dict] = []
    for i, r in ok:
        if w.name == "extract_mixed":
            op = f"{w.name}/run_extraction/{i}"
            m = extraction_layers(log, op, r)
        else:
            op = f"{w.name}/curate/{i}"
            m = curate_layers(log, op)
            for st in CURATE_STAGES:
                m[f"curate.survivors.{st}"] = r["result"].stage_counts.get(st, 0)
        m.update(sink_layer(log, op, r))
        m["read.s"] = r["read_s"]
        m.update(spark_wide(log, op, r["job_s"]))
        per_rep.append(m)
    metrics = {k: med(m[k] for m in per_rep) for k in per_rep[0]} if per_rep else {}

    metrics.update(core_metrics(w.core_payloads()))
    metrics["session.start_s"] = start_s
    metrics["session.warmup_s"] = warm_s
    metrics["trace.overhead_s"] = (med(r["job_s"] for r in reps)
                                   - med(r["job_s"] for r in untraced))
    metrics["kernel.py_worker_peak_rss_mb"] = rss.peak_mb
    if resume is not None:
        metrics["resume.buckets_reprocessed"] = resume["result"].buckets_processed
        metrics["resume.rows_reprocessed"] = resume["result"].input_rows
        metrics["resume.job_s"] = resume["job_s"]
        metrics["resume.read_s"] = resume["read_s"]
        resume_core = core_metrics(w.core_payloads(resume["convs"]))
        metrics["resume.core_parse_s"] = sum(
            resume_core[f"core.{k}_us"] * resume_core[f"core.{k}_n"] for k in _PARSERS) / 1e6
    metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace_{w.name}_{args.seed}.json"), "w") as fh:
        json.dump({"workload": w.name, "seed": args.seed, "metrics": metrics,
                   "per_rep": per_rep, "spans": spans.items}, fh, indent=1, default=str)
    return ({k: (v, PER_LAYER[k]) for k, v in metrics.items()},
            len(reps) + (resume is not None), failed, problems)


# every per-layer metric, with its unit; BENCHMARK.json lists the same
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "core.sniff_us": "us", "core.html_us": "us", "core.pdfish_us": "us",
    "core.plain_us": "us", "core.html_n": "count", "core.pdfish_n": "count",
    "core.plain_n": "count", "core.failed_n": "count", "core.max_payload_us": "us",
    "kernel.python_s": "s", "kernel.worker_init_s": "s",
    "kernel.bytes_to_python": "bytes", "kernel.bytes_from_python": "bytes",
    "kernel.py_worker_peak_rss_mb": "MB",
    "staging.exchange_bytes": "bytes", "staging.tasks": "count",
    "staging.max_over_median_task": "ratio",
    "ordering.shuffle_bytes": "bytes", "ordering.shuffle_records": "count",
    "ordering.spill_bytes": "bytes",
    "sink.files": "count", "sink.bytes": "bytes", "sink.write_stage_s": "s",
    "lineage.commit_s": "s",
    "resume.buckets_reprocessed": "count", "resume.rows_reprocessed": "count",
    "resume.job_s": "s", "resume.read_s": "s", "resume.core_parse_s": "s",
    "read.files": "count", "read.s": "s",
    "curate.spark_jobs": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.shuffle_bytes": "bytes",
    "dedup.s": "s", "clusters.s": "s", "textstats.s": "s",
    "curate.survivors.input": "count", "curate.survivors.dedup": "count",
    "curate.survivors.repetition": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.stage_wall_s": "s", "spark.sql_wall_s": "s",
    "spark.stage_wall_share": "ratio",
    "trace.overhead_s": "s",
}
