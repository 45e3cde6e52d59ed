"""Benchmark of extraction and curation, end to end and per layer. Run from
the repository root:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 16 --trace 0

One process, Spark on local[N] with N = $SPARK_GRAFT_CPUS capped at the
host's core count. A run builds its inputs from --seed, sets the session up
once (JVM launch, session, one warm-up operation: setup_s), then repeats the
workload's timed operation until --seconds of timed work have passed, checking the output of
every repetition. The last line of stdout is one JSON object with keys
correct, attempted, failed and metrics; --trace 1 adds a traced pass and
reports the per-layer metrics instead of the end-to-end ones. Exits 1 when
an operation fails or a check does not hold. Everything it writes stays
under .perfbench_work/ and .perfbench_out/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
from checks import check_curation, check_extraction, check_resume  # noqa: E402
from tracing import Spans, WorkerRss, descendants  # noqa: E402

from pdfwf_spark.config import CurateConfig  # noqa: E402
from pdfwf_spark.curation import curate  # noqa: E402
from pdfwf_spark.pipeline import read_output, run_extraction  # noqa: E402
from pdfwf_spark.session import build_session  # noqa: E402

EXTRACT_CONVS = 400  # ~8.3k turns, two of them 2,000-turn mega-conversations
WARM_CONVS = 24
DOCS = dict(n_unique=3500, n_clusters=350, n_repetitive=200)  # ~4.9k documents
WARM_DOCS = dict(n_unique=60, n_clusters=6, n_repetitive=4)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop_scan(df) -> None:
    """Materialize every column of `df` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def median_scan(spans: Spans, name: str, n: int, make_df) -> float:
    """Median wall of `n` full scans of `make_df()`, each in its own span."""
    walls = []
    for i in range(n):
        with spans.span(f"{name}/{i}"):
            t = time.monotonic()
            noop_scan(make_df())
            walls.append(time.monotonic() - t)
    return median(walls)


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class ExtractMixed:
    """A fresh run_extraction over a seeded transcript table; the traced
    pass also scans what it committed with read_output."""

    name = "extract_mixed"
    min_reps = 3
    read_scans = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def inputs_before_session(self):
        self.t = inputs.gen_transcripts(EXTRACT_CONVS, self.seed)
        warm = inputs.gen_transcripts(WARM_CONVS, self.seed + 1, mega_every=0)
        inputs.write_transcripts_local(warm, f"{self.work}/warm_input")
        self.rows = self.t.n_turns

    def warmup(self, spark):
        out = f"{self.work}/warm_out"
        run_extraction(spark, spark.read.parquet(f"{self.work}/warm_input"), out)
        noop_scan(read_output(spark, out))

    def prepare(self, spark):
        self.input = f"{self.work}/input"
        n = inputs.materialize_transcripts(spark, EXTRACT_CONVS, self.seed, self.input)
        if n != self.t.n_turns:
            raise RuntimeError(f"spark_transcripts wrote {n} turns, expected {self.t.n_turns}")

    def timed(self, spark, rep, spans):
        out = f"{self.work}/runs/{rep}"
        t0 = time.monotonic()
        with spans.span(f"{self.name}/run_extraction/{rep}"):
            r = run_extraction(spark, spark.read.parquet(self.input), out)
        return {"job_s": time.monotonic() - t0, "result": r, "out": out, "rep": rep}

    def read(self, spark, res, spans) -> float:
        return median_scan(spans, f"{self.name}/read_output/{res['rep']}", self.read_scans,
                           lambda: read_output(spark, res["out"]))

    def check(self, spark, res):
        out, run_id = res["out"], res["result"].run_id
        res["sink_files"], res["sink_bytes"] = tree_size(f"{out}/turns/run_id={run_id}")
        res["read_files"] = tree_size(f"{out}/turns")[0]
        cols = ["conv_id", "turn_idx", "role", "parser", "parse_status",
                "clean_text", "turn_rank"]
        rows = pq.read_table(f"{out}/turns/run_id={run_id}", columns=cols).to_pylist()
        shutil.rmtree(out)
        return check_extraction(rows, self.t)

    def core_payloads(self, convs=None):
        return [(r["text"], r["tool"]) for r in self.t.rows
                if convs is None or r["conv_id"] in convs]

    def resume_pass(self, spark, spans):
        """Crash-shape a finished run (lineage removed for an eighth of its
        buckets, their data left behind), resume it, scan read_output and
        check that exactly the uncommitted buckets were re-processed."""
        out = f"{self.work}/resume"
        first = run_extraction(spark, spark.read.parquet(self.input), out)
        written = pq.read_table(f"{out}/turns/run_id={first.run_id}",
                                columns=["conv_id", "bucket"]).to_pylist()
        per_bucket: dict[int, int] = {}
        for w in written:
            per_bucket[w["bucket"]] = per_bucket.get(w["bucket"], 0) + 1
        uncommitted = inputs.uncommitted_buckets(per_bucket, self.seed)
        inputs.crash_lineage(out, uncommitted)
        t0 = time.monotonic()
        with spans.span(f"{self.name}/resume/run_extraction"):
            r = run_extraction(spark, spark.read.parquet(self.input), out)
        t1 = time.monotonic()
        with spans.span(f"{self.name}/resume/read_output"):
            noop_scan(read_output(spark, out))
        t2 = time.monotonic()
        lineage = pq.read_table(f"{out}/lineage").to_pylist()
        new_buckets = {row["bucket"] for row in lineage if row["run_id"] == r.run_id}
        committed = (read_output(spark, out)
                     .select("conv_id", "turn_idx", "role", "run_id", "bucket")
                     .toArrow().to_pylist())
        problems = check_resume(committed, new_buckets, uncommitted, r.run_id, self.t)
        shutil.rmtree(out)
        convs = {w["conv_id"] for w in written if w["bucket"] in uncommitted}
        return {"result": r, "job_s": t2 - t0, "read_s": t2 - t1, "convs": convs}, problems


class CurateDocs:
    """curate(cfg, collect_stats=True) and a parquet write, as
    jobs/run_curate.py runs them, over a seeded documents table."""

    name = "curate_docs"
    min_reps = 2  # one curate takes ~15 s; a third would push a run past a minute
    read_scans = 5

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def inputs_before_session(self):
        self.docs = inputs.gen_documents(seed=self.seed, **DOCS)
        self.input = f"{self.work}/docs"
        inputs.write_documents(self.docs, self.input)
        warm = inputs.gen_documents(seed=self.seed + 1, **WARM_DOCS)
        inputs.write_documents(warm, f"{self.work}/warm_docs")
        self.rows = len(self.docs.ids)

    @staticmethod
    def curate_job(spark, src: str, out: str):
        res = curate(spark.read.parquet(src), CurateConfig(input=src, output=out),
                     collect_stats=True)
        res.curated.write.mode("overwrite").parquet(out)
        return res

    def warmup(self, spark):
        out = f"{self.work}/warm_out"
        self.curate_job(spark, f"{self.work}/warm_docs", out)
        noop_scan(spark.read.parquet(out))

    def prepare(self, spark):
        pass

    def timed(self, spark, rep, spans):
        out = f"{self.work}/curated/{rep}"
        t0 = time.monotonic()
        with spans.span(f"{self.name}/curate/{rep}"):
            res = self.curate_job(spark, self.input, out)
        return {"job_s": time.monotonic() - t0, "result": res, "out": out, "rep": rep}

    def read(self, spark, res, spans) -> float:
        return median_scan(spans, f"{self.name}/read/{res['rep']}", self.read_scans,
                           lambda: spark.read.parquet(res["out"]))

    def check(self, spark, res):
        out = res["out"]
        res["sink_files"], res["sink_bytes"] = tree_size(out)
        res["read_files"] = res["sink_files"]
        rows = pq.read_table(out, columns=["doc_id", "redacted_text"]).to_pylist()
        shutil.rmtree(out)
        return check_curation(rows, self.docs)

    def core_payloads(self, convs=None):
        return []


WORKLOADS = {w.name: w for w in (ExtractMixed, CurateDocs)}


# --------------------------------------------------------------- sessions


def n_cores() -> int:
    have = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or have)
    return max(1, min(want, have))


def session(work: str, event_log: str | None = None):
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark_local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4.1 writes zstd by default; the stdlib cannot read it
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_log,
        })
    return build_session(app_name="perfbench", master=f"local[{n_cores()}]", extra_conf=conf)


def setup(w, work: str, event_log: str | None = None):
    """Session start plus one warm-up; returns the session and both times."""
    t0 = time.monotonic()
    spark = session(work, event_log)
    t1 = time.monotonic()
    w.warmup(spark)
    start_s, warm_s = t1 - t0, time.monotonic() - t1
    shutil.rmtree(f"{work}/warm_out", ignore_errors=True)
    return spark, start_s, warm_s


def timed_loop(w, spark, seconds: float, spans: Spans, rss: WorkerRss | None = None,
               read: bool = False):
    """Repeat the timed operation until `seconds` of timed work have passed
    (and at least `w.min_reps` times); with `read`, scan each repetition's
    output (`read_s`); check each repetition's output after its timing ends.
    Returns the repetitions, the failed count and the problems."""
    reps: list[dict] = []
    failed, problems, busy = 0, [], 0.0
    while busy < seconds or len(reps) < w.min_reps:
        try:
            with rss.sampling() if rss is not None else nullcontext():
                res = w.timed(spark, len(reps), spans)
            if read:
                res["read_s"] = w.read(spark, res, spans)
            bad = w.check(spark, res)
        except Exception:  # the operation itself failed: count it, go on
            res, bad = {"job_s": seconds, "read_s": 0.0}, [traceback.format_exc(limit=4)]
        if bad:
            failed += 1
            problems.extend(bad)
        reps.append(res)
        busy += res["job_s"]
    return reps, failed, problems


def stop_everything() -> None:
    """Stop Spark, the JVM it runs in and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark_local",
    })

    w = WORKLOADS[args.workload](work, args.seed)
    rss = WorkerRss()
    try:
        w.inputs_before_session()
        spark, start_s, warm_s = setup(w, work)
        log(f"setup_s {start_s + warm_s:.2f}")
        w.prepare(spark)
        reps, failed, problems = timed_loop(w, spark, args.seconds, Spans(), rss)
        log(f"job_s {[round(r['job_s'], 2) for r in reps]} "
            f"worker rss {rss.peak_mb:.1f} MB")
        job_s = median([r["job_s"] for r in reps])
        metrics = {
            "setup_s": (start_s + warm_s, "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (w.rows / job_s, "1/s"),
        }
        attempted = len(reps)
        if args.trace:
            from layers import traced_pass

            spark.stop()
            metrics, t_attempted, t_failed, t_problems = traced_pass(
                w, work, args, reps, start_s, warm_s, rss)
            attempted += t_attempted
            failed += t_failed
            problems += t_problems
    finally:
        rss.close()
        stop_everything()
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
