"""The benchmark's checks accept the program's real outputs and reject
deliberately corrupted copies of them. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
from checks import check_curation, check_extraction, check_resume  # noqa: E402

CONVS = 40  # enough for every payload family, ties and a 60-turn conversation


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    s = run.session(work)
    s._perfbench_work = work
    yield s
    s.stop()


@pytest.fixture(scope="module")
def transcripts(spark):
    t = inputs.Transcripts(
        [r for c in range(CONVS) for r in inputs.gen_conv_rows(c, 9, 20, 60)])
    path = f"{spark._perfbench_work}/transcripts"
    inputs.write_transcripts_local(t, path)
    return t, path


@pytest.fixture(scope="module")
def extracted(spark, transcripts):
    from pdfwf_spark.pipeline import run_extraction

    t, path = transcripts
    out = f"{spark._perfbench_work}/extracted"
    r = run_extraction(spark, spark.read.parquet(path), out)
    cols = ["conv_id", "turn_idx", "role", "parser", "parse_status", "clean_text",
            "turn_rank"]
    rows = pq.read_table(f"{out}/turns/run_id={r.run_id}", columns=cols).to_pylist()
    return t, rows


def _first(rows, **want):
    return next(i for i, r in enumerate(rows)
                if all(r[k] == v for k, v in want.items()))


def test_extraction_output_passes(extracted):
    t, rows = extracted
    assert {r["parse_status"] for r in rows} == {"ok", "failed"}
    assert {r["parser"] for r in rows} >= {"html", "pdfish", "plain"}
    assert check_extraction(rows, t) == []


def test_swapped_ranks_are_rejected(extracted):
    t, rows = extracted
    bad = copy.deepcopy(rows)
    conv = bad[0]["conv_id"]
    a, b = [i for i, r in enumerate(bad) if r["conv_id"] == conv][:2]
    bad[a]["turn_rank"], bad[b]["turn_rank"] = bad[b]["turn_rank"], bad[a]["turn_rank"]
    assert any("ranked" in p for p in check_extraction(bad, t))


def test_duplicated_and_missing_turns_are_rejected(extracted):
    t, rows = extracted
    assert any("appears 2 times" in p for p in check_extraction(rows + [rows[3]], t))
    assert any("missing" in p for p in check_extraction(rows[1:], t))


def test_boilerplate_in_html_is_rejected(extracted):
    t, rows = extracted
    for leak in ("Privacy terms", "We use cookies.", "<div class='nav'>"):
        bad = copy.deepcopy(rows)
        i = _first(bad, parser="html", parse_status="ok")
        bad[i]["clean_text"] += " " + leak
        assert any("html" in p and "keeps" in p for p in check_extraction(bad, t)), leak


def test_dropped_pdfish_blocks_are_rejected(extracted):
    t, rows = extracted
    for leak in ("lowconf gradient tensor", "dup token layer", "page 2"):
        bad = copy.deepcopy(rows)
        i = _first(bad, parser="pdfish", parse_status="ok")
        bad[i]["clean_text"] += "\n" + leak
        assert any("pdfish" in p for p in check_extraction(bad, t)), leak


def test_wrong_parser_or_status_is_rejected(extracted):
    t, rows = extracted
    bad = copy.deepcopy(rows)
    bad[_first(bad, parse_status="failed")]["parse_status"] = "ok"
    assert any("broken payload" in p for p in check_extraction(bad, t))
    bad = copy.deepcopy(rows)
    bad[_first(bad, parser="html")]["parser"] = "plain"
    assert any("html payload" in p for p in check_extraction(bad, t))


def test_resume_check(spark, transcripts):
    from pdfwf_spark.pipeline import read_output, run_extraction

    t, path = transcripts
    out = f"{spark._perfbench_work}/resume"
    first = run_extraction(spark, spark.read.parquet(path), out)
    buckets = {r["bucket"] for r in pq.read_table(
        f"{out}/turns/run_id={first.run_id}", columns=["bucket"]).to_pylist()}
    lost = set(sorted(buckets)[:3])
    inputs.crash_lineage(out, lost)
    r = run_extraction(spark, spark.read.parquet(path), out)
    lineage = pq.read_table(f"{out}/lineage").to_pylist()
    new = {row["bucket"] for row in lineage if row["run_id"] == r.run_id}
    committed = (read_output(spark, out)
                 .select("conv_id", "turn_idx", "role", "run_id", "bucket")
                 .toArrow().to_pylist())
    assert check_resume(committed, new, lost, r.run_id, t) == []

    orphan = dict(next(c for c in committed if c["bucket"] in lost), run_id=first.run_id)
    assert any("orphan" in p for p in check_resume(committed + [orphan], new, lost,
                                                    r.run_id, t))
    assert any("committed buckets" in p for p in check_resume(
        committed, new | {min(buckets - lost)}, lost, r.run_id, t))
    assert any("misses" in p for p in check_resume(committed[1:], new, lost, r.run_id, t))
    shutil.rmtree(out)


@pytest.fixture(scope="module")
def curated(spark):
    import run

    work = spark._perfbench_work
    d = inputs.gen_documents(n_unique=40, n_clusters=8, n_repetitive=6, seed=3)
    inputs.write_documents(d, f"{work}/docs")
    run.CurateDocs.curate_job(spark, f"{work}/docs", f"{work}/curated")
    rows = pq.read_table(f"{work}/curated", columns=["doc_id", "redacted_text"]).to_pylist()
    return d, rows


def test_curation_output_passes(curated):
    d, rows = curated
    assert d.with_email & {r["doc_id"] for r in rows}  # redaction had work to do
    assert check_curation(rows, d) == []


def test_two_survivors_of_one_cluster_are_rejected(curated):
    d, rows = curated
    kept = {r["doc_id"] for r in rows}
    extra = next(i for i, c in d.cluster.items() if i not in kept)
    bad = rows + [{"doc_id": extra, "redacted_text": "x"}]
    assert any(f"cluster {d.cluster[extra]} keeps" in p for p in check_curation(bad, d))


def test_surviving_repetitive_document_is_rejected(curated):
    d, rows = curated
    bad = rows[1:] + [{"doc_id": min(d.repetitive), "redacted_text": "a b a b"}]
    assert any("repetitive" in p for p in check_curation(bad, d))


def test_unredacted_email_is_rejected(curated):
    d, rows = curated
    bad = copy.deepcopy(rows)
    bad[0]["redacted_text"] += " reach me at first.last@example-mail.co.uk"
    assert any("e-mail" in p for p in check_curation(bad, d))


def test_wrong_survivor_count_is_rejected(curated):
    d, rows = curated
    assert any("survivors" in p for p in check_curation(rows[1:], d))
