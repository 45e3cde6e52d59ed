"""Correctness checks made apart from the program: each one recomputes
what the output must be from the generator's own record of the input
(payload family, raw payload, planted design) and returns a list of
problems, empty when the output is correct.

A row the program marks `failed` for a broken payload is correct output.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from inputs import Documents, Transcripts, tie_key

from pdfwf_spark.fixtures.gen import BOILER_WORDS

MAX_REPORTED = 5

# generator family -> the (parser, parse_status) an extraction must give
_EXPECTED = {
    "html": ("html", "ok"),
    "pdfish": ("pdfish", "ok"),
    "plain": ("plain", "ok"),
    "meta": ("plain", "ok"),
}
_HTML_LEAKS = re.compile(
    r"(?i)<\s*/?\s*[a-z!][^>]*>|\bcookies?\b|\baccept\b|\b(?:"
    + "|".join(BOILER_WORDS)
    + r")\b"
)
# generator markers of blocks a pdfish extraction must drop: the
# low-confidence block, the overlapping duplicate and the page footer
_PDFISH_LEAKS = re.compile(r"\blowconf\b|\bdup\b|\bpage \d+\b")
EMAIL = re.compile(r"[\w.%+-]+@[\w-]+(?:\.[\w-]+)+")


def _add(problems: list[str], msg: str) -> None:
    if len(problems) < MAX_REPORTED:
        problems.append(msg)
    elif len(problems) == MAX_REPORTED:
        problems.append("...")


def check_extraction(out: list[dict], t: Transcripts) -> list[str]:
    """`out`: every row a run wrote (all statuses), with conv_id, turn_idx,
    role, parser, parse_status, clean_text and turn_rank."""
    problems: list[str] = []
    gen = t.by_key()
    seen = Counter((r["conv_id"], r["turn_idx"], r["role"]) for r in out)
    for key, n in seen.items():
        if key not in gen:
            _add(problems, f"row {key} was never generated")
        elif n != 1:
            _add(problems, f"turn {key} appears {n} times")
    for key in gen.keys() - seen.keys():
        _add(problems, f"turn {key} is missing")

    expected_rank = {}
    per_conv = defaultdict(list)
    for r in t.rows:
        per_conv[r["conv_id"]].append(r)
    for rows in per_conv.values():
        rows.sort(key=lambda r: (r["turn_idx"], r["ts"], r["role"],
                                 tie_key(r["text"], r["tool"])))
        for rank, r in enumerate(rows, 1):
            expected_rank[(r["conv_id"], r["turn_idx"], r["role"])] = rank

    for r in out:
        key = (r["conv_id"], r["turn_idx"], r["role"])
        g = gen.get(key)
        if g is None:
            continue
        fam = g["_family"]
        got = (r["parser"], r["parse_status"])
        if fam == "broken":
            if r["parse_status"] != "failed":
                _add(problems, f"broken payload {key} has status {r['parse_status']}")
        elif got != _EXPECTED[fam]:
            _add(problems, f"{fam} payload {key} gave {got}")
        if r["turn_rank"] != expected_rank[key]:
            _add(problems, f"turn {key} ranked {r['turn_rank']}, expected {expected_rank[key]}")
        text = r["clean_text"] or ""
        if r["parser"] == "html" and _HTML_LEAKS.search(text):
            _add(problems, f"html {key} keeps {_HTML_LEAKS.search(text).group(0)!r}")
        if r["parser"] == "pdfish" and _PDFISH_LEAKS.search(text):
            _add(problems, f"pdfish {key} keeps {_PDFISH_LEAKS.search(text).group(0)!r}")
    return problems


def check_resume(
    committed: list[dict],
    new_lineage_buckets: set[int],
    uncommitted: set[int],
    new_run_id: str,
    t: Transcripts,
) -> list[str]:
    """`committed`: read_output's rows (conv_id, turn_idx, role, run_id,
    bucket); `new_lineage_buckets`: the buckets the resumed run committed."""
    problems: list[str] = []
    if new_lineage_buckets != uncommitted:
        _add(problems, f"resume committed buckets {sorted(new_lineage_buckets)}, "
                       f"expected exactly {sorted(uncommitted)}")
    ok_turns = {k for k, r in t.by_key().items() if r["_family"] != "broken"}
    seen = Counter((r["conv_id"], r["turn_idx"], r["role"]) for r in committed)
    for key, n in seen.items():
        if key not in ok_turns:
            _add(problems, f"read_output holds {key}, which is not an ok turn")
        elif n != 1:
            _add(problems, f"read_output holds {key} {n} times")
    for key in ok_turns - seen.keys():
        _add(problems, f"read_output misses ok turn {key}")
    for r in committed:
        if r["bucket"] in uncommitted and r["run_id"] != new_run_id:
            _add(problems, f"orphan row of run {r['run_id']} in bucket {r['bucket']}")
    return problems


def check_curation(survivors: list[dict], d: Documents) -> list[str]:
    """`survivors`: the curated output rows (doc_id, redacted_text)."""
    problems: list[str] = []
    ids = [r["doc_id"] for r in survivors]
    if len(ids) != len(set(ids)):
        _add(problems, "a document survives twice")
    if len(set(ids)) != d.expected_survivors:
        _add(problems, f"{len(set(ids))} survivors, the planted design predicts "
                       f"{d.expected_survivors}")
    by_cluster = defaultdict(list)
    for i in ids:
        if i in d.cluster:
            by_cluster[d.cluster[i]].append(i)
    for c, members in by_cluster.items():
        if len(members) > 1:
            _add(problems, f"cluster {c} keeps {sorted(members)}")
    for i in set(ids) & d.repetitive:
        _add(problems, f"repetitive document {i} survives")
    for r in survivors:
        m = EMAIL.search(r["redacted_text"] or "")
        if m:
            _add(problems, f"document {r['doc_id']} keeps e-mail {m.group(0)!r}")
    return problems
