"""Seeded input builders. Every input is a pure function of the seed and
is materialized before any timing starts.

- transcripts: the fixture generator's conversations (``gen_conv_rows``),
  kept driver-side with their payload family as the expected answer, and
  written as a table by ``fixtures.gen_spark.spark_transcripts``;
- the crash-shaped resume directory: a finished extraction whose lineage
  rows for an eighth of the buckets are removed, so those buckets hold
  data that no lineage row commits (what a crash between the data write
  and the lineage commit leaves);
- documents: unique documents over a shared Zipf vocabulary with shared
  footer lines, planted near-duplicate clusters, planted repetitive
  documents and planted e-mail addresses, with the number of survivors
  the design predicts.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import string
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdfwf_spark.fixtures.gen import gen_conv_rows
from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

# The fixture generator's defaults: one 2,000-turn mega-conversation in
# every 200, so the skew that salting and AQE exist for stays in the input.
MEGA_EVERY = 200
MEGA_TURNS = 2000
N_BUCKETS = 64  # pipeline.run_extraction's default bucket count
RESUME_SHARE = 8  # one bucket in RESUME_SHARE is left uncommitted

_ARROW_TRANSCRIPTS = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def tie_key(text: str | None, tool: str | None) -> str:
    """md5 of ``{len(text)}:{text}{len(tool)}:{tool}``, the documented
    total-order tiebreak, recomputed here from the raw payload."""
    t, u = text or "", tool or ""
    return hashlib.md5(f"{len(t)}:{t}{len(u)}:{u}".encode()).hexdigest()


@dataclass
class Transcripts:
    rows: list[dict]  # generator rows, with their `_family` label

    @property
    def n_turns(self) -> int:
        return len(self.rows)

    def by_key(self) -> dict[tuple, dict]:
        """(conv_id, turn_idx, role) -> generator row; the triple is unique
        because a tied row always takes a role other than its twin's."""
        return {(r["conv_id"], r["turn_idx"], r["role"]): r for r in self.rows}


def gen_transcripts(n_convs: int, seed: int, mega_every: int = MEGA_EVERY) -> Transcripts:
    rows: list[dict] = []
    for c in range(n_convs):
        rows.extend(gen_conv_rows(c, seed, mega_every, MEGA_TURNS))
    return Transcripts(rows)


def write_transcripts_local(t: Transcripts, path: str) -> None:
    """Write a (small) transcript table without Spark, for warm-up."""
    cols = {f.name: [r[f.name] for r in t.rows] for f in _ARROW_TRANSCRIPTS}
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols, schema=_ARROW_TRANSCRIPTS), f"{path}/part-0.parquet")


def materialize_transcripts(spark, n_convs: int, seed: int, path: str) -> int:
    """The transcript table as the repo's distributed generator builds it,
    written once so every timed repetition scans the same files."""
    from pdfwf_spark.fixtures.gen_spark import spark_transcripts

    df = spark_transcripts(spark, n_convs, seed=seed, mega_every=MEGA_EVERY,
                           mega_turns=MEGA_TURNS)
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path).count()


# ------------------------------------------------------------------ resume


def uncommitted_buckets(bucket_turns: dict[int, int], seed: int) -> set[int]:
    """The buckets left uncommitted: N_BUCKETS / RESUME_SHARE of them, drawn
    by the seed. The draw is repeated until the chosen buckets hold between
    1/40 and 1/6 of the turns (no mega-conversation), so every seed
    re-processes a like share."""
    total = sum(bucket_turns.values())
    rng = random.Random(seed * 7919 + 17)
    buckets = sorted(bucket_turns)
    k = N_BUCKETS // RESUME_SHARE
    for _ in range(10_000):
        pick = set(rng.sample(buckets, k))
        share = sum(bucket_turns[b] for b in pick) / total
        if 1 / 40 <= share <= 1 / 6:
            return pick
    raise RuntimeError("no bucket draw re-processes 1/40 to 1/6 of the turns")


def crash_lineage(out_dir: str, drop: set[int]) -> None:
    """Remove the lineage rows of `drop` from a finished run's lineage
    directory: its data files stay, now committed by no lineage row."""
    lin_dir = f"{out_dir}/lineage"
    lineage = pq.read_table(lin_dir)
    keep = [b not in drop for b in lineage.column("bucket").to_pylist()]
    shutil.rmtree(lin_dir)
    os.makedirs(lin_dir)
    pq.write_table(lineage.filter(pa.array(keep)), f"{lin_dir}/part-crash.parquet")


# --------------------------------------------------------------- documents


def _words(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))))
    return sorted(out)


@dataclass
class Documents:
    ids: list[int]
    texts: list[str]
    cluster: dict[int, int]  # doc id -> planted cluster (members only)
    repetitive: set[int]  # ids of planted repetitive documents
    with_email: set[int]  # ids of documents carrying an e-mail address
    expected_survivors: int


VOCAB = 30_000  # shared by every document, drawn with Zipf (s = 1) frequencies
N_FOOTERS = 12  # shared 8-word footer lines, each on ~1/40 of the documents
FOOTER_SHARE = 0.3
EMAIL_SHARE = 0.25


def gen_documents(
    n_unique: int, n_clusters: int, n_repetitive: int, seed: int
) -> Documents:
    """Documents whose words all come from one shared 30k-word vocabulary
    with Zipf (s = 1) frequencies, as in natural text, so unrelated
    documents share frequent trigrams; 30% of them end in one of 12 shared
    8-word footer lines (site or licence boilerplate). Two documents with
    the same footer share 6 trigrams of 120 or more (Jaccard <= 0.026), so
    some become LSH candidates that exact verification, at the default
    0.05 threshold, must reject.

    Lengths are 120 words plus an exponential tail (mean 160, at most 400).

    A planted cluster is a base document plus 1-4 variants, each the base
    with one distinct word appended (the near-duplicate construction of
    tools/gen_sf.py). A variant differs from the base in one trigram of at
    least 120, so every pair in a cluster has Jaccard >= 0.98; the chance
    that the default 4x2-band MinHash misses such a pair, 1-(1-J^2)^4, is
    below 1e-6. A repetitive document is an optional 0-20-word prefix and
    then one line of 2-4 words repeated 30-60 times: its top 2-gram takes
    at least 216 per mille of its 2-grams, above the 150 floor, while a
    normal document's stays far below it. E-mail addresses are planted in
    a quarter of the non-repetitive documents. Appended words come from a
    pool disjoint from the vocabulary.

    Survivors predicted: every unique document, one per cluster, no
    repetitive document.
    """
    rng = random.Random(seed * 104729 + 3)
    pool = _words(rng, VOCAB + 5 * n_clusters)
    rng.shuffle(pool)
    vocab, tail_words = pool[:VOCAB], pool[VOCAB:]
    cum, acc = [], 0.0
    for rank in range(1, VOCAB + 1):
        acc += 1 / rank
        cum.append(acc)
    footers = [" ".join(rng.choices(vocab, cum_weights=cum, k=8)) for _ in range(N_FOOTERS)]

    def doc() -> tuple[str, bool]:
        n = min(400, 120 + int(rng.expovariate(1 / 40)))
        toks = rng.choices(vocab, cum_weights=cum, k=n)
        email = rng.random() < EMAIL_SHARE
        if email:
            user = rng.choice(vocab) + rng.choice(["", ".", "_", "+"]) + rng.choice(vocab)
            host = rng.choice(vocab) + rng.choice(["", "-"]) + rng.choice(vocab)
            tld = rng.choice(["com", "org", "net", "io", "co.uk"])
            toks.insert(rng.randrange(len(toks)), f"{user}@{host}.{tld}")
        if rng.random() < FOOTER_SHARE:
            toks.append(rng.choice(footers))
        return " ".join(toks), email

    def repetitive() -> str:
        line = rng.sample(vocab, rng.randint(2, 4))
        prefix = rng.choices(vocab, cum_weights=cum, k=rng.randint(0, 20))
        return " ".join(prefix + line * rng.randint(30, 60))

    texts: list[str] = []
    cluster_of: list[int | None] = []
    rep_flag: list[bool] = []
    email_flag: list[bool] = []
    for _ in range(n_unique):
        t, e = doc()
        texts.append(t), cluster_of.append(None), rep_flag.append(False), email_flag.append(e)
    tails = iter(tail_words)
    for c in range(n_clusters):
        base, e = doc()
        for v in range(rng.randint(2, 5)):
            texts.append(base if v == 0 else f"{base} {next(tails)}")
            cluster_of.append(c), rep_flag.append(False), email_flag.append(e)
    for _ in range(n_repetitive):
        texts.append(repetitive())
        cluster_of.append(None), rep_flag.append(True), email_flag.append(False)

    ids = list(range(len(texts)))
    rng.shuffle(ids)  # keepers (min id) fall on arbitrary cluster members
    return Documents(
        ids=ids,
        texts=texts,
        cluster={i: c for i, c in zip(ids, cluster_of) if c is not None},
        repetitive={i for i, r in zip(ids, rep_flag) if r},
        with_email={i for i, e in zip(ids, email_flag) if e},
        expected_survivors=n_unique + n_clusters,
    )


def write_documents(d: Documents, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({"doc_id": pa.array(d.ids, pa.int64()), "text": d.texts})
    # four files, so the scan starts with one task per core
    n = len(d.ids)
    for i in range(4):
        pq.write_table(table.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4),
                       f"{path}/part-{i}.parquet")
