"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(workload, seed, n_docs)``.  The
program only ever sees the pages table; the expected-output table
stays on the benchmark side and is true by construction (it is built
from the values the generator rendered, never by running the program).

Tables are written once per ``(workload, seed, n_docs)`` under the
work directory and reused by later runs with the same key.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from json_remedy_spark.functions.scrub import SCRUB_RULES, TOXICITY_PATTERN
from json_remedy_spark.sources.webpages import make_row

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]

# Java-regex and Python-re agree on these patterns for ASCII input, and
# every payload the generators render is ASCII.
_SCRUB = [(re.compile(p, re.ASCII), r) for _, p, r in SCRUB_RULES] + [
    (re.compile(TOXICITY_PATTERN, re.ASCII), "[TOX]")
]

# English lead-in for the planted near-duplicate pages: carries the
# langid stopwords and reads as natural prose to the perplexity model.
_LEAD = "the team wrote this note over the weekend and it is what we use for the daily report"
# Content words for planted notes: no stopword of any langid language.
_NOTE_WORDS = (
    "river stone garden window paper market yellow rocket silver winter "
    "harbor pencil castle orange meadow bridge copper forest engine violet "
    "canyon marble ladder island velvet summit lantern cotton falcon desert "
    "planet saddle thunder walnut glacier meteor quartz tunnel compass hollow"
).split()


def py_scrub(text: str) -> str:
    """Benchmark-side replica of ``functions.scrub.scrub`` over the
    program's own rule table."""
    for pat, rep in _SCRUB:
        text = pat.sub(rep, text)
    return text


def norm_words(text: str) -> str:
    """The text as fuzzy dedup sees it: lowercased, whitespace-split."""
    return " ".join(text.lower().split())


def _canon(v) -> str:
    return json.dumps(v, ensure_ascii=False, separators=(",", ":"))


def filter_rows(n_docs: int, seed: int) -> tuple[list, list, int]:
    """``filter_short``: the default ``make_row`` mix; per url the
    expected keep, repaired and scrubbed values; every page is output."""
    pages, expected = [], []
    for i in range(n_docs):
        r = make_row(i, seed)
        pages.append({k: r[k] for k in PAGE_COLS})
        expected.append({
            "url": r["url"],
            "expected_keep": r["expected_keep"],
            "expected_repaired": r["expected_repaired"],
            "expected_scrubbed": py_scrub(r["expected_repaired"]),
        })
    return pages, expected, len(pages)


def _url_variant(url: str, j: int) -> str:
    """A URL that ``corpus.canonical_url`` maps to the same key."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    return [
        f"{scheme.upper()}://{host.upper()}/{path}",
        f"{scheme}://{host}:443/{path}",
        f"{url}#main",
        f"{url}?utm_source=feed",
    ][j % 4]


def _respell(note: str, rng: random.Random) -> str:
    """Same words, other case and spacing: not an exact duplicate, but
    the same shingle set (Jaccard 1), so fuzzy dedup must merge it."""
    words = [w.upper() if rng.random() < 0.3 else w for w in note.split(" ")]
    gaps = ["  " if rng.random() < 0.2 else " " for _ in words[1:]]
    return words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))


def corpus_rows(n_docs: int, seed: int) -> tuple[list, list, int]:
    """``corpus_build``: ``n_docs`` default pages plus three planted
    families, one per dedup stage of the composed job:

    * re-crawls of a kept page under a URL variant, one day later
      (URL dedup);
    * byte-identical copies of a kept page under an unrelated URL
      (line dedup: the job's documents are one line each);
    * pages whose payload differs from a sibling's only in case and
      spacing inside a long string (fuzzy dedup).

    Expected output: one row per group of kept pages with equal
    ``norm_words`` text.  A group's rows cannot survive side by side
    (equal text means Jaccard 1), and rows of different groups are far
    apart: a default payload is one whitespace token, and notes are
    independent runs of 30-60 random words.  Each expected row carries
    its group key and the text the job must write for that url."""
    rng = random.Random(seed * 1_000_003 + 17)
    base = [make_row(i, seed) for i in range(n_docs)]
    keepers = [r for r in base if r["expected_keep"]]
    n_fam = max(4, n_docs // 40)
    planted = []
    for j, r in enumerate(rng.sample(keepers, n_fam)):
        planted.append(dict(r, url=_url_variant(r["url"], j), warc_ts=r["warc_ts"] + dt.timedelta(days=1)))
    for j, r in enumerate(rng.sample(keepers, n_fam)):
        planted.append(dict(r, url=f"https://mirror{j % 89:02d}.example/copy/{seed}/{j:06d}"))
    ts0 = dt.datetime(2026, 2, 1)
    for j in range(n_fam):
        note = " ".join(rng.choice(_NOTE_WORDS) for _ in range(rng.randrange(30, 60)))
        for k, txt in enumerate((note, _respell(note, rng))):
            payload = {"note": txt, "source": "feed"}
            text = f"{_LEAD}\n{_canon(payload)}"
            url = f"https://notes{j % 53:02d}.example/{seed}/{j:06d}/{k}"
            planted.append({
                "url": url,
                "warc_ts": ts0 + dt.timedelta(minutes=j),
                "html": f"<html><body><p>{text}</p></body></html>".encode(),
                "text": text,
                "lang": "en",
                "expected_repaired": _canon(payload),
                "expected_keep": True,
            })
    rows = base + planted
    pages = [{k: r[k] for k in PAGE_COLS} for r in rows]
    expected = []
    for r in rows:
        if r["expected_keep"]:
            text = py_scrub(r["expected_repaired"])
            expected.append({"url": r["url"], "grp": norm_words(text), "expected_text": text})
    return pages, expected, len({e["grp"] for e in expected})


GENERATORS = {"filter_short": filter_rows, "corpus_build": corpus_rows}


def _write_files(rows: list, path: str, n_files: int) -> None:
    os.makedirs(path)
    table = pa.Table.from_pylist(rows)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(
                part, os.path.join(path, f"part-{k:05d}.parquet"),
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )


def materialize(root: str, workload: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Write (or reuse) the pages and expected tables; returns their
    paths and row counts."""
    key = os.path.join(root, f"{workload}-s{seed}-n{n_docs}-f{n_files}")
    meta_path = os.path.join(key, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(key, ignore_errors=True)
    pages, expected, n_out = GENERATORS[workload](n_docs, seed)
    meta = {
        "pages": os.path.join(key, "pages"),
        "expected": os.path.join(key, "expected"),
        "n_pages": len(pages),
        "n_out": n_out,  # output rows the job must commit
    }
    _write_files(pages, meta["pages"], n_files)
    _write_files(expected, meta["expected"], 1)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta
