"""Seeded input staging with an on-disk cache.

Inputs are a pure function of (generator VERSION, seed, workload
shape), so each staged set lives under a directory named by that key
and is reused when the same key comes back.  A set is written into a
temporary directory and renamed into place, so a crashed run never
leaves a half-written set behind.  Only the newest ``KEEP`` sets are
kept.

The program is used here only as the input generator
(``sources.corpus.generate_page``, ``sources.warc.synth_warc``) whose
golden ``text`` column is the correctness reference.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

KEEP = 24
# corpus_build: shares of the records that copy an earlier page
EXACT_COPY_SHARE = 0.15
NEAR_COPY_SHARE = 0.10
WARC_FILES = 4
# build_corpus's quality gate: at least this many tokens
MIN_TOKENS = 20

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _key(kind: str, seed: int, **shape) -> str:
    from origami_spark.sources.corpus import VERSION

    parts = [f"v{VERSION}", kind, f"seed{seed}"]
    parts += [f"{k}{v}" for k, v in sorted(shape.items())]
    return "-".join(parts)


def _cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """-> (dir, meta).  ``build(tmp_dir) -> meta`` runs on a miss."""
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        write_meta(tmp, meta)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _evict(cache_root, keep=final)
    os.utime(final)
    with open(meta_path) as f:
        return final, json.load(f)


def write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, "meta.json"))


def _evict(cache_root: str, keep: str) -> None:
    sets = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if ".tmp" not in d]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[KEEP:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _write_pages(path: str, pages: list) -> int:
    """Parquet of the generator's rows; returns the html bytes."""
    os.makedirs(path)
    rows = [{k: p[k] for k in _PAGES_SCHEMA.names} for p in pages]
    pq.write_table(pa.Table.from_pylist(rows, schema=_PAGES_SCHEMA),
                   os.path.join(path, "part-00000.parquet"))
    return sum(len(p["html"]) for p in pages)


def stage_pages(cache_root: str, seed: int, n: int, delta: int = 0):
    """Pages ``0..n-1`` in ``base/``; pages ``n..n+delta-1`` (new doc
    ids, a fresh delta) in ``delta/``."""
    from origami_spark.sources.corpus import generate_page

    def build(tmp):
        pages = [generate_page(seed, i) for i in range(n + delta)]
        meta = {"n": n, "delta": delta,
                "html_bytes_base": _write_pages(f"{tmp}/base", pages[:n])}
        meta["html_bytes_delta"] = (
            _write_pages(f"{tmp}/delta", pages[n:]) if delta else 0)
        return meta

    return _cached(cache_root, _key("pages", seed, n=n, delta=delta), build)


def golden_digest(spark, *paths: str) -> tuple[int, int]:
    """(rows, bit_xor(xxhash64(url, text))) of the golden text column —
    the same aggregate the workloads compute over the program's output."""
    row = spark.read.parquet(*paths).selectExpr(
        "count(1) AS n", "bit_xor(xxhash64(url, text)) AS d").collect()[0]
    return int(row["n"]), int(row["d"] or 0)


# ---------------------------------------------------------------------------
# corpus_build: per-record-gzip WARC archives with exact and near copies
# ---------------------------------------------------------------------------

_TAG = re.compile(rb"(<[^>]*>)")


def near_copy(html: bytes, text: str, rng: random.Random) -> tuple[bytes, str]:
    """Upper-case one word of the page's main text everywhere it occurs
    in text nodes (never inside tags).  The copy's text differs from the
    page's byte-wise, so exact dedup keeps both, but its lower-cased
    word shingles are the page's own.  Returns (html, golden text)."""
    from origami_spark.sources.corpus import _WORDS

    present = sorted({w for w in text.split()
                      if w in _WORDS and w.isascii() and w.isalpha()})
    if not present:
        return html, text
    word = rng.choice(present)
    pat = re.compile(rb"\b" + word.encode() + rb"\b")
    parts = _TAG.split(html)
    parts = [p if i % 2 else pat.sub(word.upper().encode(), p)
             for i, p in enumerate(parts)]
    return b"".join(parts), re.sub(rf"\b{word}\b", word.upper(), text)


def corpus_records(seed: int, n: int) -> list:
    """``n`` records: originals, then exact copies (same html) and near
    copies (one upper-cased word) of earlier originals under new urls.
    ``group`` is the index of the original a record was made from."""
    from origami_spark.sources.corpus import generate_page

    n_exact = round(n * EXACT_COPY_SHARE)
    n_near = round(n * NEAR_COPY_SHARE)
    n_orig = n - n_exact - n_near
    rng = random.Random(f"perfbench:{seed}")
    recs = [{**generate_page(seed, i), "group": i} for i in range(n_orig)]
    for k in range(n_exact + n_near):
        src = recs[rng.randrange(n_orig)]
        html, text = src["html"], src["text"]
        kind = "dup" if k < n_exact else "near"
        if kind == "near":
            html, text = near_copy(html, text, rng)
        recs.append({**src, "url": f"{src['url']}?{kind}={k}",
                     "html": html, "text": text})
    return recs


def stage_warc(cache_root: str, seed: int, n: int):
    """Archives in ``warc/``; the reference export in ``expected.json``
    and the reference survivor counts in the meta (``reference.py``)."""
    from origami_spark.sources.warc import synth_warc

    from reference import expected_corpus

    def build(tmp):
        recs = corpus_records(seed, n)
        os.makedirs(f"{tmp}/warc")
        for k in range(WARC_FILES):
            with open(f"{tmp}/warc/part-{k:02d}.warc.gz", "wb") as f:
                f.write(synth_warc(recs[k::WARC_FILES], per_record_gzip=True))
        counts, rows = expected_corpus(recs, MIN_TOKENS)
        with open(f"{tmp}/expected.json", "w") as f:
            json.dump(rows, f)
        return {
            "n": n,
            "exact_copies": round(n * EXACT_COPY_SHARE),
            "near_copies": round(n * NEAR_COPY_SHARE),
            "expected_counts": counts,
            "html_bytes": sum(len(r["html"]) for r in recs),
            "warc_bytes": sum(
                os.path.getsize(f"{tmp}/warc/{f}")
                for f in os.listdir(f"{tmp}/warc")),
        }

    return _cached(cache_root, _key("warc", seed, n=n,
                                    exact=EXACT_COPY_SHARE,
                                    near=NEAR_COPY_SHARE), build)


def read_expected(path: str) -> dict:
    with open(os.path.join(path, "expected.json")) as f:
        return json.load(f)


def sample_html_pages(path: str, limit: int) -> list:
    table = pq.read_table(path, columns=["html"])
    return table.column("html").to_pylist()[:limit]


def sample_html_warc(path: str, limit: int) -> list:
    from origami_spark.sources.warc import parse_warc_bytes

    out = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out += [p["html"] for p in parse_warc_bytes(f.read())]
    return out[:limit]


def read_jsonl_rows(path: str) -> list:
    """(url, text) of every JSONL line the sink wrote under ``path``."""
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with gzip.open(os.path.join(path, name), "rt") as f:
                for line in f:
                    r = json.loads(line)
                    rows.append((r["url"], r["text"]))
    return rows
