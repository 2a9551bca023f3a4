"""Expected output of the ``corpus_build`` workload, from the generator.

The corpus generator knows every record's golden ``text`` and which
earlier page each copy was made from.  ``expected_corpus`` derives from
that alone, in plain Python, what ``build_corpus(near_dup=True,
dedup_paragraphs=True, min_tokens=20)`` must produce: the per-stage
survivor counts and the exact ``(url, text)`` rows of the JSONL export.
It never runs the program's operators, so a regression in them cannot
move the reference along with it.

The rules modelled are the documented contracts of the stages:

* quality gate: at least ``min_tokens`` tokens (lower-cased text split
  on ``[^a-z0-9]+``), which also clears the "low" bucket;
* exact dedup: one row per distinct text, the smallest url kept;
* near dup: one row per copy group (a page and its near copies), the
  one with the smallest 60-bit url hash kept.  The generator makes near
  copies that differ from their page in a single word, and unrelated
  pages share no word sequence, so this is what a correct MinHash pass
  finds;
* paragraph dedup: a trimmed non-empty line seen before in
  ``(url, line index)`` order is dropped; docs left empty drop;
* export: the quality gate again, over the paragraph-deduped text.
"""

from __future__ import annotations

import hashlib
import re

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
_STRIP = " \t\n\r\f\x0b\xa0"


def n_tokens(text: str) -> int:
    return sum(1 for t in _TOKEN_SPLIT.split(text.lower()) if t)


def lines(text: str) -> list:
    return [s for s in (ln.strip(_STRIP) for ln in text.split("\n")) if s]


def hash60(url: str) -> int:
    return int(hashlib.md5(url.encode()).hexdigest()[:15], 16)


def expected_corpus(recs: list, min_tokens: int = 20) -> tuple[dict, dict]:
    """``recs``: dicts with ``url``, ``text`` and ``group`` (the index of
    the page a copy was made from).  -> (survivor counts, url -> text of
    every exported row)."""
    counts = {"pages": len(recs)}
    docs = [r for r in recs if r["text"]]
    counts["extracted"] = len(docs)
    docs = [r for r in docs if n_tokens(r["text"]) >= min_tokens]
    counts["after_quality"] = len(docs)

    first_by_text: dict = {}
    for r in docs:
        kept = first_by_text.get(r["text"])
        if kept is None or r["url"] < kept["url"]:
            first_by_text[r["text"]] = r
    docs = list(first_by_text.values())
    counts["after_exact_dedup"] = len(docs)

    first_by_group: dict = {}
    for r in docs:
        kept = first_by_group.get(r["group"])
        if kept is None or hash60(r["url"]) < hash60(kept["url"]):
            first_by_group[r["group"]] = r
    docs = sorted(first_by_group.values(), key=lambda r: r["url"])
    counts["after_near_dup"] = len(docs)

    seen: set = set()
    deduped = {}
    for r in docs:
        kept = []
        for para in lines(r["text"]):
            if para not in seen:
                seen.add(para)
                kept.append(para)
        if kept:
            deduped[r["url"]] = "\n".join(kept)
    counts["after_para_dedup"] = len(deduped)

    exported = {u: t for u, t in deduped.items()
                if n_tokens(t) >= min_tokens}
    counts["exported"] = len(exported)
    return counts, exported
