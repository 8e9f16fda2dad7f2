"""Seeded corpus generator for the extraction benchmark.

Every workload is built in one process from in-repo synthesizers only:
the `sources/corpus.py` HTML template (re-expressed here in Python), the
OOXML builders of `sources/minidocs.py`, the PDF writer of
`sources/pdfsynth.py`, and a generated ~240 KB heavy HTML article. The
same seed gives byte-identical parquet input.

A corpus is written as one parquet file of the engine's input schema
(`doc_id string, spans array<struct<kind,text,media_ref,offset>>`).
`resume-tail` also writes a pre-committed snapshot table (several
snapshots plus the `_snapshots.json` manifest) that is copied fresh
before each launch of the job. The job reads only the key column of
committed snapshots (`SnapshotTable.committed_keys`), so their rows
carry the docs' input spans rather than parsed output.
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])
INPUT_T = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])
ERROR_T = pa.struct([("component", pa.string()), ("module", pa.string()),
                     ("message", pa.string())])
OUTPUT_T = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T)),
                      ("status", pa.string()),
                      ("errors", pa.list_(ERROR_T)),
                      ("n_spans", pa.int32()), ("wall_us", pa.int64())])

# Workload sizes. A launch of the job at local[4] on a 4-core host costs
# about 25 s whatever its input (JVM and session start-up, planning,
# Python worker start, commit); these sizes add 5-10 s of per-doc work and
# keep a benchmark run (set-up plus one launch) under about 42 s.
WEB_DOCS = 40_000
MIXED_DOCS = 1_600
RESUME_DOCS = 40_000
RESUME_COMMITTED_FRAC = 0.9
RESUME_SNAPSHOTS = 3
MEDIA_MOD = 5          # 1 in 5 template docs carries a media span
HEAVY_MOD = 10         # 1 in 10 mixed docs is a heavy HTML article
BIG_PDF_PAGES = (200, 400, 1200)

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "da", "pe", "qu",
        "zo", "fa", "gi", "ha", "je", "bo", "cu", "xe", "wy"]


def _vocab(rng: random.Random, n: int = 2000,
           pool: int = 1 << 17) -> List[str]:
    """A stream of ``pool`` words drawn from an ``n``-word vocabulary;
    text is cut from it at random offsets."""
    words = ["".join(rng.choice(_SYL) for _ in range(rng.randint(1, 4)))
             for _ in range(n)]
    return rng.choices(words, k=pool)


@dataclass
class Corpus:
    """Rows plus the base every reported ratio divides by."""
    rows: List[Tuple[str, list]] = field(default_factory=list)
    fmt: Dict[str, str] = field(default_factory=dict)   # doc_id -> format
    # the text lines written into each pdf_raw doc, page by page
    raw_lines: Dict[str, List[List[str]]] = field(default_factory=dict)

    def add(self, doc_id: str, fmt: str, spans: list) -> None:
        self.rows.append((doc_id, spans))
        self.fmt[doc_id] = fmt

    def base(self) -> dict:
        docs: Dict[str, int] = {}
        mb: Dict[str, float] = {}
        pdf_pages = 0
        raw_pages = sorted(map(len, self.raw_lines.values()))
        for doc_id, spans in self.rows:
            f = self.fmt[doc_id]
            docs[f] = docs.get(f, 0) + 1
            size = sum(len(s[1]) for s in spans)
            mb[f] = mb.get(f, 0.0) + size / 1e6
            pdf_pages += sum(1 for s in spans if s[0] == "pdf_page")
        return {"docs": len(self.rows), "docs_per_format": docs,
                "payload_mb": round(sum(mb.values()), 3),
                "payload_mb_per_format": {k: round(v, 3)
                                          for k, v in mb.items()},
                "pdf_page_spans": pdf_pages,
                "pdf_raw_pages": sum(raw_pages),
                "big_pdf_pages": raw_pages[-len(BIG_PDF_PAGES):]}


# ---------------------------------------------------------------------------
# payload builders

def _words(rng, vocab, lo, hi) -> str:
    n = rng.randint(lo, hi)
    at = rng.randrange(len(vocab) - n)
    return " ".join(vocab[at:at + n])


def template_html(i: int, text: str) -> list:
    """The `sources/corpus.py` template; doc i % 5 == 0 has a media span."""
    media = i % MEDIA_MOD == 0
    html = (f"<html><body><h1>Doc {i}</h1><p>{text}</p><h2>Stats</h2>"
            f"<p>{len(text)} chars</p>" + ('<img src="m"/>' if media else "")
            + "</body></html>")
    spans = [("html", html, "", 0)]
    if media:
        spans.append(("media", "", f"media://{i}", 1))
    return spans


def _web_text(rng, vocab) -> str:
    # a few hundred bytes to a few KB, long-tailed
    n = int(min(900, max(20, rng.lognormvariate(3.9, 0.8))))
    return _words(rng, vocab, n, n)


def heavy_html(rng, vocab, target: int = 240_000) -> str:
    """A wiki-style article: chrome, nested sections, lists, tables,
    links and images, grown until it reaches ``target`` bytes."""
    parts = ["<!DOCTYPE html><html><head><title>",
             _words(rng, vocab, 3, 6), "</title><style>body{margin:0}"
             "</style></head><body><div id=\"nav\"><ul>"]
    parts += [f"<li><a href=\"/w/{rng.choice(vocab)}\">"
              f"{rng.choice(vocab)}</a></li>" for _ in range(40)]
    parts.append("</ul></div><div id=\"content\"><h1>"
                 + _words(rng, vocab, 2, 5) + "</h1>")
    size = sum(map(len, parts))
    sec = 0
    while size < target:
        sec += 1
        chunk = [f"<h2>{sec} {_words(rng, vocab, 1, 4)}</h2>"]
        for _ in range(rng.randint(2, 5)):
            words = _words(rng, vocab, 40, 120).split(" ")
            for k in range(0, len(words), 15):
                words[k] = (f"<a href=\"/w/{words[k]}\">{words[k]}</a>"
                            if k % 2 else f"<b>{words[k]}</b>")
            chunk.append("<div class=\"para\"><p>" + " ".join(words)
                         + "</p></div>")
        if sec % 3 == 0:
            chunk.append("<ul>" + "".join(
                f"<li>{_words(rng, vocab, 3, 12)}</li>"
                for _ in range(rng.randint(3, 8))) + "</ul>")
        if sec % 4 == 0:
            rows = "".join(
                "<tr>" + "".join(f"<td>{rng.choice(vocab)}</td>"
                                 for _ in range(4)) + "</tr>"
                for _ in range(rng.randint(3, 8)))
            chunk.append("<table><tr><th>a</th><th>b</th><th>c</th>"
                         f"<th>d</th></tr>{rows}</table>")
        if sec % 5 == 0:
            chunk.append(f"<figure><img src=\"f{sec}.png\"/><figcaption>"
                         f"{_words(rng, vocab, 3, 8)}</figcaption></figure>")
        s = "".join(chunk)
        parts.append(s)
        size += len(s)
    parts.append("</div></body></html>")
    return "".join(parts)


def md_doc(rng, vocab) -> str:
    lines = [f"# {_words(rng, vocab, 2, 5)}", ""]
    for k in range(rng.randint(2, 5)):
        lines += [f"## {_words(rng, vocab, 1, 4)}", "",
                  _words(rng, vocab, 20, 80), ""]
        if k % 2:
            lines += [f"- {_words(rng, vocab, 2, 6)}"
                      for _ in range(rng.randint(2, 5))] + [""]
    return "\n".join(lines)


def csv_doc(rng, vocab) -> str:
    cols = rng.randint(3, 6)
    rows = [",".join(f"c{k}" for k in range(cols))]
    rows += [",".join(rng.choice(vocab) for _ in range(cols))
             for _ in range(rng.randint(3, 40))]
    return "\n".join(rows) + "\n"


def pdf_page_payload(page_no: int, lines: List[str]) -> str:
    """Structured page JSON as `sources/corpus.py:corpus_pdf_pages` lays
    it out: one cell per line, single column, clear of the margins."""
    cells = [{"index": k, "text": ln, "l": 50.0, "t": 50.0 + 12.0 * k,
              "r": 400.0, "b": 60.0 + 12.0 * k} for k, ln in enumerate(lines)]
    return json.dumps({"page_no": page_no, "width": 612.0, "height": 792.0,
                       "cells": cells})


def _pdf_pages(rng, vocab, n_pages, lo=4, hi=20) -> List[List[str]]:
    return [[_words(rng, vocab, 3, 9) for _ in range(rng.randint(lo, hi))]
            for _ in range(n_pages)]


# ---------------------------------------------------------------------------
# workloads

def web_small(seed: int, n: int = WEB_DOCS, prefix: str = "w") -> Corpus:
    rng = random.Random(seed)
    vocab = _vocab(rng)
    c = Corpus()
    for i in range(n):
        c.add(f"{prefix}{i:07d}", "html", template_html(i, _web_text(rng, vocab)))
    return c


def mixed_heavy(seed: int, n: int = MIXED_DOCS) -> Corpus:
    from docling_spark.sources.minidocs import (docx_payload, pptx_payload,
                                                xlsx_payload)
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    rng = random.Random(seed)
    vocab = _vocab(rng)
    c = Corpus()
    office = {"docx": docx_payload, "xlsx": xlsx_payload,
              "pptx": pptx_payload}
    big = list(BIG_PDF_PAGES)
    for i in range(n):
        doc_id = f"m{i:06d}"
        r = i % 40
        if i % HEAVY_MOD == 0:
            c.add(doc_id, "html_heavy",
                  [("html", heavy_html(rng, vocab), "", 0)])
        elif r in (1, 2, 3):
            fmt = ("docx", "xlsx", "pptx")[r - 1]
            c.add(doc_id, fmt,
                  [(fmt, office[fmt](rng.randint(0, 9999)), "", 0)])
        elif r in (4, 5):
            c.add(doc_id, "md", [("md", md_doc(rng, vocab), "", 0)])
        elif r in (6, 7):
            c.add(doc_id, "csv", [("csv", csv_doc(rng, vocab), "", 0)])
        elif r in (8, 9):
            pages = _pdf_pages(rng, vocab, rng.randint(1, 4))
            c.add(doc_id, "pdf_page",
                  [("pdf_page", pdf_page_payload(k, p), "", k)
                   for k, p in enumerate(pages)])
        elif r == 11:
            n_pages = big.pop() if big else rng.randint(1, 6)
            lines = _pdf_pages(rng, vocab, n_pages)
            blob = synth_pdf_pages(lines)
            c.add(doc_id, "pdf_raw",
                  [("pdf_raw", base64.b64encode(blob).decode("ascii"),
                    "", 0)])
            c.raw_lines[doc_id] = lines
        elif r == 12:
            c.add(doc_id, "image",
                  [("image", "", f"media://{i}/{k}", k)
                   for k in range(rng.randint(1, 3))])
        else:
            c.add(doc_id, "html",
                  template_html(i, _web_text(rng, vocab)))
    return c


def resume_tail(seed: int, n: int = RESUME_DOCS) -> Tuple[Corpus, List[int]]:
    """A web-small-shaped corpus plus the split into committed snapshots:
    returns (corpus, snapshot index per doc, -1 = still to process)."""
    c = web_small(seed, n, prefix="r")
    rng = random.Random(seed ^ 0x5EED)
    which = [rng.randrange(RESUME_SNAPSHOTS)
             if rng.random() < RESUME_COMMITTED_FRAC else -1
             for _ in range(n)]
    return c, which


# ---------------------------------------------------------------------------
# writers

def _span_lists(span_lists: List[list]) -> pa.Array:
    """list<span struct> array from lists of span tuples, built column by
    column."""
    flat = [s for spans in span_lists for s in spans]
    offsets = [0]
    for spans in span_lists:
        offsets.append(offsets[-1] + len(spans))
    structs = pa.StructArray.from_arrays(
        [pa.array([s[k] for s in flat], type=SPAN_T.field(k).type)
         for k in range(len(SPAN_FIELDS))], fields=list(SPAN_T))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), structs)


def write_input(path: str, rows: List[Tuple[str, list]]) -> None:
    table = pa.Table.from_arrays(
        [pa.array([d for d, _ in rows], pa.string()),
         _span_lists([spans for _, spans in rows])], schema=INPUT_T)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=8192)


def write_committed(table_root: str, restored_root: str,
                    committed: Dict[int, List[tuple]]) -> None:
    """Write pre-committed snapshots in the `lake.SnapshotTable` layout
    under ``table_root``; the manifest names their paths as they will be
    once the table is copied to ``restored_root``. ``committed`` maps
    snapshot index to (doc_id, spans) rows."""
    os.makedirs(table_root, exist_ok=True)
    entries = []
    for k in sorted(committed):
        snap_id = f"{k:013d}-seed{k:04d}"
        os.makedirs(os.path.join(table_root, f"snap-{snap_id}"))
        data_dir = os.path.join(os.path.abspath(restored_root),
                                f"snap-{snap_id}")
        rows = committed[k]
        n = len(rows)
        table = pa.Table.from_arrays(
            [pa.array([d for d, _ in rows], pa.string()),
             _span_lists([spans for _, spans in rows]),
             pa.array(["success"] * n, pa.string()),
             pa.array([[]] * n, pa.list_(ERROR_T)),
             pa.array([len(spans) for _, spans in rows], pa.int32()),
             pa.array([0] * n, pa.int64())], schema=OUTPUT_T)
        pq.write_table(table,
                       os.path.join(table_root, f"snap-{snap_id}",
                                    "part-00000.parquet"))
        entries.append({"id": snap_id, "data": data_dir, "metrics": None,
                        "key_col": "doc_id", "committed_at": float(k)})
    with open(os.path.join(table_root, "_snapshots.json"), "w",
              encoding="utf-8") as f:
        json.dump({"snapshots": entries}, f, indent=1)
