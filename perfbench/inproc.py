"""The in-process, pure-Python side of the benchmark: the reference span
sequence the output check compares against, and the one-core parse
timings of the traced run. No Spark.

The reference follows the doc path of `operators.extract._extract_one`
(parser, then `doctree.flatten`). For a raw PDF the expected page
payloads are built from the text lines `corpus.py` wrote into it, in the
corpus's own page layout, not by the program's PDF reader, so a fault in
the PDF byte parse or in its cell-to-payload mapping shows as a mismatch.
Image-only docs become one picture span per image, as `extract_routed`
routes them.
"""

from __future__ import annotations

import base64
import time
from typing import Dict, List, Optional, Tuple

from corpus import SPAN_FIELDS, pdf_page_payload

Span = Tuple[str, str, str, int]

# payload timed per format by the in-process parse pass; the rest of a
# format's docs are counted at the timed docs' mean
PARSE_MB_PER_FORMAT = 8.0


def _dicts(spans: list) -> List[dict]:
    return [dict(zip(SPAN_FIELDS, s)) for s in spans]


class Reference:
    def __init__(self) -> None:
        from docling_spark.operators.extract import _load_parsers
        self.parsers = _load_parsers()

    def spans(self, spans: list,
              pdf_lines: Optional[List[List[str]]] = None
              ) -> Optional[List[Span]]:
        """Expected output spans of one input doc, or None when the
        pure-Python path does not succeed on it. ``pdf_lines`` are the
        lines written into a pdf_raw doc, page by page."""
        from docling_spark.operators.extract import _extract_one

        kinds = {s[0] for s in spans}
        if kinds == {"image"}:
            return [("picture", "", s[2], i) for i, s in
                    enumerate(sorted(spans, key=lambda s: s[3]))]
        doc = _dicts(spans)
        if "pdf_raw" in kinds:
            doc = [{"kind": "pdf_page", "text": pdf_page_payload(k, lines),
                    "media_ref": "", "offset": k}
                   for k, lines in enumerate(pdf_lines)]
        out, status = _extract_one(doc, self.parsers)[:2]
        if status != "success":
            return None
        return [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in out]


def parse_bench(rows: List[tuple], fmt: Dict[str, str],
                max_mb: float = PARSE_MB_PER_FORMAT) -> dict:
    """Time each doc's parser call and its `flatten` on one core, over
    each format's docs in corpus order until ``max_mb`` of its payload
    has been timed.

    Returns per-format ``{docs, mb, parse_s, scale}`` of the timed docs
    (``scale`` = all docs of the format / timed docs), the flatten totals
    over the timed doc-path docs, and, scaled up to every doc,
    ``parse_core_s`` and ``doc_path_core_s`` (parse + flatten of the docs
    the doc-path UDF handles)."""
    from docling_spark.doctree import flatten
    from docling_spark.operators.extract import _load_parsers
    from docling_spark.parsers.pdf_page import parse_pdf_pages
    from docling_spark.parsers.pdfio import extract_pdf_cells

    def timed_as(doc_id: str) -> str:
        return "pdfio" if fmt[doc_id] == "pdf_raw" else fmt[doc_id]

    parsers = _load_parsers()
    total: Dict[str, int] = {}
    for doc_id, _ in rows:
        total[timed_as(doc_id)] = total.get(timed_as(doc_id), 0) + 1
    per: Dict[str, dict] = {}
    flat = {"docs": 0, "s": 0.0, "spans": 0}
    doc_path: Dict[str, float] = {}

    def add(name, n_bytes, dt):
        row = per.setdefault(name, {"docs": 0, "mb": 0.0, "parse_s": 0.0})
        row["docs"] += 1
        row["mb"] += n_bytes / 1e6
        row["parse_s"] += dt

    for doc_id, spans in rows:
        f, name = fmt[doc_id], timed_as(doc_id)
        if f == "image" or per.get(name, {}).get("mb", 0.0) >= max_mb:
            continue
        if f == "pdf_raw":
            blob = base64.b64decode(spans[0][1])
            t = time.perf_counter()
            extract_pdf_cells(blob)
            add(name, len(blob), time.perf_counter() - t)
            continue
        if f == "pdf_page":
            pages = [s[1] for s in sorted(spans, key=lambda s: s[3])]
            t = time.perf_counter()
            parse_pdf_pages(pages)
            add(name, sum(map(len, pages)), time.perf_counter() - t)
            continue
        kind, payload = spans[0][0], spans[0][1]
        t0 = time.perf_counter()
        tree = parsers[kind](payload)
        t1 = time.perf_counter()
        out = flatten(tree)
        t2 = time.perf_counter()
        add(name, len(payload), t1 - t0)
        flat["docs"] += 1
        flat["s"] += t2 - t1
        flat["spans"] += len(out)
        doc_path[name] = doc_path.get(name, 0.0) + t2 - t0
    for name, row in per.items():
        row["scale"] = total[name] / row["docs"]
    return {"formats": per, "flatten": flat,
            "parse_core_s": sum(r["parse_s"] * r["scale"]
                                for r in per.values()),
            "doc_path_core_s": sum(s * per[n]["scale"]
                                   for n, s in doc_path.items())}
