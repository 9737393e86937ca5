"""Vectorized html -> (text, outlinks) extraction.

Generalizes the reference's persons-JSON parse (fsapi.py:146-161, SURVEY.md
P1/P2): the UDTF-analog that turns a fetched page into a vertex row plus
candidate frontier links. Per BASELINE.json input_hint this is an Arrow-batched
pandas UDF (``mapInPandas``) — never row-at-a-time Python — and the extracted
``text`` must be **byte-identical** to the corpus fixture per url.

The extractor is pinned and pure (stdlib ``re`` on utf-8 bytes, no locale or
env dependence): text = first non-greedy ``<p>...</p>`` group; links = every
``href="..."`` value, document order. At 100 TB scale this stage is
embarrassingly parallel over page partitions; Arrow keeps the Python boundary
at batch granularity (spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..schemas import EXTRACTED

_TEXT_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)
_HREF_RE = re.compile(r'href="([^"]*)"')


def extract_text_bytes(html: bytes) -> str | None:
    """Pinned text extraction: first <p> group, decoded utf-8."""
    if html is None:
        return None
    m = _TEXT_RE.search(html)
    return m.group(1).decode("utf-8") if m else None


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        htmls = pdf["html"]
        texts = [extract_text_bytes(h) for h in htmls]
        links = [
            _HREF_RE.findall(h.decode("utf-8", errors="replace")) if h is not None else []
            for h in htmls
        ]
        yield pd.DataFrame({"url": pdf["url"], "text": texts, "links": links})


def extract_pages(fetched: DataFrame) -> DataFrame:
    """(url, html, ...) -> (url, text, links:array<string>).

    ``mapInPandas`` keeps partitioning intact (no shuffle); downstream link
    processing explodes ``links`` JVM-side.
    """
    return fetched.select("url", "html").mapInPandas(_extract_batches, schema=EXTRACTED)


# ---------------------------------------------------------------------------
# Persons mode (genealogy parity): html embeds a JSON person record
# (reference analog: GedcomX persons JSON parse, fsapi.py:146-161 +
# name/gender/lifespan parts individual.py:41-57, name.py:6-16).
# ---------------------------------------------------------------------------
_JSON_RE = re.compile(
    rb'<script type="application/json">(.*?)</script>', re.DOTALL
)


def _extract_person_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json

    for pdf in batches:
        rows = {
            "url": pdf["url"],
            "text": [],
            "color": [],
            "surname": [],
            "given_name": [],
            "lifespan": [],
            "parents": [],
            "couples": [],
        }
        for h in pdf["html"]:
            rows["text"].append(extract_text_bytes(h))
            m = _JSON_RE.search(h) if h is not None else None
            if m is None:
                rec = {}
            else:
                rec = json.loads(m.group(1).decode("utf-8"))
            rows["color"].append(rec.get("color"))
            rows["surname"].append(rec.get("surname"))
            rows["given_name"].append(rec.get("given"))
            rows["lifespan"].append(rec.get("lifespan"))
            rows["parents"].append(
                [(p["url"], p["rel_id"]) for p in rec.get("parents", [])]
            )
            rows["couples"].append(rec.get("couples", []))
        yield pd.DataFrame(rows)


def extract_persons(fetched: DataFrame) -> DataFrame:
    """(url, html) -> person record + parent rels + couple links."""
    from ..schemas import PERSON_EXTRACTED

    return fetched.select("url", "html").mapInPandas(
        _extract_person_batches, schema=PERSON_EXTRACTED
    )
