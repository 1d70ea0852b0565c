"""ollama_ocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the document-extraction semantics of the reference repo
(`ranga-NSL/ollama-ocr`, a single-node per-file OCR toolkit) as a batched,
cluster-scale pipeline over an Iceberg-style table of Common-Crawl-style web
pages `(url, warc_ts, html, text, lang)`:

- routing (printed/handwriting/error, cf. reference `ocr_router.py:220-247`)
  becomes a payload sniff + URL-keyword + structure-heuristic decision table,
- OCR becomes deterministic main-content extraction (HTML boilerplate strip via
  text/link-density block scoring; a pure-Python PDF text parser),
- the per-file loop becomes one Arrow-vectorized ``mapInArrow`` stage,
- the CSV summary becomes a metrics/lineage table with snapshot-based resume.

Everything here is built from public knowledge: the PySpark API and the
observable behavior of the reference repo.
"""

from . import _zipcache

__version__ = "0.1.0"

# Every Python worker imports this package when it unpickles an engine
# kernel, and a reused worker keeps the patch for its later tasks.
_zipcache.install()
