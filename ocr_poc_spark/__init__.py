"""ocr_poc_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of PacomeKFP/ocr-poc
(per-document field-extraction cascade served over REST) as a batch
DataFrame job over Common-Crawl-style web pages:

    pages(url, warc_ts, html, text, lang)
        -> one Arrow-batched mapInPandas stage running, per document,
           parse (HTML/PDF -> positioned blocks) and the six-stage
           heuristic cascade (extractor.extract_document)
        -> extracted(url, title, author, ..., body_text, spans, confidence)

The reference's OCR token stream {rec_texts, rec_scores, rec_polys}
(/root/reference/ocr/extractors/cni_extractor_18_f.py:465-467) maps to the
block stream (url, idx, text, score, x, y, ...); its four (version x side)
extractors map to a (fmt x layout) doc_kind dispatch.
"""

__version__ = "0.1.0"
