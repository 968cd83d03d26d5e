"""Sequential oracle: the per-document kernel run outside Spark.

`extractor.extract_document` applied to one page at a time is the
reference every job output row must equal (body_text, fields, spans,
success, message). Digests are computed once per generated input and
cached under perfbench/.work/oracle. With timing on, the same pass also measures the
kernel per document: `sniff_and_parse` alone (textproc) and the whole
`extract_document` (extractor), each as a span.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import time

PROCS = 4


def row_digest(body_text, fields: list, spans: list, success, message) -> str:
    """Digest of the compared columns; fields in ALL_FIELDS order, spans
    as [field, start, end] lists."""
    blob = json.dumps([body_text, fields, spans, bool(success), message])
    return hashlib.blake2b(blob.encode(), digest_size=16).hexdigest()


def _kernel_chunk(args: tuple[list[tuple[str, bytes]], bool]) -> list[list]:
    from ocr_poc_spark.extractor import ALL_FIELDS, extract_document, sniff_and_parse

    pages, timed = args
    out = []
    for url, payload in pages:
        t0 = t1 = time.perf_counter()
        n_blocks = -1
        if timed:
            try:
                n_blocks = len(sniff_and_parse(payload)[0])
            except Exception:  # the kernel isolates this; timing only
                n_blocks = 0
            t1 = time.perf_counter()
        r = extract_document(url, payload)
        t2 = time.perf_counter()
        digest = row_digest(
            r.body_text,
            [r.fields.get(f) for f in ALL_FIELDS],
            [[f, s, e] for f, s, e in r.spans],
            r.success,
            r.message,
        )
        out.append([url, digest, r.doc_kind, r.message, t0, t1, t2, n_blocks])
    return out


class KernelPool:
    """PROCS processes running the kernel over (url, payload) pages,
    forked before the JVM starts (a fork, unlike a spawn, starts no
    multiprocessing resource tracker, which would outlive the run).
    Rows: [url, digest, doc_kind, message, t0, t1, t2, n_blocks]; t0..t1
    is sniff_and_parse, t1..t2 extract_document (perf_counter, which is
    system-wide monotonic on Linux)."""

    def __init__(self):
        self._pool = mp.get_context("fork").Pool(PROCS)

    def run(self, pages: list[tuple[str, bytes]], timed: bool) -> list[list]:
        chunks = [(pages[i::PROCS * 4], timed) for i in range(PROCS * 4)]
        return [row for part in self._pool.map(_kernel_chunk, chunks) for row in part]

    def digests(self, pages: list[tuple[str, bytes]], cache_path: str) -> dict[str, str]:
        """url -> oracle digest, cached at cache_path (keyed by the
        caller on the input and the program source)."""
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                return json.load(fh)
        got = {row[0]: row[1] for row in self.run(pages, timed=False)}
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(got, fh)
        os.replace(tmp, cache_path)
        return got

    def close(self) -> None:
        """Stop the workers, mid-task too, and wait for them. Unlike
        close(), terminate() also stops the pool re-forking workers that
        die, so nothing can outlive this call."""
        self._pool.terminate()
        self._pool.join()
