"""WARC (ISO 28500) ingestion — the Common Crawl container format, the
standard input of web-scale pretraining pipelines (C4/CCNet/RefinedWeb
all start from WARC dumps).

Format (public spec, ISO 28500 / IIPC warc-specifications): a WARC file
is a sequence of records; each record is

    WARC/1.0\\r\\n
    <header-name>: <value>\\r\\n ...          (incl. Content-Length)
    \\r\\n
    <Content-Length bytes of payload>
    \\r\\n\\r\\n

optionally with every record its own gzip member (the Common Crawl
layout — members concatenate into one .warc.gz).

Spark shape: one task per FILE via ``mapInPandas`` over a path list
(the ``read_root`` fan-out pattern); each task streams records out as
Arrow batches. Record parsing is sequential within a file — WARC has no
random-access index — so at 100 TB parallelism comes from file count
(Common Crawl ships ~64k segment files per dump, each ~1 GiB: ideal
task granularity). Payloads stay ``binary`` columns; downstream text
extraction composes with the text/dedup operators.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame


def write_warc(path: str, records: list[dict], compress: bool = False) -> str:
    """Write a spec-conformant WARC file (fixture/sink helper). Each
    record dict: ``headers`` (dict, WARC-Type etc.) + ``payload``
    (bytes). Content-Length is computed; with ``compress`` each record
    becomes its own gzip member (the Common Crawl layout)."""
    out = io.BytesIO()
    for rec in records:
        buf = io.BytesIO()
        buf.write(b"WARC/1.0\r\n")
        payload = rec["payload"]
        headers = dict(rec["headers"])
        headers["Content-Length"] = str(len(payload))
        for k, v in headers.items():
            buf.write(f"{k}: {v}\r\n".encode())
        buf.write(b"\r\n")
        buf.write(payload)
        buf.write(b"\r\n\r\n")
        blob = buf.getvalue()
        out.write(gzip.compress(blob) if compress else blob)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())
    return path


def parse_warc_bytes(data: bytes) -> list[dict]:
    """All records of one WARC blob (auto-detects gzip; multi-member
    streams decompress fully). Returns dicts with lower-cased header
    keys plus ``payload``. Fails loud on framing errors — a truncated
    record raises, it does not silently drop."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding newlines
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"WARC: expected record header at byte {pos}")
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("WARC: truncated header block")
        lines = data[pos:hdr_end].split(b"\r\n")
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(b":")
            headers[k.decode("latin1").strip().lower()] = (
                v.decode("latin1").strip()
            )
        try:
            clen = int(headers["content-length"])
        except KeyError:
            raise ValueError("WARC: record without Content-Length") from None
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end > n:
            raise ValueError("WARC: truncated payload")
        # ISO 28500 4.2: every record (including the last) ends with two
        # CRLFs — a missing terminator means truncation or framing drift
        if data[body_end : body_end + 4] != b"\r\n\r\n":
            raise ValueError("WARC: record terminator missing after payload")
        rec = dict(headers)
        rec["payload"] = data[body_start:body_end]
        records.append(rec)
        pos = body_end + 4
    return records


WARC_SCHEMA = (
    "path string, warc_type string, url string, warc_date string, "
    "content_type string, record_id string, length long, payload binary"
)


def read_warc(spark, paths: list[str] | str) -> DataFrame:
    """Distributed WARC scan: one task per file, records as rows with
    the standard header fields surfaced as columns and the raw payload
    as ``binary``."""
    import pandas as pd

    from coffea_spark.session import ensure_worker_imports, list_files

    ensure_worker_imports(spark)
    if isinstance(paths, str):
        paths = list_files(paths, "*.warc*")
    if not paths:
        raise ValueError("read_warc: empty path list")

    def _read(batches):
        for pdf in batches:
            for p in pdf["path"]:
                with open(p, "rb") as fh:
                    recs = parse_warc_bytes(fh.read())
                yield pd.DataFrame(
                    {
                        "path": [p] * len(recs),
                        "warc_type": [r.get("warc-type") for r in recs],
                        "url": [r.get("warc-target-uri") for r in recs],
                        "warc_date": [r.get("warc-date") for r in recs],
                        "content_type": [r.get("content-type") for r in recs],
                        "record_id": [r.get("warc-record-id") for r in recs],
                        "length": [len(r["payload"]) for r in recs],
                        "payload": [r["payload"] for r in recs],
                    }
                )

    chunks = spark.createDataFrame([(p,) for p in paths], "path string")
    return chunks.repartition(min(len(paths), 256)).mapInPandas(
        _read, schema=WARC_SCHEMA
    )
