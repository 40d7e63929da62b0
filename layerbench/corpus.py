"""Seeded, in-process corpus builder for the layered benchmark.

Documents come from ``sources.synth.generate_document`` (plus the giant
tail, the hostile rows and the recrawl copies built here) and are
written with pyarrow in the layout ``job synth`` writes: one
``bucket=k`` directory per bucket, ``k = pmod(xxhash64(doc_id), 32)``
as Spark computes it, so the job can take its bucket-aligned write
path.  No Spark job runs here: the corpus build is part of the
benchmark's set-up, and a Spark-side build would put the JIT and the
scheduler into ``setup_s``.
"""

from __future__ import annotations

import os
import random
import re
import struct

import pyarrow as pa
import pyarrow.parquet as pq

from article_extractor_spark.extract.spans import html_fragment_to_spans
from article_extractor_spark.sources.synth import (
    encode_page_to_spans,
    generate_document,
)
from article_extractor_spark.sources.tableio import DEFAULT_BUCKETS

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned int: Spark's ``xxhash64`` (seed
    42) over a string's UTF-8 bytes, read as two's complement."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def bucket_of(doc_id: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """The bucket ``tableio.string_bucket_expr`` gives ``doc_id``."""
    return xxhash64(doc_id.encode("utf-8")) % n_buckets


_SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("url", pa.string()), ("spans", _SPAN_TYPE)]
)
# same row-group target as tableio.ROW_GROUP_BYTES, counted in HTML bytes
_ROW_GROUP_BYTES = 4 << 20


def write_table(rows: list[dict], path: str) -> dict:
    """Write (doc_id, url, spans) rows as ``path/bucket=k/part-0.parquet``.
    Returns the table's shape: docs, HTML bytes p50/max, files."""
    by_bucket: dict[int, list[dict]] = {}
    for r in rows:
        by_bucket.setdefault(bucket_of(r["doc_id"]), []).append(r)
    for b, brows in sorted(by_bucket.items()):
        d = os.path.join(path, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        with pq.ParquetWriter(os.path.join(d, "part-0.parquet"), _SCHEMA) as w:
            group: list[dict] = []
            size = 0
            for r in brows + [None]:
                if r is None or (group and size + r["bytes"] > _ROW_GROUP_BYTES):
                    w.write_table(
                        pa.Table.from_pylist(
                            [
                                {k: g[k] for k in ("doc_id", "url", "spans")}
                                for g in group
                            ],
                            schema=_SCHEMA,
                        )
                    )
                    group, size = [], 0
                if r is not None:
                    group.append(r)
                    size += r["bytes"]
    sizes = sorted(r["bytes"] for r in rows)
    return {
        "docs": len(rows),
        "html_bytes_p50": sizes[len(sizes) // 2],
        "html_bytes_max": sizes[-1],
        "html_mb": round(sum(sizes) / 1e6, 3),
        "files": len(by_bucket),
    }


def _row(doc_id: str, url: str, spans: list[dict] | None, **extra) -> dict:
    size = sum(len(s["text"]) + len(s["media_ref"]) for s in spans or ())
    return {"doc_id": doc_id, "url": url, "spans": spans, "bytes": size} | extra


def synth_row(doc_id: str, seed: int) -> dict:
    doc = generate_document(doc_id, seed=seed)
    return _row(
        doc_id,
        doc["url"],
        doc["spans"],
        kind="synth",
        expected=doc["expected_spans"],
    )


_WORDS = (
    "archive bandwidth checksum compiler daemon entropy firmware gateway "
    "handshake iterator journal kerberos lattice mutex namespace opcode "
    "payload quorum replica sandbox tensor unicode vertex watchdog"
).split()
_FUNC = "the a of and to in is it for with on that as by".split()


def _prose(rng: random.Random, n_words: int) -> str:
    words = [
        rng.choice(_FUNC) if i and rng.random() < 0.4 else rng.choice(_WORDS)
        for i in range(n_words)
    ]
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def giant_row(doc_id: str, seed: int, target_bytes: int) -> dict:
    """A multi-MB article page: one long ``<article>`` inside site chrome,
    its expected spans derived from the article fragment."""
    rng = random.Random(f"giant:{seed}:{doc_id}")
    url = f"https://giant.example/longread/{doc_id}"
    title = " ".join(rng.choice(_WORDS).title() for _ in range(3))
    paras: list[str] = []
    size = 0
    while size < target_bytes:
        p = "<p>" + " ".join(_prose(rng, rng.randint(10, 18)) for _ in range(4)) + "</p>"
        paras.append(p)
        size += len(p)
    article = f'<article class="post-content"><h1>{title}</h1>{"".join(paras)}</article>'
    page = (
        f"<html><head><title>{title}</title></head><body>"
        '<nav class="menu"><a href="/">Home</a> <a href="/a">About</a></nav>'
        f"<main>{article}</main>"
        '<footer class="site-footer"><p>Copyright 2026.</p></footer>'
        "</body></html>"
    )
    return _row(
        doc_id,
        url,
        encode_page_to_spans(page),
        kind="giant",
        expected=html_fragment_to_spans(article, base_url=url),
    )


def _text_span(text: str) -> list[dict]:
    return [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]


def hostile_rows(seed: int) -> list[dict]:
    """Rows every one of which must end as a failure row (or, for the
    NULL-``spans`` row, at least not as a success)."""
    rng = random.Random(f"hostile:{seed}")
    ctrl = "".join(chr(rng.choice([0, 1, 2, 7, 8, 11, 12, 27, 127])) for _ in range(4096))
    # bytes that are not UTF-8, decoded the way a crawler's lenient
    # decoder leaves them (replacement characters and lone C1 bytes)
    junk = bytes(rng.randrange(128, 256) for _ in range(4096)).decode(
        "utf-8", errors="replace"
    )
    docs = {
        "deep-nest": "<html><body>" + "<div>" * 5000 + "</div>" * 5000 + "</body></html>",
        "bad-bytes": f"<html><body><div>{junk}</div></body></html>",
        "control-chars": f"<html><body><div>{ctrl}</div></body></html>",
        "empty-html": None,
    }
    rows = []
    for name, html in docs.items():
        spans = [] if html is None else _text_span(html)
        rows.append(_row(f"hostile-{name}-{seed}", f"https://hostile.example/{name}", spans, kind="hostile"))
    rows.append(_row(f"hostile-null-spans-{seed}", "https://hostile.example/null", None, kind="null_spans"))
    return rows


def write_invalid_utf8_row(seed: int, path: str) -> str:
    """A one-row table whose page holds bytes that are not UTF-8, stored
    as-is in the string column (parquet does not validate it); returns
    the row's doc_id."""
    rng = random.Random(f"utf8:{seed}")
    page = b"<html><body><div>" + bytes(rng.randrange(128, 256) for _ in range(4096)) + b"</div></body></html>"
    text = pa.array([page], pa.binary()).view(pa.string())
    span = pa.StructArray.from_arrays(
        [pa.array(["text"]), text, pa.array([""]), pa.array([0], pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    doc_id = f"hostile-invalid-utf8-{seed}"
    table = pa.table(
        {
            "doc_id": [doc_id],
            "url": ["https://hostile.example/invalid-utf8"],
            "spans": pa.ListArray.from_arrays([0, 1], span),
        },
        schema=_SCHEMA,
    )
    d = os.path.join(path, f"bucket={bucket_of(doc_id)}")
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))
    return doc_id


_EDIT_RX = re.compile(r"(?<= )([a-z]{4,})(?= )")


def copy_row(src: dict, doc_id: str) -> dict:
    """A verbatim copy of ``src`` under a new id."""
    return _row(doc_id, src["url"], src["spans"], kind="copy", expected=src["expected"], source=src["doc_id"])


def edit_row(src: dict, doc_id: str) -> dict | None:
    """``src`` with its first space-delimited lowercase article word
    replaced, in the page and in the expected spans alike; None when no
    such word lines up in both."""
    spans = [dict(s) for s in src["spans"]]
    expected = [dict(s) for s in src["expected"]]
    for s in spans:
        start = s["text"].find("<article")
        if s["kind"] != "text" or start < 0:
            continue
        m = _EDIT_RX.search(s["text"], start)
        if m is None:
            return None
        word = m.group(1)
        s["text"] = s["text"][: m.start()] + "zyzzyva" + s["text"][m.end() :]
        for e in expected:
            if e["kind"] != "text":
                continue
            em = _EDIT_RX.search(e["text"])
            if em is not None:
                if em.group(1) != word:
                    return None
                e["text"] = e["text"][: em.start()] + "zyzzyva" + e["text"][em.end() :]
                return _row(doc_id, src["url"], spans, kind="edit", expected=expected, source=src["doc_id"])
        return None
    return None
