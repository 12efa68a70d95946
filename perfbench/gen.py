"""Seeded input generator for the benchmark, independent of the engine.

Writes the pages schema ``(url, warc_ts, html, text, lang)`` with numpy and
pyarrow only, so a change inside ``logstash_spark`` can never change what the
benchmark feeds it. Every row also leaves its ground truth in a ``Truth``
record (line kind, lang, response, bytes, geo id, timestamp, agent), from
which the checks derive the expected outputs arithmetically.

Line mix: 70% Apache combined log, 15% k=v, 10% JSON, 5% junk. Hosts are
skewed: 20% of rows hit ``host0``, the rest spread over 997 hosts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

APACHE, KV, JSON, JUNK = 0, 1, 2, 3
KIND_P = [0.70, 0.15, 0.10, 0.05]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
RESPONSES = ["200", "301", "404", "500", "503"]
RESP_P = [0.60, 0.10, 0.10, 0.10, 0.10]
VERBS = ["GET", "POST", "HEAD", "PUT"]
# (user agent, family the useragent filter must report). The families are
# the public ua-parser names for these strings.
AGENTS = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36", "Chrome"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) "
     "Version/17.0 Safari/605.1.15", "Safari"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:115.0) Gecko/20100101 Firefox/115.0", "Firefox"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91", "Edge"),
    ("Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/119.0.6045.163 Mobile Safari/537.36", "Chrome Mobile"),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", "Googlebot"),
    ("curl/8.4.0", "curl"),
]
GEO_HIT_P = 0.85  # share of apache client IPs inside the geo table's 0.0.0.0/4
TS_BASE = 1356998400  # 2013-01-01T00:00:00Z
SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Truth:
    """Per-row ground truth, in row order."""

    row_id: np.ndarray   # int64, the id embedded in url and request path
    kind: np.ndarray     # int8, APACHE / KV / JSON / JUNK
    lang: np.ndarray     # int8 index into LANGS
    resp: np.ndarray     # int8 index into RESPONSES
    nbytes: np.ndarray   # int64 response bytes
    geo: np.ndarray      # int64 /16 geo range id, -1 outside the table
    ts: np.ndarray       # int64 epoch seconds of the log line
    agent: np.ndarray    # int8 index into AGENTS

    def __len__(self) -> int:
        return len(self.row_id)


def _s(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _pick(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pc.take(pa.array(choices), pa.array(idx.astype(np.int32)))


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def make_pages(seed: int, n: int, first_id: int = 0) -> tuple[pa.Table, Truth]:
    """``n`` pages with row ids ``first_id .. first_id+n-1``, drawn from
    ``seed``. The same arguments give byte-identical tables."""
    rng = np.random.default_rng([seed, first_id, n])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    kind = rng.choice(4, size=n, p=KIND_P).astype(np.int8)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P).astype(np.int8)
    resp = rng.choice(len(RESPONSES), size=n, p=RESP_P).astype(np.int8)
    verb = rng.integers(0, len(VERBS), size=n)
    agent = rng.integers(0, len(AGENTS), size=n).astype(np.int8)
    nbytes = rng.integers(0, 50000, size=n, dtype=np.int64)
    ts = TS_BASE + rng.integers(0, 365 * 86400, size=n, dtype=np.int64)
    hit = rng.random(n) < GEO_HIT_P
    o1 = np.where(hit, rng.integers(1, 16, size=n), rng.integers(16, 224, size=n))
    o2, o3, o4 = (rng.integers(0, 256, size=n) for _ in range(3))
    geo = np.where(hit & (kind == APACHE), o1 * 256 + o2, -1).astype(np.int64)
    host = np.where(rng.random(n) < 0.2, 0, rng.integers(1, 998, size=n))

    sid = _s(ids)
    ip = _join(_s(o1), ".", _s(o2), ".", _s(o3), ".", _s(o4))
    resp_s = _pick(RESPONSES, resp)
    bytes_s = _s(nbytes)
    tsa = pa.array(ts, pa.timestamp("s"))
    httpts = pc.strftime(tsa, format="%d/%b/%Y:%H:%M:%S")
    apache = _join(
        ip, " - - [", httpts, ' +0000] "', _pick(VERBS, verb), " /p/", sid,
        ' HTTP/1.1" ', resp_s, " ", bytes_s, ' "http://ref', _s(ids % 10),
        '.example.com/" "', _pick([a for a, _ in AGENTS], agent), '"',
    )
    kv = _join("src=", ip, " dst=10.0.0.", _s(ids % 250), " action=",
               _pick(["allow", "deny"], (ids % 2).astype(np.int8)), " bytes=", bytes_s)
    js = _join('{"user":{"name":"u', _s(ids % 1000), '"},"status":', resp_s,
               ',"tags":["a","b"]}')
    junk = _join("lorem ipsum dolor ", sid, " sit amet")
    kind_a = pa.array(kind)
    text = pc.if_else(pc.equal(kind_a, APACHE), apache,
                      pc.if_else(pc.equal(kind_a, KV), kv,
                                 pc.if_else(pc.equal(kind_a, JSON), js, junk)))
    html = pc.cast(_join("<html><body><p>", text, "</p></body></html>"), pa.binary())
    # ~2% of pages carry invalid UTF-8 in html, as real crawls do
    dirty = pa.array(rng.random(n) < 0.02)
    html = pc.if_else(dirty, pc.binary_join_element_wise(html, pa.scalar(b"\xff\xfe\x80"), b""), html)
    url = _join("https://host", _s(host), ".example.com/p/", sid)
    table = pa.table({
        "url": url,
        "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text,
        "lang": _pick(LANGS, lang),
    }, schema=SCHEMA)
    truth = Truth(ids, kind, lang, resp, nbytes, geo, ts, agent)
    return table, truth


def write_pages(table: pa.Table, path: str, files: int) -> list[str]:
    """Split ``table`` into ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    out = []
    step = -(-len(table) // files)
    for k in range(files):
        p = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), p)
        out.append(p)
    return out
