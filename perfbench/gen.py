"""Seeded input generation for the benchmark.

The program under test receives only the parquet tables written here.
Everything is drawn from ``numpy.random.default_rng(seed)``: the same
seed gives byte-identical tables, a different seed gives different
rows with the same shape.

Webtext tables follow the schema and skew of
``hetman_spark/sources/webtext.py``: url, warc_ts, html (binary), text,
lang, partitioned by split_id; domains, langs and statuses are drawn
log-uniformly (p(i) ~ ln((i+2)/(i+1))), so a few hot values dominate.
The html embeds a ``<p>`` body equal to ``text`` and an nginx combined
log line in a ``<!--log: ... -->`` comment.  A malformed page carries
a log comment the grok pattern cannot parse.

Entry-query tables mirror the columns of the fixed test fixtures
(documents, embeddings, events, orders) at a small fixed size.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu data spark pipeline web"
).split()
LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt", "other"]
# region per lang, as in hetman_spark/sources/lookup.py
EMEA_LANGS = {"de", "fr", "ru"}
METHODS = ["GET", "GET", "GET", "POST", "HEAD"]
STATUSES = ["200", "200", "200", "200", "301", "404", "500"]
SECTIONS = ["news", "blog", "docs", "shop", "wiki"]
T0 = 1704067200  # 2024-01-01T00:00:00Z


def zipf_idx(rng: np.random.Generator, k: int, n: int) -> np.ndarray:
    """Log-uniform index in [0, k): the skew of sources/webtext.py."""
    u = rng.random(n)
    idx = np.floor(np.exp(u * np.log(k + 1.0))).astype(np.int64) - 1
    return np.clip(idx, 0, k - 1)


@dataclass
class WebtextTable:
    """A generated webtext table plus the counts an independent reader
    derives from the generator's own arrays (never from the program)."""

    path: str
    n_splits: int
    rows_per_split: dict[int, int] = field(default_factory=dict)
    # split -> {"archive", "english", "errors", "emea", "malformed"}
    expected: dict[int, dict[str, int]] = field(default_factory=dict)

    def totals(self, splits: list[int] | None = None) -> dict[str, int]:
        keys = ("archive", "english", "errors", "emea", "malformed")
        chosen = self.expected if splits is None else {s: self.expected[s] for s in splits}
        return {k: sum(e[k] for e in chosen.values()) for k in keys}


def write_webtext(
    path: str,
    seed: int,
    n_rows: int,
    n_splits: int,
    files_per_split: int,
    malformed_share: float = 0.0,
    n_domains: int = 100,
) -> WebtextTable:
    rng = np.random.default_rng(seed)
    rid = np.arange(n_rows, dtype=np.int64)
    domain = zipf_idx(rng, n_domains, n_rows)
    sect = rng.integers(0, len(SECTIONS), n_rows)
    lang = zipf_idx(rng, len(LANGS), n_rows)
    status = zipf_idx(rng, len(STATUSES), n_rows)
    method = rng.integers(0, len(METHODS), n_rows)
    n_words = rng.integers(5, 41, n_rows)
    words = rng.integers(0, len(VOCAB), (n_rows, 40))
    ips = np.stack([rng.integers(1, 224, n_rows), rng.integers(0, 256, n_rows),
                    rng.integers(0, 256, n_rows), rng.integers(1, 255, n_rows)], axis=1)
    bytes_sent = rng.integers(100, 50100, n_rows)
    split = rng.integers(0, n_splits, n_rows)
    malformed = rng.random(n_rows) < malformed_share
    ts = T0 + rid * 86400 // max(n_rows, 1)

    urls, texts, htmls = [], [], []
    for i in range(n_rows):
        path_i = f"/{SECTIONS[sect[i]]}/page-{seed}-{i}"
        host = f"host{domain[i]:03d}.example.com"
        url = f"https://{host}{path_i}"
        text = " ".join(VOCAB[w] for w in words[i, : n_words[i]]) + f" doc{i}"
        if malformed[i]:
            log = f"malformed entry {i} from {host}"
        else:
            t = int(ts[i])
            day, rem = divmod(t - T0, 86400)
            hh, rem = divmod(rem, 3600)
            mm, ss = divmod(rem, 60)
            log = (
                f"{ips[i, 0]}.{ips[i, 1]}.{ips[i, 2]}.{ips[i, 3]} - - "
                f"[{day + 1:02d}/Jan/2024:{hh:02d}:{mm:02d}:{ss:02d} +0000] "
                f'"{METHODS[method[i]]} {path_i} HTTP/1.1" {STATUSES[status[i]]} '
                f'{bytes_sent[i]} "-" "Mozilla/5.0 (synthetic)"'
            )
        html = (
            f"<html><head><title>Page {i} of {host}</title></head><body><p>{text}"
            f"</p><!--log: {log} --></body></html>"
        )
        urls.append(url)
        texts.append(text)
        htmls.append(html.encode())

    lang_s = np.array(LANGS, dtype=object)[lang]
    table = WebtextTable(path=path, n_splits=n_splits)
    is_en = lang_s == "en"
    is_emea = np.isin(lang_s, list(EMEA_LANGS))
    is_5xx = (np.array(STATUSES, dtype=object)[status] == "500") & ~malformed
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    urls_a = np.array(urls, dtype=object)
    texts_a = np.array(texts, dtype=object)
    htmls_a = np.array(htmls, dtype=object)
    ts_us = ts * 1_000_000
    for s in range(n_splits):
        idx = np.flatnonzero(split == s)
        idx = idx[np.argsort(urls_a[idx], kind="stable")]
        table.rows_per_split[s] = int(idx.size)
        table.expected[s] = {
            "archive": int(idx.size),
            "english": int(is_en[idx].sum()),
            "errors": int(is_5xx[idx].sum()),
            "emea": int(is_emea[idx].sum()),
            "malformed": int(malformed[idx].sum()),
        }
        d = os.path.join(path, f"split_id={s}")
        os.makedirs(d, exist_ok=True)
        for f, part in enumerate(np.array_split(idx, files_per_split)):
            pq.write_table(
                pa.Table.from_arrays(
                    [pa.array(urls_a[part].tolist(), pa.string()),
                     pa.array(ts_us[part], pa.timestamp("us", tz="UTC")),
                     pa.array(htmls_a[part].tolist(), pa.binary()),
                     pa.array(texts_a[part].tolist(), pa.string()),
                     pa.array(lang_s[part].tolist(), pa.string())],
                    schema=schema,
                ),
                os.path.join(d, f"part-{f:05d}.parquet"),
                compression="zstd",
            )
    return table


def write_query_tables(sf_dir: str, seed: int, scale: int = 1) -> None:
    """documents, embeddings, events and orders with the fixtures'
    columns; ``scale`` multiplies the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    n_docs = 1000 * scale
    qwords = ("the fast key order sort table scan merge part window small hash join "
              "stream spark batch row data slow filter customer line value agg group "
              "query column dup big").split()
    langs = np.array(["en"] * 4 + ["de", "fr", "es", "zh", "ja"], dtype=object)
    lens = rng.integers(10, 100, n_docs)
    w = rng.integers(0, len(qwords), (n_docs, 100))
    texts = [" ".join(qwords[j] for j in w[i, : lens[i]]) for i in range(n_docs)]
    # a tenth of the documents repeat an earlier one with one word
    # changed, so the near-duplicate queries have pairs to find
    for i in range(0, n_docs, 10):
        if i > 0:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = qwords[int(rng.integers(0, len(qwords)))]
            texts[i] = " ".join(src)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)].tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))

    n_vec, dim, n_labels = 1000 * scale, 64, 10
    centers = rng.normal(0.0, 0.15, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vec)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_vec, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(sf_dir, "embeddings.parquet"))

    n_ev, n_users = 10000 * scale, 150 * scale
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)) + T0 * 1_000_000
    etypes = np.array(["signup", "error", "click", "view", "purchase"], dtype=object)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)].tolist(), pa.string()),
        "value": pa.array(np.round(rng.random(n_ev) * 200.0, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    }), os.path.join(sf_dir, "events.parquet"))

    n_ord = 15000 * scale
    d0 = 788918400  # 1995-01-01
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500 * scale, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, n_ord)].tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.random(n_ord) * 300000.0, 2)),
        "o_orderdate": pa.array((d0 + rng.integers(0, 2404, n_ord) * 86400) * 1_000_000,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
            rng.integers(0, 5, n_ord)].tolist(), pa.string()),
    }), os.path.join(sf_dir, "orders.parquet"))
