"""Deterministic benchmark inputs, written as parquet before the engine runs.

Everything here is a pure function of its arguments: pages come from the
engine's own ``make_document(i)``, crawl deltas and query tables from a
seeded NumPy generator. The engine only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from thesaurus_based_ner_spark.sources.webtext import make_document

PAGE_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("lang", pa.string(), nullable=False),
    ]
)

# Seeds map onto this many distinct corpora, so every seed has a stored
# kg_build digest (expected.json) while the same seed always gives the same
# inputs.
SEED_CLASSES = 16
_OFFSET_STRIDE = 10_000_000


def page_offset(seed: int) -> int:
    """First page id of the corpus for a workload seed."""
    return (seed % SEED_CLASSES) * _OFFSET_STRIDE


def page_rows(ids, url_of=None, ts_shift_days: int = 0) -> pa.Table:
    """Rows make_document(i) for each id; url_of(i) overrides the url (a
    re-crawl serves new content under an existing url)."""
    cols = {name: [] for name in PAGE_SCHEMA.names}
    for i in ids:
        url, ts, html, text, lang = make_document(int(i))
        if url_of is not None:
            url = url_of(int(i))
        ts = (ts + dt.timedelta(days=ts_shift_days)).replace(tzinfo=dt.timezone.utc)
        for name, v in zip(PAGE_SCHEMA.names, (url, ts, html, text, lang)):
            cols[name].append(v)
    return pa.table(cols, schema=PAGE_SCHEMA)


def write_parquet_files(table: pa.Table, directory: str, n_files: int, prefix: str) -> int:
    """Split table into n_files parquet files, each renamed into place
    complete (a stream source listing the directory never sees a partial
    file). Returns the bytes written."""
    os.makedirs(directory, exist_ok=True)
    n_files = max(1, min(n_files, table.num_rows))
    step = -(-table.num_rows // n_files)
    written = 0
    for k in range(n_files):
        part = table.slice(k * step, step)
        final = os.path.join(directory, f"{prefix}-{k:04d}.parquet")
        tmp = os.path.join(directory, f".{prefix}-{k:04d}.parquet.tmp")
        pq.write_table(part, tmp)
        os.rename(tmp, final)
        written += os.path.getsize(final)
    return written


class CrawlHistory:
    """Page versions of the refresh phase.

    A page is identified by its url; its content is make_document(content_id)
    rendered under that url. A delta re-crawls half existing urls with
    content never served before and adds half new urls. The seed picks
    the corpus offset and which urls are re-crawled.
    """

    def __init__(self, seed: int, n_base: int, delta_pages: int):
        self.rng = np.random.default_rng(seed % 2**32)
        self.delta_pages = delta_pages
        offset = page_offset(seed)
        self.base_ids = range(offset, offset + n_base)
        self.next_id = offset + n_base
        # url id -> id of the content its latest version serves
        self.latest = {i: i for i in self.base_ids}
        self.recrawled: set[int] = set()
        self.rounds = 0

    @staticmethod
    def url(i: int) -> str:
        return make_document(i)[0]

    def base_table(self) -> pa.Table:
        return page_rows(self.base_ids)

    def next_delta(self) -> pa.Table:
        """The next crawl delta (and record it as the pages' latest version)."""
        self.rounds += 1
        half = self.delta_pages // 2
        known = np.fromiter(self.latest.keys(), dtype=np.int64)
        again = self.rng.choice(known, size=half, replace=False)
        fresh_content = range(self.next_id, self.next_id + half)
        self.next_id += half
        new_urls = range(self.next_id, self.next_id + (self.delta_pages - half))
        self.next_id += self.delta_pages - half
        remap = dict(zip(fresh_content, (int(u) for u in again)))
        recrawl = page_rows(
            fresh_content, url_of=lambda c: self.url(remap[c]), ts_shift_days=self.rounds
        )
        for c, u in remap.items():
            self.latest[u] = c
            self.recrawled.add(u)
        added = page_rows(new_urls, ts_shift_days=self.rounds)
        for u in new_urls:
            self.latest[u] = u
        return pa.concat_tables([recrawl, added])

    def latest_table(self) -> pa.Table:
        """The latest version of every page, as one batch corpus."""
        by_content = {c: u for u, c in self.latest.items()}
        return page_rows(sorted(by_content), url_of=lambda c: self.url(by_content[c]))


# --- kg_queries tables -------------------------------------------------------

QUERY_TABLES_SEED = 20261016

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n) * np.timedelta64(86_400_000_000, "us")


def query_tables() -> dict[str, pa.Table]:
    """TPC-H-like star schema plus events, documents and embeddings.

    The sizes are those of the 0.01 scale factor (60k lineitem rows). The
    documents carry injected exact and near duplicates and the embeddings
    are clustered, so every dedup query has pairs to find.
    """
    rng = np.random.default_rng(QUERY_TABLES_SEED)
    n_part, n_supp, n_cust, n_orders, n_line, n_events, n_docs, n_vecs = (
        2000, 100, 1500, 15000, 60000, 10000, 500, 500
    )
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [["P", "O", "F"][k] for k in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", 2404),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][k] for k in rng.integers(0, 3, n_line)],
            "l_linestatus": [["O", "F"][k] for k in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_events) * np.timedelta64(1, "us")
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": ev_ts,
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.10:  # near duplicate: one token replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_query_tables(directory: str) -> None:
    """Write query_tables() as <directory>/<name>.parquet, one file each."""
    os.makedirs(directory, exist_ok=True)
    for name, table in query_tables().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
