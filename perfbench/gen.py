"""Seeded, vectorised input generator for the benchmark.

Everything the program reads is written here as parquet, straight from
numpy/pyarrow columns (no per-row Python objects beyond joining each
document's words):

- :func:`write_catalog` — the ten TESTDATA.md tables (TPC-H-ish star
  schema + events + documents + embeddings) at a given scale factor,
  with the value domains of the reference test data, for ``browse``;
  documents carry planted exact-duplicate clusters and embeddings are
  drawn around ten centres, both returned as ground truth.
- :func:`write_ingest_batches` — ``schemas.SOURCE_DOCUMENTS`` candidate
  batches for ``ingest``: duplicate URLs inside a batch (tracking-param
  variants of an earlier arrival), documents re-crawled from earlier
  batches, a tier mix, disallowed domains, low-confidence ids and rows
  outside the date window.

The same seed gives byte-identical files; any other seed gives other
data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the reference documents' vocabulary (30 words; ``dup`` marks planted
#: duplicates there, the BM25 row queries it)
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EMB_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> str:
    # fixed writer settings: no timestamps or library versions beyond
    # pyarrow's own footer, so equal inputs give equal bytes
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return path


def _us(d: str) -> int:
    return int((np.datetime64(d, "us") - _EPOCH).astype(np.int64))


def _ts(values_us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us", tz=tz))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, lengths: np.ndarray, vocab=VOCAB) -> list[str]:
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [" ".join(words[s:e]) for s, e in zip(starts, ends)]


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embedding_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


# -- browse: the TESTDATA.md catalog ----------------------------------------


def write_catalog(out_dir: str, seed: int, sf: float = 0.1) -> dict:
    """Write the ten catalog tables under ``out_dir``; returns the row
    counts (``rows``), the planted duplicate clusters (``dup_groups``:
    sorted doc ids per group of identical texts) and each embedding's
    centre (``labels``)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = max(10, int(15_000 * sf)), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    counts = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        counts[name] = t.num_rows
        _write(t, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "small", "green", "shiny", "old", "red"])
    noun = np.array(["ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = _money(rng, 900.0, 999.9, n_part)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": price,
    })
    day = 86_400_000_000
    d0, d1 = _us("1995-01-01"), _us("2001-08-01")
    odate = d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey] * rng.uniform(0.02, 1.1, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * day),
    })
    e0 = _us("2024-01-01")
    ev_ts = np.sort(e0 + rng.integers(0, 30 * day, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    texts = _texts(rng, rng.integers(10, 101, n_docs))
    # ~5% of documents belong to small exact-duplicate clusters tagged
    # with the rare term the BM25 row searches for
    n_clusters = max(1, n_docs // 60)
    for c in range(n_clusters):
        members = rng.choice(n_docs, int(rng.integers(2, 4)), replace=False)
        base = texts[members[0]] + " dup"
        for m in members:
            texts[m] = base
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        if t.endswith(" dup"):
            groups.setdefault(t, []).append(i)
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = _unit_vectors(rng, 10)
    vecs = centers[labels] * 0.35 + _unit_vectors(rng, n_vecs)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": _embedding_column(vecs / np.linalg.norm(vecs, axis=1, keepdims=True)),
        "label": pa.array(labels, i32),
    })
    return {
        "rows": counts,
        "dup_groups": sorted(g for g in groups.values() if len(g) > 1),
        "labels": labels,
    }


# -- ingest: SOURCE_DOCUMENTS candidate batches ------------------------------

ALLOWED_HOSTS = np.array(["europa.eu", "unece.org", "nhtsa.gov", "example.com"])
BLOCKED_HOSTS = np.array(["blog.example.net", "news.autos.io"])
PROFILES = np.array(["profile_0", "profile_1", "profile_2", "profile_9"])
PROFILE_P = np.array([0.5, 0.2, 0.15, 0.15])
#: words that drive the extractor's topic tagging and priority
TOPIC_WORDS = np.array(
    ["cyber", "software", "emission", "battery", "autonomous", "data", "urgent"]
)
INGEST_VOCAB = np.concatenate([VOCAB, TOPIC_WORDS])
#: rows dated before this fall outside run_scan's date window
DAYS_WINDOW = 365 * 50
#: arrival_seq stride between batches (> any batch size)
SEQ_STRIDE = 1_000_000


def write_ingest_batches(
    out_dir: str, seed: int, n_batches: int, batch_size: int
) -> list[str]:
    """Write ``n_batches`` SOURCE_DOCUMENTS-shaped parquet batches; returns
    their paths in arrival order.

    Per batch: 10% rows repeat an earlier row's URL of the same batch
    with a ``utm_`` tracking parameter (canonicalisation makes them
    duplicates; first arrival wins), 30% re-crawl URLs of earlier batches
    with new content (so main-table upserts rewrite files), the rest are
    new URLs. 15% of hosts are outside the allow-list, 5% of rows are
    dated before the scan window, 10% have no title.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_dup = batch_size // 10
    n_re = (batch_size * 3) // 10
    next_key = 0
    host_of: list[str] = []  # host per URL key
    day = 86_400_000_000
    t_retrieved = _us("2026-01-01")
    paths = []
    for b in range(n_batches):
        n_base = batch_size - n_dup
        n_recrawl = min(n_re, next_key) if b else 0
        n_new = n_base - n_recrawl
        new_keys = np.arange(next_key, next_key + n_new)
        blocked = rng.random(n_new) < 0.15
        hosts = np.where(
            blocked,
            BLOCKED_HOSTS[rng.integers(0, len(BLOCKED_HOSTS), n_new)],
            ALLOWED_HOSTS[rng.integers(0, len(ALLOWED_HOSTS), n_new)],
        )
        host_of.extend(hosts.tolist())
        next_key += n_new
        old_keys = (
            rng.choice(new_keys[0], n_recrawl, replace=False)
            if n_recrawl
            else np.empty(0, np.int64)
        )
        keys = np.concatenate([old_keys, new_keys])
        keys = keys[rng.permutation(len(keys))]
        dup_src = rng.choice(n_base, n_dup, replace=False)
        keys = np.concatenate([keys, keys[dup_src]])
        n = len(keys)
        urls = [f"https://{host_of[k]}/doc/{k}" for k in keys]
        for i in range(n_base, n):
            urls[i] += "?utm_source=feed"
        content = _texts(rng, rng.integers(8, 60, n), INGEST_VOCAB)
        titles = np.char.add("Notice ", rng.integers(0, 10_000, n).astype(str)).astype(object)
        titles[rng.random(n) < 0.10] = None
        pub = _us("2015-01-01") // day + rng.integers(0, 3650, n)
        pub[rng.random(n) < 0.05] = _us("1960-01-01") // day
        pub_arr = pa.array(pub.astype(np.int32), type=pa.date32())
        pub_arr = pa.array(
            [None if m else v for m, v in zip(rng.random(n) < 0.2, pub_arr.to_pylist())],
            type=pa.date32(),
        )
        table = pa.table({
            "id": [f"doc-{k:08d}" for k in keys],
            "url": urls,
            "domain": [host_of[k] for k in keys],
            "title": pa.array(titles.tolist(), pa.string()),
            "content": content,
            "retrieved_at": _ts(t_retrieved + b * 3_600_000_000 + np.arange(n) * 1000, "UTC"),
            "published_date": pub_arr,
            "hash": pa.array([None] * n, pa.string()),
            "meta": pa.array([[("lang", "en")]] * n, pa.map_(pa.string(), pa.string())),
            "arrival_seq": pa.array(b * SEQ_STRIDE + np.arange(n), pa.int64()),
            "source_profile_id": PROFILES[rng.choice(len(PROFILES), n, p=PROFILE_P)],
        })
        paths.append(_write(table, os.path.join(out_dir, f"batch_{b:04d}.parquet")))
    return paths


def ingest_epoch(batch: int) -> dt.datetime:
    """The ``_ingest_ts`` version stamp of batch ``batch`` (latest wins)."""
    return dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(minutes=batch)
