"""Seeded generator of the harness-shaped input tables.

Writes the ten parquet tables the registered queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value distributions of the harness
data the oracle sweep is gated on, one row group per file.

Table *content* depends only on the scale factor, so oracle results are
computed once per scale; the run seed sets every table's row order
(which the engine must be insensitive to) and draws the stream
arrivals (see ``arrivals``).
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EPOCH = datetime.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, lo, hi, n):
    """n midnight timestamps (micros) uniform on [lo, hi]."""
    span = (hi - lo).days
    return (_micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def content(sf):
    """The tables at scale factor ``sf`` as {name: pyarrow.Table}."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                     "BUILDING"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("large hot cold small new red blue old".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                      "PROMO"])
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(_days(rng, datetime.datetime(1995, 1, 1),
                                      datetime.datetime(2001, 8, 1), n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, datetime.datetime(1995, 1, 2),
                                     datetime.datetime(2001, 11, 4), n_li),
                               pa.timestamp("us"))})
    t0 = _micros(datetime.datetime(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, n_docs)]
    # 5% near-duplicates ("<earlier doc> dup") and 0.2% verbatim copies,
    # so every dedup tier has work at any scale
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(2, n_docs // 500),
                        replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(sf, seed, out_dir):
    """Write the tables at ``sf`` into ``out_dir``, each in the row order
    the ``seed`` draws. Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    for name, tab in content(sf).items():
        tab = tab.take(rng.permutation(tab.num_rows))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows),
                       compression="snappy")
    return out_dir


CLASSES = ["dup_url", "exact_dup", "near_dup", "contained", "ingested"]
HOUR_MS = 3_600_000
TIMED_ID_BASE = 2_000_000_000  # Harness.scala's Arrivals.TimedIdBase


def corpus_url(source, doc_id):
    """URL of a base-corpus doc; the harness lands the corpus with it."""
    return f"https://{source}.example/doc/{doc_id}"


def arrivals(data_dir, seed, path, warmup_batches, timed_batches, batch_docs):
    """Write the stream's seeded arrivals, one tab-separated line per doc:
    ``section batch doc_id ts_ms url planted text``.

    Each doc plants one precedence class against the base corpus (the
    documents table in ``data_dir``), in equal numbers per batch:
    dup_url (a tracking-param / case / port variant of a corpus URL, novel
    text), exact_dup (a corpus text verbatim under a fresh URL), near_dup
    (a 40+ token corpus text with its last token replaced), contained (the
    first 15 tokens of such a text) and ingested (novel tokens). Batch
    ``j`` sits 3 hours after batch ``j-1``, so its 1-hour windows close as
    soon as batch ``j+1`` moves the watermark."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text", "source"]).to_pydict()
    rng = np.random.default_rng([seed, 2])
    ids, texts, sources = docs["doc_id"], docs["text"], docs["source"]
    long_ = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    t0 = _micros(datetime.datetime(2024, 6, 1)) // 1000
    lines = []
    n = 0
    for section, count, id0 in (("warmup", warmup_batches, 1_000_000_000),
                                ("timed", timed_batches, TIMED_ID_BASE)):
        for b in range(count):
            # every batch plants the same number of each class
            classes = rng.permutation([CLASSES[i % len(CLASSES)] for i in range(batch_docs)])
            for i in range(batch_docs):
                doc_id = id0 + b * batch_docs + i
                ts = t0 + n * 3 * HOUR_MS + i * 1000
                cls = str(classes[i])
                novel = " ".join(f"nv{doc_id}x{k}" for k in range(int(rng.integers(20, 40))))
                url = f"https://arrivals.example/{seed}/{doc_id}"
                if cls == "dup_url":
                    a = int(rng.integers(0, len(ids)))
                    url = corpus_url(sources[a], ids[a]).replace("https://", "HTTPS://") \
                        .replace(".example/", ".EXAMPLE:443/") + "?utm_source=feed#top"
                    text = novel
                elif cls == "exact_dup":
                    text = texts[long_[int(rng.integers(0, len(long_)))]]
                elif cls == "near_dup":
                    toks = texts[long_[int(rng.integers(0, len(long_)))]].split()
                    text = " ".join(toks[:-1] + [f"zq{doc_id}"])
                elif cls == "contained":
                    toks = texts[long_[int(rng.integers(0, len(long_)))]].split()
                    text = " ".join(toks[:15])
                else:
                    text = novel
                lines.append(f"{section}\t{b}\t{doc_id}\t{ts}\t{url}\t{cls}\t{text}\n")
            n += 1
    with open(path, "w") as f:
        f.writelines(lines)
    return path
