"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, scale): the same arguments give
byte-identical files, a different seed gives different files.

  tpch(dir, seed, sf)     region/nation/customer/supplier/part/orders/
                          lineitem/events/documents/embeddings parquet,
                          the schemas graft.Tables reads
  social(dir, seed)       users.csv / posts.csv / engagements.csv for
                          FlatFileEngine (10k / 5k / 10k rows, 4k distinct
                          authors: the reference fixtures' cardinalities)
  corpus(dir, seed)       the index_ingest corpus: documents with a
                          near-duplicate fraction over a Zipf vocabulary,
                          clustered unit vectors

Skewed draws come from a Zipf law truncated to the id range by inverse
CDF, so the tail's mass spreads over every rank instead of piling onto
the last one.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
NAMES_A = "blue cold hot large new old red small".split()
NAMES_B = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
DIM = 64
# skew of the social ids (authors of a second post, engaged posts and
# users): YCSB's default Zipf constant, as the reference gives no figure
ZIPF_A = 0.99


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _unit(rng, n, dim=DIM):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vec_column(mat):
    flat = pa.array(mat.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def zipf_ranks(rng, n, hi, a):
    """n ranks in [0, hi) from a Zipf law with exponent `a` truncated to
    hi ranks; rank 0 is the most frequent."""
    w = 1.0 / np.arange(1, hi + 1) ** a
    cdf = np.cumsum(w) / w.sum()
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), hi - 1)


def zipf_ids(rng, n, hi, a):
    """n ids in [1, hi], Zipf-skewed, with a seeded shuffle of which ids
    are hot."""
    ranks = zipf_ranks(rng, n, hi, a)
    return (rng.permutation(hi) + 1)[ranks]


def _docs(rng, n, dup_frac, zipf=None):
    """n texts of 10-99 vocabulary words; a `dup_frac` share copies an
    earlier text and appends the token `dup` (a near-duplicate)."""
    words = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        if zipf is None:
            idx = rng.integers(0, len(words), k)
            texts.append(" ".join(words[idx]))
        else:
            ranks = zipf_ranks(rng, k, len(ZIPF_VOCAB), zipf)
            texts.append(" ".join(ZIPF_VOCAB[ranks]))
    return texts


# a 400-word vocabulary: the base words plus numbered terms, so a Zipf
# draw has a long tail of rare terms
ZIPF_VOCAB = np.array(VOCAB + [f"term{i}" for i in range(400 - len(VOCAB))])


def tpch(out, seed, sf):
    """The star schema + events/documents/embeddings at scale `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    pn = rng.integers(0, 64, n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{NAMES_A[i // 8]} {NAMES_B[i % 8]}" for i in pn],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": list(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    day = 86400 * 10**6
    start = np.datetime64("1995-01-01", "us").astype("int64")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(start + rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(start + rng.integers(1, 2405, n_li) * day)}),
        f"{out}/lineitem.parquet")
    ev_start = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.exponential(30 * day / n_ev, n_ev).astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_start + np.minimum(np.cumsum(gaps), 30 * day - 1)),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), pa.int64()),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = _docs(rng, n_doc, 0.05)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": _vec_column(_unit(rng, n_emb)),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


def social(out, seed, n_users=10000, n_posts=5000, n_eng=10000, n_authors=4000):
    """FlatFileEngine fixtures at the reference cardinalities: n_posts
    posts by exactly n_authors distinct users (each author writes one,
    the rest go Zipf-skewed to the same authors)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    locs = [f"City{i}" for i in range(40)]
    users = [f"user{seed % 997}_{i}" for i in range(1, n_users + 1)]
    user_loc = rng.integers(0, len(locs), n_users)
    with open(f"{out}/users.csv", "w") as f:
        f.write("id,username,location\n")
        for i in range(n_users):
            f.write(f"{i + 1},{users[i]},{locs[user_loc[i]]}\n")
    writers = rng.permutation(n_users)[:n_authors] + 1
    extra = writers[zipf_ids(rng, n_posts - n_authors, n_authors, ZIPF_A) - 1]
    authors = rng.permutation(np.concatenate([writers, extra]))
    words = np.array(VOCAB)
    with open(f"{out}/posts.csv", "w") as f:
        f.write("id,content,username,views\n")
        for i in range(n_posts):
            content = " ".join(words[rng.integers(0, len(words), 4)])
            f.write(f"{i + 1},{content},{users[authors[i] - 1]},"
                    f"{int(rng.integers(0, 1000))}\n")
    post_ids = zipf_ids(rng, n_eng, n_posts, ZIPF_A)
    eng_users = zipf_ids(rng, n_eng, n_users, ZIPF_A)
    with open(f"{out}/engagements.csv", "w") as f:
        f.write("id,postId,username,type,comment,timestamp\n")
        for i in range(n_eng):
            if rng.random() < 0.5:
                typ, comment = "comment", " ".join(words[rng.integers(0, len(words), 3)])
            else:
                typ, comment = "like", "None"
            f.write(f"{i + 1},{post_ids[i]},{users[eng_users[i] - 1]},{typ},"
                    f"{comment},{1000 + i}\n")


def corpus(out, seed, n_docs=2400, dup_frac=0.1, n_vecs=2400, clusters=12):
    """The index_ingest corpus: docs.parquet (doc_id, text) and
    vecs.parquet (vec_id, embedding)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    texts = _docs(rng, n_docs, dup_frac, zipf=1.0)
    _write(pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": texts}), f"{out}/docs.parquet")
    centers = _unit(rng, clusters)
    member = rng.integers(0, clusters, n_vecs)
    v = centers[member] + 0.15 * rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({"vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                     "embedding": _vec_column(v.astype(np.float32))}),
           f"{out}/vecs.parquet")
