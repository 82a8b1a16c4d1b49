"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed, size): the same seed
writes byte-identical parquet. Nothing generated here is committed.

- registry: the star schema + events + documents + embeddings of the
  repository's test tables (TESTDATA.md), with the column names and value
  domains the registry queries expect.
- vectors:  clustered 64-d float32 vectors, held-out query vectors (never
  part of the corpus, so recall@10 stays below 1), ingest micro-batches
  and the exact top-10 ground truth of the held-out queries.
- docs:     a Zipfian corpus in which half the rows sit in verbatim
  clouds of CLOUD rows each, plus single and batch lexical query sets.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def _vec_col(mat: np.ndarray) -> pa.Array:
    flat = pa.array(mat.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _texts(rng, n, lo, hi, vocab, p=None):
    lens = rng.integers(lo, hi + 1, size=n)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(vocab[t] for t in toks[i:i + ln]))
        i += ln
    return out


# ---------------------------------------------------------------- registry

def gen_registry(out: str, seed: int, scale: float) -> dict:
    """Star schema at `scale` × the sf0.01 row counts (vector and text
    tables at a fixed 500 rows, as the sf0.01 test tables have them)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_ev = int(15000 * scale), int(10000 * scale)
    _write({"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           f"{out}/region.parquet")
    _write({"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
           f"{out}/nation.parquet")
    _write({"c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)},
           f"{out}/customer.parquet")
    _write({"s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)},
           f"{out}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write({"p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
           f"{out}/part.parquet")
    day = np.datetime64("1995-01-01", "ms")
    odate = day + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write({"o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("ms")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)},
           f"{out}/orders.parquet")
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write({"l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(np.repeat(odate, per) + rng.integers(
                1, 120, n_li).astype("timedelta64[D]"), pa.timestamp("ms"))},
           f"{out}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write({"event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]},
           f"{out}/events.parquet")
    n_doc = 500
    text = _texts(rng, n_doc, 10, 99, WORDS)
    _write({"doc_id": pa.array(range(n_doc), pa.int64()),
            "text": text,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in text], pa.int64())},
           f"{out}/documents.parquet")
    n_emb = 500
    _write({"vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": _vec_col(rng.normal(0, 0.125, (n_emb, 64))),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())},
           f"{out}/embeddings.parquet")
    return {"lineitem_rows": n_li, "events_rows": n_ev}


# ---------------------------------------------------------------- vectors

def _clustered(rng, centers, n, spread):
    lab = rng.integers(0, len(centers), n)
    return (centers[lab] + rng.normal(0, spread, (n, centers.shape[1]))).astype(np.float32), lab


def exact_topk(base: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k ids per query under squared L2, ties by id (float64)."""
    b = base.astype(np.float64)
    d = ((q.astype(np.float64)[:, None, :] - b[None, :, :]) ** 2).sum(-1)
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)
    return ids[order[:, :k]]


# cluster spread, equal to the spread of the cluster centres: clusters
# overlap, so probing a few IVF lists misses true neighbours
SPREAD = 1.0


def gen_vectors(out: str, seed: int, n: int, n_queries: int, n_ingest: int,
                dim: int = 64, clusters: int = 64) -> dict:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1.0, (clusters, dim))
    base, lab = _clustered(rng, centers, n, SPREAD)
    queries, _ = _clustered(rng, centers, n_queries, SPREAD)
    ingest, ilab = _clustered(rng, centers, n_ingest, SPREAD)
    ids = np.arange(n, dtype=np.int64)
    _write({"vec_id": pa.array(ids), "embedding": _vec_col(base),
            "label": pa.array(lab % 10, pa.int32())}, f"{out}/embeddings.parquet")
    _write({"query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
            "qvec": _vec_col(queries)}, f"{out}/queries.parquet")
    _write({"vec_id": pa.array(np.arange(n, n + n_ingest, dtype=np.int64)),
            "embedding": _vec_col(ingest),
            "label": pa.array(ilab % 10, pa.int32())}, f"{out}/ingest.parquet")
    gt = np.concatenate([exact_topk(base, ids, queries[i:i + 64], 10)
                         for i in range(0, n_queries, 64)])
    _write({"query_id": pa.array(np.repeat(np.arange(n_queries, dtype=np.int64), 10)),
            "vec_id": pa.array(gt.ravel())}, f"{out}/truth.parquet")
    return {"vec_rows": n, "held_out_queries": n_queries, "ingest_total": n_ingest}


# ---------------------------------------------------------------- docs

CLOUD = 160  # verbatim cloud size: Σg²/n = (CLOUD+1)/2 ≥ 64 at half-cloud rows


def gen_docs(out: str, seed: int, n: int, n_single: int, batch_terms: int,
             min_batch_postings: int, vocab: int = 3000) -> dict:
    """The batch gets as many queries as it takes for Σ postings over its
    (query, term) pairs to exceed `min_batch_postings`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(vocab)]
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    p /= p.sum()
    n_clouds = max(1, (n // 2) // CLOUD)
    n_unique = n - n_clouds * CLOUD
    texts = _texts(rng, n_unique, 40, 80, words, p)
    cloud_texts = _texts(rng, n_clouds, 40, 80, words, p)
    cloud_of = np.full(n, -1, dtype=np.int64)
    for c in range(n_clouds):
        texts.extend([cloud_texts[c]] * CLOUD)
        cloud_of[n_unique + c * CLOUD:n_unique + (c + 1) * CLOUD] = c
    perm = rng.permutation(n)
    texts = [texts[i] for i in perm]
    cloud_of = cloud_of[perm]
    _write({"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": texts,
            "lang": rng.choice(LANGS, n), "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())},
           f"{out}/documents.parquet")
    _write({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "cloud": pa.array(cloud_of)}, f"{out}/clouds.parquet")
    df = {}
    for t in texts:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    # singles: 3 mid-frequency terms each; batch: drawn from the most
    # frequent terms, so its postings are corpus-scale per (query, term)
    mid = rng.integers(20, 400, (n_single, 3))
    top, postings = [], 0
    while postings <= min_batch_postings:
        q = rng.permutation(batch_terms * 2)[:batch_terms]
        top.append(q)
        postings += sum(df.get(words[t], 0) for t in q)
    top = np.array(top)
    single_max = max(sum(df.get(words[t], 0) for t in q) for q in mid)
    _write({"query_id": pa.array(np.repeat(np.arange(n_single, dtype=np.int64), 3)),
            "term": [words[t] for t in mid.ravel()]}, f"{out}/single_terms.parquet")
    _write({"query_id": pa.array(np.repeat(np.arange(len(top), dtype=np.int64),
                                           batch_terms)),
            "term": [words[t] for t in top.ravel()]}, f"{out}/batch_terms.parquet")
    return {"doc_rows": n, "clouds": n_clouds, "lex_batch_queries": len(top),
            "batch_postings": postings, "single_postings_max": single_max}
