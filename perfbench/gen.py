"""Seeded inputs and independent references for the perfbench workloads.

Every input is drawn from a NumPy generator seeded with the run's seed and
the workload name: the same seed gives byte-identical parquet files. The program under test only ever sees the
parquet tables; the references (``ref.json`` beside them) are computed here
by a path that shares no code with it: DuckDB SQL for the data-quality
figures, the injected duplicates for curation and clustering, and a NumPy
brute-force cosine scan for the nearest-neighbour truth.

Usage: ``python3 perfbench/gen.py <workload> <seed> <out_dir>``.
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload; perfbench/README.md states them.
DQ_ORDERS = 40_000          # lineitem ~ 4 lines per order -> ~160k rows
GRAPH_SEGMENT = 24          # parts per co-purchase segment (833 segments)
GRAPH_WINDOW = 8            # consecutive parts one order buys from
PAGERANK_ITERS, PAGERANK_SCALE, DAMPING_PCT = 5, 10**12, 85
LPA_ROUNDS = 3
CURATE_DOCS = 4_000         # base documents before injected duplicates
ANN_DIM = 64
ANN_QUERIES = 64            # searched as one batch
ANN_CENTERS = 24
QUERY_BASE = 10_000_000      # above every doc id: searchIndex drops neighbour == query id

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch the a").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def write_table(table, path, files):
    """One parquet directory of ``files`` row slices, like a real table."""
    os.makedirs(path)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=1 << 20)


def null_out(rng, arr, share):
    return pa.array(arr, mask=rng.random(len(arr)) < share)


# ---------------------------------------------------------------- dq_graph

def gen_dq(rng, out):
    n_ord = DQ_ORDERS
    okeys = np.arange(n_ord, dtype=np.int64) * 4 + 1
    odate = (np.datetime64("1992-01-01") +
             rng.integers(0, 2400, n_ord).astype("timedelta64[D]"))
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, 15_001, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n = int(lines.sum())
    order_idx = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    orderkey = okeys[order_idx].copy()
    # 0.5 % orphan foreign keys (even keys never exist in orders)
    orphan = rng.random(n) < 0.005
    orderkey[orphan] = rng.integers(1, n_ord, orphan.sum()) * 4 + 2
    # co-purchase structure for the graph stage: each order buys from one
    # window of GRAPH_WINDOW consecutive parts inside one segment of
    # GRAPH_SEGMENT parts, so the part graph splits into a few hundred
    # components of small diameter (the component fixpoint converges in a
    # handful of rounds, well below its 20-round cap)
    n_seg = 20_000 // GRAPH_SEGMENT
    seg = rng.integers(0, n_seg, n_ord)[order_idx]
    lo = rng.integers(0, GRAPH_SEGMENT - GRAPH_WINDOW + 1, n_ord)[order_idx]
    partkey = (seg * GRAPH_SEGMENT + lo + rng.integers(0, GRAPH_WINDOW, n) + 1).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900 + (partkey % 1000) + 0.01 * (partkey % 100)), 2)
    disc = rng.integers(0, 11, n) / 100.0
    # 1 % rows out of their valid domain
    bad = rng.random(n) < 0.01
    qty[bad] = np.where(rng.random(bad.sum()) < 0.5, 0.0, 60.0)
    ship = (odate[order_idx] + rng.integers(1, 122, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")
    cols = {}
    cols["l_orderkey"] = null_out(rng, orderkey, 0.02)
    cols["l_partkey"] = null_out(rng, partkey, 0.02)
    cols["l_suppkey"] = pa.array(rng.integers(1, 1001, n, dtype=np.int64))
    cols["l_linenumber"] = pa.array(linenumber)
    cols["l_quantity"] = null_out(rng, qty, 0.02)
    cols["l_extendedprice"] = null_out(rng, price, 0.02)
    cols["l_discount"] = null_out(rng, disc, 0.02)
    cols["l_tax"] = pa.array(rng.integers(0, 9, n) / 100.0)
    cols["l_returnflag"] = pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)])
    cols["l_linestatus"] = pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)])
    cols["l_shipdate"] = null_out(rng, ship, 0.02)
    li = pa.table(cols)
    # 0.5 % exact duplicate rows (whole-row copies, so any kept copy is equal)
    dup_idx = np.sort(rng.choice(n, n // 200, replace=False))
    li = pa.concat_tables([li, li.take(pa.array(dup_idx))])
    write_table(orders, os.path.join(out, "orders.parquet"), 2)
    write_table(li, os.path.join(out, "lineitem.parquet"), 8)
    return {"input_rows": li.num_rows + orders.num_rows, **dq_reference(out),
            **graph_reference(out)}


DQ_COMPLETE_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"]
DQ_RAW_COLS = ["l_extendedprice", "l_discount"]
DQ_UNIQUE_COLS = ["l_orderkey", "l_linenumber"]
DQ_VALID_PRED = "l_quantity BETWEEN 1 AND 50 AND l_discount BETWEEN 0 AND 0.1"
DQ_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]


def dq_reference(out):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{out}/lineitem.parquet/*.parquet')")
    con.execute(f"CREATE VIEW ord AS SELECT * FROM read_parquet('{out}/orders.parquet/*.parquet')")
    one = lambda q: con.execute(q).fetchone()
    metrics = {}
    for c in DQ_COMPLETE_COLS:
        metrics[f"complete_cols|{c}"] = one(f"SELECT avg(CASE WHEN {c} IS NOT NULL THEN 1.0 ELSE 0.0 END) FROM li")[0]
    nn = " AND ".join(f"{c} IS NOT NULL" for c in DQ_RAW_COLS)
    metrics["complete_raw|"] = one(f"SELECT count(*) FILTER ({nn}) / count(*) FROM li")[0]
    for c in DQ_UNIQUE_COLS:
        metrics[f"unique_key|{c}"] = one(f"SELECT count(DISTINCT {c}) / count({c}) FROM li")[0]
    pred = f"coalesce({DQ_VALID_PRED}, false)"
    metrics["valid_domain|l_quantity,l_discount"] = one(f"SELECT count(*) FILTER ({pred}) / count(*) FROM li")[0]
    metrics["fk_orders|l_orderkey"] = one(
        "SELECT count(*) FILTER (WHERE l_orderkey IS NULL OR l_orderkey NOT IN (SELECT o_orderkey FROM ord)) "
        "/ count(*) FROM li")[0]
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in DQ_COMPLETE_COLS + DQ_RAW_COLS)
    valid_rows = one(
        f"SELECT count(*) FROM (SELECT DISTINCT * FROM li WHERE {notnull}) "
        f"WHERE {pred} AND l_orderkey IN (SELECT o_orderkey FROM ord)")[0]
    anynull = lambda cs: " OR ".join(f"{c} IS NULL" for c in cs)
    invalid_rows = sum([
        one(f"SELECT count(*) FROM li WHERE {anynull(DQ_COMPLETE_COLS)}")[0],
        one(f"SELECT count(*) FROM li WHERE {anynull(DQ_RAW_COLS)}")[0],
        one("SELECT count(*) FROM li JOIN (SELECT l_orderkey k, l_linenumber n FROM li "
            "GROUP BY ALL HAVING count(*) > 1) d ON l_orderkey = d.k AND l_linenumber = d.n")[0],
        one(f"SELECT count(*) FROM li WHERE NOT {pred}")[0],
        one("SELECT count(*) FROM li WHERE l_orderkey IS NULL "
            "OR l_orderkey NOT IN (SELECT o_orderkey FROM ord)")[0],
    ])
    profile = {}
    for c in DQ_PROFILE_COLS:
        numeric = c in ("l_quantity", "l_extendedprice")
        agg = (f", min({c})::DOUBLE, max({c})::DOUBLE, avg({c})::DOUBLE" if numeric
               else ", NULL, NULL, NULL")
        profile[c] = list(one(f"SELECT count({c}), count(*) - count({c}), count(DISTINCT {c}){agg} FROM li"))
    con.close()
    return {"metrics": metrics, "valid_rows": valid_rows, "invalid_union_rows": invalid_rows,
            "profile": profile}


def graph_reference(out):
    """The part co-purchase graph's connected components (union-find),
    exact integer PageRank and synchronous min-tie label propagation,
    computed from a DuckDB self-join edge list with NumPy."""
    con = duckdb.connect()
    e = con.execute(
        f"WITH li AS (SELECT * FROM read_parquet('{out}/lineitem.parquet/*.parquet')) "
        "SELECT DISTINCT x.l_partkey, y.l_partkey FROM li x JOIN li y "
        "ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey").fetchnumpy()
    con.close()
    a, b = (np.asarray(v, dtype=np.int64) for v in e.values())
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a):]
    n = len(nodes)
    # connected components: union-find with path halving; a component is
    # named by its smallest node id, as Dedup.connectedComponents does
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for x, y in zip(ia.tolist(), ib.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)   # roots stay the smallest index
    comp = nodes[[find(x) for x in range(n)]]
    # symmetric adjacency, both directions of every edge
    u, v = np.concatenate([ia, ib]), np.concatenate([ib, ia])
    outdeg = np.bincount(u, minlength=n).astype(np.int64)
    init = PAGERANK_SCALE // n
    base = (100 - DAMPING_PCT) * init // 100
    rank = np.full(n, init, dtype=np.int64)
    by_v = np.argsort(v, kind="stable")
    starts = np.searchsorted(v[by_v], np.arange(n))
    for _ in range(PAGERANK_ITERS):
        share = (rank // outdeg)[u[by_v]]
        cs = np.add.reduceat(share, starts)          # every node has an in-edge
        rank = base + DAMPING_PCT * cs // 100
    # label propagation: each sweep every node takes its neighbours' most
    # frequent label, ties to the smallest
    label = nodes.copy()
    for _ in range(LPA_ROUNDS):
        key, cnt = np.unique(u * (nodes[-1] + 1) + label[v], return_counts=True)
        ku, kl = key // (nodes[-1] + 1), key % (nodes[-1] + 1)
        best = np.lexsort((kl, -cnt, ku))
        first = np.ones(len(best), bool)
        first[1:] = ku[best][1:] != ku[best][:-1]
        label = kl[best][first]
    return {"graph": {"edges": int(len(a)), "nodes": nodes.tolist(),
                      "components": int(len(np.unique(comp))),
                      "component": comp.tolist(), "pagerank": rank.tolist(),
                      "lpa": label.tolist()}}


# -------------------------------------------------------- curate_dedup_ann

def gen_curate(rng, out):
    """Documents with injected exact and one-token-edit near duplicates, one
    embedding per document (copies share their original's topic vector) and
    a query set for the index built over the deduplicated corpus."""
    n = CURATE_DOCS
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 100, n)
    words = [vocab[rng.integers(0, len(vocab), k)] for k in lens]
    ids = np.arange(n, dtype=np.int64) * 3 + 1            # never 0 mod 3
    langs = LANGS[rng.choice(len(LANGS), n, p=LANG_P)]
    # eval split is doc_id % 100 == 0 (see the workload); never copy an
    # eval doc, so every injected copy's original is a training doc
    pool = np.flatnonzero(ids % 100 != 0)
    n_exact, n_near = n // 50, 3 * n // 100
    exact_src = rng.choice(pool, n_exact, replace=False)
    # >= 40 tokens: one edited token leaves word-3-gram Jaccard >= 35/41
    near_src = rng.choice(pool[lens[pool] >= 40], n_near, replace=False)
    # copy ids: multiples of 3 above every original (so an original always
    # wins the keep-min-id exact dedup), skipping eval ids
    copy_ids = [i for i in range(3 * n + 3, 3 * n + 3 + 6 * (n_exact + n_near) + 600, 3)
                if i % 100 != 0][: n_exact + n_near]
    centers = rng.normal(0, 1, (ANN_CENTERS, ANN_DIM))
    vecs = centers[rng.integers(0, ANN_CENTERS, n)] + rng.normal(0, 0.6, (n, ANN_DIM))
    texts = [" ".join(w) for w in words]
    out_ids, out_text, out_lang, out_vec = list(ids), list(texts), list(langs), list(vecs)
    exact_copies, near_pairs = [], []
    for j, s in enumerate(exact_src):
        cid = copy_ids[j]
        out_ids.append(cid); out_text.append(texts[s]); out_lang.append(langs[s])
        out_vec.append(vecs[s])
        exact_copies.append(cid)
    for j, s in enumerate(near_src):
        cid = copy_ids[n_exact + j]
        w = words[s].copy()
        pos = rng.integers(0, len(w))
        choices = vocab[vocab != w[pos]]
        w[pos] = choices[rng.integers(0, len(choices))]
        out_ids.append(cid); out_text.append(" ".join(w)); out_lang.append(langs[s])
        out_vec.append(vecs[s] + rng.normal(0, 0.05, ANN_DIM))
        near_pairs.append([int(ids[s]), cid])
    order = rng.permutation(len(out_ids))
    all_ids = np.array(out_ids, dtype=np.int64)[order]
    all_vecs = np.array(out_vec, dtype=np.float32)[order]
    docs = pa.table({
        "doc_id": pa.array(all_ids),
        "text": pa.array(np.array(out_text, dtype=object)[order], pa.string()),
        "lang": pa.array(np.array(out_lang)[order]),
        "source": pa.array(np.array([f"src{i % 20}" for i in range(len(out_ids))])[order]),
        "n_chars": pa.array(np.array([len(t) for t in out_text], dtype=np.int64)[order]),
    })
    queries = (centers[rng.integers(0, ANN_CENTERS, ANN_QUERIES)] +
               rng.normal(0, 0.6, (ANN_QUERIES, ANN_DIM))).astype(np.float32)
    qids = np.arange(ANN_QUERIES, dtype=np.int64) + QUERY_BASE

    def vec_table(ids_, vecs_):
        return pa.table({"vec_id": pa.array(ids_),
                         "embedding": pa.array(list(vecs_), pa.list_(pa.float32())),
                         "label": pa.array(np.zeros(len(ids_), dtype=np.int32))})
    write_table(docs, os.path.join(out, "documents.parquet"), 4)
    write_table(vec_table(all_ids, all_vecs), os.path.join(out, "embeddings.parquet"), 4)
    write_table(vec_table(qids, queries), os.path.join(out, "queries", "embeddings.parquet"), 1)
    np.savez(os.path.join(out, "vectors.npz"), ids=all_ids, vecs=all_vecs, qids=qids,
             queries=queries)
    return {"input_rows": docs.num_rows, "exact_copies": exact_copies, "near_pairs": near_pairs}


def ann_truth(data_dir, indexed_ids, k=10):
    """Brute-force cosine top-k (float64) of every query over the ids the
    index was built from."""
    z = np.load(os.path.join(data_dir, "vectors.npz"))
    keep = np.isin(z["ids"], np.fromiter(indexed_ids, dtype=np.int64))
    ids, c = z["ids"][keep], z["vecs"][keep].astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q = z["queries"].astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    top = np.argsort(-(q @ c.T), axis=1, kind="stable")[:, :k]
    return {str(int(qid)): set(ids[t].tolist()) for qid, t in zip(z["qids"], top)}


# Cached inputs are keyed by this file's content, so editing it regenerates.
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]

GENERATORS = {"dq_graph": gen_dq, "curate_dedup_ann": gen_curate}


def generate(workload, seed, out):
    """Build ``out`` once per (workload, seed); later calls reuse it."""
    if os.path.exists(os.path.join(out, "ref.json")):
        return
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    tag = sum(ord(ch) for ch in workload)
    rng = np.random.default_rng([seed, tag])
    ref = GENERATORS[workload](rng, out)
    tmp = os.path.join(out, "ref.json.tmp")
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, os.path.join(out, "ref.json"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
