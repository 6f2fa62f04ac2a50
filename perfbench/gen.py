"""Seeded input generation for the three workloads.

Everything the JVM side reads is written here as parquet, before any timer
starts, from numpy's PCG64 generator seeded with `--seed`: the same seed gives
the same rows (see `input_digest`, pinned by test_perfbench.py).

Sizes are module constants so a reader sees the whole workload shape at once.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- admin_sweep: cluster snapshots in the fixture schema -----------------
SNAPSHOTS = 2            # K snapshots cycled by the sweep
PARTS = 2000             # regions (region universe = part)
LINEITEMS = 60000        # rows aggregated into region metrics
ORDERS = 15000           # topology observations / snapshots
CUSTOMERS = 1500         # key-lookup probes
EVENTS = 10000           # regions-in-transition log
REGION_SKEW = 2.5        # partkey = PARTS * u**skew, then permuted: zipf-like region sizes

# ---- text corpora (ingest_stream, serve_mix) -------------------------------
VOCAB = 6000
ZIPF_OFFSET = 10         # p(word i) ~ 1 / (i + offset): skewed, head kept flat enough
DOC_TOKENS = (20, 60)    # tokens per ordinary doc

# ---- ingest_stream ---------------------------------------------------------
INGEST_CORPUS = 1000     # docs indexed at setup; ids [0, 1000)
TARGETABLE = 500         # corpus ids [0, 500) may be re-sent as duplicates
BATCHES = 60             # batches generated; a run feeds as many as its time allows
BATCH_NEAR = 30          # exact re-sends of indexed docs -> dup_index
BATCH_INTRA = 20         # copies of a fresh doc in the same batch -> dup_batch
BATCH_SUB = 10           # 1-2 token docs -> unsignable
BATCH_FRESH = 140        # new docs -> ingested
DELETE_EVERY = 2         # delete + compact after every 2nd batch
DELETE_COUNT = 10        # docs deleted per maintenance step, from corpus ids [500, 1000)

# ---- serve_mix -------------------------------------------------------------
SERVE_DOCS = 1000
EMB_VECTORS = 1000
EMB_DIM = 64
EMB_LABELS = 10
HOT_LABELS = 3           # ANN queries land near these centers 80% of the time
ANN_QSETS = 256          # query sets in the pool, 2 fresh vectors each
ANN_QSIZE = 2
BM25_QSETS = 256         # term sets in the pool, 1-3 zipf-drawn terms each
DEDUP_QSETS = 128        # batches in the pool, 8 docs each (2 re-sends + 6 fresh)
DEDUP_QSIZE = 8
DEDUP_RESENDS = 2

_SYLLABLES = ["ka", "lo", "mi", "nu", "pe", "ra", "so", "ti", "vu", "xe", "za", "bo",
              "da", "fe", "gi", "ho", "ju", "ke", "ly", "mo", "ne", "po", "qu", "ri"]


def _rng(seed, *stream):
    return np.random.default_rng([int(seed)] + list(stream))


def vocabulary(seed):
    s = _SYLLABLES
    words = [a + b for a in s for b in s] + [a + b + c for a in s for b in s for c in s]
    order = _rng(seed, 7).permutation(len(words))[:VOCAB]
    return [words[i] for i in order]


class TextGen:
    """Zipf-distributed token streams over a seeded vocabulary."""

    def __init__(self, seed, stream):
        self.words = vocabulary(seed)
        w = 1.0 / (np.arange(VOCAB) + ZIPF_OFFSET)
        self.cdf = np.cumsum(w / w.sum())
        self.rng = _rng(seed, stream)

    def _draw(self, n):
        return np.minimum(np.searchsorted(self.cdf, self.rng.random(n)), VOCAB - 1)

    def doc(self, n=None):
        if n is None:
            n = int(self.rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        return " ".join(self.words[i] for i in self._draw(n))

    def terms(self, n):
        return [self.words[i] for i in self._draw(n)]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def table_digest(table):
    """Content hash of an arrow table (schema + every value), independent of
    parquet encoding details."""
    h = hashlib.sha256(str(table.schema).encode())
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_list(col.type):
            h.update(np.asarray(col.offsets).tobytes())
            h.update(np.asarray(col.values).tobytes())
        elif pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        elif pa.types.is_timestamp(col.type):
            h.update(np.asarray(col.cast(pa.int64())).tobytes())
        else:
            h.update(np.asarray(col).tobytes())
    return h.hexdigest()


class Inputs:
    """Collects written tables and their digests."""

    def __init__(self, root):
        self.root = root
        self.digests = {}
        self.rows = {}

    def put(self, rel, table):
        _write(table, os.path.join(self.root, rel))
        self.digests[rel] = table_digest(table)
        self.rows[rel] = table.num_rows

    def digest(self):
        h = hashlib.sha256()
        for rel in sorted(self.digests):
            h.update(rel.encode() + self.digests[rel].encode())
        return h.hexdigest()


# ---------------------------------------------------------------------------
# admin_sweep
# ---------------------------------------------------------------------------

def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def gen_snapshot(seed, j, out):
    rng = _rng(seed, 1, j)
    pick = lambda xs, n: pa.array([xs[i] for i in rng.integers(0, len(xs), n)])
    n_part, n_cust, n_ord, n_li, n_ev = PARTS, CUSTOMERS, ORDERS, LINEITEMS, EVENTS
    base = f"admin/snap{j}/"
    out.put(base + "region.parquet", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}))
    out.put(base + "nation.parquet", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    out.put(base + "supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(100, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(100)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 100).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 100), 2))}))
    out.put(base + "customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}))
    out.put(base + "part.parquet", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(["small ring", "red widget", "blue bolt", "steel gear", "tiny spring"], n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 1))}))
    out.put(base + "orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400 * 10**6),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    # skewed region sizes: most regions small (mergeable), a few very large
    # (split / compaction candidates); the permutation spreads the heavy
    # regions over tables and servers
    perm = rng.permutation(n_part)
    partkey = perm[np.minimum((n_part * rng.random(n_li) ** REGION_SKEW).astype(np.int64), n_part - 1)]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out.put(base + "lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_li) * 86400 * 10**6)}))
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out.put(base + "events.parquet", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": pa.array(np.round(rng.uniform(0, 20, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}))


def gen_admin(seed, out):
    for j in range(SNAPSHOTS):
        gen_snapshot(seed, j, out)


# ---------------------------------------------------------------------------
# ingest_stream
# ---------------------------------------------------------------------------

def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(texts, type=pa.string())})


def gen_ingest(seed, out):
    """Corpus + batches with planted classes. Every expected verdict is known
    here: re-sends copy a doc the index holds (est 10000), intra-batch copies
    duplicate a fresh doc of the same batch under a larger id, sub-shingle docs
    have fewer than 3 tokens, fresh docs are new zipf text."""
    tg = TextGen(seed, 2)
    corpus_ids = list(range(INGEST_CORPUS))
    corpus_texts = [tg.doc() for _ in corpus_ids]
    out.put("ingest/corpus.parquet", _docs_table(corpus_ids, corpus_texts))
    text_of = dict(zip(corpus_ids, corpus_texts))
    targetable = list(range(TARGETABLE))          # grows with every ingested fresh doc
    deletable = list(range(TARGETABLE, INGEST_CORPUS))
    rng = tg.rng
    cols = {k: [] for k in ("batch", "doc_id", "text", "expect_verdict", "expect_dup_of")}
    deletes = {"after_batch": [], "doc_id": []}
    size = BATCH_NEAR + BATCH_INTRA + BATCH_SUB + BATCH_FRESH
    for b in range(BATCHES):
        ids = 1_000_000 + b * 1000 + np.sort(rng.choice(1000, size, replace=False))
        slots = rng.permutation(size)           # slot -> position in the sorted id list
        fresh_pos = sorted(slots[:BATCH_FRESH])
        intra_pos = slots[BATCH_FRESH:BATCH_FRESH + BATCH_INTRA]
        near_pos = slots[BATCH_FRESH + BATCH_INTRA:BATCH_FRESH + BATCH_INTRA + BATCH_NEAR]
        sub_pos = slots[BATCH_FRESH + BATCH_INTRA + BATCH_NEAR:]
        rows = {}
        for p in fresh_pos:
            rows[p] = (tg.doc(), "ingested", None)
        # each intra copy duplicates a distinct fresh doc with a SMALLER id
        unused = list(fresh_pos)
        for p in sorted(intra_pos):
            smaller = [o for o in unused if o < p]
            if not smaller:                      # no smaller fresh doc: make it fresh instead
                rows[p] = (tg.doc(), "ingested", None)
                continue
            src = smaller[int(rng.integers(0, len(smaller)))]
            unused.remove(src)
            rows[p] = (rows[src][0], "dup_batch", int(ids[src]))
        targets = rng.choice(len(targetable), BATCH_NEAR, replace=False)
        for p, t in zip(near_pos, targets):
            tid = targetable[t]
            rows[p] = (text_of[tid], "dup_index", tid)
        for p in sub_pos:
            rows[p] = (tg.doc(int(rng.integers(1, 3))), "unsignable", None)
        for p in range(size):
            text, verdict, dup_of = rows[p]
            cols["batch"].append(b)
            cols["doc_id"].append(int(ids[p]))
            cols["text"].append(text)
            cols["expect_verdict"].append(verdict)
            cols["expect_dup_of"].append(dup_of)
            if verdict == "ingested":
                targetable.append(int(ids[p]))
                text_of[int(ids[p])] = text
        if (b + 1) % DELETE_EVERY == 0:
            for _ in range(DELETE_COUNT):
                deletes["after_batch"].append(b)
                deletes["doc_id"].append(deletable.pop(int(rng.integers(0, len(deletable)))))
    out.put("ingest/batches.parquet", pa.table({
        "batch": pa.array(cols["batch"], type=pa.int32()),
        "doc_id": pa.array(cols["doc_id"], type=pa.int64()),
        "text": pa.array(cols["text"], type=pa.string()),
        "expect_verdict": pa.array(cols["expect_verdict"], type=pa.string()),
        "expect_dup_of": pa.array(cols["expect_dup_of"], type=pa.int64())}))
    out.put("ingest/deletes.parquet", pa.table({
        "after_batch": pa.array(deletes["after_batch"], type=pa.int32()),
        "doc_id": pa.array(deletes["doc_id"], type=pa.int64())}))


# ---------------------------------------------------------------------------
# serve_mix
# ---------------------------------------------------------------------------

def gen_serve(seed, out):
    tg = TextGen(seed, 3)
    doc_texts = [tg.doc() for _ in range(SERVE_DOCS)]
    out.put("serve/docs.parquet", _docs_table(list(range(SERVE_DOCS)), doc_texts))
    rng = _rng(seed, 4)
    centers = rng.uniform(-0.3, 0.3, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, EMB_VECTORS)
    vecs = (centers[labels] + rng.normal(0, 0.08, (EMB_VECTORS, EMB_DIM))).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    out.put("serve/embeddings.parquet", pa.table({
        "vec_id": pa.array(np.arange(EMB_VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=emb_type),
        "label": pa.array(labels.astype(np.int32))}))
    # ANN: fresh vectors, skewed to a few hot centers
    n = ANN_QSETS * ANN_QSIZE
    hot = rng.random(n) < 0.8
    qlab = np.where(hot, rng.integers(0, HOT_LABELS, n), rng.integers(0, EMB_LABELS, n))
    qv = (centers[qlab] + rng.normal(0, 0.08, (n, EMB_DIM))).astype(np.float32)
    out.put("serve/ann_queries.parquet", pa.table({
        "qset": pa.array(np.repeat(np.arange(ANN_QSETS), ANN_QSIZE).astype(np.int32)),
        "vec_id": pa.array(10_000_000 + np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(qv), type=emb_type)}))
    # BM25: 1-3 zipf-drawn distinct terms per set
    qs, terms = [], []
    for q in range(BM25_QSETS):
        ts = sorted(set(tg.terms(int(rng.integers(1, 4)))))
        qs += [q] * len(ts)
        terms += ts
    out.put("serve/bm25_queries.parquet", pa.table({
        "qset": pa.array(qs, type=pa.int32()), "term": pa.array(terms, type=pa.string())}))
    # dedup serve: re-sends of indexed docs (expected pair, est 10000) + fresh docs
    cols = {k: [] for k in ("qset", "doc_id", "text", "expect_dup_of")}
    for q in range(DEDUP_QSETS):
        resend = set(rng.choice(DEDUP_QSIZE, DEDUP_RESENDS, replace=False).tolist())
        srcs = rng.choice(SERVE_DOCS, DEDUP_RESENDS, replace=False).tolist()
        for i in range(DEDUP_QSIZE):
            cols["qset"].append(q)
            cols["doc_id"].append(20_000_000 + q * DEDUP_QSIZE + i)
            if i in resend:
                src = int(srcs.pop())
                cols["text"].append(doc_texts[src])
                cols["expect_dup_of"].append(src)
            else:
                cols["text"].append(tg.doc())
                cols["expect_dup_of"].append(None)
    out.put("serve/dedup_queries.parquet", pa.table({
        "qset": pa.array(cols["qset"], type=pa.int32()),
        "doc_id": pa.array(cols["doc_id"], type=pa.int64()),
        "text": pa.array(cols["text"], type=pa.string()),
        "expect_dup_of": pa.array(cols["expect_dup_of"], type=pa.int64())}))


GENERATORS = {"admin_sweep": gen_admin, "ingest_stream": gen_ingest, "serve_mix": gen_serve}


def generate(workload, seed, root):
    """Write `workload`'s inputs under `root`; returns the manifest."""
    out = Inputs(root)
    GENERATORS[workload](seed, out)
    manifest = {"workload": workload, "seed": int(seed), "input_digest": out.digest(),
                "rows": out.rows}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
