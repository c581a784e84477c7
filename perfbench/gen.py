"""Seeded input generator for the perfbench workloads.

Every input is a pure function of the seed: the same seed writes
byte-identical parquet files (one file per table, fixed writer options),
so `digest()` over them is stable across runs and machines. The generator
runs in this one process and uses no thread pools.

Inputs per workload:

- migrate: a client roster (`customer`) plus the `nation` dimension, the
  schemas `graft.Migrate` reads.
- corpus: `documents` and `embeddings`, built as a base corpus with a stated
  exact-duplicate share, near-duplicate share and one hub-sized near-dup
  cluster, then replicated isomorphically (shifted ids, per-replica token
  suffixes, signed-permutation embeddings) so every replica keeps the base's
  duplicate structure and replicas stay disjoint.
- lakehouse: an orders-like table plus a seeded script of rounds (op log)
  that both the Spark client and the DuckDB replay execute.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Replica id shift: every source id must stay below it, or shifted key
# spaces of two replicas would overlap.
SHIFT = 1_000_000_000
DIM = 64

# Stopwords the corpus keep rule and language signal key on; replication
# keeps them unsuffixed so each replica passes the same filters.
EN_STOP = ["the", "a", "and", "of", "to", "in", "is"]
ES_STOP = ["el", "la", "de", "que", "y", "en", "un"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "agg", "key", "query", "scan", "batch", "index", "shard", "page",
         "token", "model", "graph", "label", "patient", "visit", "record"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]

# Sizes. Each is a fixed constant of the benchmark; the seed only moves
# values, never sizes, so every seed does the same amount of work.
#
# Where the shares come from:
# - corpus duplicate shares are those of the repository's own sf0.1 corpus
#   fixture (FIXTURES.md; 5,000 documents, 2,000 embeddings), measured with
#   the DuckDB oracle SQL of `q_dedup_exact`, `q_dedup_cc_sizes` and
#   `q_dedup_embed_components`: 8 documents (0.16%) are exact copies, 471
#   (9.4%) are further members of a near-duplicate component, and 96
#   embeddings (4.8%) are further members of a cosine component. Its
#   largest document component has 10 members; the hub the benchmark adds
#   on top has four times that.
# - the lakehouse table has the 150,000 rows of a TPC-H sf0.1 ORDERS table
#   (the size the engine's lakehouse costs were first measured at). Each
#   DML statement of a round touches one TPC-H refresh batch, 0.1% of
#   ORDERS (TPC-H RF1 inserts and RF2 deletes SF x 1,500 orders): INSERT
#   adds 150 new keys, DELETE removes 150 keys picked uniformly (RF2
#   deletes old orders, not recent ones), UPDATE changes 150 keys and MERGE
#   upserts 150 keys, half of them new so both branches run. UPDATE and
#   MERGE's existing keys follow YCSB's `latest` request distribution
#   (zipfian with constant 0.99 over recency, newest key most likely), so
#   recent keys are favoured while DELETE's uniform picks make 40% of the
#   existing keys a round touches uniform. Reads are one statement of each
#   kind the round reads (point, range, count, group-by, time travel, view).
#   OPTIMIZE and VACUUM run every round: a run measures a single round, and
#   its figures must include them.
SIZES = {
    "migrate": {"clients": 15_000},
    "corpus": {"base_docs": 3_000, "replicas": 2, "base_vectors": 400,
               "exact_dup_share": 0.0016, "near_dup_share": 0.094,
               "vector_near_dup_share": 0.048,
               "hub_docs": 40, "hub_vectors": 40},
    "lakehouse": {"rows": 150_000, "rounds": 20, "refresh_batch": 150,
                  "point_reads": 1, "range_keys": 1_000,
                  "latest_zipf": 0.99, "maintenance_every": 1},
}


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def digest(paths):
    """sha256 over the bytes of each file, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode())
            h.update(f.read())
    return h.hexdigest()


# ------------------------------------------------------------------ migrate

def gen_migrate(seed, out):
    n = SIZES["migrate"]["clients"]
    rng = np.random.default_rng([seed, 1])
    # distinct, sparse client ids in file order unrelated to key order, so
    # the surrogate-key range sort has real work to do
    keys = rng.choice(20 * n, size=n, replace=False).astype(np.int64) + 1
    nation = rng.integers(0, 25, size=n, dtype=np.int32)
    cents = rng.integers(-99_999, 999_999, size=n)
    seg = rng.integers(0, len(SEGMENTS), size=n)
    customer = pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()]),
        "c_nationkey": pa.array(nation, pa.int32()),
        "c_acctbal": pa.array((cents / 100.0).tolist(), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in seg.tolist()]),
    })
    nations = pa.table({
        "n_nationkey": pa.array(list(range(25)), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    paths = [os.path.join(out, "customer.parquet"),
             os.path.join(out, "nation.parquet")]
    _write(customer, paths[0])
    _write(nations, paths[1])
    return paths, {"customer_rows": n, "nation_rows": 25}


# ------------------------------------------------------------------- corpus

def _base_docs(rng, c):
    """Base corpus: random word soup, then exact copies, near copies and one
    hub cluster overwrite chosen slots. Returns (texts, langs)."""
    b = c["base_docs"]
    texts, langs = [], []
    for i in range(b):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        n = int(rng.integers(20, 70))
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), size=n)]
        stops = EN_STOP if lang != "es" else ES_STOP
        for pos in rng.choice(n, size=max(3, n // 8), replace=False):
            words[int(pos)] = stops[int(rng.integers(0, len(stops)))]
        texts.append(words)
        langs.append(lang)

    def near(words):
        w = list(words)
        for pos in rng.choice(len(w), size=2, replace=False):
            w[int(pos)] = WORDS[int(rng.integers(0, len(WORDS)))]
        return w

    hub = c["hub_docs"]
    # slots 1..hub become near copies of slot 0: one star-shaped cluster
    for i in range(1, hub + 1):
        texts[i] = near(texts[0])
        langs[i] = langs[0]
    rest = np.arange(hub + 1, b)
    n_exact = int(round(c["exact_dup_share"] * b))
    n_near = int(round(c["near_dup_share"] * b))
    picks = rng.choice(rest, size=n_exact + n_near, replace=False)
    # copies point at untouched originals only: every cluster is a star,
    # so component labeling converges in a bounded number of rounds
    originals = np.setdiff1d(rest, picks)
    for k, i in enumerate(picks.tolist()):
        src = int(originals[int(rng.integers(0, len(originals)))])
        texts[i] = list(texts[src]) if k < n_exact else near(texts[src])
        langs[i] = langs[src]
    return texts, langs


def _base_vectors(rng, c):
    v = c["base_vectors"]
    e = rng.standard_normal((v, DIM))
    hub = c["hub_vectors"]
    # a hub: vectors around one center (pairwise cosine ~0.6, verified)
    for i in range(1, hub + 1):
        e[i] = e[0] / np.linalg.norm(e[0]) * 8 + rng.standard_normal(DIM)
    rest = np.arange(hub + 1, v)
    near = rng.choice(rest, size=int(round(c["vector_near_dup_share"] * v)),
                      replace=False)
    originals = np.setdiff1d(rest, near)
    for i in near.tolist():
        src = int(originals[int(rng.integers(0, len(originals)))])
        e[i] = e[src] / np.linalg.norm(e[src]) * 8 + rng.standard_normal(DIM)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return e.astype(np.float32)


def _rotate(e, r):
    """Signed permutation for replica r: dim i takes dim (i + 7r) mod 64,
    negated when i + r is odd. Orthogonal, so norms and cosines inside a
    replica are exactly the base's."""
    if r == 0:
        return e
    idx = (np.arange(DIM) + 7 * r) % DIM
    sign = np.where((np.arange(DIM) + r) % 2 == 0, 1.0, -1.0).astype(np.float32)
    return (e[:, idx] * sign).astype(np.float32)


def gen_corpus(seed, out):
    c = SIZES["corpus"]
    reps = c["replicas"]
    if reps < 1:
        raise ValueError(f"replicas must be >= 1, got {reps}")
    rng = np.random.default_rng([seed, 2])
    texts, langs = _base_docs(rng, c)
    vecs = _base_vectors(rng, c)
    if vecs.shape[1] != DIM:
        raise ValueError(f"embedding length {vecs.shape[1]} != {DIM}")
    b, v = len(texts), len(vecs)
    if max(b, v) >= SHIFT:
        raise ValueError(f"base ids up to {max(b, v)} reach the shift {SHIFT}")
    stop = set(EN_STOP) | set(ES_STOP)
    doc_id, text, lang, source = [], [], [], []
    vec_id, emb, label = [], [], []
    base_labels = rng.integers(0, 10, size=v).tolist()
    for r in range(reps):
        for i, words in enumerate(texts):
            t = " ".join(w if r == 0 or w in stop else f"{w}x{r}"
                         for w in words)
            doc_id.append(r * SHIFT + i)
            text.append(t)
            lang.append(langs[i])
            source.append(f"src{i % 20}")
        rot = _rotate(vecs, r)
        vec_id.extend(r * SHIFT + i for i in range(v))
        emb.extend(rot.tolist())
        label.extend(base_labels)
    docs = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    embs = pa.table({
        "vec_id": pa.array(vec_id, pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    if any(len(x) != DIM for x in emb[:: max(1, len(emb) // 97)]):
        raise ValueError("embedding length drifted from 64")
    paths = [os.path.join(out, "documents.parquet"),
             os.path.join(out, "embeddings.parquet")]
    _write(docs, paths[0])
    _write(embs, paths[1])
    return paths, {"documents": len(doc_id), "embeddings": len(vec_id),
                   "replicas": reps,
                   "exact_dup_share": c["exact_dup_share"],
                   "near_dup_share": c["near_dup_share"],
                   "vector_near_dup_share": c["vector_near_dup_share"],
                   "hub_docs_per_replica": c["hub_docs"] + 1,
                   "hub_vectors_per_replica": c["hub_vectors"] + 1}


# ---------------------------------------------------------------- lakehouse

def gen_lakehouse(seed, out):
    """Orders-like base table plus the op script. The base rows are seeded
    random values; rows the script inserts or merges are functions of
    (key, salt) evaluated by both engines (`graft.perfbench.Lakehouse` and
    `oracle.row_exprs`), so the script only names keys and salts."""
    c = SIZES["lakehouse"]
    rng = np.random.default_rng([seed, 3])
    n = c["rows"]
    keys = np.arange(1, n + 1, dtype=np.int64)
    days = rng.integers(0, 1500, size=n)
    orders = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 100_000, size=n), pa.int64()),
        "o_status": pa.array([("O", "F", "P")[i] for i in
                              rng.integers(0, 3, size=n).tolist()]),
        "o_totalcents": pa.array(rng.integers(0, 50_000_000, size=n),
                                 pa.int64()),
        "o_orderdate": pa.array((np.datetime64("2020-01-01") +
                                 days.astype("timedelta64[D]")), pa.date32()),
        "o_priority": pa.array([f"{i}-P" for i in
                                rng.integers(1, 6, size=n).tolist()]),
    })
    path = os.path.join(out, "orders.parquet")
    _write(orders, path)

    batch = c["refresh_batch"]
    max_keys = n + c["rounds"] * (2 * batch - batch // 2)
    # YCSB `latest`: rank 0 is the newest key; P(rank i) ~ 1 / (i + 1)^0.99
    zipf_cdf = np.cumsum(1.0 / np.arange(1, max_keys + 1) ** c["latest_zipf"])
    next_key = n + 1

    def distinct(count, draw):
        """`count` distinct keys from repeated calls of `draw(m)`."""
        got = []
        seen = set()
        while len(got) < count:
            for k in draw(2 * count).tolist():
                if k not in seen and len(got) < count:
                    seen.add(k)
                    got.append(int(k))
        return sorted(got)

    def latest(count):
        hi = next_key - 1
        u = rng.random(count) * zipf_cdf[hi - 1]
        return hi - np.searchsorted(zipf_cdf, u, side="right")

    def uniform(count):
        return rng.integers(1, next_key, size=count)

    rounds = []
    for r in range(c["rounds"]):
        ins = [next_key, next_key + batch - 1]
        next_key = ins[1] + 1
        m_old = distinct(batch // 2, latest)
        m_new = list(range(next_key, next_key + batch - batch // 2))
        next_key += len(m_new)
        upd = distinct(batch, latest)
        dele = distinct(batch, uniform)
        hi = next_key - 1
        pts = [int(x) for x in rng.integers(1, hi + 1, size=c["point_reads"])]
        lo = int(rng.integers(1, hi - c["range_keys"]))
        rounds.append({
            "salt": seed % 100_000 * 1000 + r,
            "insert": ins, "merge": m_old + m_new, "update": upd,
            "delete": dele, "points": pts,
            "range": [lo, lo + c["range_keys"] - 1],
            "maintenance": r % c["maintenance_every"] == 0,
        })
    script = os.path.join(out, "script.json")
    with open(script, "w") as f:
        json.dump({"rounds": rounds}, f, separators=(",", ":"))
    existing = batch // 2 + 2 * batch
    return [path, script], {"rows": n, "rounds_scripted": c["rounds"],
                            "insert_rows": batch,
                            "merge_keys": batch,
                            "update_keys": batch,
                            "delete_keys": batch,
                            "uniform_share": round(batch / existing, 3),
                            "latest_zipf": c["latest_zipf"],
                            "maintenance_every": c["maintenance_every"]}


GENERATORS = {"migrate": gen_migrate, "corpus": gen_corpus,
              "lakehouse": gen_lakehouse}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return (digest, sizes)."""
    os.makedirs(out, exist_ok=True)
    paths, sizes = GENERATORS[workload](seed, out)
    return digest(paths), sizes
