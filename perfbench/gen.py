"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: numpy's PCG64 drives all
draws, and the parquet files are written with fixed writer options, so the
same seed gives byte-identical files and a different seed different ones
(`selftest.py` checks both).

- `star_tables`: the TPC-H-shaped tables `datasets.star_graph` reads
  (region nation customer supplier part orders lineitem), with zipf-skewed
  customer and part popularity so start vertices drawn by degree see
  frontiers of very different sizes.
- `iterate_edges`: a directed weighted graph with zipf in-degree hubs, one
  giant component, planted rings (non-trivial SCCs) and pendant chains
  (acyclic tails that SCC trimming peels one layer per pass).
- `corpus_tables`: the `documents`/`embeddings` tables the crawl
  composition reads, with planted low-quality documents, blocked hosts and
  paths, and near-duplicate embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the token vocabulary of the repo's own sf fixtures, so the text operators
# see the same token distribution they are tuned on
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # shifts the draws of another
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=True)


def _zipf_pick(rng, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """`size` draws from 0..n-1 with P(i) ~ 1/(i+1)^a, over a seeded
    permutation so the popular ids are scattered across the key range."""
    p = 1.0 / np.arange(1, n + 1) ** a
    p /= p.sum()
    return rng.permutation(n)[rng.choice(n, size=size, p=p)]


# input sizes; the README's budget section says why they are this small
CUSTOMERS = 100
ITER_VERTICES = 1000
RINGS = 40
CHAINS = 40
CHAIN_LEN = 6
DOCS = 100


# ---------------------------------------------------------------- star graph

def star_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = _rng(seed, "star")
    n_c, n_s, n_p, n_o = CUSTOMERS, max(10, CUSTOMERS // 15), CUSTOMERS, CUSTOMERS * 10
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": [f"REGION{i}" for i in range(5)]})
    nation = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"NATION{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
        "s_nationkey": rng.integers(0, 20, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(1, n_p + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_p + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_p)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                              "ECONOMY", "PROMO"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_p), 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
        "o_custkey": _zipf_pick(rng, n_c, n_o, 0.8).astype(np.int64) + 1,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(800, 500000, n_o), 2),
        "o_orderdate": pd.to_datetime("1992-01-01") + pd.to_timedelta(
            rng.integers(0, 2400, n_o), unit="D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o),
    })
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    lineitem = pd.DataFrame({
        "l_orderkey": np.repeat(orders["o_orderkey"].to_numpy(), per_order),
        "l_partkey": _zipf_pick(rng, n_p, n_l, 0.9).astype(np.int64) + 1,
        "l_suppkey": rng.integers(1, n_s + 1, n_l).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": pd.to_datetime("1992-01-02") + pd.to_timedelta(
            rng.integers(0, 2500, n_l), unit="D"),
    })
    for df, col in ((orders, "o_orderdate"), (lineitem, "l_shipdate")):
        df[col] = df[col].astype("datetime64[us]")
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


# ------------------------------------------------------------ iterate graph

def iterate_edges(seed: int) -> tuple[pd.DataFrame, dict]:
    """(src, dst, weight) edges plus a report of what was planted.

    Layout of the id space (ids are zero-padded so string order = int order):
    - core `0..ITER_VERTICES-1`: a random spanning tree (one giant
      component) plus 2 extra edges per vertex whose destinations are
      zipf-skewed, so a handful of hubs carry most of the in-degree;
    - RINGS directed cycles of length 3..8 hanging off the core by one
      edge each (each ring is one non-trivial SCC);
    - CHAINS pendant paths of CHAIN_LEN vertices off the core.
    """
    rng = _rng(seed, "iterate")
    n = ITER_VERTICES
    order = rng.permutation(n)
    parent = order[rng.integers(0, np.maximum(np.arange(1, n), 1))]
    src = [order[1:]]
    dst = [parent]
    extra = 2 * n
    src.append(rng.integers(0, n, extra))
    dst.append(_zipf_pick(rng, n, extra, 1.2))
    nxt = n
    ring_sizes = []
    for _ in range(RINGS):
        size = int(rng.integers(3, 9))
        ids = np.arange(nxt, nxt + size)
        src.append(ids)
        dst.append(np.roll(ids, -1))
        src.append(np.array([rng.integers(0, n)]))
        dst.append(ids[:1])
        ring_sizes.append(size)
        nxt += size
    for _ in range(CHAINS):
        ids = np.arange(nxt, nxt + CHAIN_LEN)
        src.append(np.concatenate([[rng.integers(0, n)], ids[:-1]]))
        dst.append(ids)
        nxt += CHAIN_LEN
    s = np.concatenate(src)
    d = np.concatenate(dst)
    keep = s != d
    s, d = s[keep], d[keep]
    pairs = np.unique(np.stack([s, d], 1), axis=0)
    pairs = pairs[rng.permutation(len(pairs))]
    width = len(str(nxt))
    fmt = np.vectorize(lambda i: f"v{i:0{width}d}")
    edges = pd.DataFrame({
        "label": "link",
        "src": fmt(pairs[:, 0]),
        "dst": fmt(pairs[:, 1]),
        "weight": np.round(rng.uniform(0.5, 10.0, len(pairs)), 3),
    })
    report = {
        "vertices": int(nxt), "edges": int(len(pairs)), "core": n,
        "rings": ring_sizes, "chains": CHAINS, "chain_len": CHAIN_LEN,
        "max_in_degree": int(np.bincount(pairs[:, 1], minlength=nxt).max()),
    }
    return edges, report


# ------------------------------------------------------------------- corpus

def corpus_tables(seed: int) -> tuple[dict[str, pd.DataFrame], dict]:
    """`documents` and `embeddings` plus a report of the planted rows.

    Documents draw 20-100 tokens uniformly from VOCAB; a seeded slice of
    them is low quality (under 20 tokens, or one token repeated) so the
    repetition gate has work. The crawl composition derives each page's
    host and path from `source` and `doc_id`: `src0` is the blocked ads
    host and odd sources put every third document under a robots-blocked
    path. Embeddings cover the first half of the documents; a seeded slice
    of them are near duplicates (small perturbations) of an earlier one.
    """
    rng = _rng(seed, "corpus")
    lens = rng.integers(20, 101, DOCS)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]
    low = np.sort(rng.choice(DOCS, max(4, DOCS // 20), replace=False))
    for n_i, i in enumerate(low):
        texts[i] = (" ".join(VOCAB[rng.integers(0, len(VOCAB), 8)]) if n_i % 2
                    else " ".join([VOCAB[int(rng.integers(0, len(VOCAB)))]] * 40))
    src = np.arange(DOCS) % 20
    documents = pd.DataFrame({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], DOCS,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i}" for i in src],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)
    n_vec = DOCS // 2
    vec = rng.normal(size=(n_vec, 64))
    near = np.sort(rng.choice(np.arange(1, n_vec), max(4, n_vec // 10), replace=False))
    for i in near:
        vec[i] = vec[int(rng.integers(0, i))] + 0.2 * rng.normal(size=64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    ids = np.arange(DOCS)
    report = {"documents": DOCS, "embeddings": n_vec,
              "low_quality": low.tolist(), "near_dup_vectors": near.tolist(),
              "domain_blocked": int((src == 0).sum()),
              "robots_blocked": int(((src % 2 == 1) & (ids % 3 == 0)).sum())}
    return {"documents": documents, "embeddings": embeddings}, report


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
