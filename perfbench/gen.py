"""Seeded input generators and independently computed expected outputs.

Everything here is NumPy/pandas/pyarrow only: no Spark, and nothing
from ``graph_etl_spark``. The benchmark writes the inputs as Parquet
files into the run's own directory; the program reads only those files.
The expected values (key sets, fingerprints, planted pairs, exact
nearest neighbours) are computed from the same in-memory tables, so an
output check never trusts the program to grade itself.

Same seed and size give byte-identical files (see tests/test_smoke.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Fingerprint of an integer key multiset: (count, sum k, sum (k*P mod M)).
# Plain int64 arithmetic stays exact for keys below 2**53 / FP_P; the same
# expression is evaluated by Spark over the loaded tables (workloads.py).
FP_P = 1_009
FP_M = 2_147_483_647
# edge (start, end) pairs fold into one int64 before fingerprinting
EDGE_MUL = 4_194_304  # 2**22 > any end key the generator emits

CONTROL_SUFFIXES = ["\r\n", "\\", "\n", "\r"]
VOCAB = (
    "the and a of to in is it spark table query join group batch stream"
    " vector value order part line customer filter window scan hash merge"
    " sort fast slow key row column data small big agg index shard graph"
    " node edge label path rank cluster score token shingle band bucket"
).split()


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write one input file deterministically; returns its size in bytes."""
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def key_fp(keys) -> tuple[int, int, int]:
    k = np.asarray(keys, dtype=np.int64)
    return (int(k.size), int(k.sum()), int(((k * FP_P) % FP_M).sum()))


def edge_fp(pairs) -> tuple[int, int, int]:
    """Fingerprint of an iterable of (start, end) integer pairs."""
    arr = np.asarray(list(pairs), dtype=np.int64).reshape(-1, 2)
    return key_fp(arr[:, 0] * EDGE_MUL + arr[:, 1])


def _plant_control(rng, values: list[str], frac: float) -> list[str]:
    hit = rng.random(len(values)) < frac
    suf = rng.integers(0, len(CONTROL_SUFFIXES), len(values))
    return [v + CONTROL_SUFFIXES[s] if h else v for v, h, s in zip(values, hit, suf)]


def _strip(s: str) -> str:
    return s.replace("\r", "").replace("\n", "").replace("\\", "")


# ---------------------------------------------------------------------------
# ETL graph: Customer / Order / Part nodes, PLACED and CONTAINS edges
# ---------------------------------------------------------------------------


@dataclass
class EtlInputs:
    files: dict[str, str]  # input name -> parquet path
    input_rows: int
    input_bytes: int
    staged_nodes: dict[str, int]  # label -> expected catalog count
    staged_edges: dict[str, int]  # edge type -> expected catalog count
    expected_nodes: dict[str, tuple]  # label -> key fingerprint of its graph table
    expected_edges: dict[str, tuple]  # edge type -> (start, end) fingerprint


def make_etl(out_dir: str, seed: int, size: dict) -> EtlInputs:
    """Customer/Order/Part nodes, PLACED edges whose start is the natural
    key Customer:c_name (J2), CONTAINS edges with a J1 remap on ~3% of
    Part keys. Planted: duplicate keys, null keys and endpoints, control
    characters, an array<string> column, unresolvable endpoints."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_c, n_o, n_p, n_l = size["customer"], size["orders"], size["part"], size["lineitem"]

    def with_dups_and_nulls(df: pd.DataFrame, key: str, vary: str) -> pd.DataFrame:
        """Plant ~2% duplicate-key rows (another value in ``vary``) and
        ~0.5% null-key rows, so dedup and null-drop both do work."""
        n = len(df)
        dups = df.iloc[rng.choice(n, max(1, n // 50), replace=False)].copy()
        dups[vary] = dups[vary] + 1.0
        nulls = df.iloc[rng.choice(n, max(1, n // 200), replace=False)].copy()
        nulls[key] = pd.NA
        out = pd.concat([df, dups, nulls], ignore_index=True)
        out[key] = out[key].astype("Int64")
        return out.iloc[rng.permutation(len(out))].reset_index(drop=True)

    cust = np.arange(1, n_c + 1, dtype=np.int64)
    orders = np.arange(1, n_o + 1, dtype=np.int64)
    parts = np.arange(1, n_p + 1, dtype=np.int64)
    names = [f"Customer#{k:09d}" for k in cust]
    customer = pd.DataFrame(
        {
            "c_custkey": cust,
            "c_name": names,
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
            "c_comment": _plant_control(rng, [f"comment {i}" for i in rng.integers(0, 10**6, n_c)], 0.05),
        }
    )
    order_cust = rng.integers(0, n_c, n_o)
    order = pd.DataFrame(
        {
            "o_orderkey": orders,
            "o_custkey": cust[order_cust],
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": np.round(rng.uniform(800, 500000, n_o), 2),
            "o_orderdate": [f"199{d % 8}-{1 + d % 12:02d}-{1 + d % 28:02d}" for d in rng.integers(0, 10**6, n_o)],
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": parts,
            "p_name": [f"part {i}" for i in rng.integers(0, 10**6, n_p)],
            "p_brand": rng.choice([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_p), 2),
            # array<string>: the save path flattens it to 'a|b' (F1)
            "p_tags": list(rng.choice(["red", "green", "blue", "steel", "brass"], (n_p, 2))),
        }
    )
    customer_in = with_dups_and_nulls(customer, "c_custkey", "c_acctbal")
    order_in = with_dups_and_nulls(order, "o_orderkey", "o_totalprice")
    part_in = with_dups_and_nulls(part, "p_partkey", "p_retailprice")

    # PLACED: start is the natural key Customer:c_name (resolved by J2);
    # some names carry control characters the save path strips, a few
    # name no customer (unresolved, dropped by MATCH), a few are null.
    placed_start = _plant_control(rng, [names[i] for i in order_cust], 0.03)
    for i in rng.choice(n_o, max(1, n_o // 200), replace=False):
        placed_start[i] = f"Customer#9{rng.integers(10**8):08d}"
    placed = pd.DataFrame({"start": placed_start, "end": orders, "o_orderdate": order["o_orderdate"]})
    placed.loc[rng.choice(n_o, max(1, n_o // 200), replace=False), "start"] = None
    placed = pd.concat([placed, placed.iloc[rng.choice(n_o, max(1, n_o // 100), replace=False)]], ignore_index=True)

    # CONTAINS: lineitem order -> part keys; a few orders are unknown
    # (dropped by MATCH), a few part keys are null, ~1% rows repeat.
    l_start = orders[rng.integers(0, n_o, n_l)]
    l_start[rng.choice(n_l, max(1, n_l // 200), replace=False)] = n_o + 10**6
    contains = pd.DataFrame(
        {
            "start": l_start,
            "end": parts[rng.integers(0, n_p, n_l)],
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
            "l_shipinstruct": _plant_control(rng, ["DELIVER IN PERSON"] * n_l, 0.02),
        }
    )
    contains = pd.concat([contains, contains.iloc[rng.choice(n_l, max(1, n_l // 100), replace=False)]], ignore_index=True)
    contains["end"] = contains["end"].astype("Int64")
    contains.loc[rng.choice(len(contains), max(1, n_l // 200), replace=False), "end"] = pd.NA

    # J1 remap for ~3% of part keys: most to another known part, a few
    # to an unknown key (those edges are dropped by MATCH)
    n_map = max(2, n_p * 3 // 100)
    old = rng.choice(parts, n_map, replace=False)
    new = parts[rng.integers(0, n_p, n_map)]
    new[: max(1, n_map // 10)] = n_p + 10**6
    remap = pd.DataFrame({"old_value": old, "new_value": new})

    inputs = {
        "customer": customer_in,
        "orders": order_in,
        "part": part_in,
        "placed": placed,
        "contains": contains,
        "part_remap": remap,
    }
    files = {name: os.path.join(out_dir, f"{name}.parquet") for name in inputs}
    nbytes = sum(write_parquet(df, files[name]) for name, df in inputs.items())

    # -- expected outputs, computed without the program ----------------------
    node_keys = {
        "Customer": np.unique(customer_in["c_custkey"].dropna().to_numpy(np.int64)),
        "Order": np.unique(order_in["o_orderkey"].dropna().to_numpy(np.int64)),
        "Part": np.unique(part_in["p_partkey"].dropna().to_numpy(np.int64)),
    }
    name_to_key = dict(zip(names, cust.tolist()))
    placed_staged = {(_strip(s), int(e)) for s, e in zip(placed["start"], placed["end"]) if s is not None}
    c = contains.dropna(subset=["end"])
    contains_staged = set(zip(c["start"].tolist(), c["end"].astype(np.int64).tolist()))
    m = dict(zip(old.tolist(), new.tolist()))
    resolved = {
        # J2: natural key -> Customer pk; unresolved names never MATCH
        "PLACED": {(name_to_key[s], e) for s, e in placed_staged if s in name_to_key},
        # J1: explicit remap, then dedup on (start, end)
        "CONTAINS": {(s, m.get(e, e)) for s, e in contains_staged},
    }
    ends = {"PLACED": ("Customer", "Order"), "CONTAINS": ("Order", "Part")}
    known = {label: set(keys.tolist()) for label, keys in node_keys.items()}
    expected_edges = {}
    for et, pairs in resolved.items():
        s_label, e_label = ends[et]
        expected_edges[et] = edge_fp([(s, e) for s, e in pairs if s in known[s_label] and e in known[e_label]])
    return EtlInputs(
        files=files,
        input_rows=sum(len(df) for df in inputs.values()),
        input_bytes=nbytes,
        staged_nodes={label: len(keys) for label, keys in node_keys.items()},
        staged_edges={"PLACED": len(placed_staged), "CONTAINS": len(contains_staged)},
        expected_nodes={label: key_fp(keys) for label, keys in node_keys.items()},
        expected_edges=expected_edges,
    )


# ---------------------------------------------------------------------------
# Corpus: documents with planted near-duplicates, clustered embeddings
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set:
    toks = [t for t in text.split(" ") if t != ""]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


@dataclass
class CorpusInputs:
    docs_path: str
    emb_path: str
    queries_path: str
    input_rows: int
    input_bytes: int
    texts: dict  # doc_id -> text
    kept_ids: set  # docs built to pass the quality filter
    planted_pairs: list  # (id_a, id_b), both kept
    exact_topk: dict  # query id -> list of k neighbour ids (exact cosine)
    emb: np.ndarray  # (n, dim) float32, row i = vec_id i


def make_corpus(out_dir: str, seed: int, size: dict) -> CorpusInputs:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_docs, n_dup, n_low = size["docs"], size["planted"], size["low_quality"]
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, rng.integers(30, 80))) for _ in range(n_docs)]
    planted = []
    for src in rng.choice(n_docs, n_dup, replace=False):
        toks = texts[src].split(" ")
        for _ in range(rng.integers(1, 5)):  # 1-4 token edits
            pos = rng.integers(0, len(toks))
            if rng.random() < 0.5:
                toks[pos] = str(rng.choice(vocab))
            else:
                del toks[pos]
        planted.append((int(src), len(texts)))
        texts.append(" ".join(toks))
    kept = set(range(len(texts)))
    for _ in range(n_low):  # short, punctuation-heavy: quality < 0.5
        texts.append(" ".join(rng.choice(["!!", "??", "#", "--"], rng.integers(2, 6))))
    order = rng.permutation(len(texts))  # doc ids do not reveal the plant
    doc_id = np.empty(len(texts), np.int64)
    doc_id[order] = np.arange(len(texts))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": [texts[i] for i in order],
            "source": [f"src{i % 4}" for i in range(len(texts))],
        }
    )
    planted = [tuple(sorted((int(doc_id[a]), int(doc_id[b])))) for a, b in planted]
    kept_ids = {int(doc_id[i]) for i in kept}
    by_id = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))

    n_vec, dim, n_q, k = size["vectors"], size["dim"], size["queries"], size["k"]
    centers = rng.normal(0, 1, (size["blobs"], dim))
    # noise wide enough that neighbours spread over several IVF lists
    emb = (centers[rng.integers(0, len(centers), n_vec)] + rng.normal(0, 2.0, (n_vec, dim))).astype(np.float32)
    emb_df = pd.DataFrame({"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(emb)})
    q_ids = np.sort(rng.choice(n_vec, n_q, replace=False))
    q_df = emb_df.iloc[q_ids].reset_index(drop=True)

    vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in ("documents", "embeddings", "queries")}
    nbytes = write_parquet(docs, paths["documents"])
    nbytes += write_parquet(emb_df, paths["embeddings"], vec_schema)
    nbytes += write_parquet(q_df, paths["queries"], vec_schema)
    return CorpusInputs(
        docs_path=paths["documents"],
        emb_path=paths["embeddings"],
        queries_path=paths["queries"],
        input_rows=len(docs) + n_vec + n_q,
        input_bytes=nbytes,
        texts=by_id,
        kept_ids=kept_ids,
        planted_pairs=planted,
        exact_topk=exact_topk(emb, q_ids, k),
        emb=emb,
    )


def cosine_rounded(emb: np.ndarray, qi: int, ids: np.ndarray) -> np.ndarray:
    e = emb.astype(np.float64)
    d = e[ids] @ e[qi]
    return np.round(d / (np.linalg.norm(e[ids], axis=1) * np.linalg.norm(e[qi])), 4)


def exact_topk(emb: np.ndarray, q_ids, k: int) -> dict:
    """Exact cosine top-k per query, itself excluded; ties by id asc."""
    all_ids = np.arange(len(emb))
    out = {}
    for qi in q_ids:
        sims = cosine_rounded(emb, int(qi), all_ids)
        sims[qi] = -np.inf
        order = np.lexsort((all_ids, -sims))
        out[int(qi)] = [int(i) for i in order[:k]]
    return out
