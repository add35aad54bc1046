"""Seeded input generation: every byte the benchmark feeds the engine.

The engine receives only what this module writes.  The same seed gives
byte-identical files (numpy ``Generator`` streams, parquet without
timestamps in its metadata, gzip with ``mtime=0``, deterministic zstd).

* :func:`write_tables` — the ten star-schema/LLM tables of the catalog
  (FIXTURES.md §1 schemas and value domains) as single parquet files.
* :func:`write_corpus` — a documents corpus as JSONL shards, once as
  ``*.jsonl.zst`` files and once as a directory of ``*.jsonl.gz`` parts,
  with a seeded doc→shard split and line order.
* :func:`chain_base` — the seeded first block of the chain workload.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["write_tables", "write_corpus", "make_documents", "chain_base"]

# The token vocabulary of the documents table (FIXTURES.md §2).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("blue", "red", "hot", "cold", "small", "old", "new", "big")
P_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table so sizes of one table never shift
    # the values of another.
    return np.random.default_rng([seed, int.from_bytes(stream.encode(), "little") % (2**63)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_documents(seed: int, n: int, stream: str = "documents") -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` with ~5% exact and
    ~10% one-token-edit near duplicates of earlier documents, so the dedup
    operators have real work."""
    rng = _rng(seed, stream)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
            continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = n_vec = 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    rng = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )

    rng = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )

    rng = _rng(seed, "part")
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(price),
        }
    )

    rng = _rng(seed, "orders")
    o_date = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(o_date, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )

    rng = _rng(seed, "lineitem")
    per_order = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_ok)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    perm = rng.permutation(n_li)
    l_ok, l_ln = l_ok[perm], l_ln[perm]
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(l_pk, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_ln, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * price[l_pk], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(o_date[l_ok] + rng.integers(1, 122, n_li) * _US_PER_DAY, pa.timestamp("us")),
        }
    )

    rng = _rng(seed, "events")
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_evt))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
            "value": pa.array(np.clip(np.round(rng.lognormal(3.0, 1.2, n_evt), 2), 0.01, 490.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )

    out["documents"] = make_documents(seed, n_doc)

    rng = _rng(seed, "embeddings")
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``{out_dir}/<table>.parquet`` for every catalog table; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in _tables(seed, sf).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", version="2.6", row_group_size=1 << 20)
        counts[name] = tbl.num_rows
    return counts


def write_corpus(seed: int, n_docs: int, n_shards: int, out_dir: str) -> dict:
    """Write the corpus twice: ``{out_dir}/zst/shard-NN.jsonl.zst`` and
    ``{out_dir}/gz/part-NN.jsonl.gz``, same lines in each shard.

    Returns ``{"docs", "raw_bytes", "zst_bytes", "gz_bytes", "zst_glob",
    "gz_dir", "table"}`` where ``table`` is the source documents table.
    """
    docs = make_documents(seed, n_docs, stream="corpus")
    # Seeded split into equal-size shards: one Python worker decodes one
    # shard, so uneven shards would make the slowest worker seed-dependent.
    rng = _rng(seed, "corpus-split")
    shard_of = rng.permutation(n_docs) % n_shards
    rows = docs.to_pylist()
    zst_dir, gz_dir = f"{out_dir}/zst", f"{out_dir}/gz"
    os.makedirs(zst_dir, exist_ok=True)
    os.makedirs(gz_dir, exist_ok=True)
    info = {"docs": n_docs, "raw_bytes": 0, "zst_bytes": 0, "gz_bytes": 0}
    for s in range(n_shards):
        idx = np.flatnonzero(shard_of == s)
        idx = idx[rng.permutation(len(idx))]
        payload = "".join(
            json.dumps({k: rows[i][k] for k in ("doc_id", "text", "lang", "source")}) + "\n"
            for i in idx
        ).encode()
        info["raw_bytes"] += len(payload)
        zpath = f"{zst_dir}/shard-{s:02d}.jsonl.zst"
        with pa.output_stream(zpath, compression="zstd") as f:
            f.write(payload)
        gpath = f"{gz_dir}/part-{s:02d}.jsonl.gz"
        with open(gpath, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0) as f:
            f.write(payload)
        info["zst_bytes"] += os.path.getsize(zpath)
        info["gz_bytes"] += os.path.getsize(gpath)
    info.update(zst_glob=f"{zst_dir}/*.jsonl.zst", gz_dir=gz_dir, table=docs)
    return info


def chain_base(seed: int) -> int:
    """First block of the chain workload: a seeded offset, block-bucket
    aligned so every run touches the same number of buckets."""
    return int(_rng(seed, "chain").integers(1, 10_000)) * 1_000_000
