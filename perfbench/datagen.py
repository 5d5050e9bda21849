"""Seeded generator of the catalog tables the benchmark reads.

The tables follow the schemas of ``FIXTURES.md`` and the value
distributions of the catalog's generated test tables (``TESTDATA.md``):
a TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``, with row counts scaling with ``sf`` as there (lineitem =
6e6 * sf, and so on). The benchmark may read only its own checkout, so
it cannot read those tables; instead ``python3 perfbench/datagen.py
--compare <dir of a catalog scale, e.g. sf0.01>`` prints, side by side,
the row counts, distinct counts and top-key shares of every column, and
the word counts and near-duplicate rate of the documents, for the
generated tables and for the catalog tables in that directory.

The data seed is fixed, so every run of every workload reads the same
tables; the run's ``--seed`` drives query order and micro-batch cut
points instead (``workloads.py``). Tables are written once per checkout
into ``<work>/data/v<version>/sf<sf>/`` and reused.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42
#: bump when the generator's output changes, so a stale cache is not reused
DATA_VERSION = 3

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("hot", "old", "red", "small", "new", "large", "cold", "blue")
PART_NOUN = ("bolt", "plate", "gear", "rod", "ring", "anvil", "widget", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)  # the catalog's sf0.1 shares
DUP_SHARE = 0.05  # documents that copy another document's text + " dup"

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> pa.Array:
    d = start + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(sf: float) -> dict[str, pa.Table]:
    """Every catalog table at scale ``sf``, deterministic in DATA_SEED."""
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_line = max(int(6_000_000 * sf), 600)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    rngs = iter(np.random.default_rng([DATA_SEED, i]) for i in range(len(TABLES)))
    t: dict[str, pa.Table] = {}

    next(rngs)
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    next(rngs)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = next(rngs)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = next(rngs)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = next(rngs)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })

    r = next(rngs)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, _EPOCH_1995, 2405, n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = next(rngs)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": _money(r, 0.0, 0.10, n_line),  # 0.00 and 0.10 at half weight
        "l_tax": _money(r, 0.0, 0.08, n_line),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": _days(r, _EPOCH_1995 + 1, 2499, n_line),
    })

    r = next(rngs)
    micros = np.sort(r.choice(30 * 86_400 * 1_000_000, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })

    r = next(rngs)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), int(r.integers(10, 100)))])
             for _ in range(n_docs)]
    dups = r.choice(n_docs, int(n_docs * DUP_SHARE), replace=False)
    plain = np.setdiff1d(np.arange(n_docs), dups)
    for i, src in zip(dups, r.choice(plain, len(dups))):
        texts[i] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    r = next(rngs)
    vecs = r.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({  # labels are independent of the vectors, as there
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def ensure_tables(data_root: Path, sf: float) -> str:
    """Write the tables at ``sf`` under ``data_root`` unless already there;
    returns the directory. The write goes to a temporary sibling that is
    renamed into place, so an interrupted run never leaves half a set."""
    final = data_root / f"v{DATA_VERSION}" / f"sf{sf:g}"
    if final.is_dir():
        return str(final)
    tmp = final.with_name(f"{final.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        tmp.rename(final)
    except OSError:  # another run landed it first
        shutil.rmtree(tmp, ignore_errors=True)
    return str(final)


def row_count(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def profile(tables: dict[str, pa.Table]) -> dict[str, str]:
    """One line per column: rows, distinct values and the top value's
    share; plus word counts and duplicate share of the documents."""
    out = {}
    for name, t in tables.items():
        for col in t.column_names:
            c = t[col].combine_chunks()
            if pa.types.is_list(c.type):
                out[f"{name}.{col}"] = f"rows={len(c)} list_len={pc.min_max(pc.list_value_length(c))}"
                continue
            top = max(pc.value_counts(c).field("counts").to_pylist())
            out[f"{name}.{col}"] = (f"rows={len(c)} distinct={len(pc.unique(c))} "
                                    f"top_share={top / len(c):.4f}")
    words = [s.split() for s in tables["documents"]["text"].to_pylist()]
    n = np.array([len(w) - (w[-1] == "dup") for w in words])
    out["documents.words"] = f"min={n.min()} mean={n.mean():.1f} max={n.max()}"
    out["documents.dup_share"] = f"{np.mean([w[-1] == 'dup' for w in words]):.4f}"
    emb = np.array(tables["embeddings"]["embedding"].to_pylist(), dtype=np.float64)
    same = np.equal.outer(*[tables["embeddings"]["label"].to_numpy()] * 2)
    cos = emb @ emb.T
    np.fill_diagonal(same, False)
    out["embeddings.cos_same_label"] = f"{cos[same].mean():.4f}"
    return out


def main(argv: list[str]) -> int:
    import argparse

    p = argparse.ArgumentParser(description="Compare the generated tables "
                                "with a directory of catalog tables at one scale.")
    p.add_argument("--compare", required=True, help="directory holding <table>.parquet")
    p.add_argument("--sf", type=float, required=True, help="the scale of that directory")
    args = p.parse_args(argv)
    gen = profile(build_tables(args.sf))
    ref = profile({t: pq.read_table(f"{args.compare}/{t}.parquet") for t in TABLES})
    for key in gen:
        mark = " " if gen[key] == ref.get(key) else "*"
        print(f"{mark} {key:28s} generated {gen[key]:44s} catalog {ref.get(key)}")
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
