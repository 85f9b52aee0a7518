"""Seeded input generators for the benchmark.

Every table is drawn from one ``numpy.random.Generator`` seeded by the
caller, and written with fixed parquet settings, so the same seed yields
byte-identical files. The shapes mirror the project's TPC-H-style test
schema (see ``graft.Tables``): the same columns, types, value domains and
timestamp flavour (microseconds, not UTC-adjusted).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SOURCES = [f"src{i}" for i in range(20)]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000     # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200_000_000   # 2024-01-01T00:00:00 in µs


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _cents(rng, lo, hi, n):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _texts(rng, n, min_words=10, max_words=99):
    """`n` documents of uniformly drawn vocabulary words."""
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    out, pos = [], 0
    for ln in lens.tolist():
        out.append(" ".join(vocab[pos:pos + ln]))
        pos += ln
    return out


def documents_table(rng, texts, first_id):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), n, p=LANG_P)].tolist(), pa.string()),
        "source": pa.array(np.array(SOURCES, dtype=object)[
            rng.integers(0, len(SOURCES), n)].tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents(rng, n):
    """sf-style `documents`: 5% of rows are a copy of an earlier row with
    a trailing ``dup`` token, as in the project's test data."""
    texts = _texts(rng, n)
    dups = rng.random(n) < 0.05
    srcs = rng.integers(0, n, n)
    for i in np.flatnonzero(dups).tolist():
        j = int(srcs[i]) % max(i, 1)
        if i > 0:
            texts[i] = texts[j] + " dup"
    return documents_table(rng, texts, 0)


def tpch(out_dir, seed, sf=0.01):
    """The star schema plus `events` and `documents` at scale `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], dtype=object)[
            rng.integers(0, 5, n_cust)].tolist(),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "widget", "rod", "plate", "anvil", "ring", "gizmo"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part).tolist(),
                       rng.integers(0, 8, n_part).tolist())],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], dtype=object)[
            rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
            rng.integers(0, 5, n_ord)].tolist(),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY),
    }), f"{out_dir}/lineitem.parquet")
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"],
                               dtype=object)[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    }), f"{out_dir}/events.parquet")
    _write(documents(rng, n_doc), f"{out_dir}/documents.parquet")


def corpus(out_dir, seed, n_distinct, exact_frac=0.1, near_frac=0.1, n_files=1):
    """Dedup corpus with a planted ground truth.

    ``n_distinct`` original documents (distinct texts, ids 0..n-1) are
    followed by planted exact copies and planted near copies, all with
    fresh ids above every original, so each planted copy loses to its
    original under keep-the-smallest-id dedup. A near copy replaces
    one word in 25 (at least one) of an original of 30+ words: its
    3-shingle Jaccard to the original stays well above 0.5.
    Returns the ground truth as a dict.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts, seen = [], set()
    while len(texts) < n_distinct:
        for t in _texts(rng, n_distinct - len(texts)):
            if t not in seen:
                seen.add(t)
                texts.append(t)
    n_exact, n_near = int(n_distinct * exact_frac), int(n_distinct * near_frac)
    exact_src = rng.integers(0, n_distinct, n_exact)
    copies = [texts[i] for i in exact_src.tolist()]
    long_ids = np.array([i for i, t in enumerate(texts) if t.count(" ") >= 29])
    near_src = long_ids[rng.integers(0, len(long_ids), n_near)]
    near_ids = []
    for k, i in enumerate(near_src.tolist()):
        toks = texts[i].split(" ")
        n_edits = max(1, len(toks) // 25)
        while True:
            edited = list(toks)
            for p in rng.choice(len(toks), n_edits, replace=False).tolist():
                edited[p] = VOCAB[(VOCAB.index(edited[p]) + 1 +
                                   int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
            t = " ".join(edited)
            if t not in seen:
                break
        seen.add(t)
        copies.append(t)
        near_ids.append(n_distinct + n_exact + k)
    table = documents_table(rng, texts + copies, 0)
    # rows are dealt round-robin to `n_files` part files, so every part
    # holds originals and copies alike
    for f in range(n_files):
        _write(table.take(np.arange(f, table.num_rows, n_files)),
               f"{out_dir}/part-{f:03d}.parquet")
    return {"n_docs": table.num_rows, "n_distinct": n_distinct + n_near,
            "exact_copies": n_exact, "near_copy_ids": near_ids}


def ingest(out_dir, seed, n_base, n_files, docs_per_file):
    """Base documents, `n_files` new-document files, one warm-up file, and
    the vocabulary (`vocab.txt`, one word a line, in the popularity order
    searches draw from); no two files share a doc id."""
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out_dir}/drops", exist_ok=True)
    with open(f"{out_dir}/vocab.txt", "w") as fh:
        fh.write("\n".join(VOCAB) + "\n")
    _write(documents_table(rng, _texts(rng, n_base), 0), f"{out_dir}/base.parquet")
    _write(documents_table(rng, _texts(rng, docs_per_file), 1 << 40),
           f"{out_dir}/warm.parquet")
    for f in range(n_files):
        first = n_base + f * docs_per_file
        _write(documents_table(rng, _texts(rng, docs_per_file), first),
               f"{out_dir}/drops/drop-{f:05d}.parquet")
