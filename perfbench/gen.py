"""Seeded input generators for the benchmark.

Every value is a pure function of ``(seed, stream, row id)`` through a
splitmix64 mix, in the style of ``examples/scale_rehearsal.generate``: no
RNG state, so the same seed gives bit-identical files and a different seed
changes every column.  The engine under test only ever sees the files these
functions write.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# Small topical vocabulary for the headline tables: the same family as the
# 30-word salad the repo's test tables use, so text queries see the
# collision density they were written for.
SALAD = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector join plan node shuffle customer"
).split()

# Documents for the dedup and ingest workloads draw from a vocabulary large
# enough that two unrelated documents share no 3-word shingle: with the
# 30-word salad, 93% of an ingest run was rejected as contaminated.
_SYL = "ka lo mi nu pe ra si to vu ze ba do fi gu".split()
WIDE = [a + b + c for a in _SYL for b in _SYL for c in _SYL]  # 2744 words

# Workload shapes stated in BENCHMARK.json's `why` lines and the README.
HOT_SHARE = 0.05  # dedup_hotkey: share of rows carrying the one hot text
DUP_SHARE = 0.02  # dedup_hotkey / ingest: exact or one-word near copies
CONTAM_SHARE = 0.02  # ingest: docs quoting a benchmark passage
REJECT_SHARE = 0.03  # ingest: degenerate repetition below the TTR gate


def mix(seed: int, stream: int, ids) -> np.ndarray:
    """splitmix64 of ``ids`` keyed by (seed, stream) -> uint64 array."""
    with np.errstate(over="ignore"):
        z = np.asarray(ids, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        z = z + np.uint64((seed * 0x632BE59BD9B4E019 + stream * 0x8CB92BA72F3D8DD7) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (z ^ (z >> np.uint64(31))) & _M64


def pick(seed: int, stream: int, ids, n: int) -> np.ndarray:
    """Uniform int64 in [0, n) per id."""
    return (mix(seed, stream, ids) % np.uint64(n)).astype(np.int64)


def _words(seed: int, stream: int, doc: int, n_words: int, vocab) -> list[str]:
    idx = pick(seed, stream, np.arange(n_words) + doc * 1024, len(vocab))
    return [vocab[i] for i in idx]


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(base: str, offsets) -> np.ndarray:
    return np.datetime64(base, "us") + np.asarray(offsets).astype("timedelta64[D]")


def headline_tables(seed: int, out_dir: str) -> None:
    """The ten tables the headline queries read, with the schemas, value
    domains and row counts of the repo's sf0.01 test tables."""
    os.makedirs(out_dir, exist_ok=True)
    s = seed
    i32, i64, f64, st = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", i32), ("r_name", st)]))
    n = np.arange(25)
    _write(out_dir, "nation", {
        "n_nationkey": n.astype(np.int32),
        "n_name": [f"NATION_{k}" for k in n],
        "n_regionkey": (n % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", st), ("n_regionkey", i32)]))

    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev, n_docs = 15000, 60000, 10000, 500
    c = np.arange(n_cust)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": c,
        "c_name": [f"Customer#{k:09d}" for k in c],
        "c_nationkey": pick(s, 1, c, 25).astype(np.int32),
        "c_acctbal": (pick(s, 2, c, 1_099_200) - 99_400) / 100.0,
        "c_mktsegment": segments[pick(s, 3, c, 5)],
    }, pa.schema([("c_custkey", i64), ("c_name", st), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", st)]))
    p = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": p,
        "s_name": [f"Supplier#{k:09d}" for k in p],
        "s_nationkey": pick(s, 4, p, 25).astype(np.int32),
        "s_acctbal": (pick(s, 5, p, 1_077_800) - 82_200) / 100.0,
    }, pa.schema([("s_suppkey", i64), ("s_name", st), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    p = np.arange(n_part)
    adj = np.array(["small", "red", "blue", "large", "green", "shiny", "old", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": p,
        "p_name": np.char.add(np.char.add(adj[pick(s, 6, p, 8)], " "), noun[pick(s, 7, p, 8)]),
        "p_brand": np.char.add("Brand#", (pick(s, 8, p, 25) + 1).astype(str)),
        "p_type": types[pick(s, 9, p, 6)],
        "p_size": (pick(s, 10, p, 50) + 1).astype(np.int32),
        "p_retailprice": 900.0 + (p % 1000) / 10.0,
    }, pa.schema([("p_partkey", i64), ("p_name", st), ("p_brand", st), ("p_type", st),
                  ("p_size", i32), ("p_retailprice", f64)]))
    o = np.arange(n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": o,
        "o_custkey": pick(s, 11, o, n_cust),
        "o_orderstatus": np.array(["F", "O", "P"])[pick(s, 12, o, 3)],
        "o_totalprice": (pick(s, 13, o, 49_896_489) + 101_370) / 100.0,
        "o_orderdate": _days("1995-01-01", pick(s, 14, o, 2400)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[pick(s, 15, o, 5)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", st),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", st)]))
    li = np.arange(n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pick(s, 16, li, n_ord),
        "l_partkey": pick(s, 17, li, n_part),
        "l_suppkey": pick(s, 18, li, n_supp),
        "l_linenumber": (pick(s, 19, li, 7) + 1).astype(np.int32),
        "l_quantity": (pick(s, 20, li, 50) + 1).astype(np.float64),
        "l_extendedprice": (pick(s, 21, li, 10_409_607) + 90_182) / 100.0,
        "l_discount": pick(s, 22, li, 11) / 100.0,
        "l_tax": pick(s, 23, li, 9) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[pick(s, 24, li, 3)],
        "l_linestatus": np.array(["F", "O"])[pick(s, 25, li, 2)],
        "l_shipdate": _days("1995-01-02", pick(s, 26, li, 2499)),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", st),
                  ("l_linestatus", st), ("l_shipdate", ts)]))
    e = np.arange(n_ev)
    # increasing timestamps over 30 days with hash-sized gaps, like the
    # repo's events table (sessionize and as-of joins depend on the order)
    gaps = pick(s, 27, e, 2 * 30 * 86_400_000_000 // n_ev) + 1
    _write(out_dir, "events", {
        "event_id": e,
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pick(s, 28, e, 150),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[pick(s, 29, e, 5)],
        "value": (pick(s, 30, e, 49_002) + 1) / 100.0,
        "props": [f'{{"k": {k}}}' for k in pick(s, 31, e, 100)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", st),
                  ("value", f64), ("props", st)]))
    documents(seed, out_dir, n_docs, vocab=SALAD, hot_share=0.0)
    v = np.arange(n_docs)
    grid = pick(s, 32, np.arange(len(v) * 64), 1_000_001).reshape(len(v), 64)
    emb = (grid / 1_000_000.0 - 0.5).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": v,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pick(s, 33, v, 10).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


def doc_texts(seed: int, n_docs: int, vocab, hot_share: float) -> list[str]:
    """Document texts for ids ``0 .. n_docs-1``.

    A ``hot_share`` of rows carry one identical hot text; a DUP_SHARE of
    rows copy an earlier row's text, half of them exactly and half with
    one word replaced (near-dups); the rest are independent."""
    ids = np.arange(n_docs)
    lengths = pick(seed, 40, ids, 60) + 20
    role = pick(seed, 41, ids, 10_000)
    hot_cut = int(hot_share * 10_000)
    dup_cut = hot_cut + int(DUP_SHARE * 10_000)
    hot_text = " ".join(_words(seed, 42, 0, 50, vocab))
    texts: list[str] = []
    for k, doc in enumerate(ids):
        r = role[k]
        if r < hot_cut:
            texts.append(hot_text)
        elif r < dup_cut and k > 0:
            src = texts[int(pick(seed, 43, [doc], k)[0])].split()
            if r % 2:
                j = int(pick(seed, 44, [doc], len(src))[0])
                src[j] = vocab[int(pick(seed, 45, [doc], len(vocab))[0])]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(_words(seed, 46, int(doc), int(lengths[k]), vocab)))
    return texts


def documents(seed: int, out_dir: str, n_docs: int, vocab=WIDE, hot_share: float = HOT_SHARE) -> None:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars)."""
    os.makedirs(out_dir, exist_ok=True)
    d = np.arange(n_docs)
    texts = doc_texts(seed, n_docs, vocab, hot_share)
    _write(out_dir, "documents", {
        "doc_id": d,
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[pick(seed, 47, d, 7)],
        "source": np.char.add("src", pick(seed, 48, d, 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def crawl_batch(seed: int, batch: int, docs_per_batch: int, bench_texts: list[str]) -> list[dict]:
    """One crawl file's rows for the ingest stream.

    Shares per batch: REJECT_SHARE degenerate repetition (fails the
    type-token-ratio gate), CONTAM_SHARE quoting a benchmark passage,
    DUP_SHARE exact copies of a document from an earlier batch, the rest
    independent text over the wide vocabulary."""
    base = batch * docs_per_batch
    ids = np.arange(base, base + docs_per_batch)
    role = pick(seed, 50, ids, 10_000)
    lengths = pick(seed, 51, ids, 60) + 20
    rows = []
    for k, doc in enumerate(ids):
        r = int(role[k])
        words = _words(seed, 52, int(doc), int(lengths[k]), WIDE)
        if r < REJECT_SHARE * 10_000:
            words = [words[0]] * len(words)
        elif r < (REJECT_SHARE + CONTAM_SHARE) * 10_000:
            passage = bench_texts[int(doc) % len(bench_texts)].split()[:6]
            words = words[:10] + passage + words[10:]
        elif r < (REJECT_SHARE + CONTAM_SHARE + DUP_SHARE) * 10_000 and batch > 0:
            src = int(pick(seed, 53, [doc], base)[0])
            words = _words(seed, 52, src, int(pick(seed, 51, [src], 60)[0]) + 20, WIDE)
        rows.append({"doc_id": int(doc), "text": " ".join(words),
                     "source": f"src{int(pick(seed, 54, [doc], 20)[0])}"})
    return rows


def benchmark_texts(seed: int, n: int = 40) -> list[str]:
    """Held-out evaluation passages; their 3-word shingles form the
    decontamination set.  A separate stream keeps them disjoint from the
    crawl's own text."""
    return [" ".join(_words(seed, 60, k, 30, WIDE)) for k in range(n)]


def write_jsonl(path: str, rows: list[dict], staging_dir: str) -> None:
    """Write rows to ``staging_dir`` then rename into ``path``, so a
    directory watcher never lists a half-written file."""
    tmp = os.path.join(staging_dir, os.path.basename(path))
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, path)


def content_trace(seed: int, n_chunks: int) -> list[float]:
    """Per-chunk content scores for the knob switcher: a slow drift between
    easy and hard content plus hash noise, like a day of video."""
    k = np.arange(n_chunks)
    phase = np.sin(2 * np.pi * k / max(n_chunks // 3, 1) + seed % 7)
    noise = pick(seed, 70, k, 10_001) / 10_000.0 - 0.5
    return list(np.clip(0.55 + 0.3 * phase + 0.3 * noise, 0.0, 1.0))
