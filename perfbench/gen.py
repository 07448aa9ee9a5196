"""Seeded inputs for the benchmark.

Two generators, both pure functions of their arguments:

* ``write_tables(dst, sf)`` writes the ten parquet tables the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``) with the column names, types and value
  domains of the engine's sf datasets. The table seed is fixed, so the
  recorded result digests in ``digests.json`` hold for every ``--seed``.
* ``write_corpus(path, seed, mb, word)`` writes the text corpus the
  reference jobs scan and returns its answer key: the A-Z letter counts
  and the whole-word matching lines, computed here independently of the
  engine. The corpus carries CRLF lines, non-ASCII text, ``_``-joined
  words and empty lines.
"""
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()
PART_ADJ = "small red blue hot old large new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()


def _ts(days_from_1995):
    base = np.datetime64("1995-01-01", "us")
    return base + days_from_1995.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(dst, name, table):
    pq.write_table(table, os.path.join(dst, f"{name}.parquet"), row_group_size=100_000)


def write_tables(dst, sf):
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(dst, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(dst, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(dst, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    _write(dst, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}))

    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(dst, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}))

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(dst, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2405, n_ord)), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}))

    _write(dst, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts(rng.integers(1, 2500, n_line)), pa.timestamp("us"))}))

    # events: ascending timestamps over January 2024
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ev_ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
    _write(dst, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    # documents: 10..99 uniform draws from a 30-word [a-z] vocabulary;
    # then one in twenty, at random positions, is replaced by a copy of a
    # random document with " dup" appended
    texts = [" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), int(k)))
             for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(dst, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    # embeddings: uniform random unit vectors; labels independent of them
    vecs = rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    _write(dst, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


CORPUS_WORDS = ("the of and to in he she it war peace The THE there other "
                "anthem bathe then thee soldier prince Natasha river").split()
CORPUS_ODD = ["café", "naïve", "Übung", "straße", "ёлка", "日本語", "the_end",
              "over_the", "the-end", "the.", "(the)", "x1the", "the2", "Ωthe"]


def _pool(rng, n_lines):
    """Distinct seeded lines the corpus is sampled from."""
    lines = []
    for i in range(n_lines):
        r = rng.random()
        if r < 0.04:
            lines.append("")
            continue
        k = int(rng.integers(3, 18))
        words = []
        for _ in range(k):
            if rng.random() < 0.12:
                words.append(CORPUS_ODD[int(rng.integers(0, len(CORPUS_ODD)))])
            else:
                words.append(CORPUS_WORDS[int(rng.integers(0, len(CORPUS_WORDS)))])
        lines.append(" ".join(words) + ("." if rng.random() < 0.3 else ""))
    return lines


def write_corpus(path, seed, mb, word):
    """Write ~`mb` MB of seeded text to `path` and return its answer key."""
    rng = np.random.default_rng(seed)
    pool = _pool(rng, 2000)
    crlf = rng.random(len(pool)) < 0.2
    encoded = [(s + ("\r\n" if c else "\n")).encode("utf-8") for s, c in zip(pool, crlf)]
    sizes = np.array([len(e) for e in encoded])
    n = int(mb * 1e6 / sizes.mean())
    picks = rng.integers(0, len(pool), n)
    with open(path, "wb") as f:
        step = 100_000
        for i in range(0, n, step):
            f.write(b"".join(encoded[j] for j in picks[i:i + step]))

    # A-Z counts: ASCII letters only, case folded; multibyte UTF-8 bytes
    # are all >= 0x80 and never counted
    per_line = np.zeros((len(pool), 26), dtype=np.int64)
    for i, e in enumerate(encoded):
        b = np.frombuffer(e, dtype=np.uint8).astype(np.int64)
        b = np.where((b >= 97) & (b <= 122), b - 32, b)
        per_line[i] = np.bincount(b[(b >= 65) & (b <= 90)] - 65, minlength=26)
    uses = np.bincount(picks, minlength=len(pool))
    letters = (per_line * uses[:, None]).sum(axis=0)

    # whole-word lines: case-sensitive, boundary = not [0-9A-Za-z]
    pat = re.compile(r"(?<![0-9A-Za-z])" + re.escape(word) + r"(?![0-9A-Za-z])")
    hit = np.array([bool(pat.search(s)) for s in pool])
    h = hashlib.sha256()
    matched = 0
    for j in picks[hit[picks]]:
        h.update(pool[j].encode("utf-8") + b"\n")
        matched += 1
    return {
        "bytes": os.path.getsize(path),
        "letters": {chr(65 + i): int(c) for i, c in enumerate(letters)},
        "word": word,
        "word_lines": matched,
        "word_sha256": h.hexdigest(),
    }
