"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes the same
rows (numpy's PCG64 stream, pyarrow's parquet writer). The program under
test only ever sees these files.

- `tables`: the TPC-H-ish star schema plus the events / documents /
  embeddings tables, shaped like the sf0.1 fixtures (same column names,
  physical types and value domains). The five fact tables are a seeded
  Bernoulli row subsample; the dimension tables stay whole.
- `corpus`: the llm_pipeline documents table, with fixed shares of exact
  duplicates, near duplicates (word-level edits) and docs that share a
  5-gram with the held-out bench split (doc_id % 50 == 0). Its text is
  drawn from a 2,000-word vocabulary, so that docs almost never share a
  5-gram or a run of 3-gram shingles by chance: the duplicate traffic the
  pipeline sees is the planted one.

The changelog rows of changelog_stream are generated inside the JVM
(`ChangelogGen.scala`), because its open-loop emitter needs them in memory.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# llm_pipeline corpus shape: fixed size and shares, seeded realization.
# The shares are the drops PipelineRun's own ledger recorded over the
# sf0.1 documents fixture (PIPELINE_r12.json): dedup_exact dropped 7 of
# 4,438 docs, dedup_fuzzy 196 of 4,431 and decontam 44 of 4,235.
CORPUS_DOCS = 16000
EXACT_DUP_SHARE = 0.0016
NEAR_DUP_SHARE = 0.044
BENCH_OVERLAP_SHARE = 0.010
# the fixture words, then two-syllable pseudo-words of about their length
CORPUS_VOCAB = WORDS + [w for w in (c + v + c2 + v2 for c in "bdfgklmnprstvz"
                                    for v in "aeiou"
                                    for c2 in "bdfgklmnprstvz"
                                    for v2 in "aeiou")
                        if w not in WORDS][:2000 - len(WORDS)]


def _write(out_dir, name, cols):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _texts(rng, n, vocab=WORDS):
    """Random documents: 10..100 words drawn uniformly from `vocab`."""
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(vocab), int(lens.sum()))
    words = np.array(vocab)[ids]
    out, pos = [], 0
    for k in lens:
        out.append(words[pos:pos + k].tolist())
        pos += k
    return out


def _doc_columns(rng, doc_ids, word_lists):
    texts = [" ".join(w) for w in word_lists]
    return {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(texts), p=LANG_P)),
        "source": pa.array([f"src{d % 20}" for d in doc_ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _full_tables(rng):
    n = SF01_ROWS
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])}
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}
    k = np.arange(n["customer"])
    t["customer"] = {
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(k))),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], len(k)))}
    k = np.arange(n["supplier"])
    t["supplier"] = {
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(k)))}
    k = np.arange(n["part"])
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = {
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, len(k)), rng.integers(0, 8, len(k)))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, len(k))]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"], len(k))),
        "p_size": pa.array(rng.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 1))}
    k = np.arange(n["orders"])
    t["orders"] = {
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], len(k))),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, len(k))),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, len(k))),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            len(k)))}
    m = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, m))}
    m = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, m))
    t["events"] = {
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, m), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], m)),
        "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in
                           rng.integers(0, 100, m)])}
    docs = np.arange(n["documents"])
    t["documents"] = _doc_columns(rng, docs, _texts(rng, len(docs)))
    m = n["embeddings"]
    v = rng.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())}
    return t


def tables(out_dir, seed, fraction):
    """sf0.1-shaped tables; fact tables keep a seeded `fraction` of rows."""
    rng = np.random.default_rng([seed, 1])
    for name, cols in _full_tables(rng).items():
        if name in FACT_TABLES:
            keep = rng.random(len(next(iter(cols.values())))) < fraction
            cols = {c: a.filter(pa.array(keep)) for c, a in cols.items()}
        _write(out_dir, name, cols)


def corpus(out_dir, seed, n_docs=CORPUS_DOCS, stream=2):
    """The llm_pipeline documents table with planted duplicate traffic."""
    rng = np.random.default_rng([seed, stream])
    words = _texts(rng, n_docs, CORPUS_VOCAB)
    bench = np.arange(0, n_docs, 50)
    others = rng.permutation(np.setdiff1d(np.arange(n_docs), bench))
    n_exact = int(EXACT_DUP_SHARE * n_docs)
    n_near = int(NEAR_DUP_SHARE * n_docs)
    n_over = int(BENCH_OVERLAP_SHARE * n_docs)
    exact = others[:n_exact]
    near = others[n_exact:n_exact + n_near]
    over = others[n_exact + n_near:n_exact + n_near + n_over]
    originals = others[n_exact + n_near + n_over:]
    for d in exact:
        words[d] = list(words[rng.choice(originals)])
    for d in near:
        w = list(words[rng.choice(originals)])
        for i in rng.choice(len(w), max(1, len(w) // 25), replace=False):
            w[i] = CORPUS_VOCAB[rng.integers(len(CORPUS_VOCAB))]
        words[d] = w
    for d in over:
        src = words[rng.choice(bench)]
        start = rng.integers(0, len(src) - 7)
        at = rng.integers(0, len(words[d]) + 1)
        words[d] = words[d][:at] + src[start:start + 8] + words[d][at:]
    _write(out_dir, "documents",
           _doc_columns(rng, np.arange(n_docs), words))
