"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* `tables(out_dir, sf, seed)` writes the ten parquet tables the query
  surface reads (`graft.core.Tables.all`), with the schemas and value
  domains of the star-schema fixtures described in FIXTURES.md part B.
* `corpus(out_dir, mb, seed)` writes 8 text files for the MapReduce jobs,
  sized in the ratios of the reference's 8 Gutenberg books (FIXTURES.md
  A.1) and drawn from a Zipf vocabulary, so word frequencies are skewed
  the way book text is.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Byte sizes of the reference's input books (FIXTURES.md A.1), in order.
BOOK_BYTES = [138885, 453168, 441033, 540174, 594262, 139054, 581863, 412665]

CHAIN_LEN = 8

DOC_VOCAB = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()


def _strings(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _days(start, idx):
    base = np.datetime64(start, "D")
    return (base + idx.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf, seed):
    """Write the ten tables at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _strings(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adjs = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _strings(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                 "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})

    order_day = rng.integers(0, 2404, n_ord)          # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _strings(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days("1995-01-01", order_day)),
        "o_orderpriority": _strings(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines = rng.integers(1, 8, n_ord)                 # 1..7 lines per order
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    perm = rng.permutation(n_li)                      # file order is not key order
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenum[perm].astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strings(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _strings(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days("1995-01-01", ship_day))})

    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _strings(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    # Documents: random-word texts; a few exact copies and many shared
    # prefixes, so the dedup operators have duplicates to find.
    texts = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(np.asarray(DOC_VOCAB)[rng.integers(0, len(DOC_VOCAB), n_words)]))
    for i in rng.choice(n_docs, max(1, n_docs // 25), replace=False):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j] if rng.random() < 0.05 else texts[j][:60] + texts[i][60:]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(rng, ["en", "de", "es", "fr", "zh"], n_docs,
                         p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # Embeddings: 64-d unit vectors around 10 weak cluster centres, plus
    # one planted near-duplicate chain: c_k = (e_k + e_k+1)/sqrt(2) over a
    # random orthonormal basis has cosine 0.5 with its neighbours and 0
    # with every other link. Any other vector within cosine 0.35 of one
    # drawn before it is drawn again, so the chain is the only near-dup
    # component (cosine > 0.4). Its ids ascend along it, so the minimum
    # label starts at one end: the chain's length, not the seed, sets the
    # number of rounds an iterative connected-components pass runs.
    centres = rng.normal(0, 1, (10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec)

    def draw(i):
        v = 0.15 * centres[label[i]] + rng.normal(0, 1 / 8, 64)
        return v / np.linalg.norm(v)

    x = np.zeros((n_vec, 64))
    basis, _ = np.linalg.qr(rng.normal(0, 1, (64, 64)))
    chain = np.sort(rng.choice(n_vec, CHAIN_LEN, replace=False))
    x[chain] = (basis[:, :CHAIN_LEN] + basis[:, 1:CHAIN_LEN + 1]).T / np.sqrt(2)
    kept = list(chain)
    for i in np.setdiff1d(np.arange(n_vec), chain):
        x[i] = draw(i)
        while (x[kept] @ x[i]).max() > 0.35:
            x[i] = draw(i)
        kept.append(i)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


# Letters the corpus draws words from: ASCII plus a few Latin-1 letters, so
# the tokenizer's "letters" class is exercised beyond ASCII. Separators are
# spaces, punctuation and digits, all outside \p{L}.
_LETTERS = "abcdefghijklmnopqrstuvwxyz" + "éöüß"
_SEPS = [" "] * 12 + [", ", ". ", "; ", "\n", " -- ", "! ", "? ", " 1", " 42 ", "'"]


def corpus(out_dir, mb, seed, n_vocab=20_000):
    """Write 8 files totalling about `mb` megabytes; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list(_LETTERS))
    # Word lengths by Zipf rank come from a fixed stream, not the seed: the
    # most frequent words set the token count per megabyte, and so the
    # amount of map and shuffle work.
    lengths = np.random.default_rng(0).integers(3, 11, n_vocab)
    vocab, seen = [], set()
    for n in lengths:
        w = "".join(letters[rng.integers(0, len(letters), n)])
        while w in seen:
            w = "".join(letters[rng.integers(0, len(letters), n)])
        seen.add(w)
        vocab.append(w.capitalize() if rng.random() < 0.1 else w)
    vocab = np.array(vocab, dtype=object)
    zipf = 1.0 / np.arange(1, n_vocab + 1) ** 1.1
    zipf /= zipf.sum()
    seps = np.array(_SEPS, dtype=object)
    scale = mb * 1e6 / sum(BOOK_BYTES)
    paths = []
    for i, nbytes in enumerate(BOOK_BYTES):
        target = int(nbytes * scale)
        n_words = max(1, target // 6)
        words = vocab[rng.choice(n_vocab, n_words, p=zipf)]
        gaps = seps[rng.integers(0, len(seps), n_words)]
        text = "".join(w + g for w, g in zip(words, gaps))[:target]
        p = os.path.join(out_dir, f"pg-{i}.txt")
        with open(p, "w", encoding="utf-8") as f:
            f.write(text)
        paths.append(p)
    return paths
