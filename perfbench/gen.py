"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, parameters): the same seed
gives the same rows and, written by the same pyarrow, the same bytes.

* ``tweets``   -- a ``documents``-shaped table (doc_id, text, lang,
  source, n_chars) that ``PipelineQueries.tweetFrame`` turns into the
  reference's raw tweet frame.  Token mix, dictionary-hit rate and
  topic skew come from the workload's parameters (``workloads.json``).
* ``registry`` -- the ten tables of the engine's test schema (region,
  nation, supplier, customer, part, orders, lineitem, events,
  documents, embeddings) at the sf0.1 row counts, with the column
  types, encodings and value ranges of the engine's test data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Topic tokens the demo dictionary (TextQueries.demoPatterns) matches
# as a single token; `@name` mentions are matched structurally, so
# they give the dictionary an open topic vocabulary for the Zipf draw.
DICT_SINGLE = ["sort", "merge", "filter", "spark", "Spark", "stream"]
DICT_PAIRS = ["hash join", "sort merge", "table scan"]

# Sentiment lexicon entries (text.Sentiment core lexicon), negators
# and intensifiers.
POSITIVE = ["good", "great", "excellent", "amazing", "awesome", "love",
            "best", "nice", "happy", "wonderful", "delicious", "fresh",
            "tasty", "perfect", "fun", "cool", "sweet", "favorite",
            "better", "beautiful", "smooth", "clean", "real"]
NEGATIVE = ["bad", "terrible", "awful", "worst", "hate", "horrible",
            "gross", "nasty", "disgusting", "sad", "angry", "wrong",
            "poor", "disappointing", "boring", "worse", "sick", "stale",
            "bitter", "sour", "expensive", "cheap", "dirty", "weird",
            "fake"]
NEGATORS = ["not", "never", "no", "don't", "isn't", "can't"]
INTENSIFIERS = ["very", "really", "extremely", "so", "totally",
                "slightly", "barely"]
# Neither lexicon, negator, intensifier nor dictionary tokens.
FILLER = ["the", "a", "this", "my", "with", "at", "for", "on", "in",
          "and", "of", "to", "coffee", "tea", "soda", "juice", "water",
          "bottle", "can", "cup", "store", "morning", "today",
          "tonight", "lunch", "flavor", "brand", "ice", "drink", "got",
          "just", "had", "we", "you", "they", "after", "before",
          "work", "gym", "weekend", "summer", "lemon", "mint", "berry",
          "cherry", "vanilla", "label", "ad", "shelf", "pack"]
PUNCT = ["!", ",", ".", "?"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", write_statistics=True)
    os.replace(tmp, path)


def _zipf_weights(n, s):
    """P(rank k) ~ 1/(k+1)^s over ranks [0, n)."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def tweet_texts(rng, p):
    """Tweet strings for one workload's parameters.

    Each tweet gets `k` distinct topics (k <= 9, the oracle pair
    generator's guard is 40 phrases), drawn Zipf-skewed from the demo
    dictionary plus `@u<i>` mentions, and a body of filler, lexicon,
    negator and intensifier tokens at the configured densities.
    """
    rows = p["rows"]
    vocab = DICT_SINGLE + DICT_PAIRS + [f"@u{i}" for i in range(p["mentions"])]
    lo, hi = p["tokens"]
    k_lo, k_hi = p["topics"]
    if k_hi > 9:
        raise ValueError("topic lists must stay <= 9 distinct entries")
    lengths = rng.integers(lo, hi + 1, size=rows)
    # a `hit_rate` share of the tweets carries k in [k_lo, k_hi] topics;
    # the rest carry none, and the pipeline's NER filter drops them
    has_topic = rng.random(rows) < p["hit_rate"]
    ks = np.where(has_topic, rng.integers(k_lo, k_hi + 1, size=rows), 0)
    zipf = _zipf_weights(len(vocab), p["zipf"])
    lex_p, neg_p, int_p, punct_p = (p["lexicon"], p["negator"],
                                    p["intensifier"], p["punct"])
    out = []
    for n_tok, k in zip(lengths, ks):
        topics = []
        while len(topics) < k:
            t = vocab[int(rng.choice(len(vocab), size=1, p=zipf)[0])]
            if t not in topics:
                topics.append(t)
        body = []
        body_len = max(int(n_tok) - sum(len(t.split()) for t in topics), 1)
        u = rng.random((body_len, 4))
        for j in range(body_len):
            pick = u[j, 3]
            if u[j, 0] < lex_p:
                # lexicon hit, preceded by a negator (sometimes through
                # an intensifier: "not very good") or an intensifier
                if u[j, 1] < neg_p:
                    body.append(NEGATORS[int(pick * len(NEGATORS))])
                    if u[j, 2] < 0.3:
                        body.append(INTENSIFIERS[int(pick * 7919) % len(INTENSIFIERS)])
                elif u[j, 1] < neg_p + int_p:
                    body.append(INTENSIFIERS[int(pick * len(INTENSIFIERS))])
                lex = POSITIVE if u[j, 2] < 0.55 else NEGATIVE
                body.append(lex[int(pick * 7907) % len(lex)])
            elif u[j, 0] < lex_p + punct_p:
                body.append(PUNCT[int(pick * len(PUNCT))])
            else:
                body.append(FILLER[int(pick * len(FILLER))])
        # topics at seeded positions inside the body
        for t in topics:
            body.insert(int(rng.integers(0, len(body) + 1)), t)
        out.append(" ".join(body))
    return out


def tweets(seed, p, path):
    rng = np.random.default_rng([seed, 1])
    texts = tweet_texts(rng, p)
    n = len(texts)
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    _write(t, os.path.join(path, "documents.parquet"))
    return n


def _money(x):
    return np.round(x, 2)


def _ts(days, base):
    """Timestamps (µs, no tz) `days` after `base` (a numpy datetime64)."""
    return pa.array((np.datetime64(base, "us") + days).astype("datetime64[us]"),
                    pa.timestamp("us"))


def registry(seed, path):
    """The ten test-schema tables at sf0.1 row counts; returns the total
    row count."""
    rng = np.random.default_rng([seed, 2])
    n_supp, n_cust, n_part = 1000, 15000, 20000
    n_ord, n_li, n_ev = 150000, 600000, 100000
    n_doc, n_emb, n_users = 5000, 2000, 1500
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_supp)))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    adjs = ["blue", "red", "green", "large", "small", "shiny", "old", "steel"]
    nouns = ["anvil", "widget", "gear", "bolt", "spring", "valve", "pipe", "ring"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.array([f"{a} {b}" for a in adjs for b in nouns])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)})
    odays = rng.integers(0, 2405, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n_ord))),
        "o_orderdate": _ts(odays.astype("timedelta64[D]"), "1995-01-01"),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)])})
    l_ord = rng.integers(0, n_ord, n_li).astype(np.int64)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odays[l_ord] + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * retail[l_part] * rng.uniform(0.95, 2.1, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(ship.astype("timedelta64[D]"), "1995-01-01")})
    # events: one month of µs timestamps, strictly increasing ids
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(us.astype("timedelta64[us]"), "2024-01-01"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng.exponential(50.0, n_ev))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "value", "vector", "window"]
    words = np.array(words)
    texts = []
    for i in range(n_doc):
        if i >= 50 and rng.random() < 0.02:
            # planted near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(src)))
            src[j] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["de", "en", "en", "en", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels)})
    for name, t in tables.items():
        _write(t, os.path.join(path, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())
