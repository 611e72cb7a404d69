"""Deterministic, seeded generator of the registry tables that the
`registry_mix` queries read: `events`, `lineitem`, `documents` and
`embeddings`, in the schemas of FIXTURES.md B, one parquet file each.

Sizes sit below the sf0.01 test data. The shapes the queries depend on
are planted on purpose: skewed part popularity, so that co-purchase pairs
repeat and the w>=2 graph backbone is not empty; near-duplicate documents
(one or two words edited); near-duplicate embeddings (a copy plus small
noise) around ten label centroids.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small big query order group stream "
         "filter customer vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def write(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def generate(out, seed, n_events=5000, n_orders=1500, n_parts=300, n_docs=300,
             n_vecs=200, dims=64):
    rng = np.random.RandomState(seed)
    os.makedirs(out, exist_ok=True)

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.randint(0, 30 * 24 * 3600 * 10**6, size=n_events))
    write(os.path.join(out, "events.parquet"), {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, 150, size=n_events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.randint(0, 5, size=n_events)]),
        "value": pa.array(rng.randint(1, 50000, size=n_events) / 100.0),
        "props": pa.array(['{"k": %d}' % k for k in rng.randint(0, 100, size=n_events)]),
    })

    lines = rng.randint(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    # squared uniform: a few popular parts, so pairs co-occur in many orders
    partkey = (n_parts * rng.random_sample(orderkey.size) ** 2).astype(np.int64)
    n = orderkey.size
    write(os.path.join(out, "lineitem.parquet"), {
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.randint(0, 100, size=n).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines])
                                 .astype(np.int32)),
        "l_quantity": pa.array(rng.randint(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.randint(100000, 10000000, size=n) / 100.0),
        "l_discount": pa.array(rng.randint(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.randint(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.randint(0, 3, size=n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.randint(0, 2, size=n)]),
        "l_shipdate": pa.array(np.datetime64("1998-01-01T00:00:00", "us")
                               + (rng.randint(0, 1500, size=n) * 86400 * 10**6)
                               .astype("timedelta64[us]"), pa.timestamp("us")),
    })

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random_sample() < 0.1:
            words = texts[rng.randint(0, i)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randint(0, len(words))] = WORDS[rng.randint(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.randint(0, len(WORDS), size=rng.randint(20, 70))]
        texts.append(" ".join(words))
    write(os.path.join(out, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.randint(0, len(LANGS), size=n_docs)]),
        "source": pa.array(["src%d" % i for i in rng.randint(0, 20, size=n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    centers = rng.normal(0, 1, size=(10, dims))
    labels = rng.randint(0, 10, size=n_vecs)
    # noise three times the centroid scale keeps unrelated vectors below the
    # near-duplicate threshold (cosine 0.4); the planted copies sit near 1
    vecs = centers[labels] + rng.normal(0, 3.0, size=(n_vecs, dims))
    for i in range(10, n_vecs):
        if rng.random_sample() < 0.08:
            vecs[i] = vecs[rng.randint(0, i)] + rng.normal(0, 0.05, size=dims)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(os.path.join(out, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
