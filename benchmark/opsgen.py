"""Seeded generator for the two tables the operator workloads read.

Every constant below reproduces a figure measured on the query fixtures'
``events`` and ``documents`` tables at sf 0.01 and sf 0.1 (the table of
figures is in benchmark/README.md, "Operator tables"):

  events      event_id, ts (naive TIMESTAMP(MICROS), 2024-01-01 plus one
              30-day month, increasing), user_id (uniform over 15 000·sf
              users, so about 67 events per user), event_type (5 kinds,
              uniform), value (exponential, mean 50, 2 decimals),
              props ('{"k": n}', n uniform in 0–99)
  documents   doc_id, text (10–100 words, uniform, over a 30-word
              vocabulary; 5 % are another document plus " dup"), lang
              (en 41 %, the other four about 15 % each), source (20
              values), n_chars

Row counts scale with ``sf``: 1 000 000·sf events and 50 000·sf documents.
The same seed and sf give the same bytes.

    python3 benchmark/opsgen.py OUT_DIR --seed 42 --sf 0.02
"""
import argparse
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)


def _events(rng, n, users):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10 ** 6
    ts = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array([start + datetime.timedelta(microseconds=int(t)) for t in ts],
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # near-duplicates: 5 % of documents copy another one and append " dup"
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in langs]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(out_dir, seed, sf):
    """Write the two tables under ``out_dir``; return their description."""
    rng = np.random.default_rng(seed)
    tables = {
        "events": _events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
        "documents": _documents(rng, int(50_000 * sf)),
    }
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    size = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(t, path)
        with open(path, "rb") as f:
            data = f.read()
        digest.update(name.encode() + b"\0" + data)
        size += len(data)
    return {"seed": seed, "sf": sf, "bytes": size, "digest": digest.hexdigest(),
            "rows": {k: t.num_rows for k, t in tables.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", type=float, default=0.02)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.sf), indent=1))


if __name__ == "__main__":
    main()
