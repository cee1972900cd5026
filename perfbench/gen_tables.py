#!/usr/bin/env python3
"""Seeded generator of the tables the `entries` workload reads.

The tables have the schema of the test tables in TESTDATA.md and
the same kinds of values: an events stream over 30 days and a corpus of
documents drawn from a 30-word vocabulary with near-duplicate copies.
Row counts are those of scale factor 0.01.

Usage: gen_tables.py <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {"events": 10000, "documents": 500}
EVENT_TYPES = ["click", "view", "signup", "error", "purchase"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def events(rng, n):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n, dtype=np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES, dtype=object), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def documents(rng, n):
    """Every seed gives about the same amount of work: text lengths spread
    evenly over 10 to 100 words, and the same number of copies (5% near
    duplicates, 0.2% exact ones), each of an earlier original, never of a
    copy. The seed picks the words, the order of the lengths, the copies'
    places and their originals."""
    lengths = rng.permutation(10 + np.arange(n) * 91 // n)
    n_near, n_exact = n * 5 // 100, n * 2 // 1000
    copies = rng.choice(np.arange(1, n), n_near + n_exact, replace=False)
    exact = set(copies[:n_exact].tolist())
    copies = set(copies.tolist())
    texts, originals = [], []
    for i in range(n):
        if i in copies:
            src = texts[originals[rng.integers(0, len(originals))]]
            texts.append(src if i in exact else src + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, int(lengths[i]))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS, dtype=object), n,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


MAKERS = {"events": events, "documents": documents}


def generate(seed: int, out_dir: str) -> None:
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for i, table in enumerate(MAKERS):
        rng = np.random.default_rng([seed, i])
        df = MAKERS[table](rng, SCALE[table])
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(tmp, f"{table}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
