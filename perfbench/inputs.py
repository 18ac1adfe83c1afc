"""Seeded input generators for the three workloads.

Each generator writes parquet files into a directory and returns a record
of the knobs that shape the workload's behaviour plus a content digest of
every table, so two hosts can confirm they ran on identical inputs.  The
same seed always yields byte-identical files on one host.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# corpus_refine: documents table shaped like the repo's `documents` corpus.
CORPUS_DOCS = 120
CORPUS_NEAR_DUP_SHARE = 0.15  # docs that are a light edit of another doc
CORPUS_EVAL_OVERLAP_SHARE = 0.10  # docs that copy a 20-word span of an eval-slice doc
CORPUS_BLOCKED_SHARE = 0.05  # docs whose lang maps to the blocklisted host
CORPUS_PII_SHARE = 0.20  # docs carrying an email address
EVAL_MODULUS = 17  # web_corpus_refinement.json: eval slice is doc_id % 17 == 0

# star_etl: a sales fact with customer and product dimensions.
STAR_SALES = 50_000
STAR_CUSTOMERS = 20_000
STAR_PRODUCTS = 2_000
STAR_REGIONS = 8
STAR_SEGMENTS = 5

# events_stream: the static table a rate stream joins on `value % keys`.
EVENT_KEYS = 64  # distinct join keys the stream cycles through
EVENT_ROWS = 256  # static rows; keys drawn Zipf-skewed, so fan-out is skewed
EVENT_ZIPF_A = 1.3
EVENT_GROUPS = 12

_WORDS = (
    "the data spark stream join filter window batch merge table query value "
    "key order group vector hash sort scan line column part customer small big "
    "fast slow agg row river market model token corpus quality page archive "
    "signal graph index shard replica commit ledger metric trace span layer"
).split()
_LANGS = ["en", "fr", "de", "es", "zh"]
_BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the example publishing group",
    "click here to read the full terms of service",
]


def _write(df: pd.DataFrame, path: str) -> None:
    # 16 row groups per file, so a scan splits across cores
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, -(-len(df) // 16)))


def table_digest(df: pd.DataFrame) -> str:
    """Digest of a table's logical content (column names, dtypes, values),
    independent of parquet encoder versions."""
    h = hashlib.sha256()
    h.update(repr(list(zip(df.columns, map(str, df.dtypes)))).encode())
    h.update(df.to_csv(index=False, float_format="%.17g").encode())
    return h.hexdigest()[:16]


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [_WORDS[i] for i in rng.integers(0, len(_WORDS), n)]


def corpus(out_dir: str, seed: int) -> dict:
    """Documents for web_corpus_refinement.json (`#{dir}/documents.parquet`).

    Texts are `" row "`-separated lines (the flow splits lines there), one
    of them 24 words long so eval-slice docs hold 13-grams.  Every seed gets
    the same structure, so the flow takes the same path on every seed: a
    fixed number of near duplicates, each a light edit of its own original
    (clusters of two, so cluster collapse converges in the same number of
    rounds); a fixed number of docs copying 20 words of an eval-slice doc's
    long line; fixed numbers of docs with shared boilerplate, an email
    address, or the blocklisted host."""
    rng = np.random.default_rng([seed, 1])
    n_dup = round(CORPUS_DOCS * CORPUS_NEAR_DUP_SHARE)
    originals = []
    for _ in range(CORPUS_DOCS - n_dup):
        long = " ".join(_words(rng, 24))
        lines = [" ".join(_words(rng, int(rng.integers(6, 14)))) for _ in range(int(rng.integers(2, 6)))]
        lines.insert(int(rng.integers(0, len(lines) + 1)), long)
        originals.append((lines, long))
    for i in rng.choice(len(originals), round(len(originals) * 0.3), replace=False):
        lines = originals[i][0]
        lines.insert(int(rng.integers(0, len(lines) + 1)), _BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))])
    for i in rng.choice(len(originals), round(CORPUS_DOCS * CORPUS_PII_SHARE), replace=False):
        originals[i][0].append(f"contact user{int(rng.integers(0, 999))} at mail{i}@example.org for details")
    docs = [(" row ".join(lines), long, -1) for lines, long in originals]
    for src in rng.choice(len(originals), n_dup, replace=False):
        words = docs[src][0].split(" ")
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        docs.append((" ".join(words), docs[src][1], int(src)))
    order = rng.permutation(CORPUS_DOCS)
    texts = [docs[k][0] for k in order]
    # docs taking part in a near-duplicate pair keep their text as is
    paired = {int(p) for p, k in enumerate(order) if docs[k][2] >= 0}
    paired |= {p for p, k in enumerate(order) if any(d[2] == k for d in docs)}
    evals = [p for p in range(0, CORPUS_DOCS, EVAL_MODULUS)]
    free = [p for p in range(CORPUS_DOCS) if p % EVAL_MODULUS and p not in paired]
    for p in rng.choice(free, round(CORPUS_DOCS * CORPUS_EVAL_OVERLAP_SHARE), replace=False):
        src = docs[order[evals[int(rng.integers(0, len(evals)))]]][1].split(" ")
        start = int(rng.integers(0, 5))
        texts[p] += " row " + " ".join(src[start : start + 20])
    blocked = set(rng.choice(CORPUS_DOCS, round(CORPUS_DOCS * CORPUS_BLOCKED_SHARE), replace=False).tolist())
    langs = ["zz" if i in blocked else _LANGS[int(rng.integers(0, len(_LANGS)))] for i in range(CORPUS_DOCS)]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(df, os.path.join(out_dir, "documents.parquet"))
    return {
        "knobs": {
            "docs": CORPUS_DOCS,
            "near_dup_share": CORPUS_NEAR_DUP_SHARE,
            "eval_overlap_share": CORPUS_EVAL_OVERLAP_SHARE,
            "blocked_share": CORPUS_BLOCKED_SHARE,
            "pii_share": CORPUS_PII_SHARE,
        },
        "digests": {"documents": table_digest(df)},
    }


def star(out_dir: str, seed: int) -> dict:
    """Sales fact plus customer, region and product dimensions for
    perfbench/flows/star_etl.json."""
    rng = np.random.default_rng([seed, 2])
    sales = pd.DataFrame(
        {
            "sale_id": np.arange(STAR_SALES, dtype=np.int64),
            "cust_id": rng.integers(0, STAR_CUSTOMERS, STAR_SALES, dtype=np.int64),
            "prod_id": rng.integers(0, STAR_PRODUCTS, STAR_SALES, dtype=np.int64),
            "qty": rng.integers(1, 11, STAR_SALES, dtype=np.int64),
            "price": np.round(rng.uniform(1, 500, STAR_SALES), 2),
            "discount": np.round(rng.uniform(0, 0.1, STAR_SALES), 2),
        }
    )
    customers = pd.DataFrame(
        {
            "cust_id": np.arange(STAR_CUSTOMERS, dtype=np.int64),
            "segment": [f"seg{i}" for i in rng.integers(0, STAR_SEGMENTS, STAR_CUSTOMERS)],
            "region_id": rng.integers(0, STAR_REGIONS, STAR_CUSTOMERS, dtype=np.int64),
        }
    )
    regions = pd.DataFrame(
        {
            "region_id": np.arange(STAR_REGIONS, dtype=np.int64),
            "region": [f"r{i}" for i in range(STAR_REGIONS)],
        }
    )
    products = pd.DataFrame(
        {
            "prod_id": np.arange(STAR_PRODUCTS, dtype=np.int64),
            "category": [f"cat{i}" for i in rng.integers(0, 20, STAR_PRODUCTS)],
            "list_price": np.round(rng.uniform(1, 500, STAR_PRODUCTS), 2),
        }
    )
    tables = {"sales": sales, "customers": customers, "regions": regions, "products": products}
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "knobs": {
            "sales": STAR_SALES,
            "customers": STAR_CUSTOMERS,
            "products": STAR_PRODUCTS,
            "regions": STAR_REGIONS,
            "segments": STAR_SEGMENTS,
        },
        "digests": {name: table_digest(df) for name, df in tables.items()},
    }


def events(out_dir: str, seed: int) -> dict:
    """Static enrichment table for events_stream.json: EVENT_ROWS rows whose
    join keys are Zipf-skewed over EVENT_KEYS, so some stream keys fan out
    to many rows and some to none."""
    rng = np.random.default_rng([seed, 3])
    ranks = np.minimum(rng.zipf(EVENT_ZIPF_A, EVENT_ROWS), EVENT_KEYS) - 1
    perm = rng.permutation(EVENT_KEYS)
    df = pd.DataFrame(
        {
            "key": perm[ranks].astype(np.float64),
            "grp": rng.integers(0, EVENT_GROUPS, EVENT_ROWS, dtype=np.int64),
            "props": [f'{{"w": {int(w)}, "src": "s{int(s)}"}}' for w, s in zip(rng.integers(0, 10, EVENT_ROWS), rng.integers(0, 4, EVENT_ROWS))],
        }
    )
    _write(df, os.path.join(out_dir, "event_table.parquet"))
    return {
        "knobs": {
            "keys": EVENT_KEYS,
            "rows": EVENT_ROWS,
            "zipf_a": EVENT_ZIPF_A,
            "distinct_keys_present": int(df["key"].nunique()),
            "groups": EVENT_GROUPS,
        },
        "digests": {"event_table": table_digest(df)},
    }


GENERATORS = {"corpus_refine": corpus, "star_etl": star, "events_stream": events}
