"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed and
sizes give byte-identical tables. Nothing reads the program's test
data; the registry tables are built in the schema of the repository's
TPC-H-like testdata so the registry queries and their DuckDB oracles
run on them unchanged.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from deepref_spark import refsem
from deepref_spark.portable import RELATION_NAMES

_LETTERS = np.array(list(string.ascii_lowercase))


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) & 0xFFFFFFFF for k in key])


def random_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` random lower-case strings with lengths in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, n)
    chars = _LETTERS[rng.integers(0, 26, int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append("".join(chars[pos:pos + ln]))
        pos += ln
    return out


def _variant(rng: np.random.Generator, name: str) -> str:
    """One interior letter substituted. Under the linker's 3-gram
    Jaccard threshold (0.6) only the longest names stay linked to their
    variant, so most variant pairs are LSH candidates that the exact
    Jaccard check then rejects."""
    i = int(rng.integers(1, len(name) - 1))
    c = _LETTERS[int(rng.integers(0, 26))]
    if c == name[i]:
        c = "z" if name[i] != "z" else "y"
    return name[:i] + c + name[i + 1:]


def entity_surfaces(rng: np.random.Generator, n_entities: int) -> list[str]:
    """``n_entities`` random-letter names (6-12 letters); about half of
    them also appear under a one-letter spelling variant."""
    base = random_words(rng, n_entities, 6, 12)
    with_variant = rng.random(n_entities) < 0.5
    return base + [_variant(rng, b) for b, v in zip(base, with_variant) if v]


def wide_docs(seed: int, batch: int, n_docs: int, n_entities: int,
              n_words: int = 4000) -> pd.DataFrame:
    """Docs in synth's span format whose words and entity names are
    fresh random strings for every (seed, batch): a worker that has
    processed earlier batches has none of these words memoized."""
    rng = _rng(seed, batch, 0x57D)
    vocab = random_words(rng, n_words, 3, 10)
    # Zipf-like word frequencies: repetition inside a batch, so memos
    # still pay off within it, but every head word is new per batch
    weights = 1.0 / np.arange(1, n_words + 1) ** 0.8
    weights /= weights.sum()
    surfaces = entity_surfaces(rng, n_entities)
    n_rel = len(RELATION_NAMES)
    ids, spans_col = [], []
    for d in range(n_docs):
        n_spans = int(rng.integers(3, 13))
        spans = []
        for k in range(n_spans):
            if rng.random() < 0.25:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"media://wide/{batch}/{d}/{k}", "offset": k})
                continue
            n = int(rng.integers(8, 20))
            words = [vocab[j] for j in rng.choice(n_words, n, p=weights)]
            e1 = surfaces[int(rng.integers(0, len(surfaces)))]
            e2 = surfaces[int(rng.integers(0, len(surfaces)))]
            i1 = int(rng.integers(1, max(2, n // 2)))
            i2 = int(rng.integers(i1 + 1, n))
            toks = (words[:i1] + [refsem.E1_START, e1, refsem.E1_END]
                    + words[i1:i2] + [refsem.E2_START, e2, refsem.E2_END] + words[i2:])
            relation = ("Other" if rng.random() < 0.3
                        else RELATION_NAMES[1 + int(rng.integers(0, n_rel - 1))])
            spans.append({"kind": "text", "text": f"{relation}\t{' '.join(toks)}",
                          "media_ref": "", "offset": k})
        ids.append(f"w{seed % 100000:05d}b{batch:03d}d{d:06d}")
        spans_col.append(spans)
    return pd.DataFrame({"doc_id": ids, "spans": spans_col})


# ---------------------------------------------------------------------------
# registry tables (schema of the repository's TPC-H-like testdata)
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def registry_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ~ the testdata's sf0.1 row
    counts divided by ten, i.e. sf0.01)."""
    rng = _rng(seed, 0x7E57)
    n_docs = max(50, int(500 * scale))
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(10000 * scale))
    n_users = max(10, int(150 * scale))

    # documents: ~5% are an earlier document plus one or two " dup"s
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us")),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file parquet per table, laid out like the testdata
    directories (``<out_dir>/<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
