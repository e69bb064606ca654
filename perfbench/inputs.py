"""Seeded input generators for the workloads.

Every generator is a pure function of the workload seed: the same seed
gives byte-identical inputs, and the program under test only ever sees the
generated tables, never the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# crawl_seeded: a government web with every lifecycle path (robots, a
# govCMS politeness group, redirects, dual hosts, discovery of the unseeded
# hosts); sites are three generations deep and every discovered host starts
# in the round it becomes eligible, so a generation ends almost every round.
# Per-round cost grows with the number of active hosts, so the corpus stays
# small enough for a run to finish within about a minute on 4 cores. The
# URLs a round fetches vary by about a fifth between seeds, which is why the
# end-to-end crawl metric is round time, not URLs per second.
SEEDED_CORPUS = dict(n_agencies=8, n_govcms=2, n_state=1, n_sections=1,
                     pages_per_section=4, hot_hosts=1, hot_multiplier=2,
                     n_seeds=10)
SEEDED_STEWARD_BATCH = 500

# corpus_queries: the row counts and value distributions of the
# repository's sf0.1 test data (uniform keys and categories, exponential
# event values, 10-100 word documents of which 5% are near-duplicates,
# random unit embeddings), made from the seed so that a run needs no file
# outside the checkout.
QUERY_ROWS = dict(customer=15000, orders=150000, events=100000,
                  documents=5000, embeddings=2000)

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


# ---------------------------------------------------------------------------
# crawl_seeded
# ---------------------------------------------------------------------------

def seeded_corpus(seed: int):
    from disco_crawl_spark import corpus
    return corpus.generate(seed=seed, **SEEDED_CORPUS)


def pages_frame(spark, c):
    """The Python-built corpus as the engine's pages DataFrame."""
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"],
          r.get("redirect_to")) for r in c.page_rows()],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, redirect_to string")


# ---------------------------------------------------------------------------
# corpus_queries
# ---------------------------------------------------------------------------

def _doc_texts(rng, n: int) -> list:
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j]
                                  for j in rng.integers(0, len(_WORDS), k)))
    return texts


def query_tables(seed: int, out_dir: str):
    """Write the analytics tables the query set reads (same schemas as the
    repo's test data) as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_o, n_e, n_d, n_v = (QUERY_ROWS[k] for k in
                               ("customer", "orders", "events", "documents",
                                "embeddings"))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c),
                                           2)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_c)]),
        }),
    }
    day0 = np.datetime64("1995-01-01", "us")
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_o), 2)),
        "o_orderdate": pa.array(
            day0 + rng.integers(0, days + 1, n_o).astype("timedelta64[D]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_o)]),
    })
    ev0 = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86400 * 10**6
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ev0 + np.sort(rng.integers(0, span_us, n_e))
                       .astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_e * 3 // 200), n_e),
                            pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_e)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    texts = _doc_texts(rng, n_d)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(5, n_d, p=[.4, .15, .15, .15,
                                                        .15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_v)
    vecs = rng.normal(size=(n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

