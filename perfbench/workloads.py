"""The workloads. Each returns a dict with its measured timings, the
oracle-check tally and whatever the traced run needs to reduce spans.

Keys every workload returns: ``build_s``, ``generate_s``, ``warmup_s``,
``walls`` (timed step wall times), ``attempted`` and ``failed``. The crawl
adds ``timed_rounds``, ``urls``, ``resume_s``, ``stored_bytes_per_url``,
``pages`` and the useful-work ratios; the queries add ``per_query``."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import inputs

SETUP_REPEATS = 3          # set-up is repeated and its median reported
# round 0 runs cold (JIT, first Python workers) and counts as set-up; the
# kill follows it and the resumed engine runs round 1, the one timed round
# (a second timed round would add about 12 s to every run)
SEEDED_TIMED = (1, 2)

# one query per operators/ module the query layer uses, plus the crawl-side
# planning queries; each extra query adds its cold compile to every run
QUERY_SET = (
    "seen_anti_join", "next_round_plan", "dedup_simhash", "ann_cosine_topk",
    "link_pagerank", "readability_scores", "crawl_delta",
    "cms_heavy_hitters", "multimodal_decode_stats",
)
# operators/ module each query's work lives in (None: plain DataFrame code)
QUERY_MODULE = {
    "seen_anti_join": None, "next_round_plan": "schedule",
    "dedup_simhash": "dedup", "ann_cosine_topk": "similarity",
    "link_pagerank": "graph", "readability_scores": "textstats",
    "crawl_delta": "diff", "cms_heavy_hitters": "sketch",
    "multimodal_decode_stats": "multimodal",
}
ORACLE_TABLES = ("customer", "orders", "events", "documents", "embeddings")
# oracle checks per run: crawl order, texts, URL-seen set and domain events
# for the crawl, one per query for the queries; a run that crashes is
# charged with all of them
CHECKS = {"crawl_seeded": 4, "corpus_queries": len(QUERY_SET)}


class Ctx:
    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir


def _median_setup(build):
    """Run ``build`` SETUP_REPEATS times; keep the last product, return it
    with the median wall time. ``build(i)`` returns (product, dispose)."""
    times, product, dispose = [], None, None
    for i in range(SETUP_REPEATS):
        if dispose is not None:
            dispose()
        t0 = time.perf_counter()
        product, dispose = build(i)
        times.append(time.perf_counter() - t0)
    return product, statistics.median(times)


def _step(eng, walls: list):
    t0 = time.perf_counter()
    eng.step()
    walls.append(time.perf_counter() - t0)


def _urls_by_round(eng) -> dict:
    out: dict = {}
    for m in eng.metrics:
        out[m["round"]] = out.get(m["round"], 0) + m["scheduled"]
    return out


def _crawl_ratios(eng) -> dict:
    scheduled = sum(m["scheduled"] for m in eng.metrics)
    internal = sum(m["internal_links"] for m in eng.metrics)
    seen_rows = (eng.t_seen.current_snapshot() or {}).get("rows") or 0
    return {"fetch_hit_ratio": sum(m["fetched_200"] for m in eng.metrics)
            / max(1, scheduled),
            "new_url_ratio": seen_rows / max(1, internal)}


def _stored_bytes(warehouse: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(warehouse) for f in fs)


# ---------------------------------------------------------------------------
# crawl_seeded
# ---------------------------------------------------------------------------

def crawl_seeded(ctx: Ctx) -> dict:
    from disco_crawl_spark import refsim
    from disco_crawl_spark.engine import CrawlEngine

    spark = ctx.spark
    cfg = refsim.SimConfig(steward_batch=inputs.SEEDED_STEWARD_BATCH)
    state: dict = {}

    def build(i):
        t0 = time.perf_counter()
        c = inputs.seeded_corpus(ctx.seed)
        state["generate_s"] = time.perf_counter() - t0
        wh = os.path.join(ctx.work_dir, f"warehouse{i}")
        pages = inputs.pages_frame(spark, c)
        eng = CrawlEngine(spark, pages, c.robots, c.hosts, wh, config=cfg,
                          seeds=c.seeds)
        state.update(corpus=c, warehouse=wh, pages=pages)

        def dispose():
            eng.pages.unpersist()
            shutil.rmtree(wh, ignore_errors=True)
        return eng, dispose

    eng, build_s = _median_setup(build)
    c, wh, pages = state["corpus"], state["warehouse"], state["pages"]
    first, last = SEEDED_TIMED
    warm: list = []
    while eng.round_no < first:
        _step(eng, warm)
    walls: list = []
    # simulated kill: the loop stops calling step(); nothing is flushed
    del eng
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    eng = CrawlEngine.resume(spark, pages, c.robots, c.hosts, wh, config=cfg)
    _step(eng, walls)
    resume_s = time.perf_counter() - t0
    urls = _urls_by_round(eng)

    # oracle: the simulator over the same corpus and rounds
    sim = refsim.Simulator(c, refsim.SimConfig(
        steward_batch=inputs.SEEDED_STEWARD_BATCH,
        max_rounds=last)).run()
    order_e = eng.crawl_order()
    texts_e = eng.texts()
    seen_s = {(g, k) for g, ks in sim.url_seen.items() for k in ks}
    checks = (
        list(sim.order) == list(order_e),
        all(texts_e.get(u, "").encode() == t.encode()
            for u, t in sim.texts.items()),
        seen_s == eng.url_seen_set(),
        set(sim.events) == set(eng.events),
    )
    assert len(checks) == CHECKS["crawl_seeded"]
    out = {
        "build_s": build_s, "generate_s": state["generate_s"],
        "warmup_s": sum(warm), "walls": walls,
        "attempted": len(checks), "failed": checks.count(False),
        "timed_rounds": SEEDED_TIMED,
        "urls": sum(urls.get(r, 0) for r in range(first, last)),
        "resume_s": resume_s,
        "stored_bytes_per_url": _stored_bytes(wh) / max(1, len(order_e)),
        "pages": pages,
    }
    out.update(_crawl_ratios(eng))
    return out


# ---------------------------------------------------------------------------
# corpus_queries
# ---------------------------------------------------------------------------

def _canon(v):
    """Value canonicalization of the repo's query-vs-oracle tests."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def corpus_queries(ctx: Ctx) -> dict:
    import duckdb

    from disco_crawl_spark import queries as q

    spark = ctx.spark
    data_dir = os.path.join(ctx.work_dir, "tables")
    qs, oracle = q.queries(), q.oracle_sql()

    def build(i):
        shutil.rmtree(data_dir, ignore_errors=True)
        inputs.query_tables(ctx.seed, data_dir)
        return None, None

    _, build_s = _median_setup(build)

    # first, cold pass: collects every result for the oracle check; the
    # queries' first compiles are independent, so they run side by side
    def collect(n):
        df = qs[n](spark, data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = dict(zip(QUERY_SET, pool.map(collect, QUERY_SET)))
    warmup_s = time.perf_counter() - t0

    # one warm pass is timed; a second would add about 13 s to every run
    per_query = {}
    for n in QUERY_SET:
        s = time.perf_counter()
        # the noop sink computes every column, unlike .count()
        qs[n](spark, data_dir).write.format("noop").mode("overwrite").save()
        per_query[n] = time.perf_counter() - s

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    failed = 0
    for n in QUERY_SET:
        cols, rows = results[n]
        res = con.execute(oracle[n])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if (sorted(cols) != sorted(dcols)
                or _rowset(cols, rows) != _rowset(dcols, drows)):
            failed += 1
    con.close()
    return {
        "build_s": build_s, "generate_s": build_s, "warmup_s": warmup_s,
        "walls": [sum(per_query.values())], "attempted": len(QUERY_SET),
        "failed": failed,
        "per_query": per_query,
    }


WORKLOADS = {"crawl_seeded": crawl_seeded, "corpus_queries": corpus_queries}
