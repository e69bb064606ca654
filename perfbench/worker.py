"""One workload run in a fresh interpreter and JVM; started by run.py.

Writes one JSON file: the end-to-end metrics, the oracle-check tally and,
with --trace 1, the per-layer metrics reduced from spans and the Spark
event log. The environment (PYTHONPATH for the Python workers, scratch
and event-log directories) is set by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402


def end_to_end(res: dict, session_s: float) -> dict:
    return {"setup_s": session_s + res["build_s"] + res["warmup_s"],
            "step_p50_s": statistics.median(res["walls"])}


# ---------------------------------------------------------------------------
# standalone layer probes (traced run only)
# ---------------------------------------------------------------------------

def parse_rate(spark, pages, n: int = 2000, repeats: int = 3) -> float:
    """Pages per second of one Spark job that only runs the parse UDF."""
    from pyspark.sql import functions as F

    from disco_crawl_spark import udfs

    sample = (pages.select("url", "html", "redirect_to")
              .orderBy(F.xxhash64("url")).limit(n).localCheckpoint())
    rows = sample.count()
    job = sample.select(udfs.parse_page(
        F.col("html"), F.col("url"), udfs.url_host(F.col("url")),
        F.lit("https"), F.col("redirect_to")).alias("p"))
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        job.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def refsem_us(spark, pages, n: int = 100) -> dict:
    """Median in-process microseconds per page of the two parse kernels."""
    from pyspark.sql import functions as F

    from disco_crawl_spark import refsem

    sample = [(r["url"], bytes(r["html"])) for r in
              pages.select("url", "html").orderBy(F.xxhash64("url"))
              .limit(n).collect()]
    decoded = [(u, b.decode("utf-8", errors="replace")) for u, b in sample]
    out = {}
    for name, call in (
            ("refsem.extract_links_us",
             lambda: [refsem.extract_links(h, u) for u, h in decoded]),
            ("refsem.extract_text_us",
             lambda: [refsem.extract_text(b) for _, b in sample])):
        call()
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / len(sample) * 1e6
    return out


def per_layer(res: dict, session_s: float, tracer, log: dict,
              probes: dict) -> dict:
    lo, hi = res.get("timed_rounds", (0, 0))
    timed = lambda r: lo <= r < hi  # noqa: E731
    n_rounds = max(1, hi - lo)
    steps = [s for s in tracer.steps() if timed(s[0])]
    rounds = tr.per_round(steps, log)
    urls = res.get("urls", 0)

    def per_round_total(name):
        return sum(e - s for n, r, s, e in tracer.spans
                   if n == name and timed(r)) / n_rounds

    def per_round_calls(name):
        return sum(1 for n, r, *_ in tracer.spans
                   if n == name and timed(r)) / n_rounds

    # reads of table history count only where recovery and rounds use them,
    # not in the oracle checks
    windows = [(s, e) for n, _, s, e in tracer.spans
               if n == "engine.resume"] + [(s, e) for _, s, e in steps]

    def windowed_total(name):
        return sum(e - s for n, _, s, e in tracer.spans
                   if n == name and any(a <= s <= b for a, b in windows))

    def per_round_count(key):
        return sum(v for (k, r), v in tracer.counts.items()
                   if k == key and timed(r)) / n_rounds

    inits = [e - s for n, _, s, e in tracer.spans if n == "engine.init"]
    warm = [e - s for r, s, e in tracer.steps() if r < lo]
    m = {
        "session.build_s": session_s,
        "corpus.generate_s": res["generate_s"],
        "engine.init_s": statistics.median(inits) if inits else 0.0,
        "engine.warmup_round_s": tr.mean(warm),
        "engine.resume_s": res.get("resume_s", 0.0),
        "engine.urls_per_round": urls / n_rounds,
        "engine.urls_per_s": urls / sum(res["walls"]),
        "engine.jobs_per_round": tr.mean(r["jobs"] for r in rounds),
        "engine.stages_per_round": tr.mean(r["stages"] for r in rounds),
        "engine.tasks_per_round": tr.mean(r["tasks"] for r in rounds),
        "engine.sched_delay_s_per_round":
            tr.mean(r["sched_delay"] for r in rounds),
        "engine.driver_s_per_round": tr.mean(r["driver"] for r in rounds),
        "engine.task_cpu_s_per_url":
            sum(r["cpu"] for r in rounds) / max(1, urls),
        "engine.shuffle_bytes_per_url":
            sum(r["shuffle"] for r in rounds) / max(1, urls),
        "engine.spill_bytes": sum(r["spill"] for r in rounds),
        "engine.gc_s": sum(r["gc"] for r in rounds),
        "engine.fetch_hit_ratio": res.get("fetch_hit_ratio", 0.0),
        "engine.new_url_ratio": res.get("new_url_ratio", 0.0),
        "lifecycle.pick_domains_s": per_round_total("lifecycle.pick_domains"),
        "lifecycle.start_decision_s":
            per_round_total("lifecycle.start_decision"),
        "lifecycle.start_decision_calls":
            per_round_calls("lifecycle.start_decision"),
        "tables.append_s": per_round_total("tables.append"),
        "tables.append_calls": per_round_count("tables.append_calls"),
        "tables.files_written": per_round_count("tables.files_written"),
        "tables.bytes_written": per_round_count("tables.bytes_written"),
        "tables.commit_state_s": per_round_total("tables.commit_state"),
        "tables.state_bytes": per_round_count("tables.state_bytes"),
        "tables.read_s": windowed_total("tables.read"),
        "tables.history_s": windowed_total("tables.history"),
        "tables.rollback_s": windowed_total("tables.rollback"),
        "tables.stored_bytes_per_url": res.get("stored_bytes_per_url", 0.0),
    }
    m.update(probes)
    per_query = res.get("per_query") or {}
    modules: dict = {}
    for q in wl.QUERY_SET:
        t = per_query.get(q, 0.0)
        m[f"queries.{q}_s"] = t
        mod = wl.QUERY_MODULE[q]
        if mod:
            modules[mod] = modules.get(mod, 0.0) + t
    for mod in sorted(set(filter(None, wl.QUERY_MODULE.values()))):
        m[f"operators.{mod}_s"] = modules.get(mod, 0.0)
    return m


def stop_spark(spark):
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    tracer = None
    if a.trace:
        tracer = tr.Tracer()
        tracer.install()
    from disco_crawl_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench")
    session_s = time.perf_counter() - t0
    res = wl.WORKLOADS[a.workload](
        wl.Ctx(spark, a.seed, a.work_dir))
    print("perfbench:", json.dumps(
        {k: v for k, v in res.items() if k != "pages"}), flush=True)
    out = {"attempted": res["attempted"], "failed": res["failed"],
           "end_to_end": end_to_end(res, session_s)}
    if tracer is not None:
        tracer.uninstall()
        pages = res.get("pages")
        if pages is None:
            pages = inputs.pages_frame(spark, inputs.seeded_corpus(a.seed))
        probes = {"udfs.parse_page_pages_per_s": parse_rate(spark, pages)}
        probes.update(refsem_us(spark, pages))
    stop_spark(spark)
    if tracer is not None:
        out["per_layer"] = per_layer(res, session_s, tracer,
                                     tr.read_event_log(a.event_log), probes)
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
