"""The crawl workloads: set up a crawl, run rounds for the measuring
window, check every committed round, report the metrics.

The benchmark calls only the engine's public functions:
``session.get_spark``, ``plans.round.prepare_pages`` / ``init_crawl`` /
``run_round`` and ``sources.tables.TableStore``. One run is one process:
a session, the set-up (``prepare_pages`` plus ``init_crawl`` into a fresh
store), then timed rounds from round 1 on, until their wall time reaches
``--seconds`` or the corpus-sized round cap is hit.

A traced run first runs round 1 untraced as a warm-up, then runs every
timed round twice from the same committed state: untraced on the crawl's
store and traced on a copy of it, in alternating order. The traced
executions give the per-layer figures; each pair gives one sample of the
tracing overhead, free of the drift between runs and of the first
round's one-off costs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from webscraper_spark.functions.canon import canonicalize_url
from webscraper_spark.plans.round import init_crawl, prepare_pages, run_round
from webscraper_spark.session import get_spark
from webscraper_spark.sources.tables import TableStore

from . import checks, corpus, eventlog, layers, procmem, spans, stats, udfprof

BYTES_WINDOW = 1  # store bytes are taken over rounds 0..BYTES_WINDOW
ROUND_DEADLINE_S = 120.0  # no round starts later than this into the run
PROFILER = "spark.sql.pyspark.udf.profiler"
E2E_UNITS = {
    "setup_s": "s",
    "crawl.pages_per_s": "pages/s",
    "crawl.round_s.p50": "s",
    "crawl.store_bytes_per_page": "B/page",
}


def cores() -> int:
    """Spark's task slots: half the CPUs. Each busy slot also keeps a
    Python worker and the JVM's compiler and GC threads busy, so
    ``local[nproc]`` asks for more CPU than the machine has and the
    round times then measure the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass(frozen=True)
class CrawlSpec:
    name: str
    why: str
    corpus: dict
    budget: int
    recrawl_per_round: int
    max_rounds: int


WORKLOADS = {
    "crawl_bulk": CrawlSpec(
        name="crawl_bulk",
        why="every url seeded, 72 equal hosts x 130 pages: 9k-page rounds that "
            "carry the most per-page work (fetch join, extract, canon, Bloom "
            "probe, fetched write)",
        corpus=dict(n_urls=36_000, n_hosts=72, zipf_s=0.0, seed_frac=1.0),
        budget=130,
        recrawl_per_round=0,
        # ~500 urls a host: every host still fills its budget in round 3
        max_rounds=3,
    ),
    "crawl_trickle": CrawlSpec(
        name="crawl_trickle",
        why="5% seeds, budget 3 per Zipf host, 20 forced recrawls a round "
            "(cuckoo path): ~200-page rounds where the fixed per-round cost dominates",
        corpus=dict(n_urls=20_000, n_hosts=100, seed_frac=0.05),
        budget=3,
        recrawl_per_round=20,
        max_rounds=12,
    ),
}


def recrawl_batch(spec: CrawlSpec, seed: int, round_no: int,
                  seed_urls: list[str]) -> list[str] | None:
    """The forced recrawls of one round: a seeded draw from the seed list."""
    if not spec.recrawl_per_round:
        return None
    rng = np.random.default_rng([seed, round_no])
    idx = rng.choice(len(seed_urls), size=spec.recrawl_per_round, replace=False)
    return [seed_urls[i] for i in sorted(idx)]


def spark_conf(work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def shutdown(spark) -> None:
    """Stop the session, end the JVM (and with it the Python workers) and
    wait until every process this run started has exited."""
    from pyspark import SparkContext

    started = procmem.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


def _load_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _save_json(path: str, data: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _lineage_record(lineage: dict) -> dict:
    return {k: v for k, v in lineage.items() if k not in ("elapsed_sec", "eta_sec")}


def _crawl(spec: CrawlSpec, seed: int, seconds: int, trace: bool, work: str,
           cdir: str, run_dir: str, seed_urls: list[str], tracer: spans.Tracer,
           t_run: float, log) -> tuple[str | None, str | None, list[dict], set[int]]:
    """Session, set-up and rounds; always ends the JVM.
    Returns the store the reported rounds committed to, its untraced twin
    in a traced run, the finished rounds and the rounds that raised."""
    rounds: list[dict] = []
    raised: set[int] = set()
    spark = None
    store_root = twin_root = None
    try:
        with tracer.span("session.start"):
            spark = get_spark(
                app_name=f"perfbench-{spec.name}",
                cores=cores(),
                extra_conf=spark_conf(
                    work, os.path.join(run_dir, "eventlog") if trace else None),
            )
        pages = spark.read.parquet(os.path.join(cdir, "pages.parquet"))
        seeds = spark.read.parquet(os.path.join(cdir, "seeds.parquet"))
        hosts = spark.read.parquet(os.path.join(cdir, "hosts.parquet"))
        store_root = os.path.join(run_dir, "store")
        with tracer.span("setup"):
            with tracer.span("setup.prepare"):
                pages_latest = prepare_pages(pages).persist()
                pages_latest.count()
            with tracer.span("setup.init"):
                store = TableStore(spark, store_root)
                init_crawl(store, seeds, hosts)

        def one_round(st: TableStore, r: int, urls, traced: bool) -> dict:
            recrawl = (
                spark.createDataFrame([(u,) for u in urls], "url string") if urls else None
            )
            with contextlib.ExitStack() as stack:
                if traced:
                    stack.enter_context(spans.instrument(tracer))
                    tracer.tag_jobs(spark.sparkContext)
                    spark.conf.set(PROFILER, "perf")
                name = "round.untraced" if trace and not traced else "round"
                with tracer.span(name, round_no=r) as sp:
                    lineage = run_round(
                        st, pages_latest, r, per_host_budget=spec.budget, recrawl=recrawl)
            py = None
            if traced:
                tracer.tag_jobs(None)
                spark.conf.unset(PROFILER)
                py = udfprof.collect(spark, os.path.join(run_dir, "prof", str(r)))
            return {"round": r, "wall": sp["end"] - sp["start"], "lineage": lineage,
                    "recrawl": urls, "py": py}

        warm_up = 1 if trace else 0  # rounds run before the timed ones
        twin = None
        timed_s = 0.0
        for r in range(1, spec.max_rounds + 1):
            if timed_s >= seconds:
                break
            if time.perf_counter() - t_run > ROUND_DEADLINE_S:
                print(f"round deadline reached before round {r}", file=log)
                break
            urls = recrawl_batch(spec, seed, r, seed_urls)
            try:
                if r <= warm_up or not trace:
                    rec = one_round(store, r, urls, traced=False)
                else:
                    pair = [(twin, False), (store, True)]
                    if r % 2:
                        pair.reverse()
                    runs = {traced: one_round(st, r, urls, traced) for st, traced in pair}
                    rec = {**runs[True], "untraced_wall": runs[False]["wall"]}
            except Exception:  # a failed round is counted, not fatal
                traceback.print_exc(file=log)
                raised.add(r)
                break
            rec["timed"] = r > warm_up
            rounds.append(rec)
            if rec["timed"]:
                timed_s += rec["wall"]
            elif trace:
                # the twin continues the crawl untraced from the same state
                twin_root = f"{store_root}-untraced"
                shutil.copytree(store_root, twin_root)
                twin = TableStore(spark, twin_root)
    finally:
        if spark is not None:
            shutdown(spark)
    return store_root, twin_root, rounds, raised


def _check(spec: CrawlSpec, seed: int, truth: checks.CorpusTruth, store_root: str,
           twin_root: str | None, rounds: list[dict], work: str, record: bool,
           log) -> set[int]:
    """Check every committed round; the rounds that failed a check."""
    problems: list[str] = []
    checker = checks.CrawlChecker(truth, spec.budget)
    got = {}
    for x in rounds:
        r = x["round"]
        problems += checker.check_round(store_root, r, x["lineage"], x["recrawl"])
        got[str(r)] = {
            "lineage": _lineage_record(x["lineage"]),
            "fingerprints": checks.round_fingerprints(store_root, r),
        }
        if twin_root and checks.round_fingerprints(twin_root, r) != got[str(r)]["fingerprints"]:
            problems.append(f"round {r}: the traced and untraced executions differ")
    all_expected = _load_json(EXPECTED)
    expected = all_expected.get(spec.name, {}).get(str(seed))
    if expected and not record:
        problems += checks.compare_rounds("the recorded expected values", got, expected)
    cname = os.path.basename(corpus.corpus_dir(work, spec.name, spec.corpus, seed))
    det_path = os.path.join(
        work, "fingerprints", f"{cname}-b{spec.budget}-r{spec.recrawl_per_round}.json")
    earlier = _load_json(det_path)
    problems += checks.compare_rounds("an earlier run of this seed", got, earlier)
    _save_json(det_path, {**earlier, **got})
    if record and not problems:
        all_expected.setdefault(spec.name, {})[str(seed)] = got
        _save_json(EXPECTED, all_expected)
        print(f"recorded {len(got)} rounds as expected values of seed {seed}", file=log)
    failed = set()
    for p in problems:
        print(f"CHECK FAILED {p}", file=log)
        r = checks.round_of(p)
        failed.add(r if r is not None else max([0] + [x["round"] for x in rounds]))
    return failed


def _end_to_end(tracer: spans.Tracer, rounds: list[dict], store_root: str) -> dict:
    timed = [x for x in rounds if x["timed"]]
    walls = [x["wall"] for x in timed]
    session = tracer.named("session.start")[0]
    setup = tracer.named("setup")
    window = [r for r in range(BYTES_WINDOW + 1) if r <= len(rounds)]
    store_bytes, _ = checks.store_usage(store_root, window)
    window_pages = sum(x["lineage"]["fetched"] for x in rounds if x["round"] in window)
    metrics: dict[str, float] = {}
    if setup:
        metrics["setup_s"] = (session["end"] - session["start"]
                              + setup[0]["end"] - setup[0]["start"])
    if walls:
        metrics["crawl.pages_per_s"] = sum(x["lineage"]["fetched"] for x in timed) / sum(walls)
        metrics["crawl.round_s.p50"] = statistics.median(walls)
    if window_pages:
        metrics["crawl.store_bytes_per_page"] = store_bytes / window_pages
    return metrics


def run(spec: CrawlSpec, seed: int, seconds: int, trace: bool, work: str, log,
        record: bool = False) -> dict:
    """One run of ``spec``. With ``record``, a clean run's per-round
    lineage and fingerprints become the seed's expected values in
    ``expected.json`` instead of being checked against them."""
    t_run = time.perf_counter()
    cdir, gen_s = corpus.ensure(work, spec.name, spec.corpus, seed)
    truth = checks.CorpusTruth(cdir)
    # recrawl candidates: seeds the corpus holds (not the one meant to miss)
    seed_urls = sorted(
        u for u in pq.read_table(os.path.join(cdir, "seeds.parquet"), columns=["url"])
        .column("url").to_pylist()
        if canonicalize_url(u) in truth.newest.index
    )
    run_dir = os.path.join(work, "runs", f"{spec.name}-s{seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "eventlog"))

    tracer = spans.Tracer()
    mem = procmem.PeakMemory().start()
    t_crawl = time.perf_counter()
    try:
        store_root, twin_root, rounds, failed = _crawl(
            spec, seed, seconds, trace, work, cdir, run_dir, seed_urls, tracer, t_run, log)
    finally:
        mem.stop()
    attempted = len(rounds) + len(failed)
    t_check = time.perf_counter()
    failed |= _check(spec, seed, truth, store_root, twin_root, rounds, work, record, log)
    check_s = time.perf_counter() - t_check
    memory = {"mem.peak_rss_mb": mem.peak_rss / (1024 * 1024),
              "mem.peak_pss_mb": mem.peak_pss / (1024 * 1024)}
    timed = [x for x in rounds if x["timed"]]
    walls = [x["wall"] for x in timed]
    summary = {
        "workload": spec.name,
        "seed": seed,
        "gen_s": round(gen_s, 3),
        "before_crawl_s": round(t_crawl - t_run, 3),
        "crawl_s": round(t_check - t_crawl, 3),
        "check_s": round(check_s, 3),
        **{f"{name}_s": round(s["end"] - s["start"], 3)
           for name in ("session.start", "setup") for s in tracer.named(name)},
        "round_walls_s": [round(x["wall"], 3) for x in rounds],
        "round_s": stats.describe(walls) if walls else None,
        "timed_rounds": len(timed),
        "pages_timed": sum(x["lineage"]["fetched"] for x in timed),
        "bloom_mode_used": sorted({x["lineage"].get("bloom_mode_used") for x in rounds}),
        "failed_frac": len(failed) / max(1, attempted),
        **{k: round(v, 1) for k, v in memory.items()},
    }

    if trace:
        log_path = eventlog.find_log(os.path.join(run_dir, "eventlog"))
        ev = eventlog.summarize_file(log_path) if log_path else {"groups": {}, "jobs": []}
        metrics, per_round = layers.per_layer(tracer.spans, ev, rounds, store_root)
        metrics.update(memory)
        summary["span_sum_gap_s"] = max(
            (abs(b["round.self_s"] + b["children_s"] - b["wall_s"]) for b in per_round),
            default=0.0)
        summary["dedup_mode"] = sorted({b["dedup.mode"] for b in per_round})
        out_dir = os.path.join(work, "trace", f"{spec.name}-s{seed}")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, "spans.json"))
        _save_json(os.path.join(out_dir, "layers.json"), {
            "workload": spec.name, "seed": seed, "seconds": seconds,
            "metrics": metrics, "rounds": per_round, "summary": summary,
        })
    else:
        metrics = _end_to_end(tracer, rounds, store_root)
    summary["run_s"] = round(time.perf_counter() - t_run, 3)

    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": not failed and bool(timed),
        "attempted": max(1, attempted),
        "failed": len(failed) if attempted else 1,
        "metrics": metrics,
        "summary": summary,
    }
