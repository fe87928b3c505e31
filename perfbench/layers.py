"""Per-layer metrics of a traced crawl run.

Every value is the median over the timed rounds of a per-round figure,
except the ratios, which are taken over the sums of all timed rounds,
and the session and set-up times.
"""

from __future__ import annotations

import statistics

from . import checks, eventlog, stats
from .spans import GROUP_PREFIX

TABLES = ("fetched", "seen", "frontier", "hosts", "metrics", "seen_deletes")

PER_LAYER = (
    ("session.start_s", "s"),
    ("setup.prepare_s", "s"),
    ("setup.init_s", "s"),
    ("round.self_s", "s"),
    ("round.driver_s", "s"),
    ("round.jobs", "count"),
    ("round.tasks", "count"),
    ("round.fetch_hit_ratio", "ratio"),
    ("round.new_per_fetched", "ratio"),
    ("tables.read_s", "s"),
    *((f"tables.write_{t}_s", "s") for t in TABLES),
    ("tables.commit_s", "s"),
    ("tables.bytes_per_round", "B"),
    ("tables.files_per_round", "count"),
    ("dedup.build_s", "s"),
    ("dedup.build_keys", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("py.extract_s", "s"),
    ("py.canon_s", "s"),
    ("py.dedup_s", "s"),
    ("py.other_s", "s"),
    ("mem.peak_rss_mb", "MB"),
    ("mem.peak_pss_mb", "MB"),
    ("trace.overhead_frac", "frac"),
)
UNITS = dict(PER_LAYER)
MB = 1024 * 1024


def _group(span: dict) -> str:
    return f"{GROUP_PREFIX}{span['id']}"


def round_breakdown(spans: list[dict], ev: dict, rnd: dict, store_root: str) -> dict:
    """Per-layer figures of one round from its span subtree."""
    r = rnd["round"]
    top = next(s for s in spans if s["name"] == "round" and s["round"] == r)
    below = stats.descendants(spans, top["id"])
    wall = top["end"] - top["start"]
    self_s = stats.self_times(spans)[top["id"]]
    direct = [s for s in below if s["parent"] == top["id"]]

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in below if s["name"] == name)

    builds = [s for s in below if s["name"] == "dedup.build"]
    allj = eventlog.totals(ev, [_group(s) for s in [top, *below]])
    own = eventlog.totals(ev, [_group(top)])
    busy = stats.union_length([(a, b) for a, b, _ in ev["jobs"]], top["start"], top["end"])
    nbytes, nfiles = checks.store_usage(store_root, [r])
    out = {
        "round": r,
        "wall_s": wall,
        "children_s": sum(s["end"] - s["start"] for s in direct),
        "round.self_s": self_s,
        "round.driver_s": wall - busy,
        "round.jobs": own["jobs"],
        "round.tasks": own["tasks"],
        "tables.read_s": span_s("tables.read"),
        **{f"tables.write_{t}_s": span_s(f"tables.write_{t}") for t in TABLES},
        "tables.commit_s": span_s("tables.commit"),
        "tables.bytes_per_round": nbytes,
        "tables.files_per_round": nfiles,
        "dedup.build_s": span_s("dedup.build"),
        "dedup.mode": builds[0]["mode"] if builds else "none",
        "dedup.build_keys": checks.rows_through(store_root, "seen", r - 1)
        + len(rnd.get("recrawl") or []),
        "spark.jobs": allj["jobs"],
        "spark.stages": allj["stages"],
        "spark.tasks": allj["tasks"],
        "spark.executor_run_s": allj["run_ms"] / 1e3,
        "spark.executor_cpu_s": allj["cpu_ns"] / 1e9,
        "spark.gc_s": allj["gc_ms"] / 1e3,
        "spark.shuffle_read_mb": allj["shuffle_read_bytes"] / MB,
        "spark.shuffle_write_mb": allj["shuffle_write_bytes"] / MB,
        "spark.spill_mb": allj["spill_bytes"] / MB,
        **{f"py.{k}_s": v for k, v in (rnd.get("py") or {}).items()},
        "spans": {
            s["name"]: {
                "s": round(s["end"] - s["start"], 4),
                **eventlog.totals(ev, [_group(s)]),
            }
            for s in direct
        },
    }
    return out


def per_layer(spans: list[dict], ev: dict, rounds: list[dict],
              store_root: str) -> tuple[dict, list[dict]]:
    """(metrics, per-round breakdowns) for the timed rounds of a run."""
    timed = [x for x in rounds if x["timed"]]
    if not timed:
        return {}, []
    per_round = [round_breakdown(spans, ev, x, store_root) for x in timed]
    metrics: dict[str, float] = {}
    for name, _unit in PER_LAYER:
        vals = [b[name] for b in per_round if name in b]
        if vals:
            metrics[name] = float(statistics.median(vals))

    def spans_named(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    metrics["session.start_s"] = spans_named("session.start")[0]
    metrics["setup.prepare_s"] = spans_named("setup.prepare")[0]
    metrics["setup.init_s"] = spans_named("setup.init")[0]
    lin = [x["lineage"] for x in timed]
    fetched = sum(x["fetched"] for x in lin)
    metrics["round.fetch_hit_ratio"] = fetched / max(1, sum(x["scheduled"] for x in lin))
    metrics["round.new_per_fetched"] = sum(x["new_urls"] for x in lin) / max(1, fetched)
    metrics["trace.overhead_frac"] = statistics.median(
        x["wall"] / x["untraced_wall"] for x in timed) - 1.0
    return metrics, per_round
