"""Python UDF time from ``spark.sql.pyspark.udf.profiler=perf``.

After each round the benchmark dumps the session's perf profiles (one
pstats file per UDF) and clears them. A UDF's time is the cumulative time
of its outermost function, summed over every task that ran it; Arrow (de)serialization around the call is not included.
The UDF is grouped by the module that defines that function.
"""

from __future__ import annotations

import glob
import os
import pstats

# the profiles name files by base name only
GROUPS = {"extract.py": "extract", "canon.py": "canon", "dedup.py": "dedup"}
NAMES = (*GROUPS.values(), "other")


def classify(stats_table: dict) -> tuple[str, float]:
    """(group, seconds) for one UDF's ``pstats.Stats.stats`` table: the
    entry with the largest cumulative time is the UDF function itself."""
    if not stats_table:
        return "other", 0.0
    (fname, _line, _func), (_cc, _nc, _tt, ct, _callers) = max(
        stats_table.items(), key=lambda kv: kv[1][3])
    return GROUPS.get(os.path.basename(fname), "other"), ct


def collect(spark, out_dir: str) -> dict[str, float]:
    """Dump and clear the session's perf profiles; seconds per group."""
    os.makedirs(out_dir, exist_ok=True)
    spark.profile.dump(out_dir, type="perf")
    spark.profile.clear(type="perf")
    totals = dict.fromkeys(NAMES, 0.0)
    for path in glob.glob(os.path.join(out_dir, "*.pstats")):
        group, seconds = classify(pstats.Stats(path).stats)
        totals[group] += seconds
    return totals
