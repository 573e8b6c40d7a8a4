"""What every workload shares: the run context, operation accounting and
the lake-table helpers the correctness checks use."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import env, stats
from perfbench.trace import Tracer


@dataclass
class Run:
    """One benchmark invocation."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    tracer: Tracer = None
    attempted: int = 0
    failed: int = 0
    # timed samples by operation name, in seconds
    samples: dict = field(default_factory=dict)
    # setup phases in seconds
    setup: dict = field(default_factory=dict)
    # input properties and other facts printed in the report
    facts: dict = field(default_factory=dict)
    # work completed per second of measured wall time
    throughput: float = 0.0
    # per-layer metrics filled in by the workload (traced run)
    layer: dict = field(default_factory=dict)
    watermark_dir: str | None = None

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, name: str):
        """Count one attempted operation; an exception counts it as failed
        (traceback on stderr) and is swallowed so the run goes on."""
        return _Op(self, name)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a wrong result counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] incorrect: {what}", file=sys.stderr, flush=True)
        return ok

    def timed_setup(self, name: str):
        return _Phase(self.setup, name)


class _Op:
    def __init__(self, run: Run, name: str):
        self.run = run
        self.name = name
        self.ok = False

    def __enter__(self):
        self.run.attempted += 1
        return self

    def __exit__(self, et, ev, tb):
        if et is None:
            self.ok = True
            return False
        if not issubclass(et, Exception):
            return False
        self.run.failed += 1
        print(f"[perfbench] {self.name} failed:", file=sys.stderr)
        traceback.print_exception(et, ev, tb, file=sys.stderr)
        return True


class _Phase:
    def __init__(self, into: dict, name: str):
        self.into = into
        self.name = name

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.into[self.name] = self.into.get(self.name, 0.0) + (
            time.perf_counter() - self.t0
        )
        return False


# The session is started this many times (each but the last is stopped
# again) and the median start time counts in set-up: one JVM launch on a
# shared host is too noisy a figure on its own.
SESSION_STARTS = 3


def start_session(run: Run) -> None:
    times = []
    for i in range(SESSION_STARTS):
        t0 = time.perf_counter()
        spark = env.start_spark(run.work, f"perfbench-{run.workload}", run.trace)
        times.append(time.perf_counter() - t0)
        if i < SESSION_STARTS - 1:
            env.stop_spark(spark)
    run.spark = spark
    run.setup["session.start"] = statistics.median(times)
    run.facts["session_starts_s"] = [round(t, 3) for t in times]
    run.tracer = Tracer(run.spark, run.trace)


def live_files(lake) -> dict[str, dict]:
    """The table's live file entries, replayed from its public commit log."""
    live: dict[str, dict] = {}
    for c in lake.commits():
        for p in c.removed:
            live.pop(p, None)
        for a in c.added:
            live[a["path"]] = a
    return live


def table_state(lake) -> tuple[dict, int]:
    """Read cost against write cost against space: live files, the worst
    bucket's file count, log length and stored bytes per live row; and the
    live row count (the last ratio's base)."""
    live = live_files(lake)
    per_bucket: dict = {}
    nbytes = rows = 0
    for a in live.values():
        k = (a.get("scheme"), a["bucket"])
        per_bucket[k] = per_bucket.get(k, 0) + 1
        rows += a.get("rows", 0)
        nbytes += os.path.getsize(os.path.join(lake.root, "data", a["path"]))
    return {
        "lake.live_files": len(live),
        "lake.max_files_per_bucket": max(per_bucket.values(), default=0),
        "lake.log_versions": lake.latest_version() + 1,
        "lake.bytes_per_event": nbytes / rows if rows else 0.0,
    }, rows


def hottest_bucket_share(commit) -> float:
    rows: dict = {}
    for a in commit.added:
        rows[a["bucket"]] = rows.get(a["bucket"], 0) + a.get("rows", 0)
    total = sum(rows.values())
    return max(rows.values()) / total if total else 0.0


# Count and order-independent checksum of (conv_id, turn_idx, ts, text)
# rows: the sum of each row's md5 prefix. ``ts_ms`` is epoch milliseconds.
CHECKSUM_SQL = """
SELECT count(*), coalesce(sum(('0x' || substr(md5(conv_id || '|'
       || CAST(turn_idx AS VARCHAR) || '|' || CAST(ts_ms AS VARCHAR) || '|'
       || text), 1, 8))::BIGINT), 0)
FROM oracle
"""


def spark_checksum(df) -> tuple[int, int]:
    """``CHECKSUM_SQL`` over a Spark frame with a timestamp ``ts``."""
    from pyspark.sql import functions as F

    s = F.concat_ws(
        "|", "conv_id", F.col("turn_idx").cast("string"),
        F.unix_millis("ts").cast("string"), "text",
    )
    h = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def oracle_checksum(table) -> tuple[int, int]:
    import duckdb

    con = duckdb.connect()
    try:
        con.register("oracle", table)
        n, h = con.execute(CHECKSUM_SQL).fetchone()
    finally:
        con.close()
    return int(n), int(h)
