"""``cdc_tail``: steady-state tailing with reads beside writes on one table.

A few hundred tracked JSONL files are bulk-loaded in set-up; most then sit
at eof. Each trigger the benchmark appends a fixed chunk of later-ts
updates (a small share are deletes, a few are new turns) to a growing
subset, now and then rotates in a new file, and runs ``run_once()``. It
then looks up keys it just wrote (``read_key``), checking the new text is
visible, and counts the newest window with ``read_range``. Every ``CYCLE``
triggers it refreshes an ``IncrementalRollup``, then compacts the most
fragmented buckets and vacuums. Closed loop, one caller.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

from perfbench import common, gen, layers

N_FILES = 240  # tracked files
N_CONVS = 6_000
# the trigger of the sizing measurement: 16 files x 2k appended lines
GROWING = 16  # files appended to each trigger
LINES = 2_000  # lines appended per growing file per trigger
DELETE_SHARE = 0.05
NEW_TURN_SHARE = 0.05
ROTATE_EVERY = 4  # a new file every N triggers
ROTATE_CONVS = 40
CYCLE = 3  # triggers between MV refreshes and between maintenance passes
WARM_TRIGGERS = 3
CYCLE_S = 15.0  # --seconds per cycle; a cycle takes about 10 s on 4 cores
WINDOW_MS = 3_600_000  # each trigger's events fall in their own hour
N_BUCKETS = 16  # IngestConfig's default


class Tail:
    """The growing input and its oracle."""

    def __init__(self, rng: np.random.Generator, src: str):
        self.rng = rng
        self.src = src
        ev, turns = gen.initial_events(rng, N_CONVS, 10.0, 1.5, 0.01)
        self.turns = turns.copy()  # next new-turn index per conversation
        self.file_of_conv = np.arange(N_CONVS) % N_FILES
        self.nbytes = gen.write_files(src, ev, self.file_of_conv, "f-")
        self.parts = [ev]
        self.n_files = N_FILES
        self.t0 = int(ev.ts_ms.max()) + 1
        self.growing = rng.choice(N_FILES, GROWING, replace=False)
        self.trigger = 0

    def append(self) -> gen.Events:
        """Append one trigger's chunk; returns the chunk's events."""
        rng = self.rng
        i = self.trigger
        self.trigger += 1
        parts = []
        for f in self.growing:
            convs = np.arange(f, N_CONVS, N_FILES)
            c = rng.choice(convs, LINES)
            turn = rng.integers(0, self.turns[c])
            new = rng.random(LINES) < NEW_TURN_SHARE
            for j in np.flatnonzero(new):
                turn[j] = self.turns[c[j]]
                self.turns[c[j]] += 1
            dele = (rng.random(LINES) < DELETE_SHARE) & ~new
            parts.append((f, c, turn, dele))
        n = sum(len(p[1]) for p in parts)
        n_rot = 0
        if ROTATE_EVERY and i % ROTATE_EVERY == ROTATE_EVERY - 1:
            rot, rturns = gen.initial_events(
                rng, ROTATE_CONVS, 10.0, 1.0, 0.0, conv_offset=len(self.turns)
            )
            self.turns = np.concatenate([self.turns, rturns])
            self.file_of_conv = np.concatenate(
                [self.file_of_conv, np.full(ROTATE_CONVS, self.n_files)]
            )
            n_rot = len(rot)
        # every event of the chunk gets a distinct ts inside this trigger's
        # hour, later than anything written before
        ts = self.t0 + i * WINDOW_MS + np.sort(
            rng.choice(WINDOW_MS, n + n_rot, replace=False)
        )
        perm = rng.permutation(n + n_rot)
        ts = ts[perm]
        out = []
        pos = 0
        for f, c, turn, dele in parts:
            k = len(c)
            # the version label in the text names the trigger that wrote it
            e = gen.Events(
                c.astype(np.int64), turn.astype(np.int64),
                np.full(k, 1000 + i, dtype=np.int64), dele,
                ts[pos : pos + k], rng.integers(0, len(gen.VOCAB), k),
            )
            pos += k
            e = e.take(np.argsort(e.ts_ms, kind="stable"))
            self.nbytes += gen.write_lines(
                os.path.join(self.src, f"f-{f:04d}.jsonl"), e, "ab"
            )
            out.append(e)
        if n_rot:
            rot = gen.Events(
                rot.conv, rot.turn, rot.ver, rot.delete,
                np.sort(ts[pos:]), rot.payload,
            )
            self.nbytes += gen.write_lines(
                os.path.join(self.src, f"f-{self.n_files:04d}.jsonl"), rot
            )
            self.n_files += 1
            out.append(rot)
        chunk = gen.Events.concat(out)
        self.parts.append(chunk)
        return chunk

    def all_events(self) -> gen.Events:
        return gen.Events.concat(self.parts)


def probes(chunk: gen.Events, rng) -> list[tuple[int, int, str | None]]:
    """(conv, turn, expected text, or None for a deleted key): one key the
    chunk upserted last and one it deleted last."""
    last = gen.latest(chunk)
    out = []
    for want_deleted in (False, True):
        pick = last[chunk.delete[last] == want_deleted]
        if len(pick):
            i = int(rng.choice(pick))
            text = None if want_deleted else gen.text_of(chunk, i)
            out.append((int(chunk.conv[i]), int(chunk.turn[i]), text))
    return out


MV_ORACLE_SQL = """
SELECT count(*), sum(n_turns), sum(text_len),
       sum(('0x' || substr(md5(conv_id || '|' || CAST(n_turns AS VARCHAR)
            || '|' || CAST(text_len AS VARCHAR)), 1, 8))::BIGINT)
FROM (SELECT conv_id, count(*) AS n_turns, sum(length(text)) AS text_len
      FROM oracle GROUP BY conv_id)
"""


def final_checks(r: common.Run, lake, mv, tail: Tail) -> None:
    """The table and the MV against a recompute from every event written."""
    import duckdb
    from pyspark.sql import functions as F

    want = gen.oracle_table(tail.all_events())
    with r.op("final_read"):
        got = common.spark_checksum(lake.read())
        r.check(got == common.oracle_checksum(want), f"final table {got}")
    with r.op("mv_read"):
        mv.refresh()
        con = duckdb.connect()
        try:
            con.register("oracle", want)
            exp = tuple(int(x) for x in con.execute(MV_ORACLE_SQL).fetchone())
        finally:
            con.close()
        s = F.concat_ws(
            "|", "conv_id", F.col("n_turns").cast("string"),
            F.col("text_len").cast("string"),
        )
        row = mv.read().agg(
            F.count(F.lit(1)), F.sum("n_turns"), F.sum("text_len"),
            F.sum(F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")),
        ).collect()[0]
        got = tuple(int(x or 0) for x in row)
        r.check(got == exp, f"MV {got} != {exp}")


def window_count(chunk: gen.Events) -> int:
    """read_range over exactly this chunk's window: keys whose latest
    in-window event is an upsert."""
    return len(gen.lww_winners(chunk))


def trigger(r: common.Run, eng, tail: Tail, rng, commit_s: list) -> int:
    """One trigger: append, commit, look up, range-read. Returns the
    number of events committed."""
    lake = eng.lake
    chunk = tail.append()
    t0 = time.perf_counter()
    with r.op("run_once") as op:
        res = eng.run_once()
    dt = time.perf_counter() - t0
    if not op.ok:
        return 0
    commit_s.append(dt)
    r.check(res.n_events == len(chunk), f"trigger: {res.n_events} events, expected {len(chunk)}")
    for conv, turn, want in probes(chunk, rng):
        t0 = time.perf_counter()
        with r.op("read_key") as op, r.tracer.span("read_key"):
            rows = lake.read_key(gen.conv_id(conv)).collect()
        r.sample("read_key", time.perf_counter() - t0)
        if op.ok:
            got = [x["text"] for x in rows if x["turn_idx"] == turn]
            r.check(
                got == ([want] if want is not None else []),
                f"read_key {gen.conv_id(conv)}/{turn}: {got} != {want}",
            )
    lo = tail.t0 + (tail.trigger - 1) * WINDOW_MS
    ts_from = np.datetime64(lo, "ms").astype(object)
    ts_to = np.datetime64(lo + WINDOW_MS, "ms").astype(object)
    files = len(lake.files_in_range(ts_from, ts_to)) if r.trace else 0
    t0 = time.perf_counter()
    with r.op("read_range") as op, r.tracer.span("read_range", files=files):
        cnt = lake.read_range(ts_from, ts_to).count()
    r.sample("read_range", time.perf_counter() - t0)
    if op.ok:
        want_n = window_count(chunk)
        r.check(cnt == want_n, f"read_range: {cnt} != {want_n}")
    return res.n_events


def run(r: common.Run) -> None:
    from pyspark.sql import functions as F

    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    rng = np.random.default_rng(r.seed)
    src = os.path.join(r.work, "src")
    with r.timed_setup("input.generate"):
        tail = Tail(rng, src)
    os.sync()
    common.start_session(r)
    layers.install(r.tracer)
    cfg = IngestConfig(
        uris=[src], regexp=r"f-\d+\.jsonl$",
        table_root=os.path.join(r.work, "table"),
        checkpoint_root=os.path.join(r.work, "ckpt"),
        fmt="jsonl", schema=CHANGE_EVENT_SCHEMA, n_buckets=N_BUCKETS,
        compact_every=0,
    )
    aggs = {"n_turns": F.count(F.lit(1)), "text_len": F.sum(F.length("text"))}
    with r.timed_setup("session.warm"):
        eng = IngestEngine(r.spark, cfg)
        first = eng.run_once()  # bulk load: every file new at offset 0
        mv = IncrementalRollup(
            eng.lake, os.path.join(r.work, "mv"), ["conv_id"], aggs,
            n_buckets=N_BUCKETS,
        )
        mv.refresh()
        # the first tail trigger spawns the line scanner's Python workers;
        # the next ones warm the JIT on the trigger and read paths
        for _ in range(WARM_TRIGGERS):
            trigger(r, eng, tail, rng, [])
        r.samples.clear()
    # flush dirty pages outside every timed window, set-up included:
    # writeback landing inside a later timed window shows up as a stall
    os.sync()
    r.facts["initial_events"] = first.n_events
    hottest = common.hottest_bucket_share(eng.lake.commits()[0])
    r.tracer.reset()

    lake = eng.lake
    commit_s: list[float] = []
    events = 0
    t_start = time.perf_counter()
    n = 0
    # a fixed number of whole cycles for a given --seconds: every run does
    # the same work, so its samples sit at the same points of what is left
    # of the JVM's warm-up curve
    cycles = max(1, math.ceil(r.seconds / CYCLE_S))
    for _ in range(cycles):
        for _ in range(CYCLE):
            n += 1
            events += trigger(r, eng, tail, rng, commit_s)
        t0 = time.perf_counter()
        with r.op("mv_refresh"):
            mv.refresh()
        r.sample("mv_refresh", time.perf_counter() - t0)
        t0 = time.perf_counter()
        with r.op("maintenance"):
            lake.compact(min_files_per_bucket=4, max_buckets=4)
            # keep every file the MV has not consumed yet: its next
            # refresh reads the change files of (refreshed, head]
            keep = lake.latest_version() - mv.refreshed_version() + 1
            lake.vacuum(retain_versions=keep, min_age_seconds=0)
        r.sample("maintenance", time.perf_counter() - t0)
    wall = time.perf_counter() - t_start
    r.tracer.stop()
    r.samples["op"] = commit_s
    r.facts["cycles"] = cycles
    r.facts["triggers"] = n
    r.facts["events_per_trigger"] = events / max(len(commit_s), 1)
    r.facts["loop_wall_s"] = wall
    r.throughput = events / wall
    r.facts["input"] = gen.properties(tail.all_events(), tail.n_files, tail.nbytes)
    r.facts["input"]["hottest_bucket_share"] = round(hottest, 4)

    final_checks(r, lake, mv, tail)
    if r.trace:
        state, rows = common.table_state(lake)
        r.layer.update(state)
        r.facts["lake.bytes_per_event base"] = f"{rows} live rows"
        r.watermark_dir = os.path.join(cfg.checkpoint_root, "watermarks")
