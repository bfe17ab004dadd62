"""Custom stateful streaming operator: per-key sessionization via
``applyInPandasWithState`` (SURVEY.md §2.8 — the stateful counterpart of
the batch ``events_sessionized`` query).

Semantics: events grouped by ``user_id``; a new session starts when the
gap to the previous event exceeds ``gap_s``.  Events are BUFFERED in
state until the watermark passes them (no on-time event can still arrive
below the watermark), then folded in global (ts) order — so arrival
order across micro-batches does NOT matter as long as lateness stays
within the watermark delay, the same tolerance Spark's own late-row
filter enforces.  A session is EMITTED once the watermark passes
``last_event + gap`` (strict, ms-floored): at that point no on-time
event can extend it (standard session-window emission).  When a key has
neither an open session nor buffered events its state is REMOVED —
bounded state: idle/churned users do not accumulate state forever, and
trailing sessions are not lost (VERDICT r02 item 2).

Timeout semantics (pinned by tests/test_streaming.py boundary test +
tools/probe_timeout_semantics.py): Spark evaluates timeouts per
micro-batch for keys WITHOUT data in that batch, against the batch's
eviction watermark — max event time seen so far (ms, floored) minus the
watermark delay — firing when ``timeout_ts < watermark`` (strict).  An
availableNow drain additionally runs one EXTRA empty micro-batch after
the data, so pending timeouts are evaluated at the FINAL watermark; the
emitted set is therefore file-layout independent: a session is emitted
iff ``last_us + gap`` (ms) < final watermark.  Sessions whose gap window
still overlaps the watermark — including any still-buffered events —
stay in state for the next run (checkpoint resume).  The SQL mirror
lives in ``__spark_entry__.closed_sessions_sql`` and is value-checked by
the driver at sf0.01.

Oracle-parity precondition: ``gap > delay`` (enforced) — it guarantees
every event of an emittable session is itself below the watermark at
emission time, so buffering never withholds a session the watermark rule
says to emit.

State: (last_us, n_events, start_us, pending) per user — O(1) plus the
buffer of events the watermark has not passed yet, which the watermark
bounds to the last ``delay_ms`` of each key's event time; REMOVED once
drained; partitioned by the groupBy hash; scales to any key cardinality
the state store can shard.

Session identity: emitted rows carry (user_id, n_events, start_us,
end_us); a per-user session COUNTER deliberately does not live in state —
after a timeout evicts the state, a counter would restart and collide.
Readers derive ``session_id`` as row_number over start_us per user (the
driver query does exactly that), which is stable because start_us is
unique per user within the gap semantics.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .base import drain, file_stream, instant, utc_wall_clock

OUTPUT_SCHEMA = ("user_id bigint, n_events bigint, "
                 "start_us bigint, end_us bigint")
STATE_SCHEMA = ("last_us bigint, n_events bigint, start_us bigint, "
                "pending array<bigint>")

DEFAULT_GAP_S = 1800
# late-arrival tolerance; also the lag the eviction watermark runs behind
# max event time (oracle mirrors this exactly)
DEFAULT_DELAY_MS = 10_000


def _fn_factory(gap_us: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        out = {"user_id": [], "n_events": [], "start_us": [], "end_us": []}

        def emit(n_ev, start_us, end_us):
            out["user_id"].append(user_id)
            out["n_events"].append(n_ev)
            out["start_us"].append(start_us)
            out["end_us"].append(end_us)

        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            last_us, n_ev, start_us, pending = state.get
            pending = [int(t) for t in (pending or [])]
        else:
            last_us, n_ev, start_us, pending = -1, 0, -1, []

        if not state.hasTimedOut:
            parts = [p for p in pdfs if len(p)]
            if parts:
                pdf = pd.concat(parts, ignore_index=True)
                # unit-EXPLICIT conversion: pandas may deliver
                # datetime64[us] (Arrow-backed) — a bare astype('int64')
                # would silently yield milliseconds-scale values (ADVICE
                # r02); normalize to ns first
                ts_us = (pdf["ts"].astype("datetime64[ns]")
                         .astype("int64") // 1000)
                pending.extend(int(t) for t in ts_us.tolist())

        # fold every buffered event the watermark has passed (ms-floored
        # STRICT, mirroring the eviction comparison): Spark's late-row
        # filter guarantees no on-time event below the watermark can
        # still arrive, so these are safe to order globally — arrival
        # order across micro-batches no longer matters within the delay
        pending.sort()
        n_fold = 0
        for t in pending:
            if t // 1000 >= wm_ms:
                break
            n_fold += 1
            if start_us < 0:
                n_ev, start_us = 1, t
            elif t - last_us > gap_us:
                emit(n_ev, start_us, last_us)   # close previous session
                n_ev, start_us = 1, t
            else:
                n_ev += 1
            last_us = t
        del pending[:n_fold]

        # the watermark passed last_us + gap: no on-time event can extend
        # the open session (anything still buffered is past the watermark,
        # hence — with gap > delay — past last_us + gap: a NEW session)
        if start_us >= 0 and wm_ms > (last_us + gap_us) // 1000:
            emit(n_ev, start_us, last_us)
            last_us, n_ev, start_us = -1, 0, -1

        if start_us < 0 and not pending:
            state.remove()                      # fully drained: EVICT
        else:
            state.update((last_us, n_ev, start_us, pending))
            # wake when the watermark can either close the open session or
            # fold the next buffered event; GroupState timestamps are
            # MILLISECONDS; floor matches the watermark's own us->ms
            # floor; clamp to the watermark (Spark rejects earlier values)
            deadlines = []
            if start_us >= 0:
                deadlines.append((last_us + gap_us) // 1000)
            if pending:
                deadlines.append(pending[0] // 1000)
            state.setTimeoutTimestamp(max(min(deadlines), wm_ms))
        yield pd.DataFrame(out)

    return fn


def sessionize_stream(events: DataFrame, gap_s: int = DEFAULT_GAP_S,
                      delay_ms: int = DEFAULT_DELAY_MS) -> DataFrame:
    """events stream -> closed sessions (OUTPUT_SCHEMA), stateful per
    user_id with an event-time timeout (bounded state).

    The watermark runs on ``base.instant("ts")``: a session-timezone
    shift of the watermark clock against the (naive-epoch) timeout
    timestamps would time sessions out too early or too late."""
    from pyspark.sql.types import TimestampNTZType
    if gap_s * 1_000_000 <= delay_ms * 1000:
        # with gap <= delay an emittable session could still hold buffered
        # events above the watermark, breaking the closed_sessions_sql
        # parity contract (see module docstring)
        raise ValueError(
            f"session gap ({gap_s}s) must exceed the watermark delay "
            f"({delay_ms}ms) for the emission contract to hold")
    if not isinstance(events.schema["ts"].dataType, TimestampNTZType):
        # TIMESTAMP_LTZ input: normalize to NTZ whose wall clock IS the
        # true epoch (UTC) BEFORE anything downstream sees it.  Without
        # this, pandas hands the fold session-LOCAL wall-clock values, so
        # timeout timestamps would sit tz-offset away from the (true-epoch)
        # watermark and sessions would time out hours early/late under any
        # non-UTC session.
        events = events.withColumn("ts", utc_wall_clock("ts"))
    wm_src = events.withColumn("_wm_ts", instant(events, "ts"))
    return (wm_src.withWatermark("_wm_ts", f"{delay_ms} milliseconds")
            .groupBy("user_id")
            .applyInPandasWithState(_fn_factory(gap_s * 1_000_000),
                                    OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "append", GroupStateTimeout.EventTimeTimeout))


def prepare_ranged_events(events_parquet: str, out_dir: str,
                          n_files: int = 3) -> str:
    """Split an events parquet into ``n_files`` time-ranged files (equal-ts
    rows kept together, file mtimes ascending) so the file stream source
    replays them oldest-first and the watermark's late-row filter drops
    nothing.  Since the buffer-until-watermark fold, strict ranging is a
    REPLAY convenience, not a correctness precondition — the operator
    tolerates any cross-batch disorder within the watermark delay (events
    later than that are dropped by Spark's filter, standard semantics).
    Pure pyarrow/pandas — this is test/replay scaffolding, not a pipeline
    stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_parquet)
    pdf = table.to_pandas().sort_values(["ts", "event_id"]) \
        .reset_index(drop=True)
    n = len(pdf)
    cuts = [0]
    for i in range(1, n_files):
        c = (n * i) // n_files
        while c < n and c > 0 and pdf["ts"].iloc[c] == pdf["ts"].iloc[c - 1]:
            c += 1  # keep equal timestamps in one file
        cuts.append(c)
    cuts.append(n)
    base_mtime = None
    for i in range(n_files):
        part = pdf.iloc[cuts[i]:cuts[i + 1]]
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=table.schema,
                                            preserve_index=False), path)
        st = os.stat(path)
        if base_mtime is None:
            base_mtime = st.st_mtime
        os.utime(path, (base_mtime + i, base_mtime + i))
    return out_dir


def run_sessionize_available_now(spark: SparkSession, events_dir: str,
                                 out_dir: str, schema,
                                 gap_s: int = DEFAULT_GAP_S,
                                 delay_ms: int = DEFAULT_DELAY_MS) -> str:
    """Drain the ranged event files through the stateful sessionizer into a
    parquet sink (exactly-once via checkpoint); returns the sink path."""
    sink = os.path.join(out_dir, "sessions")
    sessions = sessionize_stream(file_stream(spark, schema, events_dir),
                                 gap_s, delay_ms)
    drain(sessions.writeStream.format("parquet").option("path", sink)
          .outputMode("append"), out_dir)
    return sink
