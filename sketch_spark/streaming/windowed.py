"""Event-time windowed streaming sketches with watermark-driven finalization.

The late-data pattern: tumbling event-time windows keyed by window start,
one running sketch per (window), updated by every micro-batch. The
watermark bounds how late data may arrive; when it passes a window's end,
the window's state times out (EventTimeTimeout), emits its FINAL row, and
is dropped from the state store — so state size is O(active windows), not
O(all windows ever), which is what makes an unbounded stream feasible.

Rows later than the watermark are dropped by Spark before they reach the
stateful operator (standard Structured Streaming semantics); rows late but
within the watermark update their window's sketch even though newer windows
have already opened.

Output rows: (window_start, status ∈ {update, final}, state, estimate,
n_rows). `final` rows appear exactly once per window, after the watermark
passes.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sketch_spark.sketches.base import from_bytes
from sketch_spark.spark.agg import SketchSpec
from sketch_spark.streaming.stateful import _absorb, _estimate

OUTPUT_SCHEMA = "window_start string, status string, state binary, estimate double, n_rows long"


def windowed_sketch_stream(
    stream: DataFrame,
    ts_col: str,
    spec: SketchSpec,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming DataFrame of per-window sketch rows (update + final).

    ``stream`` must carry an event-time column ``ts_col``. The window key is
    the tumbling-window start (stringified UTC); state for a window is
    dropped (with a final emission) once the watermark passes its end.
    """
    # The window-struct key arrives in the UDF as tz-NAIVE datetimes rendered
    # in the SESSION timezone; naive .timestamp() would re-interpret them in
    # the executor's SYSTEM timezone and shift the timeout (possibly behind
    # the watermark → setTimeoutTimestamp raises). Capture the session tz at
    # plan time and attach it explicitly when computing epoch millis.
    session_tz = stream.sparkSession.conf.get("spark.sql.session.timeZone", "")
    # watermarks require TIMESTAMP (with local tz); parquet often carries NTZ
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))

    # group by the windowed struct itself: the watermark tag rides on it,
    # which EventTimeTimeout requires to survive into the stateful operator
    src = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), window).alias("window"), F.col(spec.col)
    )

    def update(key_tuple, pdfs, state: GroupState):
        win_row = key_tuple[0]  # struct key: {start: datetime, end: datetime}
        start_dt = win_row["start"] if not hasattr(win_row, "start") else win_row.start
        end_dt = win_row["end"] if not hasattr(win_row, "end") else win_row.end
        win_start = start_dt.strftime("%Y-%m-%d %H:%M:%S")
        try:
            from zoneinfo import ZoneInfo

            end_ms = int(end_dt.replace(tzinfo=ZoneInfo(session_tz)).timestamp() * 1000)
        except Exception:
            # offset-style tz ids ("GMT+8") or empty conf: fall back to the
            # executor-local interpretation (correct when system tz == session tz)
            end_ms = int(end_dt.timestamp() * 1000)
        if state.hasTimedOut:
            blob, n_seen = state.get
            sk = from_bytes(bytes(blob))
            state.remove()
            yield pd.DataFrame(
                {
                    "window_start": [win_start],
                    "status": ["final"],
                    "state": [bytes(blob)],
                    "estimate": [_estimate(sk)],
                    "n_rows": [int(n_seen)],
                }
            )
            return
        sk, n_seen = _absorb(spec, pdfs, state)
        blob = sk.to_bytes()
        state.update((bytearray(blob), n_seen))
        # finalize when the watermark passes this window's end
        state.setTimeoutTimestamp(end_ms)
        yield pd.DataFrame(
            {
                "window_start": [win_start],
                "status": ["update"],
                "state": [blob],
                "estimate": [_estimate(sk)],
                "n_rows": [n_seen],
            }
        )

    return src.groupBy("window").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType="state binary, n_rows long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
