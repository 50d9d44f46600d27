"""Custom stateful streaming operator via ``applyInPandasWithState``.

The memory-side counterpart to the storage-side BucketedUpsertSink:
per-key state maintained by Spark's state store across micro-batches.
The engine uses MERGE/BucketedUpsertSink for the 100 TB latest-per-key path
(storage-side state, SURVEY.md §7 risk register); this operator covers
the cases that genuinely need in-flight state — running counters,
custom session logic — and demonstrates the
``applyInPandasWithState`` extension point (Arrow-batched, grouped).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "pk long, n_events long, max_offset long, last_event_type string, running_value double"
STATE_SCHEMA = "n_events long, max_offset long, last_event_type string, running_value double"


def _update_user_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-key aggregate: event count, max offset, latest event_type
    (by offset), exact running value sum (cents-integer internally)."""
    if state.exists:
        n, max_off, last_type, running = state.get
    else:
        n, max_off, last_type, running = 0, -1, None, 0.0
    running_cents = round(running * 100)
    for pdf in pdfs:
        n += len(pdf)
        # dropna: a null value (undecodable frame / before-image without the
        # field) must be SKIPPED like every SQL aggregate around this
        # operator — .astype('int64') on NaN raises IntCastingNaNError and
        # would kill the whole streaming query
        running_cents += int(pdf["value"].dropna().mul(100).round().astype("int64").sum())
        batch_max = int(pdf["offset"].max())
        if batch_max > max_off:
            last_type = str(pdf.loc[pdf["offset"].idxmax(), "event_type"])
            max_off = batch_max
    state.update((n, max_off, last_type, running_cents / 100.0))
    yield pd.DataFrame(
        {
            "pk": [key[0]],
            "n_events": [n],
            "max_offset": [max_off],
            "last_event_type": [last_type],
            "running_value": [running_cents / 100.0],
        }
    )


def running_user_stats(env: DataFrame) -> DataFrame:
    """Grouped stateful transform over the envelope stream (update mode)."""
    return env.groupBy("pk").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- Spark 4 arbitrary-state API (transformWithStateInPandas) ---------------
try:  # Spark >= 4.0
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class LatestPerKeyProcessor(StatefulProcessor):
        """Streaming latest-per-key materialization on the state store
        (the reference's upsert semantics, sinks/iceberg.py:187-197, with
        in-flight state instead of storage-side MERGE): per pk keep the
        row with the highest offset; a delete op becomes a tombstone that
        only a LATER offset can resurrect — identical tie/ordering rules
        to BucketedUpsertSink (order key = offset, FIXTURES.md §2c)."""

        SCHEMA = "offset long, op string, event_type string, value double"

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState("latest", self.SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = tuple(self._latest.get()) if self._latest.exists() else None
            for pdf in rows:
                i = pdf["offset"].idxmax()
                off = int(pdf.loc[i, "offset"])
                if cur is None or off > cur[0]:
                    v = pdf.loc[i, "value"]
                    cur = (
                        off,
                        str(pdf.loc[i, "op"]),
                        str(pdf.loc[i, "event_type"]),
                        # a null value stays null (the schema's value field
                        # is nullable) — a 0.0 sentinel would be
                        # indistinguishable from a genuine 0.0 latest value
                        None if pd.isna(v) else float(v),
                    )
            self._latest.update(cur)
            yield pd.DataFrame(
                {
                    "pk": [key[0]],
                    "offset": [cur[0]],
                    "op": [cur[1]],
                    "event_type": [cur[2]],
                    "value": [cur[3]],
                }
            )

        def close(self) -> None:
            pass

    def latest_per_key_stream(env: DataFrame) -> DataFrame:
        """Grouped arbitrary-state transform (update mode, processing time)."""
        return env.groupBy("pk").transformWithStateInPandas(
            statefulProcessor=LatestPerKeyProcessor(),
            outputStructType="pk long, offset long, op string, event_type string, value double",
            outputMode="Update",
            timeMode="None",
        )
except ImportError:  # pragma: no cover - older Spark
    LatestPerKeyProcessor = None  # type: ignore[assignment]

    def latest_per_key_stream(env: DataFrame) -> DataFrame:  # type: ignore[misc]
        raise NotImplementedError("transformWithStateInPandas requires Spark >= 4.0")
