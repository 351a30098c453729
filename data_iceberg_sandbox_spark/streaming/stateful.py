"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY §2.6 note: sessions/custom state absent from the reference's
surface but part of the engine's streaming contract; north-star lists
`applyInPandasWithState` as the custom-stateful path).

Operator: per-user running profile — event count, value total and
last-seen timestamp — maintained in explicit GroupState across
micro-batches, upserted into a LakeTable each batch. After draining the
backlog the table must equal the one-shot batch aggregate (the oracle).

State design for scale: state rows are O(distinct users), each a 3-field
tuple; the state store shuffles once per batch on user_id. A real
deployment adds a timeout (`GroupStateTimeout.ProcessingTimeTimeout`) to
GC idle users — here NoTimeout, matching the reference's keep-state-
forever semantics (streaming-usecase.md windows never expire).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.spec import QuerySpec
from ..tables.laketable import LakeTable
from .fraud_stream import (
    SCRATCH,
    create_then,
    drain,
    events_stream,
    fresh_table,
    stage_event_files,
)

STATE_SCHEMA = "n long, total_cents long, last_ts long"  # cents = value*10^4
OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, last_seen timestamp"
)


def _update_profile(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_ts = state.get
    else:
        n, total, last_ts = 0, 0, 0
    for pdf in batches:
        n += len(pdf)
        # exact fixed-point arithmetic (units of 10^-4) so the streamed
        # total is bit-identical to the batch DECIMAL(18,4) sum: each
        # double rounds to the same 4-dp value the decimal cast produces,
        # and integer accumulation is order-independent
        # sign·floor(|x|·10^4 + 0.5): HALF-UP means half AWAY FROM
        # ZERO, matching functions/money.fixed and the oracle's
        # double→DECIMAL cast. floor(x+0.5) alone rounds NEGATIVE
        # half-ties toward +inf (-0.00005 → 0 where the decimal cast
        # gives -1e-4) — r13 review; both tie cases are latent with
        # the non-negative 2-dp fixtures but the claim is bit-identity.
        v = pdf["value"].mul(10000).to_numpy()
        total += int(
            (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64").sum()
        )
        batch_max_ns = int(pdf["ts"].astype("datetime64[ns]").astype("int64").max())
        last_ts = max(last_ts, batch_max_ns)
    state.update((n, total, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total / 10000.0],
            "last_seen": [pd.Timestamp(last_ts, unit="ns")],
        }
    )


def run_user_profile_stream(
    spark: SparkSession, sf_dir: str, table_root: str
) -> LakeTable:
    """Drain the staged events backlog through the stateful operator,
    merging each micro-batch's updated profiles by user_id."""
    staged = stage_event_files(spark, sf_dir, "profile", n_files=8)
    result = fresh_table(spark, table_root)

    stream = events_stream(spark, staged, files_per_trigger=2)
    profiles = (
        stream.select("user_id", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    # the stateful operator emits exactly one row per user_id, so the
    # merge's uniqueness pre-check job is skippable
    upsert = create_then(
        result,
        functools.partial(result.merge, on=["user_id"], assume_unique_source=True),
    )
    return drain(profiles, "update", upsert, result)


def stream_user_profiles(spark, sf_dir):
    root = os.path.join(
        SCRATCH, f"profiles_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    t = run_user_profile_stream(spark, sf_dir, root)
    return t.read()


PROFILE_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       max(ts) AS last_seen
FROM events GROUP BY user_id
"""


SPECS: list[QuerySpec] = [
    QuerySpec("stream_user_profiles_stateful", stream_user_profiles, PROFILE_ORACLE),
]
