"""Streaming slice-status registry (§2.9 stateful progress).

Reference: the check service keeps a driver-side map of per-slice
status bitmasks — source extract reported = 1, sink = 2, checked = 4 —
and fires the slice check when status reaches 3, marks done at 7
(datachecker-check/.../cache/TableStatusRegister.java:1-488,
SliceVo.setStatus:68-70, completion scan TaskRegisterCenter.java).

Spark-native shape: the status reports are a *stream* of
``(slice_no, st)`` events (in production the extract stages emit them;
in tests a file source).  ``applyInPandasWithState`` keeps the OR-fold
bitmask per slice across micro-batches — distributed keyed state with
checkpointed fault tolerance, replacing the reference's in-heap
registry that dies with the JVM.  Emits an update row per slice per
batch; downstream, ``ready_for_check`` rows trigger the partition
check (streaming.incremental) and ``done`` rows close the ledger.

Batch equivalent (same semantics, used by the ``status_register``
driver query): ``groupBy(slice_no).agg(bit_or(st))``.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

SOURCE_REPORTED = 1
SINK_REPORTED = 2
CHECKED = 4
READY = SOURCE_REPORTED | SINK_REPORTED  # 3: both extracts in → check
DONE = READY | CHECKED  # 7

OUTPUT_SCHEMA = "slice_no int, status int, ready_for_check boolean, done boolean"
_STATE_SCHEMA = "status int"


def track_slice_status(
    events: DataFrame, slice_col: str = "slice_no", status_col: str = "st"
) -> DataFrame:
    """Streaming OR-fold of status bits per slice with keyed state.

    Each micro-batch emits the post-batch status of every slice that
    received events, so a downstream ``foreachBatch`` can react to
    slices *entering* the ready/done states.

    A slice's state is dropped once it reaches DONE: it has nothing
    left to wait for, so the state store holds only slices still in
    flight, however long the stream runs. A later event for a dropped
    slice starts a fresh round from 0 (a re-extracted slice is checked
    again).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        st = state.get[0] if state.exists else 0
        for pdf in pdfs:
            st |= int(np.bitwise_or.reduce(pdf[status_col].to_numpy(), initial=0))
        if st == DONE:
            state.remove()
        else:
            state.update((st,))
        yield pd.DataFrame(
            {
                "slice_no": [int(key[0])],
                "status": [st],
                "ready_for_check": [st == READY],
                "done": [st == DONE],
            }
        )

    return events.groupBy(slice_col).applyInPandasWithState(
        update,
        OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
